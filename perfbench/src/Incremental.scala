package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.acid.{EngineConf, Instance, MaterializedAggView, MvRewriteRule, VersionedTable}

/** `incremental`: freshness of derived data under write load.
  *
  * A writer thread commits seeded churn to a change-data-feed lineitem
  * table on a fixed schedule (open loop): slot by slot, a merge-on-read
  * delete of 10 rows, then a merge of 1000 rows that comes with a brand
  * change in the `part` dimension, round and round. A consumer loops over
  * five steps: refresh a COUNT/SUM view by `l_returnflag`, refresh a star
  * view over lineitem ⨝ part, run each view's aggregate (which the MV
  * rewrite answers), and catch up a change-feed mirror. A version is fresh
  * once both views and the mirror cover it. */
object Incremental {
  import Common._

  /** Fact files: a 1000-key merge rewrites one or two of them. */
  val Files = 16
  val Rows = 1000
  /** Writer slots per second. Not taken from a published workload: on 4
    * cores a delete slot's commit and the consumer cycle after it take
    * about 5 s, so at this rate each cycle covers one new version,
    * finishes before the next slot, and the writer stays below the
    * consumer's capacity (`gen.lateness_ms` near 0). */
  val Rate = 1.0 / 6
  /** Writer ops, slot by slot, round and round; the first round is the
    * untimed warm-up. The delete comes first, so its cycle ends before the
    * merge is due. */
  val SlotOps = Seq("delete", "merge")
  /** The steps of one consumer cycle, in order. */
  val Steps = Seq("agg_refresh", "star_refresh", "rewrite_agg", "rewrite_star", "cdf_catchup")
  val CycleSteps = Steps.size

  /** Driver-side mirror of the fact table fed by the change feed:
    * obj_id -> hash of the row's columns. */
  final class Mirror(spark: SparkSession, fact: Instance, ckpt: String) {
    val state = new java.util.HashMap[Long, Long]()
    @volatile var covered = 0L
    private val hashCols = LineitemNames.sorted.map(col)

    /** Apply every change committed since the last call; returns rows read. */
    def catchUp(): Long = {
      var rows = 0L
      val q = fact.readChangesStream(startingVersion = 1L, readChangeFeed = true)
        .select(col("obj_id"), col("_version"), col("_change_type"), xxhash64(hashCols: _*).as("h"))
        .writeStream.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
        .foreachBatch(new org.apache.spark.api.java.function.VoidFunction2[DataFrame, java.lang.Long] {
          def call(df: DataFrame, id: java.lang.Long): Unit = {
            val got = df.collect()
            rows += got.length
            apply(got)
          }
        }).start()
      try q.awaitTermination() finally q.stop()
      q.recentProgress.flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
        .flatMap(o => "\\d+".r.findFirstIn(o)).lastOption.foreach(v => covered = math.max(covered, v.toLong))
      rows
    }

    private def apply(rows: Array[Row]): Unit =
      rows.groupBy(_.getLong(1)).toSeq.sortBy(_._1).foreach { case (v, rs) =>
        // within one version, removals first, then the rows it wrote
        rs.foreach { r =>
          val t = r.getString(2)
          if (t == "delete" || t == "update_preimage") state.remove(r.getLong(0))
        }
        rs.foreach { r =>
          val t = r.getString(2)
          if (t == "insert" || t == "update_postimage") state.put(r.getLong(0), r.getLong(3))
        }
        covered = math.max(covered, v)
      }

    def checksum: (Long, BigDecimal) =
      (state.size.toLong, state.values.asScala.map(h => BigDecimal(h)).sum)
  }

  final case class Setup(fact: Instance, part: Instance, agg: MaterializedAggView,
      star: MaterializedAggView, mirror: Mirror)

  def setup(spark: SparkSession, a: Args, rows: DataFrame, i: Int): Setup = {
    val dir = s"${a.work}/inc_$i"
    val (fact, factMs) = timed(load(spark, s"$dir/fact", rows, Files, EngineConf(changeDataFeed = true)))
    val parts = spark.read.parquet(s"${a.data}/part.parquet")
      .select(col("p_partkey").as("obj_id"), col("p_partkey"), col("p_brand"))
    val (part, partMs) = timed(load(spark, s"$dir/part", parts, 4, EngineConf()))
    val ((agg, star), viewsMs) = timed {
      val agg = MaterializedAggView.create(spark, s"$dir/agg", fact,
        groupCols = Seq("l_returnflag"), sumCols = Seq("l_quantity"))
      val star = MaterializedAggView.create(spark, s"$dir/star", fact,
        groupCols = Seq("p_brand"), sumCols = Seq("l_linenumber"),
        dimJoins = Seq(MaterializedAggView.DimJoin(part, "l_partkey", "p_partkey")))
      agg.refresh(); star.refresh()
      (agg, star)
    }
    val mirror = new Mirror(spark, fact, s"$dir/mirror_ckpt")
    val (_, mirrorMs) = timed(mirror.catchUp())
    System.err.println(f"incremental: setup $i: fact $factMs%.0f ms, part $partMs%.0f ms, views $viewsMs%.0f ms, mirror $mirrorMs%.0f ms")
    Setup(fact, part, agg, star, mirror)
  }

  def run(spark: SparkSession, a: Args, tr: Tracer, sessionS: Double): Result = {
    spark.conf.set(MvRewriteRule.EnabledKey, "true")
    val rows = lineitemRows(spark, a.data)
    val n = rows.count()
    System.err.println(s"incremental: $n fact rows")
    val setups = (1 to a.setups).map { i =>
      val (s, ms) = timed(setup(spark, a, rows, i))
      System.err.println(f"incremental: setup $i took $ms%.0f ms")
      if (i < a.setups) deleteTree(spark, s"${a.work}/inc_$i")
      (s, ms / 1000.0)
    }
    val Setup(fact, part, agg, star, mirror) = setups.last._1
    val nParts = spark.read.parquet(s"${a.data}/part.parquet").count()
    val brands = (1 to 25).map(i => s"Brand#$i")

    // per fact version: ack time; per component: time it first covered it
    val ackAt = new ConcurrentHashMap[Long, Long]()
    val windowVersions = ConcurrentHashMap.newKeySet[Long]()
    val covAt = Seq("agg", "star", "mirror").map(_ -> new ConcurrentHashMap[Long, Long]()).toMap
    val covered = mutable.Map("agg" -> agg.refreshedVersion, "star" -> star.refreshedVersion,
      "mirror" -> mirror.covered)
    val commitMs = new Samples
    val lateness = new Samples
    val steps = new Samples
    val versionsPerRefresh = new Samples
    val cdfRows = new Samples
    @volatile var measuring = false
    @volatile var writerDone = false
    val attempted = new java.util.concurrent.atomic.AtomicLong(0)
    val failed = new java.util.concurrent.atomic.AtomicLong(0)
    var rewriteHits = 0
    var rewriteRuns = 0
    val writeInst = VersionedTable.open(spark, fact.root, fact.conf)
    val partInst = VersionedTable.open(spark, part.root)
    val acks = new java.util.concurrent.atomic.AtomicLong(0)
    val attempts = new java.util.concurrent.atomic.AtomicLong(0)

    @volatile var coveredMin = covered.values.min
    def cover(comp: String, v: Long): Unit = {
      val now = System.nanoTime()
      val prev = covered(comp)
      (prev + 1 to v).foreach(x => covAt(comp).putIfAbsent(x, now))
      covered(comp) = math.max(prev, v)
      coveredMin = covered.values.min
    }

    def aggQuery(): DataFrame = spark.read.format("graft").option("path", fact.root).load()
      .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_l_quantity"))

    def starQuery(): DataFrame = {
      val f = spark.read.format("graft").option("path", fact.root).load()
      val p = spark.read.format("graft").option("path", part.root).load()
      f.join(p, f("l_partkey") === p("p_partkey")).groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), sum("l_linenumber").as("sum_l_linenumber"))
    }

    /** Run an aggregate the rewrite should answer from `view`. */
    def rewrite(q: DataFrame, view: MaterializedAggView, inWindow: Boolean): Unit = {
      val hit = tr.span("acid.mvrewrite", "plan")(
        q.queryExecution.optimizedPlan.treeString.contains(new org.apache.hadoop.fs.Path(view.view.root).toString))
      tr.span("spark", "rewrite_exec")(q.collect())
      if (inWindow) { rewriteRuns += 1; if (hit) rewriteHits += 1 }
    }

    val consumer = new Thread(() => {
      // a cycle that starts while measuring runs whole and counts, so
      // every run counts the cycles after the window's slots, whole
      var inWindow = false
      def step(kind: String)(body: => Unit): Unit = {
        val s0 = System.nanoTime()
        attempted.incrementAndGet()
        try {
          tr.op(kind)(body)
          if (inWindow) steps.add(kind, (System.nanoTime() - s0) / 1e6)
        } catch {
          case e: Exception =>
            failed.incrementAndGet()
            System.err.println(s"incremental: $kind failed: $e")
        }
      }
      var go = true
      while (go) {
        // a cycle starts once the writer has committed past what the
        // views and the mirror cover; waiting is not a step
        while (!writerDone && fact.latestVersion <= coveredMin) Thread.sleep(10)
        go = !writerDone
        if (go) {
          inWindow = measuring
          step("agg_refresh") {
            val before = agg.refreshedVersion
            tr.span("acid.mv", "agg_refresh")(agg.refresh())
            if (inWindow) versionsPerRefresh.add("agg", (agg.refreshedVersion - before).toDouble)
            cover("agg", agg.refreshedVersion)
          }
          step("star_refresh") {
            val before = star.refreshedVersion
            tr.span("acid.mv", "star_refresh")(star.refresh())
            if (inWindow) versionsPerRefresh.add("star", (star.refreshedVersion - before).toDouble)
            cover("star", star.refreshedVersion)
          }
          step("rewrite_agg")(rewrite(aggQuery(), agg, inWindow))
          step("rewrite_star")(rewrite(starQuery(), star, inWindow))
          step("cdf_catchup") {
            val got = tr.span("acid.cdf", "catchup")(mirror.catchUp())
            if (inWindow) cdfRows.add("cdf", got.toDouble)
            cover("mirror", mirror.covered)
          }
        }
      }
    }, "consumer")

    // writer: open loop, one slot every 1/Rate seconds, timed from its due
    // time, with a backlog of at most one slot
    val r = new scala.util.Random(a.seed * 7919L + 1)
    /** Slot `i` commits one op to the fact table, by `SlotOps`; a merge
      * slot first changes brands on 20 `part` rows, so that the consumer,
      * woken by the fact commit, sees both. */
    def writeSlot(i: Long): Unit = {
      val kind = SlotOps((i % SlotOps.size).toInt)
      val stage: graft.acid.Txn => Unit = kind match {
        case "merge" =>
          val lo = (r.nextDouble() * (n - Rows)).toLong
          val df = spark.createDataFrame((0 until Rows).map(j => (lo + j, (1 + r.nextInt(50)).toLong)))
            .toDF("obj_id", "q")
          _.merge(df, matchedUpdate = Map("l_quantity" -> col("s.q")), insertUnmatched = false)
        case "delete" =>
          val ids = Seq.fill(10)((r.nextDouble() * n).toLong).distinct
          _.deleteMoR(ids)
      }
      val dim = if (kind == "merge") {
        val ks = Seq.fill(20)(r.nextInt(nParts.toInt).toLong).distinct
        Some(spark.createDataFrame(ks.map(k => (k, brands(r.nextInt(brands.size))))).toDF("obj_id", "b"))
      } else None
      val inWindow = measuring
      attempted.incrementAndGet()
      tr.op(kind) {
        dim.foreach(d => commitWithRetry(tr, partInst, "dim_merge")(
          _.merge(d, matchedUpdate = Map("p_brand" -> col("s.b")), insertUnmatched = false)))
        val (v, tries) = commitWithRetry(tr, writeInst, kind)(stage)
        if (inWindow) { acks.incrementAndGet(); attempts.addAndGet(tries) }
        ackAt.put(v, System.nanoTime())
        if (inWindow) windowVersions.add(v)
      }
    }

    /** Wait until both views and the mirror cover the fact head. */
    def drain(): Unit = {
      val head = fact.latestVersion
      while (consumer.isAlive && coveredMin < head) Thread.sleep(10)
    }

    val gc0 = Jvm.gcSeconds
    val heap = new Jvm.HeapSampler; heap.start()
    consumer.start()
    // warm-up, untimed: one round of the slot ops, each with the consumer
    // cycle after it
    SlotOps.indices.foreach { i => writeSlot(i); drain() }
    val bytes0 = listBytes(spark, fact.root)
    val vStart = fact.latestVersion
    measuring = true; tr.recording = true; if (tr.on) tr.jobs.recording = true
    // the window: slots due within --seconds of the first timed slot; the
    // cycles after them count even when they end past it
    val t0 = System.nanoTime()
    val period = (1e9 / Rate).toLong
    val windowEnd = t0 + (a.seconds * 1e9).toLong
    var slot = SlotOps.size.toLong
    while (t0 + (slot - SlotOps.size) * period < windowEnd) {
      val due = t0 + (slot - SlotOps.size) * period
      // the writer runs at most one slot ahead of the consumer: a slot due
      // before the last cycle ended waits for it, and the wait counts as
      // lateness and in the commit's time from its due time
      drain()
      val now = System.nanoTime()
      if (now < due) Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
      val start = System.nanoTime()
      try {
        writeSlot(slot)
        lateness.add("gen", (start - due) / 1e6)
        commitMs.add("commit", (System.nanoTime() - due) / 1e6)
      } catch {
        case e: Exception =>
          failed.incrementAndGet()
          System.err.println(s"incremental: writer slot $slot failed: $e")
      }
      slot += 1
    }
    val left = windowEnd - System.nanoTime()
    if (left > 0) Thread.sleep(left / 1000000L)
    val wallS = (System.nanoTime() - t0) / 1e9
    drain()
    measuring = false
    writerDone = true
    consumer.join()
    tr.recording = false; if (tr.on) tr.jobs.recording = false
    val heapPeak = heap.finish()
    val gcS = Jvm.gcSeconds - gc0
    val vEnd = fact.latestVersion
    val createdBytes = listBytes(spark, fact.root).collect { case (f, b) if !bytes0.contains(f) => b }.sum

    System.err.println(f"incremental: window ${wallS}%.1f s, drained after ${(System.nanoTime() - t0) / 1e9}%.1f s")
    steps.kinds.foreach { k =>
      val xs = steps.of(k)
      System.err.println(f"incremental: $k%-14s p50=${Stats.median(xs)}%8.1f ms of ${xs.map(_.round).mkString(", ")}")
    }
    System.err.println(f"incremental: commit p50=${Stats.median(commitMs.all)}%.0f ms lateness p50=${Stats.median(lateness.all)}%.0f ms")
    val tCheck = System.nanoTime()
    val fresh = windowVersions.asScala.toSeq.sorted.flatMap { v =>
      val at = covAt.values.map(m => Option(m.get(v)))
      if (at.exists(_.isEmpty)) None
      else Some((at.flatten.max - ackAt.get(v)) / 1e6)
    }
    val notFresh = windowVersions.size - fresh.size

    // output checks; they are independent and run side by side
    def rowsOf(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val aggCols = Seq("l_returnflag", "cnt", "sum_l_quantity")
    val starCols = Seq("p_brand", "cnt", "sum_l_linenumber")
    def aggOf(df: DataFrame) = df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_l_quantity"))
    def starOf(f: DataFrame, p: DataFrame) =
      f.join(p.select("p_partkey", "p_brand"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("cnt"), sum("l_linenumber").as("sum_l_linenumber"))
    def check(name: String)(body: => Boolean) = name -> Future {
      val (ok, ms) = timed(body)
      System.err.println(f"incremental: check $name took $ms%.0f ms")
      ok
    }
    val pending = Seq(
      check("agg_view_matches_recompute") {
        val exp = rowsOf(aggOf(fact.snapshot(agg.refreshedVersion)), aggCols)
        rowsOf(agg.read(), aggCols) == (if (a.corrupt) exp.map(_ + "x") else exp)
      },
      check("star_view_matches_recompute") {
        rowsOf(star.read(), starCols) == rowsOf(starOf(fact.snapshot(star.refreshedVersion),
          part.snapshot(star.refreshedDimVersion)), starCols)
      },
      check("mirror_matches_source") {
        mirror.checksum ==
          checksum(fact.snapshot(mirror.covered).select(LineitemNames.sorted.map(col): _*))
      },
      check("agg_rewrite_matches_source") {
        rowsOf(aggQuery(), aggCols) == rowsOf(aggOf(fact.read()), aggCols)
      },
      check("star_rewrite_matches_source") {
        rowsOf(starQuery(), starCols) == rowsOf(starOf(fact.read(), part.read()), starCols)
      })
    val checks = pending.map { case (k, f) => k -> Await.result(f, Duration.Inf) }
    checks.filterNot(_._2).foreach(c => System.err.println(s"incremental: check ${c._1} failed"))

    System.err.println(f"incremental: check ${(System.nanoTime() - tCheck) / 1e9}%.1f s, fresh samples ${fresh.size}")
    val reads = steps.of("rewrite_agg", "rewrite_star")
    val e2e = Map(
      "setup_s" -> (Stats.median(setups.map(_._2)), "s"),
      // steps per busy second of a cycle made of each step's median (the
      // consumer idles while nothing is new; one slow step moves a mean,
      // not a median)
      "ops_per_s" -> (CycleSteps / (Steps.map(k => Stats.median(steps.of(k))).sum / 1000), "1/s"))
    val stage = (k: String) => tr.spansOf("acid.txn").filter(_.name == k).map(s => (s.end - s.start) / 1e6)
    val layers = mutable.Map[String, (Double, String)](
      "engine.session_s" -> (sessionS, "s"),
      "engine.load_s" -> (Stats.median(setups.map(_._2)), "s"),
      "txn.merge_ms" -> (Stats.median(stage("merge")), "ms"),
      "txn.delete_ms" -> (Stats.median(stage("delete")), "ms"),
      "commit.call_ms" -> (Stats.median(tr.spansOf("acid.commit").map(s => (s.end - s.start) / 1e6)), "ms"),
      "commit.attempts_per_ack" -> (if (acks.get == 0) 0.0 else attempts.get.toDouble / acks.get, "ratio"),
      "commit.conflicts" -> ((attempts.get - acks.get).toDouble, "count"),
      "commit.versions" -> (windowVersions.size.toDouble, "count"),
      "commit.checkpoints" -> (((vStart + 1) to vEnd).count(_ % fact.checkpointInterval == 0).toDouble, "count"),
      "commit.bytes_written" -> (createdBytes.toDouble, "bytes"),
      "commit.files_live" -> (fact.stateAt(fact.latestVersion)._1.size.toDouble, "count"),
      "mv.agg_refresh_ms" -> (Stats.median(Oltp.spanMs(tr, "acid.mv", "agg_refresh")), "ms"),
      "mv.star_refresh_ms" -> (Stats.median(Oltp.spanMs(tr, "acid.mv", "star_refresh")), "ms"),
      "mv.versions_per_refresh" -> (Stats.mean(versionsPerRefresh.all), "count"),
      "mvrewrite.query_ms" -> (Stats.median(reads), "ms"),
      "mvrewrite.hit_ratio" -> (if (rewriteRuns == 0) 0.0 else rewriteHits.toDouble / rewriteRuns, "ratio"),
      "cdf.catchup_ms" -> (Stats.median(Oltp.spanMs(tr, "acid.cdf", "catchup")), "ms"),
      "cdf.rows_per_catchup" -> (Stats.mean(cdfRows.all), "count"),
      "gen.lateness_ms" -> (Stats.median(lateness.all), "ms"),
      "jvm.gc_s" -> (gcS, "s"),
      "jvm.heap_peak_mb" -> (heapPeak, "MB"),
      "wl.read_p50_ms" -> (Stats.median(steps.of("rewrite_agg")), "ms"),
      "wl.commit_p50_ms" -> (Stats.median(commitMs.all), "ms"),
      "wl.refresh_p50_ms" -> (Stats.median(steps.of("agg_refresh", "star_refresh")), "ms"),
      "wl.freshness_p50_ms" -> (Stats.median(fresh), "ms"),
      "wl.failed_ratio" -> (if (attempted.get == 0) 0.0 else failed.get.toDouble / attempted.get, "ratio"),
      "wl.stale_versions" -> (notFresh.toDouble, "count"),
      "wl.samples" -> (fresh.size.toDouble, "count"))
    if (tr.on) layers ++= SparkStats.report(tr,
      Seq("delete", "merge") ++ Steps)
    Result(e2e, layers.toMap, attempted.get, failed.get + checks.count(!_._2), checks)
  }
}
