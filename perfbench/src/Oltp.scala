package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.acid.{EngineConf, Instance, VersionedTable}

/** `oltp`: a closed loop of `cores` clients over one shared lineitem
  * table, each client with its own `Instance`. Ops are point reads,
  * time-travel point reads, fast-path upserts, Spark-path inserts,
  * copy-on-write merges and merge-on-read deletes on Zipf-skewed keys.
  * Every acknowledged write is logged with the version its commit
  * returned; after the window a fresh `Instance` reopens the table and its
  * head must equal the log replayed in version order. */
object Oltp {
  import Common._

  val Files = 64
  /** Key skew: the Zipfian constant of YCSB's request distribution. */
  val ZipfS = 0.99
  /** Op mix. Reads and writes are half and half as in YCSB workload A,
    * inserts 5% as in YCSB workload D. How the reads and the other writes
    * split over the engine's paths is this benchmark's own choice
    * (spec.json, `op_mix_source`). */
  val Mix: Seq[(String, Int)] = Seq("read" -> 5, "tt_read" -> 5,
    "upsert" -> 4, "insert" -> 1, "merge" -> 3, "delete" -> 2)
  /** The mix as one deck, interleaved by smooth weighted round-robin, so
    * that any run of consecutive ops is close to the mix. Client `i` deals
    * it round and round from a seeded offset plus `i` quarters of the
    * deck, so the clients' first ops together cover it once. */
  val Deck: Vector[String] = {
    val total = Mix.map(_._2).sum
    val cur = mutable.Map(Mix.map(_._1 -> 0): _*)
    Vector.fill(total) {
      Mix.foreach { case (k, w) => cur(k) += w }
      val best = Mix.maxBy { case (k, _) => cur(k) }._1
      cur(best) -= total
      best
    }
  }
  val WriteKinds = Seq("upsert", "insert", "merge", "delete")
  /** Versions kept by the engine's parsed-manifest cache. */
  val ManifestCache = 128

  /** One acknowledged write, as the model replays it. */
  sealed trait Effect
  final case class Put(rows: Seq[Row]) extends Effect
  final case class Update(rows: Seq[(Long, Long, Double)]) extends Effect
  final case class Delete(ids: Seq[Long]) extends Effect

  def run(spark: SparkSession, a: Args, tr: Tracer, sessionS: Double): Result = {
    val rows = lineitemRows(spark, a.data)
    val n = rows.count()
    val loads = (1 to a.setups).map { i =>
      val root = s"${a.work}/oltp_$i"
      val (_, ms) = timed(load(spark, root, rows, Files, EngineConf()))
      System.err.println(f"oltp: load $i took $ms%.0f ms")
      if (i < a.setups) deleteTree(spark, root)
      ms / 1000.0
    }
    val root = s"${a.work}/oltp_${a.setups}"
    val schema = VersionedTable.open(spark, root).read().schema
    val v0 = VersionedTable.open(spark, root).latestVersion

    val log = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Effect)]()
    val nextId = new AtomicLong(n)
    val samples = new Samples
    val attempted = new AtomicLong(0)
    val failed = new AtomicLong(0)
    val conflicts = new AtomicLong(0)
    val acks = new AtomicLong(0)
    val attempts = new AtomicLong(0)
    val badReads = new AtomicInteger(0)
    val planned = new Samples
    val zipf = new Zipf(n.toInt, ZipfS, a.seed)
    val deckBase = new scala.util.Random(a.seed).nextInt(Deck.size)
    @volatile var measuring = false

    def randomRow(id: Long, r: scala.util.Random): Row = Row(id,
      r.nextInt(math.max(1, (n / 4).toInt)).toLong, r.nextInt(20000).toLong,
      r.nextInt(1000).toLong, (1 + r.nextInt(7)).toLong, (1 + r.nextInt(50)).toLong,
      math.round((900 + r.nextDouble() * 104100) * 100) / 100.0,
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
      new java.sql.Timestamp(788918400000L + r.nextInt(2500) * 86400000L))

    /** `k` keys from a contiguous range at a Zipf-chosen anchor. */
    def keysNear(r: scala.util.Random, k: Int): Seq[Long] = {
      val anchor = zipf.next(r)
      val span = math.max(k * 4, 64)
      r.shuffle((0 until span).toVector).take(k).map(i => math.min(n - 1, anchor + i)).distinct
    }

    def local(rs: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)

    def graftRead(): DataFrame = spark.read.format("graft").option("path", root).load()

    // per client: ops done in the window and when the last one ended
    val done = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()

    def client(id: Int, deadline: () => Long): Unit = {
      val r = new scala.util.Random(a.seed * 1000003L + id)
      val inst = VersionedTable.open(spark, root)
      var pos = deckBase + id * Deck.size / a.cores
      while (System.nanoTime() < deadline()) {
        val kind = Deck(pos % Deck.size)
        pos += 1
        val inWindow = measuring
        attempted.incrementAndGet()
        val t0 = System.nanoTime()
        try {
          tr.op(kind) {
            kind match {
              case "read" =>
                val k = zipf.next(r)
                val df = graftRead().where(col("obj_id") === k)
                val got = tr.span("acid.scan", "point_read")(df.collect())
                if (got.length > 1) badReads.incrementAndGet()
                if (tr.on && inWindow) planned.add("files", filesPlanned(df))
              case "tt_read" =>
                val head = inst.latestVersion
                val old = r.nextBoolean() && head - v0 > ManifestCache + 8
                val v = if (old) v0 + r.nextInt((head - v0 - ManifestCache).toInt)
                  else math.max(v0, head - r.nextInt(8))
                val k = zipf.next(r)
                val snap = tr.span("acid.snapshot", if (old) "old" else "recent")(inst.snapshot(v))
                val got = tr.span("spark", "tt_point")(snap.where(col("obj_id") === k).collect())
                if (got.length > 1) badReads.incrementAndGet()
              case "upsert" =>
                val rs = keysNear(r, 1 + r.nextInt(64)).map(randomRow(_, r))
                val df = local(rs)
                write(inst, "upsert", Put(rs))(_.upsert(df))
              case "insert" =>
                val cnt = 65 + r.nextInt(936)
                val base = nextId.getAndAdd(cnt)
                val rs = (0 until cnt).map(i => randomRow(base + i, r))
                val df = local(rs)
                write(inst, "insert", Put(rs))(_.insert(df))
              case "merge" =>
                val ups = keysNear(r, 1 + r.nextInt(100)).map(k =>
                  (k, (1 + r.nextInt(50)).toLong,
                    math.round((900 + r.nextDouble() * 104100) * 100) / 100.0))
                val src = spark.createDataFrame(ups).toDF("obj_id", "q", "p")
                write(inst, "merge", Update(ups))(_.merge(src,
                  matchedUpdate = Map("l_quantity" -> col("s.q"), "l_extendedprice" -> col("s.p")),
                  insertUnmatched = false))
              case "delete" =>
                val ids = keysNear(r, 1 + r.nextInt(10))
                write(inst, "delete", Delete(ids))(_.deleteMoR(ids))
            }
          }
          if (inWindow) {
            samples.add(kind, (System.nanoTime() - t0) / 1e6)
            done.merge(id, (1, System.nanoTime()), (x, y) => (x._1 + y._1, y._2))
          }
        } catch {
          case e: Exception =>
            failed.incrementAndGet()
            System.err.println(s"oltp: $kind failed: $e")
        }
      }
    }

    def write(inst: Instance, name: String, eff: Effect)(stage: graft.acid.Txn => Unit): Unit = {
      val (v, tries) = commitWithRetry(tr, inst, name)(stage)
      log.add(v -> eff)
      acks.incrementAndGet()
      attempts.addAndGet(tries)
      conflicts.addAndGet(tries - 1)
    }

    def filesPlanned(df: DataFrame): Double = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.getClass.getMethod("prunedFiles").invoke(b.scan).asInstanceOf[Seq[_]].size
    }.sum.toDouble

    // warm-up: a short untimed loop; its writes are part of the model
    val warm = System.nanoTime() + (math.min(3.0, a.seconds / 3) * 1e9).toLong
    runClients(a.cores, () => warm)(client)
    val before = listBytes(spark, root)
    val vStart = VersionedTable.open(spark, root).latestVersion
    val gc0 = Jvm.gcSeconds
    val heap = new Jvm.HeapSampler; heap.start()
    attempted.set(0); failed.set(0); conflicts.set(0); acks.set(0); attempts.set(0)
    val logAtStart = log.size
    measuring = true; tr.recording = true; if (tr.on) tr.jobs.recording = true
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    runClients(a.cores, () => deadline)(client)
    val wallS = (System.nanoTime() - t0) / 1e9
    measuring = false; tr.recording = false; if (tr.on) tr.jobs.recording = false
    val heapPeak = heap.finish()
    val gcS = Jvm.gcSeconds - gc0
    val after = listBytes(spark, root)
    val createdBytes = after.collect { case (f, b) if !before.contains(f) => b }.sum
    val windowLog = log.toArray(Array.empty[(Long, Effect)]).drop(logAtStart)
    val logicalBytes = windowLog.map(_._2 match {
      case Put(rs) => rs.size * LineitemRowBytes
      case Update(us) => us.size * LineitemRowBytes
      case Delete(ids) => ids.size * 8L
    }).sum

    // recovery check: a fresh Instance over the same root, against the
    // acknowledged writes replayed in commit-version order
    System.err.println(f"oltp: window ${wallS}%.1f s")
    val tCheck = System.nanoTime()
    val fresh = VersionedTable.open(spark, root)
    val head = fresh.latestVersion
    val actual = checksum(fresh.snapshot(head).select(LineitemNames.map(col): _*))
    val expectedDf = replay(spark, rows, schema, log.toArray(Array.empty[(Long, Effect)]).toSeq.sortBy(_._1))
    val expected0 = checksum(expectedDf)
    val expected = if (a.corrupt) (expected0._1 + 1, expected0._2) else expected0
    val recoveryOk = actual == expected
    if (!recoveryOk)
      System.err.println(s"oltp: recovery check failed: head=$actual model=$expected")
    System.err.println(f"oltp: check ${(System.nanoTime() - tCheck) / 1e9}%.1f s")
    // every published version was acknowledged to some writer, and no
    // writer was told of a version the table does not have (a commit
    // that changes nothing may return the version it read)
    val acked = log.toArray(Array.empty[(Long, Effect)]).map(_._1).toSet
    val versionsOk = acked.forall(v => v >= v0 && v <= head) && ((v0 + 1) to head).forall(acked)
    val checks = Seq("recovery_matches_model" -> recoveryOk,
      "versions_acknowledged" -> versionsOk, "reads_unique" -> (badReads.get == 0))

    samples.kinds.foreach { k =>
      val xs = samples.of(k)
      System.err.println(f"oltp: $k%-8s n=${xs.size}%4d p50=${Stats.median(xs)}%8.1f ms")
    }
    System.err.println(s"oltp: conflicts=${conflicts.get} acks=${acks.get} versions=${head - vStart} files=${fresh.stateAt(head)._1.size}")
    val all = samples.all
    val writes = samples.of(WriteKinds: _*)
    val e2e = Map(
      "setup_s" -> (Stats.median(loads), "s"),
      "ops_per_s" -> (opsPerS(done, t0), "1/s"))
    val stage = (k: String) => tr.spansOf("acid.txn").filter(_.name == k).map(s => (s.end - s.start) / 1e6)
    val layers = mutable.Map[String, (Double, String)](
      "engine.session_s" -> (sessionS, "s"),
      "engine.load_s" -> (Stats.median(loads), "s"),
      "txn.upsert_ms" -> (Stats.median(stage("upsert")), "ms"),
      "txn.insert_ms" -> (Stats.median(stage("insert")), "ms"),
      "txn.merge_ms" -> (Stats.median(stage("merge")), "ms"),
      "txn.delete_ms" -> (Stats.median(stage("delete")), "ms"),
      "commit.call_ms" -> (Stats.median(tr.spansOf("acid.commit").map(s => (s.end - s.start) / 1e6)), "ms"),
      "commit.attempts_per_ack" -> (if (acks.get == 0) 0.0 else attempts.get.toDouble / acks.get, "ratio"),
      "commit.conflicts" -> (conflicts.get.toDouble, "count"),
      "commit.versions" -> ((fresh.latestVersion - vStart).toDouble, "count"),
      "commit.checkpoints" -> (((vStart + 1) to head).count(_ % fresh.checkpointInterval == 0).toDouble, "count"),
      "commit.bytes_written" -> (createdBytes.toDouble, "bytes"),
      "commit.files_live" -> (fresh.stateAt(head)._1.size.toDouble, "count"),
      "snapshot.recent_ms" -> (Stats.median(spanMs(tr, "acid.snapshot", "recent")), "ms"),
      "snapshot.old_ms" -> (Stats.median(spanMs(tr, "acid.snapshot", "old")), "ms"),
      "scan.point_read_ms" -> (Stats.median(spanMs(tr, "acid.scan", "point_read")), "ms"),
      "scan.files_planned" -> (Stats.mean(planned.all), "count"),
      "scan.skip_ratio" -> (if (planned.all.isEmpty) 0.0
        else 1.0 - Stats.mean(planned.all) / math.max(1, fresh.stateAt(head)._1.size), "ratio"),
      "jvm.gc_s" -> (gcS, "s"),
      "jvm.heap_peak_mb" -> (heapPeak, "MB"),
      "wl.read_p50_ms" -> (Stats.median(samples.of("read")), "ms"),
      "wl.commit_p50_ms" -> (Stats.median(writes), "ms"),
      "wl.write_amp" -> (if (logicalBytes == 0) 0.0 else createdBytes.toDouble / logicalBytes, "ratio"),
      "wl.failed_ratio" -> (if (attempted.get == 0) 0.0 else failed.get.toDouble / attempted.get, "ratio"),
      "wl.op_p50_ms" -> (Stats.median(all), "ms"),
      "wl.samples" -> (all.size.toDouble, "count"))
    if (tr.on) layers ++= SparkStats.report(tr, Mix.map(_._1))
    Result(e2e, layers.toMap, attempted.get, failed.get + checks.count(!_._2), checks)
  }

  /** Closed-loop throughput: each client's ops over its own busy time,
    * summed, so an op that ends after the deadline is not a fraction. */
  def opsPerS(done: java.util.Map[Int, (Int, Long)], t0: Long): Double = {
    import scala.jdk.CollectionConverters._
    done.values.asScala.map { case (n, end) => n / ((end - t0) / 1e9) }.sum
  }

  def spanMs(tr: Tracer, layer: String, name: String): Seq[Double] =
    tr.spansOf(layer).filter(_.name == name).map(s => (s.end - s.start) / 1e6)

  def runClients(c: Int, deadline: () => Long)(body: (Int, () => Long) => Unit): Unit = {
    val ts = (0 until c).map(i => new Thread(() => body(i, deadline), s"client-$i"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** The table the acknowledged writes imply: the loaded rows with every
    * logged effect applied in version order. */
  def replay(spark: SparkSession, base: DataFrame, schema: org.apache.spark.sql.types.StructType,
      log: Seq[(Long, Effect)]): DataFrame = {
    // per key: Some(row) = full row known, None = deleted; keys only
    // updated on top of a loaded row keep their (q, p) in `upd`
    val full = mutable.Map[Long, Option[Row]]()
    val upd = mutable.Map[Long, (Long, Double)]()
    log.foreach {
      case (_, Put(rs)) => rs.foreach { r => full(r.getLong(0)) = Some(r); upd.remove(r.getLong(0)) }
      case (_, Update(us)) => us.foreach { case (k, q, p) =>
        full.get(k) match {
          case Some(Some(r)) =>
            val s = r.toSeq.toArray
            s(5) = q; s(6) = p
            full(k) = Some(Row.fromSeq(s.toSeq))
          case Some(None) => ()
          case None => upd(k) = (q, p)
        }
      }
      case (_, Delete(ids)) => ids.foreach { k => full(k) = None; upd.remove(k) }
    }
    import spark.implicits._
    val touched = (full.keySet ++ upd.keySet).toSeq.toDF("obj_id")
    val kept = base.join(touched, Seq("obj_id"), "left_anti")
    val puts = spark.createDataFrame(java.util.Arrays.asList(full.values.flatten.toSeq: _*), schema)
    val updDf = upd.toSeq.map { case (k, (q, p)) => (k, q, p) }.toDF("obj_id", "q", "p")
    val updated = base.join(updDf, Seq("obj_id"))
      .withColumn("l_quantity", col("q")).withColumn("l_extendedprice", col("p"))
      .select(LineitemNames.map(col): _*)
    kept.unionByName(puts).unionByName(updated)
  }
}
