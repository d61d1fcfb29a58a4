package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `analytics`: one client running passes over 15 read-only registry keys
  * to a noop sink. The first pass is untimed; it writes every key's result
  * for the DuckDB oracle check, which the runner does after the JVM exits. */
object Analytics {
  val Keys: Seq[String] = Seq("q03_agg", "q05_join_multi", "q08_range_join",
    "q09_window_rank", "q12_except", "q14_cube", "q25_jaccard_join",
    "q25_minhash_lsh", "q39_dedup_clusters", "q49_span_dedup", "q27_langid",
    "q38_training_pipeline", "q45_gap_fill", "q47_funnel", "q25_jaccard_join_df")

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents")

  def run(spark: SparkSession, a: Args, tr: Tracer, sessionS: Double): Result = {
    val q = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    // set-up: resolve every input table and read its row count
    val setups = (1 to a.setups).map { _ =>
      Common.timed(Tables.foreach(t => graft.Engine.table(spark, a.data, t).count()))._2 / 1000.0
    }

    // untimed first pass: results for the oracle check
    val resDir = s"${a.work}/results"
    val (_, firstMs) = Common.timed(Keys.foreach { k =>
      asNaive(q(k)(spark, a.data)).write.mode("overwrite").parquet(s"$resDir/$k")
    })
    System.err.println(f"analytics: set-ups ${setups.map(_ * 1000).mkString(" ")} ms, first pass $firstMs%.0f ms")
    val sqls = Keys.map { k =>
      val s = oracle(k)
      // the self-test corrupts one expected result to prove the check bites
      k -> (if (a.corrupt && k == Keys.head) s"SELECT * FROM ($s) OFFSET 1" else s)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$resDir/oracle_sql.json"),
      sqls.map { case (k, s) => Json.str(k) + ": " + Json.str(s) }.mkString("{", ",\n", "}"))

    val samples = new Samples
    val passes = mutable.ArrayBuffer[Double]()
    val gc0 = Jvm.gcSeconds
    val heap = new Jvm.HeapSampler; heap.start()
    tr.recording = true; if (tr.on) tr.jobs.recording = true
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var failed = 0L
    var attempted = 0L
    // whole passes only, and none that the last one says would end past
    // the window
    while (passes.isEmpty || System.nanoTime() + (passes.last * 1e9).toLong < deadline) {
      val p0 = System.nanoTime()
      Keys.foreach { k =>
        attempted += 1
        val s0 = System.nanoTime()
        try {
          tr.op(k) {
            val df = tr.span("queries", k)(q(k)(spark, a.data))
            tr.span("spark", "noop_sink")(df.write.format("noop").mode("overwrite").save())
          }
          samples.add(k, (System.nanoTime() - s0) / 1e6)
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"analytics: $k failed: $e")
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    tr.recording = false; if (tr.on) tr.jobs.recording = false
    val heapPeak = heap.finish()
    val all = samples.all
    System.err.println(f"analytics: ${passes.size} timed passes in $wallS%.1f s")
    val e2e = Map(
      "setup_s" -> (Stats.median(setups), "s"),
      "ops_per_s" -> (all.size / wallS, "1/s"))
    val layers = mutable.Map[String, (Double, String)](
      "engine.session_s" -> (sessionS, "s"),
      "engine.load_s" -> (Stats.median(setups), "s"),
      "jvm.gc_s" -> (Jvm.gcSeconds - gc0, "s"),
      "jvm.heap_peak_mb" -> (heapPeak, "MB"),
      "wl.pass_s" -> (Stats.median(passes.toSeq), "s"),
      "wl.query_p50_s" -> (Stats.median(all) / 1000, "s"),
      "wl.failed_ratio" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"),
      "wl.samples" -> (all.size.toDouble, "count"))
    Keys.foreach(k => layers(s"analytics.${k}_s") = (Stats.median(samples.of(k)) / 1000, "s"))
    if (tr.on) layers ++= SparkStats.report(tr, Keys)
    Result(e2e, layers.toMap, attempted, failed, Nil)
  }

  /** Timestamps as zone-less values: the oracle compares naive timestamps. */
  def asNaive(df: DataFrame): DataFrame = df.select(df.schema.fields.map { f =>
    if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
    else col(f.name)
  }.toSeq: _*)
}
