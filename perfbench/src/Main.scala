package perfbench

/** One benchmark run inside one JVM. Prints a single JSON line with the
  * run's end-to-end and per-layer figures and its output checks; the
  * runner (`perfbench/run.py`) turns it into the benchmark's result line.
  *
  * Usage: perfbench.Main --workload oltp|analytics|incremental[,...] --seed N
  *   --seconds S --trace 0|1 --data DIR --work DIR --sf X --setups K
  *   --cores C --corrupt 0|1
  */
object Main {
  /** A comma-separated `--workload` list runs each in turn in this JVM, as
    * the runner's class-archive training does; each prints its own line. */
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    args.workload.split(",").foreach(w => run(args.copy(workload = w)))
  }

  def run(a: Args): Unit = {
    // host speed, before any engine or Spark code runs in this JVM; a
    // per-layer figure, so only traced runs take the time for it
    val canaryMs = if (a.trace) Stats.median(Canary.measure(a.cores)) else 0.0
    val (spark, sessionMs) = Common.timed(graft.Engine.session(a.cores.toString))
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"${a.workload}: session $sessionMs%.0f ms, canary $canaryMs%.1f ms")
    val tr = new Tracer(a.trace, spark.sparkContext)
    val raw = try {
      a.workload match {
        case "oltp" => Oltp.run(spark, a, tr, sessionMs / 1000)
        case "analytics" => Analytics.run(spark, a, tr, sessionMs / 1000)
        case "incremental" => Incremental.run(spark, a, tr, sessionMs / 1000)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    // a traced run also reports its own end-to-end figures, so the tracing
    // overhead is the traced run's trace.<metric> against the untraced
    // run's <metric> at the same seed
    val traced = if (a.trace) raw.e2e.map { case (k, v) => s"trace.$k" -> v } else Map.empty
    val r = raw.copy(layers = raw.layers ++ traced + ("host.canary_ms" -> (canaryMs, "ms")))
    def obj(m: Map[String, (Double, String)]) = m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      Json.str(k) + s": {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val checks = r.checks.map { case (k, ok) => Json.str(k) + ": " + ok }.mkString("{", ", ", "}")
    println(s"""{"e2e": ${obj(r.e2e)}, "layers": ${obj(r.layers)}, "attempted": ${r.attempted}, "failed": ${r.failed}, "checks": $checks}""")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}

/** Host speed, apart from the engine: every thread sorts its own copy of
  * 500,000 random longs twice. Reported as the per-layer `host.canary_ms`
  * only, to tell a slow machine from a slow engine when reading a run. */
object Canary {
  def once(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        val r = new java.util.Random(i)
        val base = Array.fill(500000)(r.nextLong())
        (1 to 2).foreach(_ => java.util.Arrays.sort(base.clone()))
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Five timings after two untimed warm-up rounds, in ms. */
  def measure(threads: Int): Seq[Double] = {
    (1 to 2).foreach(_ => once(threads))
    (1 to 5).map(_ => once(threads))
  }
}
