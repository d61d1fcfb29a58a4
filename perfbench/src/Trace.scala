package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around every call the benchmark makes into a layer.
  *
  * A span has a name, a layer, start and end (nanoTime), its parent span
  * and the id of the op it belongs to. Spans stay in memory; [[report]]
  * folds them at the end. With tracing off, [[op]] and [[span]] only run
  * their body, so the untraced run pays nothing per call.
  *
  * Spark jobs attach to the op that launched them through the local
  * property [[OpProp]], which Spark copies onto every job a thread starts.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  /** Spans are kept only while recording (the timed window). */
  @volatile var recording = false
  val jobs: JobListener = if (on) new JobListener else null
  if (on) sc.addSparkListener(jobs)

  /** Run one foreground op of type `kind`: the root span of its tree. */
  def op[T](kind: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val prev = sc.getLocalProperty(OpProp)
      sc.setLocalProperty(OpProp, s"$id:$kind")
      try withSpan(id, id, "bench", kind)(body)
      finally sc.setLocalProperty(OpProp, prev)
    }

  /** Run `body` as a call into `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else stack.get() match {
      case Nil => body // outside any op: not part of the trace
      case parent :: _ => withSpan(nextId.incrementAndGet(), parent.op, layer, name)(body)
    }

  private def withSpan[T](id: Long, op: Long, layer: String, name: String)(body: => T): T = {
    val parent = stack.get().headOption.map(_.id).getOrElse(0L)
    val s = Span(id, parent, op, layer, name, 0L, 0L)
    stack.set(s :: stack.get())
    s.start = System.nanoTime()
    try body
    finally {
      s.end = System.nanoTime()
      stack.set(stack.get().tail)
      if (recording) spans.add(s)
    }
  }

  /** Per-layer self time, span counts and op-tree accounting. */
  def report(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val byParent = all.groupBy(_.parent)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    var unaccounted = 0.0
    val roots = all.filter(s => s.id == s.op)
    val selfOf = mutable.Map[Long, Long]()
    all.foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val st = s.end - s.start - covered(kids, s.start, s.end)
      selfOf(s.id) = st
      self(s.layer) += st / 1e9
    }
    // every op's wall time must be the sum of its tree's self times
    val byOp = all.groupBy(_.op)
    roots.foreach { r =>
      val sum = byOp(r.id).map(s => selfOf(s.id)).sum
      unaccounted += math.abs((r.end - r.start) - sum) / 1e6
    }
    val out = mutable.Map[String, Double]()
    Layers.foreach(l => out(s"self.${l}_s") = self(l))
    out("trace.spans") = all.size
    out("trace.unaccounted_ms_per_op") = if (roots.isEmpty) 0.0 else unaccounted / roots.size
    out.toMap
  }

  /** Recorded spans of one layer. */
  def spansOf(layer: String): Seq[Span] = spans.asScala.filter(_.layer == layer).toSeq
}

object Tracer {
  val OpProp = "perfbench.op"
  /** Layer names, in report order; `bench` is the op's own code. */
  val Layers = Seq("bench", "engine", "acid.txn", "acid.commit", "acid.snapshot",
    "acid.scan", "acid.mv", "acid.mvrewrite", "acid.cdf", "queries", "spark")

  final case class Span(id: Long, parent: Long, op: Long, layer: String,
      name: String, var start: Long, var end: Long)

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark job, task and shuffle counts, each job tagged with the op that
  * launched it. Times are driver wall-clock millis from the events. */
final class JobListener extends SparkListener {
  final case class Job(op: String, start: Long, var end: Long, var tasks: Int)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val shuffleBytes = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  @volatile var recording = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val op = Option(e.properties).map(_.getProperty(Tracer.OpProp)).orNull
    jobs.put(e.jobId, Job(op, e.time, 0L, 0))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = e.time
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    if (j != null) j.synchronized { j.tasks += 1 }
  }

  def all: Seq[Job] = jobs.values().asScala.toSeq
}

/** JVM numbers from the management beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Samples heap use every 50 ms while running. */
  final class HeapSampler extends Thread("perfbench-heap") {
    setDaemon(true)
    @volatile var peakMb = 0.0
    @volatile private var stopped = false
    override def run(): Unit = while (!stopped) {
      peakMb = math.max(peakMb, heapUsedMb)
      Thread.sleep(50)
    }
    def finish(): Double = { stopped = true; join(); peakMb }
  }
}

/** `spark.*` per-layer figures from the job listener, per op type. */
object SparkStats {
  /** nanoTime minus wall-clock nanos, to put job events on span time. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def report(tr: Tracer, kinds: Seq[String]): Map[String, (Double, String)] = {
    val jobs = tr.jobs.all
    val roots = tr.spansOf("bench").filter(s => s.id == s.op)
    val opsByKind = roots.groupBy(_.name).map { case (k, v) => k -> v.size }
    val jobsByOp = jobs.filter(_.op != null).groupBy(_.op.takeWhile(_ != ':').toLong)
    val perKind = kinds.map { k =>
      val n = opsByKind.getOrElse(k, 0)
      val j = jobs.count(j => j.op != null && j.op.endsWith(s":$k"))
      s"spark.jobs_per_op.$k" -> ((if (n == 0) 0.0 else j.toDouble / n), "count")
    }
    val done = jobs.filter(_.end > 0)
    val gap = roots.map { r =>
      val iv = jobsByOp.getOrElse(r.id, Nil).filter(_.end > 0)
        .map(j => (j.start * 1000000L + offsetNs, j.end * 1000000L + offsetNs))
      (r.end - r.start) - Tracer.covered(iv, r.start, r.end)
    }.sum / 1e9
    (perKind ++ Seq(
      "spark.jobs" -> (jobs.size.toDouble, "count"),
      "spark.tasks" -> (tr.jobs.tasks.get.toDouble, "count"),
      "spark.job_busy_s" -> (done.map(j => j.end - j.start).sum / 1000.0, "s"),
      "spark.shuffle_mb" -> (tr.jobs.shuffleBytes.get / 1048576.0, "MB"),
      "spark.driver_gap_s" -> (gap, "s")
    ) ++ tr.report().map { case (k, v) =>
      k -> (v, if (k.startsWith("self.")) "s" else if (k.endsWith("_ms_per_op")) "ms" else "count")
    }).toMap
  }
}
