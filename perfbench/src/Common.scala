package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.acid.{ConflictException, Instance, Txn, VersionedTable}

/** Command-line settings of one run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, sf: Double,
    corrupt: Boolean, setups: Int, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // every setting comes from perfbench/run.py, which reads spec.json
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("sf").toDouble,
      m("corrupt") == "1", m("setups").toInt, m("cores").toInt)
  }
}

/** What a workload hands back: end-to-end and per-layer figures, op
  * counts, and the failures its output checks found. */
final case class Result(e2e: Map[String, (Double, String)],
    layers: Map[String, (Double, String)], attempted: Long, failed: Long,
    checks: Seq[(String, Boolean)])

/** Thread-safe latency samples per op type, in milliseconds. */
final class Samples {
  private val m = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  def add(kind: String, ms: Double): Unit = synchronized {
    m.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
  }
  def of(kinds: String*): Seq[Double] = synchronized {
    kinds.flatMap(k => m.getOrElse(k, Nil)).toSeq
  }
  def all: Seq[Double] = synchronized { m.values.flatten.toSeq }
  def kinds: Seq[String] = synchronized { m.keys.toSeq.sorted }
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 100]); 0 when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Common {
  /** Milliseconds taken by `body`, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** lineitem as an engine table: a dense `obj_id` in file order
    * (0 until rows), `l_linenumber` and the whole-number `l_quantity` as
    * BIGINT so view sums stay exact, and `l_shipdate` as a session-zone
    * TIMESTAMP. */
  def lineitemRows(spark: SparkSession, dir: String): DataFrame =
    // one partition, so monotonically_increasing_id is dense: 0 until rows
    spark.read.parquet(s"$dir/lineitem.parquet").coalesce(1)
      .withColumn("obj_id", monotonically_increasing_id())
      .select(lineitemCols(col): _*)

  val LineitemNames: Seq[String] = Seq("obj_id", "l_orderkey", "l_partkey",
    "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")

  def lineitemCols(c: String => Column): Seq[Column] = LineitemNames.map {
    case "l_linenumber" => c("l_linenumber").cast(LongType).as("l_linenumber")
    case "l_quantity" => c("l_quantity").cast(LongType).as("l_quantity")
    case "l_shipdate" => c("l_shipdate").cast(TimestampType).as("l_shipdate")
    case n => c(n)
  }

  /** Logical bytes of one lineitem row: fixed-width columns at their
    * width, the two one-letter flags at one byte each. */
  val LineitemRowBytes: Long = 8L * 10 + 1 + 1

  /** Create a table at `root` and load `rows` into `files` files, each
    * holding one contiguous `obj_id` range. */
  def load(spark: SparkSession, root: String, rows: DataFrame, files: Int,
      conf: graft.acid.EngineConf): Instance = {
    val inst = VersionedTable.create(spark, root, rows.schema, conf)
    val t = inst.begin()
    t.insert(rows.repartitionByRange(files, col("obj_id")).sortWithinPartitions("obj_id"))
    inst.commit(t)
    inst
  }

  /** Begin, stage and commit with bounded retry on conflicts. Returns the
    * committed version and the number of attempts. Staging runs inside a
    * span of `acid.txn` and the commit inside one of `acid.commit`. */
  def commitWithRetry(tr: Tracer, inst: Instance, name: String,
      maxAttempts: Int = 64)(stage: Txn => Unit): (Long, Int) = {
    var attempt = 0
    while (true) {
      attempt += 1
      val t = inst.begin()
      try {
        tr.span("acid.txn", name)(stage(t))
        val v = tr.span("acid.commit", "commit")(inst.commit(t))
        return (v, attempt)
      } catch {
        case e: ConflictException =>
          inst.rollback(t)
          if (attempt >= maxAttempts) throw e
          Thread.sleep(math.min(200L, inst.conf.conflictBackoffMs * attempt))
        case e: Throwable =>
          inst.rollback(t)
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Order-insensitive (count, sum of row hashes) of `df`'s columns. */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.sorted.map(col): _*).cast(DecimalType(38, 0))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Bytes of every file under `root`, by relative path. */
  def listBytes(spark: SparkSession, root: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = mutable.Map[String, Long]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      out(f.getPath.toString) = f.getLen
    }
    out.toMap
  }

  def deleteTree(spark: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Zipf(s) sampler over [0, n) by inverse CDF on a precomputed table. */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    /** Rank r maps to a key spread over the range, so hot keys land in
      * different files rather than all in the first. */
    private val perm = {
      val r = new scala.util.Random(seed)
      r.shuffle((0 until n).toVector).toArray
    }
    def next(rnd: scala.util.Random): Long = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      perm(math.min(i, n - 1)).toLong
    }
  }
}
