package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation. `group` separates reads from writes and batch
  * stages; `traced` marks operations run with the listener attached.
  */
final case class Sample(kind: String, group: String, ms: Double, planMs: Double,
                        execMs: Double, rows: Long, op: Long, traced: Boolean, startMs: Long)

/** `fault` deliberately corrupts one result, so the benchmark's own
  * tests can show the output checks catch it: `swap` swaps the first
  * two rows of the first read, `drop-append` leaves one vector of the
  * first acknowledged batch out of the index, `drop-cluster` drops one
  * row of the first `Dedup.dedupClusters` result. `corpus` names a
  * reference corpus to use instead of the generated one.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      scale: String, work: String, fault: String, corpus: String)

/** Run state shared by every workload: the session, the run's private
  * directories, timings, spans, Spark counters and deferred checks.
  */
final class Ctx(val args: Args) {
  val runDir: String = new File(
    s"${args.work}/runs/${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
    .getAbsolutePath
  val cacheDir: String = new File(s"${args.work}/data").getAbsolutePath
  val spans = new Spans
  val samples = mutable.ArrayBuffer.empty[Sample]
  var setupS = 0.0
  val layerSeconds = mutable.LinkedHashMap.empty[String, Double]
  private val cores = Runtime.getRuntime.availableProcessors()
  val gauges = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checks = mutable.ArrayBuffer.empty[(String, () => Option[String])]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var heapPeak = 0L
  private var nextOp = 0L
  /** Time the loop spent in the heap sample, which the throughput excludes. */
  var pausedNs = 0L
  /** Collection time of the heap samples' own full GCs, which jvm.gc_ms excludes. */
  var sampleGcMs = 0L
  private var tracing = false
  private var faulted = false
  private var listener: SparkWork = _
  var spark: SparkSession = _

  def rng(stream: Long): java.util.Random = new java.util.Random(args.seed * 1000003L + stream)

  /** A fresh session whose index artifacts live under `indexRoot`. */
  def startSession(indexRoot: String): SparkSession = {
    val local = s"$runDir/spark-local"
    new File(local).mkdirs()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.graft.index.root", indexRoot)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(): Unit = if (spark != null) {
    if (listener != null) { spark.sparkContext.removeSparkListener(listener); listener = null }
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Attaches or detaches the Spark listener; untraced operations run
    * exactly as they would without the benchmark.
    */
  def setTracing(on: Boolean): Unit = if (args.trace && on != tracing) {
    if (on) {
      if (listener == null) listener = new SparkWork
      spark.sparkContext.addSparkListener(listener)
    } else spark.sparkContext.removeSparkListener(listener)
    tracing = on
  }

  /** Wall time of a set-up step, recorded as `<name>_s` per-layer. */
  def layer[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = spans(name)(body)
    layerSeconds(name) = (System.nanoTime() - t0) / 1e9
    r
  }

  private def begin(): Long = {
    nextOp += 1
    attempted += 1
    spans.setOp(nextOp)
    if (tracing) spark.sparkContext.setLocalProperty(SparkWork.OpKey, nextOp.toString)
    nextOp
  }

  private def end(): Unit = {
    spans.setOp(-1L)
    if (spark != null) spark.sparkContext.setLocalProperty(SparkWork.OpKey, null)
    // the live heap grows with the operations run, so it is sampled at a
    // fixed operation count rather than at the (speed-dependent) end
    if (nextOp == Ctx.HeapSampleOps) {
      val t0 = System.nanoTime()
      gcAndSampleHeap()
      pausedNs += System.nanoTime() - t0
    }
  }

  def ops: Long = nextOp

  /** Times one query: the operator call (plus physical planning when
    * traced) and the `collect()`. Returns None if the call threw.
    */
  def query(kind: String, group: String)(df: => DataFrame): Option[Array[Row]] = {
    val op = begin()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val rows = spans(kind) {
        val frame = spans(s"$kind.plan") {
          val f = df
          if (tracing) f.queryExecution.executedPlan
          f
        }
        val t1 = System.nanoTime()
        val out = spans(s"$kind.exec")(frame.collect())
        val t2 = System.nanoTime()
        if (args.fault == "swap" && !faulted && group == "read" && out.length >= 2) {
          faulted = true
          val first = out(0); out(0) = out(1); out(1) = first
        }
        samples += Sample(kind, group, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
          out.length, op, tracing, wall0)
        out
      }
      Some(rows)
    } catch {
      case e: Exception => fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    } finally end()
  }

  /** Times one write or maintenance call. Returns false if it threw. */
  def action(kind: String, group: String)(body: => Unit): Boolean = {
    val op = begin()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      spans(kind)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      samples += Sample(kind, group, ms, 0.0, ms, 0L, op, tracing, wall0)
      true
    } catch {
      case e: Exception => fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    } finally end()
  }

  /** Registers an output check to run after the timed phase. */
  def check(what: String)(verdict: => Option[String]): Unit = checks += ((what, () => verdict))

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += msg
  }

  /** Runs the deferred checks; each failure counts one failed operation. */
  def runChecks(): Unit = {
    checks.foreach { case (what, v) =>
      val r = try v() catch { case e: Exception => Some(s"check threw $e") }
      r.foreach(m => fail(s"$what: $m"))
    }
    checks.clear()
  }

  def work(op: Long): OpWork = {
    if (listener == null) new OpWork
    else { org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext); listener.of(op) }
  }

  /** Full collection, then the old generation's occupancy after it
    * (`MemoryPoolMXBean.getCollectionUsage`): the live set right now.
    */
  def gcAndSampleHeap(): Unit = {
    val gc0 = gcMs
    System.gc()
    sampleGcMs += gcMs - gc0
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .foreach(p => heapPeak = math.max(heapPeak, p.getCollectionUsage.getUsed))
  }

  def heapPeakMb: Double = heapPeak / 1048576.0

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def gauge(name: String, value: Double, unit: String): Unit = gauges(name) = (value, unit)
}

object Ctx {
  /** Operations after which the live heap is sampled. */
  val HeapSampleOps = 40L
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}
