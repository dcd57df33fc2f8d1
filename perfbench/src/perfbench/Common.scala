package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Order statistics used for every reported timing. */
object Stats {
  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. At n = 100, p90 leaves
    * exactly ten samples above it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1)
    s(rank - 1)
  }

  /** Samples strictly above the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt.max(1)

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host context recorded with every run. */
object Host {
  def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(' ').head.toDouble
    catch { case _: Throwable => -1.0 }

  /** Fixed-work probe: hash-reduce a constant range. Its wall time
    * moves with host conditions only, never with program changes. The
    * first of two passes warms its code; the second is timed. Each pass
    * is a fresh Dataset, since running one Dataset again reuses its
    * shuffle output and skips the hashing. */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    def q() = spark.range(0L, 64000000L, 1L, cores)
      .select(xxhash64(col("id")).as("h")).agg(bit_xor(col("h")))
    q().collect()
    val t0 = System.nanoTime()
    q().collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak use of the old generation over the process lifetime: data
    * that outlived young collections, so it tracks what the program
    * holds rather than how full the young generation got. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def processStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** A traced interval. Times are epoch milliseconds with sub-ms
  * precision so spans line up with Spark's listener timestamps. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

/** In-memory span recorder plus the Spark listeners that feed it.
  *
  * Jobs are linked to the benchmark span that submitted them through a
  * local property set by the benchmark's own wrappers just before each
  * action. Task metrics are summed per job; per-operation figures come
  * from the jobs that started within the operation. */
final class Tracer(spark: SparkSession) {
  val SpanProperty = "perfbench.span"

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false

  def newId(): Long = nextId.getAndIncrement()
  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Run `body` with jobs it submits attributed to span `id`. */
  def within[T](id: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    try body finally sc.setLocalProperty(SpanProperty, prev)
  }

  final class JobRec(val id: Int, val span: Long, val start: Double) {
    var end = 0.0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var shufR = 0L
    var shufW = 0L
    var peakMem = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val span = Option(j.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(j.jobId, new JobRec(j.jobId, span, j.time.toDouble))
      j.stageIds.foreach(s => stageJob.put(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(r => r.synchronized { r.end = j.time.toDouble })
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      for {
        jid <- Option(stageJob.get(t.stageId))
        r <- Option(jobs.get(jid))
        m <- Option(t.taskMetrics)
      } r.synchronized {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.deserMs += m.executorDeserializeTime
        r.shufR += m.shuffleReadMetrics.totalBytesRead
        r.shufW += m.shuffleWriteMetrics.bytesWritten
        r.peakMem = r.peakMem.max(m.peakExecutionMemory)
      }
  }

  /** Catalyst phase times of every successful action, placed in time
    * so each lands on the operation that was running when it started. */
  final case class Phases(start: Double, analysis: Double, optimization: Double, planning: Double)
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phases]()

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      if (ph.nonEmpty) phases.add(Phases(ph.values.map(_.startTimeMs).min.toDouble,
        ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = {
    // A trivial job whose end event queues behind all earlier events.
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
      jobs.values.asScala.exists(_.end == 0.0)) Thread.sleep(5)
    Thread.sleep(50)
  }

  private def jobsOf(spanIds: Set[Long]): Seq[JobRec] =
    jobs.values.asScala.filter(r => spanIds.contains(r.span)).toSeq

  /** Jobs that started within [start, end], whoever submitted them. */
  private def jobsIn(start: Double, end: Double): Seq[JobRec] =
    jobs.values.asScala.filter(r => r.start >= math.floor(start) && r.start <= end).toSeq

  /** Jobs linked to any of `spanIds`. */
  def jobCount(spanIds: Set[Long]): Int = jobsOf(spanIds).size

  /** Executor run time, summed over the tasks of the jobs linked to
    * span `id`, in milliseconds. */
  def taskMs(id: Long): Double = jobsOf(Set(id)).map(_.runMs).sum.toDouble

  /** Catalyst analysis, optimization and planning time of the actions
    * that started within [start, end]. */
  def planMs(start: Double, end: Double): Double =
    phasesIn(start, end).map(p => p.analysis + p.optimization + p.planning).sum

  private def phasesIn(start: Double, end: Double): Seq[Phases] =
    phases.asScala.filter(p => p.start >= math.floor(start) && p.start <= end).toSeq

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Job spans as children of the benchmark span that submitted them. */
  def jobSpans: Seq[Span] = jobs.values.asScala.toSeq.filter(_.span != 0)
    .map(r => Span(-r.id.toLong, r.span, "spark.job", r.start, r.end.max(r.start)))

  /** Length of the union of `intervals` clipped to [start, end]. */
  private def covered(intervals: Seq[(Double, Double)], start: Double, end: Double): Double = {
    val iv = intervals.map(x => (x._1.max(start), x._2.min(end))).filter(x => x._2 > x._1)
      .sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    iv.foreach { case (a, b) =>
      if (cs.isNaN) { cs = a; ce = b }
      else if (a <= ce) ce = ce.max(b)
      else { total += ce - cs; cs = a; ce = b }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      s.id -> ((s.end - s.start) -
        covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }

  /** Spark and Catalyst figures per operation. Each op is its (start,
    * end); every job and planning phase that started in that window
    * belongs to it, whether or not a benchmark span submitted it. */
  def perOp(ops: Seq[(Double, Double)]): mutable.LinkedHashMap[String, Double] = {
    val n = ops.size.max(1).toDouble
    val opJobs = ops.map { case (s, e) => (jobsIn(s, e), s, e) }
    val js = opJobs.flatMap(_._1)
    val gaps = opJobs.map { case (j, s, e) => (e - s) - covered(j.map(x => (x.start, x.end)), s, e) }
    val ph = ops.map { case (s, e) => phasesIn(s, e) }
    mutable.LinkedHashMap(
      "plan.analysis_ms" -> Stats.mean(ph.map(_.map(_.analysis).sum)),
      "plan.optimization_ms" -> Stats.mean(ph.map(_.map(_.optimization).sum)),
      "plan.planning_ms" -> Stats.mean(ph.map(_.map(_.planning).sum)),
      "spark.jobs" -> js.size / n,
      "spark.tasks" -> js.map(_.tasks).sum / n,
      "spark.task_run_s" -> js.map(_.runMs).sum / 1e3 / n,
      "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1e3 / n,
      "spark.deser_s" -> js.map(_.deserMs).sum / 1e3 / n,
      "spark.shuffle_read_mb" -> js.map(_.shufR).sum / 1048576.0 / n,
      "spark.shuffle_write_mb" -> js.map(_.shufW).sum / 1048576.0 / n,
      "spark.peak_task_mem_mb" -> (if (js.isEmpty) 0.0 else js.map(_.peakMem).max / 1048576.0),
      "spark.driver_gap_s" -> Stats.mean(gaps) / 1e3)
  }

  def writeSpans(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val self = selfTimes(all)
    val lines = all.sortBy(_.start).map { s =>
      Json(mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
