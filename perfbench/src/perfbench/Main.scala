package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One run's settings and session. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val cores: Int, val work: Path) {
  val tracer = new Tracer(spark)
  tracer.install()

  /** Host context taken just before and just after the timed part. */
  val host = mutable.LinkedHashMap[String, Double]()
  def hostSnapshot(when: String): Unit = {
    host(s"loadavg_$when") = Host.loadavg()
    host(s"calibration_${when}_s") = Host.calibrate(spark, cores)
  }

  /** Stop this session and start one at local[`n`]. */
  def restart(n: Int): Ctx = {
    spark.stop()
    new Ctx(Main.session(n, work), workload, seed, seconds, trace, n, work)
  }
}

/** What a workload reports: operations attempted and failed, its
  * metrics, the median set-up time after the session started, and
  * extra fields for the run record. */
final case class Outcome(attempted: Int, failed: Int, metrics: collection.Map[String, Double],
    prepS: Double, record: Map[String, Any])

/** Entry point of the benchmark JVM.
  *
  * `--workload <dlt_small|dlt_large> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>` runs one workload and prints one line
  * `PERFBENCH_RESULT <json>`; `--selftest` checks the generator and the
  * percentile rule without starting Spark. */
object Main {
  val PerLayer: Seq[String] = Seq(
    "shell.trigger_ms", "shell.add_batch_ms", "shell.overhead_ms", "shell.wait_ms",
    "shell.process_batch_self_ms", "source.add_data_ms") ++
    DltGen.BranchNames.flatMap(b => Seq(s"sink.$b.ms", s"sink.$b.rows", s"sink.$b.bytes")) ++ Seq(
    "sink.driver_self_ms",
    "fanout.jobs_per_batch", "fanout.scan_passes", "trace.accounted_pct",
    "stage.decode_ms", "stage.map_ms", "stage.split_ms", "stage.guard_ms",
    "codec.rand_lowercase_ns_per_byte",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "query.jobs", "query.driver_gap_ms",
    "spark.jobs", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.deser_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.peak_task_mem_mb", "spark.driver_gap_s", "spark.speedup_vs_1core",
    "jvm.heap_peak_mb", "trace.overhead_pct")

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--selftest")) { selftest(); return }
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - Host.processStartMs()) / 1e3
    val ctx = new Ctx(spark, workload, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", cores, work)
    val out = new Dlt(ctx).run()
    val active = SparkSession.getActiveSession.getOrElse(spark)
    val metrics = mutable.LinkedHashMap[String, Double]()
    if (ctx.trace) {
      val m = out.metrics + ("jvm.heap_peak_mb" -> Host.heapPeakMb())
      PerLayer.foreach { n =>
        metrics(n) = m.getOrElse(n, throw new IllegalStateException(s"no value for $n"))
      }
    } else {
      metrics("setup_s") = sessionS + out.prepS
      metrics ++= out.metrics
    }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "session_s" -> sessionS, "prep_s" -> out.prepS,
      "failed_ops_ratio" -> out.failed.toDouble / out.attempted.max(1)) ++ ctx.host ++
      out.metrics.filter { case (k, _) => !metrics.contains(k) } ++ out.record
    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> out.attempted, "failed" -> out.failed, "metrics" -> metrics,
      "record" -> record)
    println("PERFBENCH_RESULT " + Json(result))
    active.stop()
  }

  /** Generator determinism, branch shares and the percentile rule. */
  private def selftest(): Unit = {
    for (m <- Seq(DltGen.small, DltGen.large)) {
      val a = DltGen.template(m, 7L, 0, 4)
      val b = DltGen.template(m, 7L, 0, 4)
      val c = DltGen.template(m, 8L, 0, 4)
      def sig(t: DltGen.Template) = t.preds.toSeq.map(p =>
        (p.branch, p.key.toSeq, Option(p.value).map(_.toSeq), p.vlen,
          Option(p.headers).map(_.map(h => (h.key, h.value.toSeq)))))
      require(sig(a) == sig(b), s"${m.name}: same seed, different records")
      require(a.records.map(r => Option(r.value).map(_.toSeq)).toSeq ==
        b.records.map(r => Option(r.value).map(_.toSeq)).toSeq, s"${m.name}: values differ")
      require(sig(a) != sig(c), s"${m.name}: seed ignored")
      val kinds = a.preds.groupBy(_.branch).map { case (k, v) => k -> v.length }
      val tomb = a.preds.count(_.vlen == -1)
      require(kinds.getOrElse(DltGen.ProcessDlt, 0) == m.negative, s"${m.name}: process share")
      require(kinds.getOrElse(DltGen.DeserDlt, 0) == m.deser, s"${m.name}: deser share")
      require(tomb == m.tombstones, s"${m.name}: tombstone share")
      require(kinds.getOrElse(DltGen.Output, 0) + kinds.getOrElse(DltGen.ProductionDlt, 0) ==
        m.valid + m.tombstones, s"${m.name}: valid share")
      val hdr = a.records.count(_.headers != null).toDouble / m.records
      require(m.records < 100 || math.abs(hdr - m.headerShare) < 0.02, s"${m.name}: header share $hdr")
      println(s"SELFTEST ${m.name} branches=${kinds.toSeq.sorted} tombstones=$tomb headers=$hdr")
    }
    // A third of dlt_large's valid records exceed the 1 MiB limit.
    val big = (0 until 64).flatMap(t => DltGen.template(DltGen.large, 3L, t, 4).preds)
    val over = big.count(_.branch == DltGen.ProductionDlt).toDouble /
      big.count(p => p.branch == DltGen.ProductionDlt || p.branch == DltGen.Output)
    require(math.abs(over - 1.0 / 3) < 0.05, s"dlt_large oversized share $over")
    println(s"SELFTEST dlt_large oversized=$over")
    for (n <- 100 to 400) {
      val xs = (1 to n).map(_.toDouble)
      require(Stats.beyond(n, 90) >= 10, s"p90 at n=$n has fewer than 10 samples beyond")
      require(xs.count(_ > Stats.percentile(xs, 90)) == Stats.beyond(n, 90), s"beyond at n=$n")
    }
    require(Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0)
    require(Stats.percentile((1 to 100).map(_.toDouble), 50) == 50.0)
    println("SELFTEST OK")
  }
}
