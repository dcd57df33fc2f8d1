package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.config.TopicConfig
import graft.functions.GraftExprs
import graft.operators.ErrorChannel
import graft.sources.KafkaEdge
import graft.streaming.StreamingTopology

/** The dead-letter topology workloads: a closed loop of one client that
  * adds one micro-batch to a MemoryStream and waits for
  * `processAllAvailable`, i.e. until all four sinks are done. */
final class Dlt(ctx: Ctx) {
  import DltGen._
  private val spark = ctx.spark
  private val mix = DltGen.mix(ctx.workload)
  private val tracer = ctx.tracer
  private val topics = TopicConfig()

  /** One sink's view of one batch, from the benchmark's digest aggregate. */
  final case class SinkRes(rows: Long, bytes: Long, digest: Long, check: Long,
      id: Long, start: Double, end: Double, scanRows: Long) {
    def ms: Double = end - start
  }
  final case class Expect(rows: Long, bytes: Long, digest: Long)

  private val results = new ConcurrentHashMap[Int, SinkRes]()
  @volatile private var opSpan = 0L
  @volatile private var traceScans = false

  private def headersOf(df: DataFrame) =
    if (df.columns.contains("headers")) col("headers") else lit(null).cast(ErrorChannel.HeaderType)

  /** Content digest of a sink record set and the length-based digest the
    * output branch is checked with (its payload is generated). */
  private def digestAgg(df: DataFrame): DataFrame = {
    val h = headersOf(df)
    df.agg(count(lit(1)), sum(coalesce(octet_length(col("value")), lit(0))).cast(LongType),
      bit_xor(xxhash64(col("topic"), col("key"), col("value"), h)),
      bit_xor(xxhash64(col("key"), coalesce(octet_length(col("value")), lit(-1)), h)))
  }

  private def sink(branch: Int, topic: String): DataFrame => Unit = { df =>
    val id = tracer.newId()
    val start = tracer.now()
    val agg = digestAgg(KafkaEdge.toSinkShape(df, topic))
    val row = tracer.within(id)(agg.collect().head)
    val end = tracer.now()
    tracer.add(Span(id, opSpan, s"sink.${BranchNames(branch)}", start, end))
    def l(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    results.put(branch, SinkRes(l(0), l(1), l(2), l(3), id, start, end,
      if (traceScans) Dlt.inMemoryScanRows(agg) else 0L))
  }

  private val sinks = StreamingTopology.Sinks(
    output = sink(Output, topics.output),
    processDlt = sink(ProcessDlt, topics.processDlt),
    deserializationDlt = sink(DeserDlt, topics.deserializationDlt),
    productionDlt = sink(ProductionDlt, topics.productionDlt))

  /** Per-template, per-branch expectations, aggregated by Spark from the
    * generator's predictions with the same digest expressions. */
  private def expectations(ts: Seq[Template]): Map[(Int, Int), Expect] = {
    val preds = spark.createDataset(ts.flatMap(_.preds))(Encoders.product[Pred]).toDF()
    val isOut = col("branch") === Output
    preds.groupBy("template", "branch").agg(count(lit(1)),
      sum(when(isOut, greatest(col("vlen"), lit(0))).otherwise(octet_length(col("value"))))
        .cast(LongType),
      bit_xor(when(isOut, xxhash64(col("key"), col("vlen"), col("headers")))
        .otherwise(xxhash64(col("topic"), col("key"), col("value"), col("headers")))))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> Expect(r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap.withDefaultValue(Expect(0, 0, 0))
  }

  final case class Op(wallMs: Double, addMs: Double, span: Long, start: Double, end: Double,
      trigger: Double, addBatch: Double, ok: Boolean, sinks: Map[Int, SinkRes])

  private final class Running(val mem: MemoryStream[KRec], val query: StreamingQuery,
      val templates: IndexedSeq[Template], val expect: Map[(Int, Int), Expect]) {
    var next = 0
    /** Untimed batches, checked like timed ones. */
    val untimed = mutable.ArrayBuffer[Op]()
    /** Output digest per template, which must repeat exactly. */
    val outDigest = mutable.Map[Int, Long]()
  }

  private def prepare(cores: Int, rep: Int): Running = {
    val templates = (0 until mix.templates).map(t => template(mix, ctx.seed, t, cores))
    val expect = expectations(templates)
    implicit val sqlc = spark.sqlContext
    val mem = MemoryStream[KRec](cores)(Encoders.product[KRec], sqlc)
    val cp = ctx.work.resolve(s"checkpoint-$cores-$rep-${System.nanoTime()}").toString
    val query = StreamingTopology.start(mem.toDF(), sinks, cp, trigger = Trigger.ProcessingTime(0))
    val r = new Running(mem, query, templates, expect)
    r.untimed += runOp(r)
    r
  }

  private def runOp(r: Running): Op = {
    val t = r.next % r.templates.size
    r.next += 1
    val tmpl = r.templates(t)
    results.clear()
    val id = tracer.newId()
    val triggerId = tracer.newId()
    val batchId = tracer.newId()
    opSpan = batchId
    val start = tracer.now()
    r.mem.addData(tmpl.records.toSeq)
    val added = tracer.now()
    r.query.processAllAvailable()
    val end = tracer.now()
    val p = r.query.lastProgress
    def d(k: String): Double =
      Option(p).flatMap(x => Option(x.durationMs.get(k))).map(_.doubleValue).getOrElse(0.0)
    val got = (0 to 3).map(b => b -> Option(results.get(b))).toMap
    val ok = p != null && p.numInputRows == mix.records && (0 to 3).forall { b =>
      val e = r.expect((t, b))
      got(b).exists { s =>
        s.rows == e.rows && s.bytes == e.bytes &&
          (if (b == Output) s.check == e.digest else s.digest == e.digest)
      }
    } && got(Output).forall { s =>
      r.outDigest.getOrElseUpdate(t, s.digest) == s.digest
    }
    // Span tree: op.batch > source.add_data, shell.trigger >
    // shell.process_batch > sink.* > spark.job. The trigger starts at the
    // progress timestamp; processBatch ends when its last sink returns.
    tracer.add(Span(id, 0L, "op.batch", start, end))
    tracer.add(Span(tracer.newId(), id, "source.add_data", start, added))
    val trigStart = Option(p).map(x => java.time.Instant.parse(x.timestamp).toEpochMilli.toDouble)
      .getOrElse(end - d("triggerExecution")).max(added)
    tracer.add(Span(triggerId, id, "shell.trigger", trigStart,
      (trigStart + d("triggerExecution")).min(end)))
    val lastSink = got.values.flatten.map(_.end).foldLeft(trigStart)(_ max _)
    tracer.add(Span(batchId, triggerId, "shell.process_batch",
      (lastSink - d("addBatch")).max(trigStart), lastSink))
    Op(end - start, added - start, id, start, end, d("triggerExecution"), d("addBatch"),
      ok, got.collect { case (b, Some(s)) => b -> s })
  }

  /** Timed batches for `seconds`. With `alternate`, tracing is on for
    * every other batch, so traced and untraced batches share the run's
    * drift. */
  private def loop(r: Running, seconds: Double, alternate: Boolean = false): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      tracer.enabled = alternate && ops.size % 2 == 1
      traceScans = tracer.enabled
      val op =
        try runOp(r)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] batch failed: $e")
          Op(0, 0, 0, 0, 0, 0, 0, ok = false, Map.empty)
        }
      ops += op
    }
    ops.toSeq
  }

  /** Output content digest per template, for the cross-run check. */
  private def digests(r: Running): Map[String, String] =
    r.outDigest.map { case (t, d) => s"output.t$t" -> d.toHexString }.toMap

  private def stop(r: Running): Unit = { r.query.stop(); r.query.awaitTermination(10000) }

  /** The end-to-end metrics of a set of timed batches. */
  private def summary(ops: Seq[Op]): mutable.LinkedHashMap[String, Double] = {
    val walls = ops.filter(_.wallMs > 0).map(_.wallMs)
    val wallS = walls.sum / 1e3
    mutable.LinkedHashMap(
      "records_per_s" -> (if (wallS > 0) walls.size * mix.records / wallS else 0.0),
      "batch_p50_ms" -> (if (walls.isEmpty) 0.0 else Stats.percentile(walls, 50)))
  }

  def run(): Outcome = {
    // Set up three times (inputs, query start, first batch) and keep the
    // last; set-up time is the median of the three.
    val setups = (1 to 3).map { rep =>
      val t0 = System.nanoTime()
      val r = prepare(ctx.cores, rep)
      val s = (System.nanoTime() - t0) / 1e9
      if (rep < 3) stop(r)
      (s, r)
    }
    val r = setups.last._2
    val prepS = Stats.median(setups.map(_._1))
    // Host context, then untimed batches on the kept query until timing
    // starts: batch times keep falling over the first twenty or so batches
    // of a JVM, and the first batches of a new query are slow. The
    // settling batches also absorb the calibration probe's effect on GC.
    ctx.hostSnapshot("before")
    val w0 = System.nanoTime()
    (0 until Dlt.SettleBatches).foreach(_ => r.untimed += runOp(r))
    val settleS = (System.nanoTime() - w0) / 1e9
    val untimed = setups.flatMap(_._2.untimed)
    if (ctx.trace) return traced(r, untimed)
    val ops = loop(r, ctx.seconds)
    ctx.hostSnapshot("after")
    stop(r)
    Outcome(ops.size + untimed.size, (ops ++ untimed).count(!_.ok), summary(ops), prepS,
      Map("settle_s" -> settleS, "setup_reps_s" -> setups.map(_._1),
        "untimed_ms" -> setups.map(_._2.untimed.map(o => math.rint(o.wallMs))),
        "batch_ms" -> ops.map(o => math.rint(o.wallMs)),
        "batch_p90_ms" -> (if (ops.isEmpty) 0.0 else Stats.percentile(ops.map(_.wallMs), 90)),
        "batches" -> ops.size, "p90_samples_beyond" -> Stats.beyond(ops.size, 90),
        "digests" -> digests(r)))
  }

  // ------------------------------------------------------------------
  // Traced run: batches alternately untraced and traced, stage and codec
  // probes, and the same loop at local[1] with one input partition.
  // ------------------------------------------------------------------

  private def traced(r: Running, untimed: Seq[Op]): Outcome = {
    val (ops, plain) = loop(r, ctx.seconds, alternate = true).zipWithIndex
      .partition(_._2 % 2 == 1) match { case (a, b) => (a.map(_._1), b.map(_._1)) }
    tracer.enabled = false
    traceScans = false
    ctx.hostSnapshot("after")
    stop(r)
    tracer.drain()
    val m = mutable.LinkedHashMap[String, Double]()
    val good = ops.filter(_.wallMs > 0)
    def med(f: Op => Double) = if (good.isEmpty) 0.0 else Stats.median(good.map(f))
    m("shell.trigger_ms") = med(_.trigger)
    m("shell.add_batch_ms") = med(_.addBatch)
    m("shell.overhead_ms") = med(o => o.trigger - o.addBatch)
    m("shell.wait_ms") = med(o => o.wallMs - o.addMs - o.trigger)
    m("source.add_data_ms") = med(_.addMs)
    for (b <- 0 to 3) {
      val n = BranchNames(b)
      m(s"sink.$n.ms") = med(_.sinks.get(b).map(_.ms).getOrElse(0.0))
      m(s"sink.$n.rows") = Stats.mean(good.map(_.sinks.get(b).map(_.rows.toDouble).getOrElse(0.0)))
      m(s"sink.$n.bytes") = Stats.mean(good.map(_.sinks.get(b).map(_.bytes.toDouble).getOrElse(0.0)))
    }
    val spans = tracer.allSpans ++ tracer.jobSpans
    m ++= tracer.perOp(good.map(o => (o.start, o.end)))
    val sinkQueries = good.flatMap(_.sinks.values)
    m("fanout.jobs_per_batch") =
      Stats.mean(good.map(o => tracer.jobCount(o.sinks.values.map(_.id).toSet).toDouble))
    m("fanout.scan_passes") =
      Stats.mean(good.map(o => o.sinks.values.map(_.scanRows).sum.toDouble / mix.records))
    val self = tracer.selfTimes(spans)
    m("shell.process_batch_self_ms") = med(o => o.addBatch - o.sinks.values.map(_.ms).sum)
    m("sink.driver_self_ms") = med(o => o.sinks.values.map(s => self(s.id)).sum)
    // One sink query: its jobs, and its driver time outside those jobs and
    // outside Catalyst's analysis, optimization and planning phases.
    m("query.jobs") = Stats.mean(sinkQueries.map(s => tracer.jobCount(Set(s.id)).toDouble))
    m("query.driver_gap_ms") = if (sinkQueries.isEmpty) 0.0
      else Stats.median(sinkQueries.map(s => self(s.id) - tracer.planMs(s.start, s.end)))
    // Share of the batch wall time that the traced layers cover.
    m("trace.accounted_pct") = Stats.median(good.map(o => 100.0 * (1 - self(o.span) / o.wallMs)))
    val (stages, probeOps, probeFailed) = stageProbe(r.templates.take(mix.probeTemplates))
    m ++= stages
    m("codec.rand_lowercase_ns_per_byte") = Dlt.randLowercaseNsPerByte()
    val base = summary(plain)
    val tracedP50 = summary(ops)("batch_p50_ms")
    m("trace.overhead_pct") = 100.0 * (tracedP50 - base("batch_p50_ms")) / base("batch_p50_ms")
    // Single-core baseline: same loop, local[1], one input partition.
    val oneCore = ctx.restart(1)
    val d1 = new Dlt(oneCore)
    val r1 = d1.prepare(1, 0)
    val ops1 = d1.loop(r1, ctx.seconds / 3.0)
    d1.stop(r1)
    val rps1 = d1.summary(ops1)("records_per_s")
    m("spark.speedup_vs_1core") = base("records_per_s") / rps1
    tracer.writeSpans(ctx.work.resolve("spans.jsonl"), spans)
    val all = plain ++ ops ++ ops1 ++ untimed ++ r1.untimed
    Outcome(all.size + probeOps, all.count(!_.ok) + probeFailed, m, 0.0,
      Map("batches_untraced" -> plain.size, "batches_traced" -> ops.size,
        "batches_1core" -> ops1.size, "records_per_s_untraced" -> base("records_per_s"),
        "digests" -> digests(r),
        "records_per_s_1core" -> rps1))
  }

  /** A prefix of the stage functions, with the row count and the total
    * of `check` the generator predicts for it. */
  private final case class Prefix(name: String, df: DataFrame, check: Column, rows: Long,
      total: Long)

  /** Stage cost from growing prefixes of the public stage functions over
    * the templates `ts` in one persisted batch. Each materialization
    * builds a fresh Dataset: running one Dataset again reuses its shuffle
    * output and skips the stage work. After a warm-up round, rounds run
    * every prefix in turn, each round starting one prefix later, so no
    * prefix always runs first. A stage's cost is the difference between
    * the median executor run times of two consecutive prefixes. Every
    * materialization is checked against the generator. Returns the
    * metrics, the checks made and the checks failed. */
  private def stageProbe(ts: Seq[Template]): (Map[String, Double], Int, Int) = {
    val records = ts.flatMap(_.records)
    val b = spark.createDataset(records)(Encoders.product[KRec]).toDF()
      .repartition(ctx.cores).persist()
    b.count()
    val ints = records.collect { case x if x.value != null && x.value.length == 4 =>
      java.nio.ByteBuffer.wrap(x.value).getInt.toLong }
    val lens = ints.filter(_ >= 0).sum
    val tombstones = records.count(_.value == null)
    val out = ts.flatMap(_.preds).filter(_.branch == Output)
    val decoded = ErrorChannel.safeDecode(b)
    val mapped = ErrorChannel.wrapMap(ErrorChannel.decodeOk(decoded))
    val split = ErrorChannel.toOutput(ErrorChannel.okBranch(mapped))
    val guarded = ErrorChannel.sizeOk(split, MaxRequestSize)
    val prefixes = Seq(
      Prefix("scan", b, octet_length(col("value")), records.size,
        records.map(x => Option(x.value).fold(0L)(_.length)).sum),
      Prefix("decode", decoded, col("value_int"), records.size, ints.sum),
      Prefix("map", mapped, octet_length(col("wrapper.mappedValue")), ints.size + tombstones, lens),
      Prefix("split", split, octet_length(col("value")), ints.count(_ >= 0) + tombstones, lens),
      Prefix("guard", guarded, octet_length(col("value")), out.size, out.map(_.vlen.max(0).toLong).sum))
    var failed = 0
    def once(p: Prefix): Long = {
      val id = tracer.newId()
      val row = tracer.within(id)(Dlt.weigh(p.df, p.check).collect().head)
      val total = if (row.isNullAt(2)) 0L else row.getLong(2)
      if (row.getLong(0) != p.rows || total != p.total) {
        System.err.println(s"[perfbench] stage ${p.name}: ${row.getLong(0)} rows, total $total; " +
          s"expected ${p.rows}, ${p.total}")
        failed += 1
      }
      id
    }
    prefixes.foreach(once)
    val n = prefixes.size
    val rounds = (0 until Dlt.StageRounds).map { k =>
      val ids = new Array[Long](n)
      (0 until n).map(j => (j + k) % n).foreach(i => ids(i) = once(prefixes(i)))
      ids.toSeq
    }
    tracer.drain()
    b.unpersist(blocking = true)
    val ms = prefixes.indices.map(i => Stats.median(rounds.map(r => tracer.taskMs(r(i)))))
    val names = prefixes.map(_.name)
    val stages = (1 until n).map(i => s"stage.${names(i)}_ms" -> (ms(i) - ms(i - 1)))
    val totals = (0 until n).map(i => s"stage_prefix_task_ms.${names(i)}" -> ms(i))
    ((stages ++ totals).toMap, n * (Dlt.StageRounds + 1), failed)
  }
}

object Dlt {
  /** Untimed batches on the kept query before timing starts. */
  val SettleBatches = 12
  /** Timed rounds of the stage probe. */
  val StageRounds = 5

  /** Rows read from cached batches by a plan's in-memory scans. */
  def inMemoryScanRows(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case s: InMemoryTableScanExec =>
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  /** Materialize every column at O(1) cost per value: lengths for
    * strings and binaries, so a generated payload must be produced but
    * is not hashed. Also sums `check`. */
  def weigh(df: DataFrame, check: Column): DataFrame = {
    def sizes(c: Column, t: DataType): Seq[Column] = t match {
      case StringType | BinaryType => Seq(coalesce(octet_length(c), lit(0)).cast(LongType))
      case s: StructType => s.fields.toSeq.flatMap(f => sizes(c.getField(f.name), f.dataType))
      case _: ArrayType => Seq(coalesce(size(c), lit(0)).cast(LongType))
      case _: NumericType => Seq(coalesce(c.cast(LongType), lit(0L)))
      case _ => Seq(when(c.isNull, 0L).otherwise(1L))
    }
    val parts = df.schema.fields.toSeq.flatMap(f => sizes(col(f.name), f.dataType))
    df.agg(count(lit(1)), sum(parts.reduce(_ + _)), sum(check).cast(LongType))
  }

  /** `GraftExprs.randLowercase` throughput on the driver thread. */
  def randLowercaseNsPerByte(): Double = {
    val len = 1 << 20
    var sink = 0L
    (0 until 8).foreach(i => sink += GraftExprs.randLowercase(i, len).numBytes())
    val ns = (0 until 7).map { rep =>
      val t0 = System.nanoTime()
      (0 until 16).foreach(i => sink += GraftExprs.randLowercase(rep * 16L + i, len).numBytes())
      (System.nanoTime() - t0).toDouble / (16.0 * len)
    }
    if (sink < 0) System.err.println(sink)
    Stats.median(ns)
  }
}
