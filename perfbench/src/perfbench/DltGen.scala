package perfbench

import java.util.SplittableRandom

/** Kafka record header as the Kafka source delivers it. */
final case class Hdr(key: String, value: Array[Byte])

/** One record in the shape of Spark's Kafka source schema
  * (`graft.sources.KafkaEdge.recordSchema`). */
final case class KRec(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: java.sql.Timestamp,
    timestampType: Int, headers: Seq[Hdr])

/** What the generator predicts one record turns into: its branch and
  * the sink record the reference contract requires. `vlen` is the
  * output value's length (-1 for a tombstone). */
final case class Pred(template: Int, branch: Int, topic: String, key: Array[Byte],
    value: Array[Byte], vlen: Int, headers: Seq[Hdr])

/** Seeded record generator for the dead-letter workloads.
  *
  * Each micro-batch is one of `templates` fixed batches, so the program
  * sees the same record mix every batch and per-batch outputs can be
  * checked exactly. Branch counts per batch are exact; only positions,
  * keys, lengths and payload bytes are drawn from the seed. */
object DltGen {
  val Output = 0
  val ProcessDlt = 1
  val DeserDlt = 2
  val ProductionDlt = 3
  val BranchNames = Seq("output", "process_dlt", "deser_dlt", "production_dlt")

  // Reference contract constants (graft.operators.ErrorChannel).
  val MaxRequestSize = 1048576
  val RecordOverhead = 88
  val DeserError = "Size of data received by IntegerDeserializer is not 4"
  def processError(n: Int) = s"java.lang.IllegalArgumentException: $n"
  def productionError(size: Long) =
    s"The message is $size bytes when serialized which is larger than " +
      s"$MaxRequestSize, which is the value of the max.request.size configuration."

  /** Record mix of one workload. `validLen(rng, j, valid)` draws the
    * length of the j-th of `valid` valid records. The stage probe runs
    * over the first `probeTemplates` templates. */
  final case class Mix(name: String, records: Int, valid: Int, negative: Int,
      deser: Int, tombstones: Int, headerShare: Double,
      validLen: (SplittableRandom, Int, Int) => Int, templates: Int, probeTemplates: Int) {
    require(valid + negative + deser + tombstones == records)
  }

  private val Lo = math.log(64 * 1024.0)
  private val Hi = math.log(4 * 1024 * 1024.0)

  val small = Mix("dlt_small", 20000, 16000, 2000, 1800, 200, 0.10,
    (r, _, _) => r.nextInt(256), templates = 8, probeTemplates = 8)

  /** Log-uniform lengths in [64 KiB, 4 MiB), stratified so every batch
    * spans the whole range: about a third exceed the 1 MiB limit. Each
    * batch is a fresh template, so a run sees many draws. */
  val large = Mix("dlt_large", 32, 28, 2, 2, 0, 0.10,
    (r, j, v) => math.exp(Lo + (j + r.nextDouble()) / v * (Hi - Lo)).toLong
      .min(4L * 1024 * 1024 - 1).toInt,
    templates = 24, probeTemplates = 2)

  def mix(workload: String): Mix = workload match {
    case "dlt_small" => small
    case "dlt_large" => large
    case w => throw new IllegalArgumentException(s"not a dead-letter workload: $w")
  }

  private def beInt(n: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(n).array()

  final case class Template(records: Array[KRec], preds: Array[Pred])

  /** Template `t` of workload `m` for `seed`, spread over `partitions`. */
  def template(m: Mix, seed: Long, t: Int, partitions: Int): Template = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + t * 0x632BE59BD9B4E019L + m.records)
    // Items: valid records by ascending length stratum, then negative,
    // undecodable and tombstone records. MemoryStream deals rows to
    // partitions round-robin, so items are dealt to positions in rows of
    // `partitions` that alternate direction, giving every partition an
    // even share of each length range; then each partition is shuffled.
    val p = partitions
    val at = Array.tabulate(m.records) { k =>
      val row = k / p
      val c = k % p
      val reversed = row % 2 == 1 && (row + 1) * p <= m.records
      row * p + (if (reversed) p - 1 - c else c)
    }.zipWithIndex.sortBy(_._1).map(_._2)
    for (part <- 0 until p) {
      val slots = (part until m.records by p).toArray
      for (i <- slots.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val x = at(slots(i)); at(slots(i)) = at(slots(j)); at(slots(j)) = x
      }
    }
    def kind(item: Int): Int =
      if (item < m.valid) 0
      else if (item < m.valid + m.negative) 1
      else if (item < m.valid + m.negative + m.deser) 2
      else 3
    val ts = new java.sql.Timestamp(1704067200000L + t * 1000L)
    val records = new Array[KRec](m.records)
    val preds = new Array[Pred](m.records)
    val topics = graft.config.TopicConfig()
    for (i <- 0 until m.records) {
      val key = s"k$seed-$t-$i".getBytes("UTF-8")
      val headers: Seq[Hdr] =
        if (rng.nextDouble() < m.headerShare) {
          val b = new Array[Byte](8); rng.nextBytes(b); Seq(Hdr("trace-id", b))
        } else null
      def withErr(msg: String): Seq[Hdr] =
        Option(headers).getOrElse(Nil) :+ Hdr("error.message", msg.getBytes("UTF-8"))
      val (value, pred) = kind(at(i)) match {
        case 0 =>
          val n = m.validLen(rng, at(i), m.valid)
          val size = n.toLong + key.length + RecordOverhead
          val p =
            if (size <= MaxRequestSize) Pred(t, Output, topics.output, key, null, n, headers)
            else Pred(t, ProductionDlt, topics.productionDlt, key, Array.emptyByteArray, 0,
              withErr(productionError(size)))
          (beInt(n), p)
        case 1 =>
          val n = -1 - rng.nextInt(1000000)
          (beInt(n), Pred(t, ProcessDlt, topics.processDlt, key, beInt(n), 4,
            withErr(processError(n))))
        case 2 =>
          val lens = Array(0, 1, 2, 3, 5, 6, 7, 8)
          val b = new Array[Byte](lens(rng.nextInt(lens.length)))
          rng.nextBytes(b)
          (b, Pred(t, DeserDlt, topics.deserializationDlt, key, b, b.length,
            withErr(DeserError)))
        case _ =>
          (null, Pred(t, Output, topics.output, key, null, -1, headers))
      }
      records(i) = KRec(key, value, topics.input, i % partitions,
        t.toLong * m.records + i, ts, 0, headers)
      preds(i) = pred
    }
    Template(records, preds)
  }
}
