package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.codecs

/** Columnar building blocks of the dead-letter topology. Every stage is
  * a pure `DataFrame => DataFrame` so identical code runs in batch (for
  * tests + oracle) and inside `foreachBatch` under Structured Streaming
  * — the same testability trick the reference gets from building its
  * topology through an injectable `StreamsBuilder`
  * (reference: .../topology/ErrorHandlingTopology.java:27-44).
  *
  * Routing is decided once, in `ErrorHandlingTopology.branchTag`, from
  * the decoded length `n` and the key alone ([[outputRecordSize]]); the
  * per-branch projections here then run on the records of one branch,
  * so `rand_lowercase` only ever runs for records that reach the output
  * topic.
  *
  * All stages are narrow (no shuffle): at 100 TB the whole error-channel
  * pipeline is a single map stage over the source partitions — the scan
  * partitioning is carried through untouched, and whole-stage codegen
  * fuses decode→route→project into one loop per partition.
  */
object ErrorChannel {

  /** Kafka wire shape for record headers: the exact column type the
    * Spark Kafka sink accepts (`headers array<struct<key,value>>`). */
  val HeaderType: DataType =
    ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType))))

  val ErrorHeaderKey = "error.message" // reference: ErrorMessageMapper.java:12

  /** Kafka's IntegerDeserializer failure text — the deserialization-DLT
    * header asserted by the reference integration test
    * (reference: .../ErrorHandlingTopologyIntegrationTest.java:103). */
  val IntegerDeserError = "Size of data received by IntegerDeserializer is not 4"

  /** `(key, byte[])` framing overhead observed by the reference: input
    * length 2,000,000 + key "key" (3 bytes) serialized to 2,000,091
    * bytes (reference: ErrorHandlingTopologyIntegrationTest.java:111,119). */
  val RecordOverheadBytes = 88

  /** Kafka producer default `max.request.size`
    * (reference: README.md:366-367). */
  val DefaultMaxRequestSize = 1048576

  private def emptyHeaders: Column = array().cast(HeaderType)

  /** `error.message` header struct carrying `msg` as UTF-8 bytes
    * (reference: ErrorMessageMapper.java:32-36). */
  def errorHeader(msg: Column): Column =
    struct(lit(ErrorHeaderKey).as("key"), encode(msg, "UTF-8").as("value"))

  /** Append an `error.message` header, preserving any existing headers
    * (the reference appends to the record's mutable header list). */
  def withErrorHeader(df: DataFrame, msg: Column): DataFrame = {
    val existing =
      if (df.columns.contains("headers")) coalesce(col("headers"), emptyHeaders)
      else emptyHeaders
    df.withColumn("headers", concat(existing, array(errorHeader(msg))))
  }

  // ---------------------------------------------------------------------
  // Stage #10 — safe decode (deserialization-DLT routing)
  // ---------------------------------------------------------------------

  /** Decode the Kafka-shaped `(key: binary, value: binary)` edge with
    * Option semantics: `key_str` (UTF-8) and `value_int` (4-byte
    * big-endian), NULL `value_int` on undecodable non-null input.
    * Spark's Kafka source never deserializes, so the reference's
    * consumer-side hook (DeadLetterDeserializationExceptionHandler.java:29-49)
    * becomes this explicit, codegen'd plan operator. */
  def safeDecode(records: DataFrame): DataFrame =
    records
      .withColumn("key_str", col("key").cast("string"))
      .withColumn("value_int", codecs.be_int4_decode(col("value")))

  /** Records whose value failed to decode → deserialization DLT: raw
    * bytes pass through untouched + diagnostic header
    * (reference contract SURVEY.md §2.3-5). */
  def deserFailures(decoded: DataFrame): DataFrame =
    toDeserDlt(decoded.filter(col("value").isNotNull && col("value_int").isNull))

  /** Deserialization-DLT projection of records already known to be
    * undecodable. */
  def toDeserDlt(failures: DataFrame): DataFrame =
    withErrorHeader(failures, lit(IntegerDeserError))
      .select(col("key"), col("value"), col("headers"))

  /** Records that decoded (or were null tombstones, which Kafka's
    * IntegerDeserializer passes through as null without error). */
  def decodeOk(decoded: DataFrame): DataFrame =
    decoded.filter(col("value").isNull || col("value_int").isNotNull)

  // ---------------------------------------------------------------------
  // Stage #2/#3 — wrapping mapper (Integer n -> random [a-z] string of
  // length n, failure captured as a sum-type struct, never thrown)
  // ---------------------------------------------------------------------

  /** Columnar wrap-map (reference: ErrorHandlingMapper.java:12-27).
    * Adds `wrapper: struct(originalValue int, mappedValue string,
    * error string)`. Negative length reproduces the reference's
    * `java.lang.IllegalArgumentException: <n>` error rendering
    * (asserted at ErrorHandlingTopologyTest.java:58). The generator is
    * seeded per row (key ⊕ value) so task retries are deterministic —
    * mandatory at cluster scale, where speculative/retried tasks must
    * not fork the data. */
  def wrapMap(decoded: DataFrame): DataFrame = {
    val n = col("value_int")
    val seed = xxhash64(col("key"), n)
    // One `when` per field rather than one per struct: a consumer that
    // reads only `error` / `originalValue` (the process DLT, the split
    // predicate) then optimizes to a plan without `rand_lowercase`.
    decoded.withColumn("wrapper", struct(
      n.as("originalValue"),
      when(n >= 0, codecs.rand_lowercase(seed, n)).as("mappedValue"),
      when(n < 0, concat(lit("java.lang.IllegalArgumentException: "),
                         n.cast(StringType))).as("error")))
  }

  // ---------------------------------------------------------------------
  // Stage #4/#5 — split (branch + complement under hasError)
  // ---------------------------------------------------------------------

  /** `hasError` predicate (reference: MessageWrapper.java:5-7). */
  def hasError: Column = col("wrapper.error").isNotNull

  /** Default branch (reference: ErrorHandlingTopology.java:42-44). */
  def okBranch(mapped: DataFrame): DataFrame = mapped.filter(!hasError)

  // ---------------------------------------------------------------------
  // Stage #6 — header-enriching unwrap on the error branch
  // ---------------------------------------------------------------------

  /** Render the error into an `error.message` header, swap the value
    * back to the ORIGINAL input (re-encoded as 4-byte big-endian int,
    * matching `Produced.with(String(), Integer())`), key untouched
    * (reference: ErrorMessageMapper.java:21-38 + ErrorHandlingTopology.java:38). */
  def toProcessDlt(errors: DataFrame): DataFrame =
    withErrorHeader(errors, col("wrapper.error"))
      .select(
        col("key"),
        codecs.be_int4_encode(col("wrapper.originalValue")).as("value"),
        col("headers"))

  // ---------------------------------------------------------------------
  // Stage #7/#8 — unwrap mapped value, encode for the output topic
  // ---------------------------------------------------------------------

  /** Success path: value := mappedValue as UTF-8 bytes
    * (reference: ErrorHandlingTopology.java:43-44). Headers pass
    * through if present. */
  def toOutput(ok: DataFrame): DataFrame = {
    val base = Seq(col("key"), col("wrapper.mappedValue").cast(BinaryType).as("value"))
    val cols =
      if (ok.columns.contains("headers")) base :+ col("headers") else base
    ok.select(cols: _*)
  }

  // ---------------------------------------------------------------------
  // Stage #11 — pre-sink size guard (production-DLT routing)
  // ---------------------------------------------------------------------

  /** Estimated serialized record size (key + value + framing), matching
    * the reference's measured 2,000,091 bytes for a 2,000,000-char value
    * under key "key". */
  def recordSize(df: DataFrame): Column =
    coalesce(octet_length(col("value")), lit(0)) +
      coalesce(octet_length(col("key")), lit(0)) + lit(RecordOverheadBytes)

  /** [[recordSize]] of the output record a decoded row WOULD become,
    * computed before its value is generated: the mapped value is `n`
    * characters of [a-z], so its UTF-8 length is `n` (a tombstone's null
    * value counts 0). A Long, so `n` near `Int.MaxValue` cannot wrap
    * below the limit. */
  def outputRecordSize: Column =
    coalesce(col("value_int"), lit(0)).cast(LongType) +
      coalesce(octet_length(col("key")), lit(0)) + lit(RecordOverheadBytes.toLong)

  /** Records that fit under `maxRequestSize`. */
  def sizeOk(outRecords: DataFrame, maxRequestSize: Int = DefaultMaxRequestSize): DataFrame =
    outRecords.filter(recordSize(outRecords) <= maxRequestSize)

  /** Oversized records → production DLT with the value EMPTIED so the
    * DLT record itself fits, plus the producer's size message
    * (reference: DeadLetterProductionExceptionHandler.java:26-45,59-67;
    * Spark's Kafka sink has no per-record failure callback, so the
    * reference's producer hook becomes this pre-emptive guard —
    * SURVEY.md §2.1 #11). */
  def toProductionDlt(outRecords: DataFrame,
                      maxRequestSize: Int = DefaultMaxRequestSize): DataFrame = {
    val oversized = outRecords.filter(recordSize(outRecords) > maxRequestSize)
    oversizedToDlt(oversized, recordSize(oversized), maxRequestSize)
  }

  /** Production-DLT projection of records already known to exceed
    * `maxRequestSize`; `size` is the record size the message reports. */
  def oversizedToDlt(oversized: DataFrame, size: Column,
                     maxRequestSize: Int = DefaultMaxRequestSize): DataFrame = {
    val msg = concat(
      lit("The message is "), size.cast(StringType),
      lit(" bytes when serialized which is larger than "),
      lit(maxRequestSize.toString),
      lit(", which is the value of the max.request.size configuration."))
    withErrorHeader(oversized, msg)
      .select(col("key"), lit(Array.empty[Byte]).as("value"), col("headers"))
  }
}
