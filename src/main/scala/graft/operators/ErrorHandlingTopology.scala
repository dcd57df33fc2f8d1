package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-topology assembly: Kafka-shaped records in, four sink-ready
  * DataFrames out (reference dataflow, SURVEY.md §2.1), in two steps:
  *
  * {{{
  *            branchTag (one projection)           route (one filter + projection per branch)
  * input ── safeDecode + size guard on n ── branch ─┬─ deserialization ─→ deserializationDlt
  *                                                  ├─ process (n < 0) ─→ processDlt
  *                                                  ├─ production ──────→ productionDlt
  *                                                  └─ output ── wrapMap → output
  * }}}
  *
  * Every routing decision is made once, in [[branchTag]], before any
  * payload exists: the output record's size is known from `n` and the
  * key (`ErrorChannel.outputRecordSize`), so an oversized record goes to
  * the production DLT without its string ever being generated, and
  * `rand_lowercase` runs only in the output projection. Callers that
  * materialize more than one branch should persist the tagged frame and
  * [[route]] it (see `graft.streaming.StreamingTopology`) so the scan
  * and the routing run once.
  */
object ErrorHandlingTopology {

  /** The four sink-ready record sets of one pass over the input. */
  final case class Branches(
      output: DataFrame,
      processDlt: DataFrame,
      deserializationDlt: DataFrame,
      productionDlt: DataFrame)

  /** `branch` labels written by [[branchTag]] (the reference topic names). */
  private val OutputBranch = "output"
  private val ProcessDltBranch = "process-exception.DLT"
  private val DeserializationDltBranch = "deserialization-exception.DLT"
  private val ProductionDltBranch = "production-exception.DLT"

  /** Full pipeline over a batch (or foreachBatch micro-batch) of
    * Kafka-shaped records `(key binary, value binary[, headers])`. */
  def apply(records: DataFrame,
            maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): Branches =
    route(branchTag(records, maxRequestSize), maxRequestSize)

  /** The routing of the topology: decode each record and label it with
    * the one branch it belongs to, as a single narrow projection. The
    * label depends on `value`, `value_int` and the key length only, so
    * no payload is generated here. Branch statistics over any input are
    * one scan plus a |branches|-row aggregate (the flagship entry), and
    * a persisted tagged batch feeds all four sinks (processBatch). */
  def branchTag(records: DataFrame,
                maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): DataFrame = {
    val n = col("value_int")
    ErrorChannel.safeDecode(records).withColumn("branch",
      when(col("value").isNotNull && n.isNull, DeserializationDltBranch)
        .when(n < 0, ProcessDltBranch)
        .when(ErrorChannel.outputRecordSize > maxRequestSize, ProductionDltBranch)
        .otherwise(OutputBranch))
  }

  /** Split a [[branchTag]]ged frame into the four sink-ready branches:
    * each is a filter on its label followed by that branch's projection. */
  def route(tagged: DataFrame,
            maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): Branches = {
    def on(label: String): DataFrame = tagged.filter(col("branch") === label)
    Branches(
      output = ErrorChannel.toOutput(ErrorChannel.wrapMap(on(OutputBranch))),
      processDlt = ErrorChannel.toProcessDlt(ErrorChannel.wrapMap(on(ProcessDltBranch))),
      deserializationDlt = ErrorChannel.toDeserDlt(on(DeserializationDltBranch)),
      productionDlt = ErrorChannel.oversizedToDlt(on(ProductionDltBranch),
        ErrorChannel.outputRecordSize, maxRequestSize))
  }
}
