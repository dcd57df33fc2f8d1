package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.codecs
import graft.operators.ErrorHandlingTopology
import graft.relational.{ExtQueries, Queries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full dead-letter topology (SURVEY.md §2.1 dataflow)
    * over `events` at sf0.001, Kafka-shaped. Events are encoded onto the
    * binary wire (key = event_id UTF-8, value = 4-byte big-endian int;
    * 'error'-typed events get undecodable bytes to exercise the
    * deserialization DLT; negative lengths exercise the process DLT),
    * then routed by the topology's `branchTag` (decode → split → size
    * guard on the decoded length).
    * Returns per-branch record counts (rows > 0 always). */
  def entry(spark: SparkSession): DataFrame = {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val records = events.select(
      col("event_id").cast("string").cast("binary").as("key"),
      when(col("event_type") === "error", col("props").cast("binary"))
        .when(col("event_type") === "signup",
          codecs.be_int4_encode(lit(-1)))
        .otherwise(codecs.be_int4_encode(
          floor(least(col("value"), lit(64.0))).cast("int"))).as("value"))
    // One pass: branchTag is the topology's routing, so the flagship
    // reads its input once and generates no payload (the round-1
    // union-of-branches shape scanned the source 4x).
    ErrorHandlingTopology.branchTag(records)
      .groupBy("branch").agg(count(lit(1)).as("n"))
  }

  /** One entry per implemented operator: the reference's dead-letter
    * surface (SURVEY.md §2.4) plus the training-data pipeline
    * extensions (§2.5 — dedup, similarity search, text analysis,
    * multimodal, relational scale demos). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all ++ ExtQueries.all

  /** For each key in queries, equivalent SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.oracles ++ ExtQueries.oracles

  /** Queries that MEASURE the engine rather than produce pipeline
    * data — recall/calibration/yield/waste harnesses that by design
    * cost the sum of the rungs they evaluate (a recall ladder re-runs
    * every ANN arm; a blocker report re-runs every blocker). The
    * bench reports this tier's wall separately so a driver-window
    * reader sees production cost without opening the committed
    * full record (VERDICT r10 #8). Queries not listed are the
    * production tier. */
  val evalQueries: Set[String] = Set(
    "dd_lsh_recall", "dd_lsh_recall_sampled", "dd_blocker_recall",
    "dd_embed_blocker_recall", "dd_threshold_curve",
    "dd_minhash_calibration", "dd_yield_report",
    "sim_recall_ladder", "sim_recall_postdedup", "sim_ivf_balance",
    "tx_pack_bestfit", "dd_minhash_bands_sweep")
}
