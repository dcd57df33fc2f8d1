package graft.streaming

import java.util.concurrent.{ExecutionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{ErrorChannel, ErrorHandlingTopology}

/** Structured-Streaming shell around the batch topology.
  *
  * Kafka Streams' `split()` fans one consumed stream into several sinks
  * inside one task (reference: .../topology/ErrorHandlingTopology.java:32-44).
  * Structured Streaming allows one sink per query, so the faithful
  * single-read fan-out is `foreachBatch` + `persist()` + one write per
  * branch (SURVEY.md §2.1 #4): each micro-batch is decoded and routed
  * once (`ErrorHandlingTopology.branchTag`), the tagged batch is cached,
  * and the four sink callbacks run CONCURRENTLY, each on the filter of
  * its branch over that cache. A micro-batch is a deterministic batch
  * job (D-Streams), so its four outputs are independent and need no
  * ordering among themselves.
  *
  * All four writes share one epoch: the batch completes only when every
  * sink has returned, and a failure of any sink fails the batch, which
  * the restarted query replays from its checkpoint. Sinks that had
  * already written then write that batch again, so delivery is
  * at-least-once per branch (reference: README.md:31; SURVEY.md
  * §2.3-10), and an idempotent sink must key its writes on the batch.
  */
object StreamingTopology {

  /** Sink callbacks, one per topic analog; injectable so tests collect
    * in memory while production writes Kafka/parquet. The four are
    * called at the same time from different threads, so each must be
    * thread-safe with respect to the others (a shared collector must
    * synchronize). Spark jobs they submit belong to the streaming
    * query's job group, so stopping the query cancels them. */
  final case class Sinks(
      output: DataFrame => Unit,
      processDlt: DataFrame => Unit,
      deserializationDlt: DataFrame => Unit,
      productionDlt: DataFrame => Unit)

  /** Threads that run sink callbacks, shared by every query of the JVM. */
  private lazy val fanOutPool: ExecutorService = {
    val ids = new AtomicInteger()
    Executors.newCachedThreadPool { r =>
      val t = new Thread(r, s"dlt-fan-out-${ids.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Run one micro-batch (also directly usable in batch tests): tag and
    * cache the batch, then run the four sinks at once and wait for all
    * of them. The first failure (in `Sinks` field order) is rethrown
    * with the others attached as suppressed. */
  def processBatch(batch: DataFrame, sinks: Sinks,
                   maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): Unit = {
    val tagged = ErrorHandlingTopology.branchTag(batch, maxRequestSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val session = batch.sparkSession.asInstanceOf[classic.SparkSession]
      materialize(session, tagged)
      val b = ErrorHandlingTopology.route(tagged, maxRequestSize)
      val calls = Seq(
        sinks.output -> b.output,
        sinks.processDlt -> b.processDlt,
        sinks.deserializationDlt -> b.deserializationDlt,
        sinks.productionDlt -> b.productionDlt).map { case (sink, df) =>
        // Carries the active session and the local properties (the
        // query's job group among them) into the sink's thread.
        SQLExecution.withThreadLocalCaptured(session, fanOutPool)(sink(df))
      }
      val failures = calls.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally tagged.unpersist()
  }

  /** Build the cache of `df` with one job over its cached RDD before the
    * sinks plan. Left to the sinks, each concurrent sink query would find
    * the cache unbuilt and submit its own job to build it. */
  private def materialize(session: classic.SparkSession, df: DataFrame): Unit =
    session.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .foreach { cached =>
        val rdd = cached.cachedRepresentation.cacheBuilder.cachedColumnBuffers
        session.sparkContext.runJob(rdd, (_: Iterator[_]) => ())
      }

  /** Start the streaming query over a streaming Kafka-shaped DataFrame. */
  def start(records: DataFrame, sinks: Sinks, checkpointDir: String,
            maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    records.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, sinks, maxRequestSize)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
