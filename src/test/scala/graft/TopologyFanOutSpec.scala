package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RandLowercase
import graft.operators.{ErrorChannel, ErrorHandlingTopology}
import graft.streaming.StreamingTopology

/** The route-once, generate-once, concurrent fan-out topology under
  * hostile input (poison-pill lengths, the exact size boundary) and
  * partial sink failure (at-least-once, SURVEY.md §2.3-10). */
class TopologyFanOutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Names = Seq("output", "processDlt", "deserDlt", "prodDlt")

  private def beInt(n: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(n).array()

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** RDD-backed input, as a streamed batch is: a local relation would
    * be evaluated by the optimizer on the driver instead. */
  private def records(rows: (Array[Byte], Array[Byte])*): DataFrame =
    spark.sparkContext.parallelize(rows, 2).toDF("key", "value")

  private def errorMessage(r: Row): String =
    r.getAs[Seq[Row]]("headers")
      .find(_.getAs[String]("key") == ErrorChannel.ErrorHeaderKey)
      .map(h => new String(h.getAs[Array[Byte]]("value"), "UTF-8")).get

  private def productionMessage(size: Long): String =
    s"The message is $size bytes when serialized which is larger than 1048576, " +
      "which is the value of the max.request.size configuration."

  private def cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  /** Thread-safe in-memory sinks: the four run concurrently. */
  private final class Collector {
    private val got = Names.map(_ -> new ConcurrentLinkedQueue[Row]()).toMap
    def apply(name: String): Seq[Row] = got(name).asScala.toSeq
    def sinks: StreamingTopology.Sinks = {
      def sink(name: String): DataFrame => Unit = df => got(name).addAll(df.collect().toSeq.asJava)
      StreamingTopology.Sinks(sink(Names(0)), sink(Names(1)), sink(Names(2)), sink(Names(3)))
    }
  }

  private def totalAllocatedBytes(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  test("poison pill: n = 0x7FFFFFFF reaches the production DLT, no payload is generated") {
    // 1.5e9 fits in an array, so generating it would show as allocation;
    // a warm-up batch first takes session start and code generation
    // out of the measured window
    val pills = records(utf8("key") -> beInt(0x7FFFFFFF), utf8("key") -> beInt(1500000000))
    StreamingTopology.processBatch(records(utf8("key") -> beInt(2)), new Collector().sinks)
    val c = new Collector
    val before = totalAllocatedBytes()
    StreamingTopology.processBatch(pills, c.sinks)
    val allocated = totalAllocatedBytes() - before
    info(s"${allocated >> 20} MiB allocated JVM-wide during the batch")
    assert(c("output").isEmpty && c("processDlt").isEmpty && c("deserDlt").isEmpty)
    val dlt = c("prodDlt")
    assert(dlt.length == 2)
    assert(dlt.forall(_.getAs[Array[Byte]]("value").isEmpty), "§2.3-6 truncation")
    assert(dlt.map(errorMessage).toSet ==
      Set(productionMessage(2147483738L), productionMessage(1500000091L)))
    assert(allocated < (512L << 20), s"$allocated bytes allocated by one tiny batch")
  }

  test("size guard boundary: n = 1048576 - 3 - 88 fits under key 'key', n + 1 does not") {
    val fit = 1048576 - 3 - 88
    val c = new Collector
    StreamingTopology.processBatch(records(
      utf8("key") -> beInt(fit), utf8("key") -> beInt(fit + 1)), c.sinks)
    val out = c("output")
    assert(out.length == 1)
    assert(out.head.getAs[Array[Byte]]("value").length == fit)
    val dlt = c("prodDlt")
    assert(dlt.length == 1)
    assert(errorMessage(dlt.head) == productionMessage(1048577L))
  }

  test("tombstones and negative n route as before") {
    val bigKey = Array.fill[Byte](1048576)(107)
    val c = new Collector
    StreamingTopology.processBatch(records(
      utf8("t") -> null,
      bigKey -> null, // a tombstone whose key alone exceeds the limit
      utf8("key") -> beInt(-1),
      utf8("min") -> beInt(Int.MinValue)), c.sinks)
    val out = c("output")
    assert(out.length == 1)
    assert(new String(out.head.getAs[Array[Byte]]("key"), "UTF-8") == "t")
    assert(out.head.isNullAt(out.head.fieldIndex("value")), "a tombstone stays a tombstone")
    val process = c("processDlt").map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8") -> r)
      .toMap
    assert(process.keySet == Set("key", "min"))
    assert(process("key").getAs[Array[Byte]]("value").toSeq == beInt(-1).toSeq)
    assert(errorMessage(process("key")) == "java.lang.IllegalArgumentException: -1")
    assert(errorMessage(process("min")) == "java.lang.IllegalArgumentException: -2147483648")
    val dlt = c("prodDlt")
    assert(dlt.length == 1 && dlt.head.getAs[Array[Byte]]("key").length == bigKey.length)
    assert(errorMessage(dlt.head) == productionMessage(1048576L + 88))
    assert(c("deserDlt").isEmpty)
  }

  test("generate once: rand_lowercase appears once, in the output branch's optimized plan only") {
    def randCalls(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.flatMap(_.expressions)
        .map(_.collect { case r: RandLowercase => r }.size).sum
    val df = records(utf8("a") -> beInt(3), utf8("b") -> beInt(-2), utf8("c") -> utf8("zz"),
      utf8("d") -> beInt(2000000))
    val b = ErrorHandlingTopology(df)
    assert(randCalls(b.output) == 1, b.output.queryExecution.optimizedPlan.toString)
    for ((name, branch) <- Seq("process" -> b.processDlt, "deserialization" -> b.deserializationDlt,
        "production" -> b.productionDlt, "branchTag" -> ErrorHandlingTopology.branchTag(df)))
      assert(randCalls(branch) == 0, s"$name:\n${branch.queryExecution.optimizedPlan}")
  }

  test("processBatch rethrows the first failing sink with the others suppressed, " +
    "after every sink returned, and releases the tagged cache") {
    spark.catalog.clearCache()
    val first = new IllegalStateException("process DLT down")
    val second = new IllegalStateException("production DLT down")
    val outputDone = new AtomicBoolean(false)
    val sinks = StreamingTopology.Sinks(
      output = { df => Thread.sleep(300); df.collect(); outputDone.set(true) },
      processDlt = _ => throw first,
      deserializationDlt = _.collect(),
      productionDlt = _ => throw second)
    val thrown = intercept[IllegalStateException] {
      StreamingTopology.processBatch(records(utf8("k") -> beInt(4)), sinks)
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(second))
    assert(outputDone.get, "the slow sink finished before the batch failed")
    assert(cacheManager.isEmpty, "the tagged batch is unpersisted on failure")
  }

  test("sink k of 4 fails its first attempt: the query fails with it after the other three " +
    "finish, the cache is released, and a restart delivers every input at least once") {
    implicit val sqlCtx = spark.sqlContext
    val inputs = Seq(
      utf8("o1") -> beInt(3), utf8("o2") -> beInt(5),
      utf8("p1") -> beInt(-1), utf8("p2") -> beInt(-7),
      utf8("d1") -> utf8("xx"), utf8("d2") -> Array[Byte](1, 2, 3, 4, 5),
      utf8("b1") -> beInt(2000000), utf8("b2") -> beInt(Int.MaxValue))
    // expected branch of each key, by its first letter
    val branchOf = Map('o' -> "output", 'p' -> "processDlt", 'd' -> "deserDlt", 'b' -> "prodDlt")
    val SinkProperty = "graft.test.sink"
    for (k <- Names.indices) {
      spark.catalog.clearCache()
      val input = MemoryStream[(Array[Byte], Array[Byte])]
      input.addData(inputs: _*)
      val cp = java.nio.file.Files.createTempDirectory("graft-fanout-cp").toString
      val boom = new RuntimeException(s"sink ${Names(k)} down")
      val failedOnce = new AtomicBoolean(false)
      // (attempt, sink, key, value) of every delivered row
      val delivered = new ConcurrentLinkedQueue[(Int, String, String, Seq[Byte])]()
      // (sink property, job group) of every job a sink submitted
      val jobs = new ConcurrentLinkedQueue[(String, String)]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty(SinkProperty))).foreach { s =>
            jobs.add(s -> e.properties.getProperty("spark.jobGroup.id"))
          }
      }
      spark.sparkContext.addSparkListener(listener)
      def run(attempt: Int) = {
        def sink(i: Int): DataFrame => Unit = { df =>
          spark.sparkContext.setLocalProperty(SinkProperty, s"$attempt:${Names(i)}")
          if (i == k && failedOnce.compareAndSet(false, true)) throw boom
          // the healthy sinks are slower than the failing one
          if (attempt == 1) Thread.sleep(300)
          df.collect().foreach { r =>
            delivered.add((attempt, Names(i),
              new String(r.getAs[Array[Byte]]("key"), "UTF-8"),
              Option(r.getAs[Array[Byte]]("value")).map(_.toSeq).orNull))
          }
        }
        StreamingTopology.start(input.toDF().toDF("key", "value"),
          StreamingTopology.Sinks(sink(0), sink(1), sink(2), sink(3)), checkpointDir = cp)
      }
      try {
        val q1 = run(1)
        val e = intercept[StreamingQueryException](q1.awaitTermination())
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        // foreachBatch wraps it once (FOREACH_BATCH_USER_FUNCTION_ERROR)
        assert(causes.last eq boom, s"k=$k: the failing sink's exception is the cause: $e")
        val firstAttempt = delivered.asScala.filter(_._1 == 1).map(_._2).toSet
        assert(firstAttempt == Names.toSet - Names(k),
          s"k=$k: the three healthy sinks finished before the batch failed: $firstAttempt")
        assert(cacheManager.isEmpty, s"k=$k: tagged cache released")

        val q2 = run(2)
        try q2.processAllAvailable() finally q2.stop()
        val all = delivered.asScala.toSeq
        val keys = inputs.map(r => new String(r._1, "UTF-8"))
        keys.foreach { key =>
          val to = all.filter(_._3 == key).map(_._2).toSet
          assert(to == Set(branchOf(key.head)), s"k=$k: $key delivered to $to")
        }
        // at-least-once: the healthy sinks' first-attempt rows come again
        val duplicates = all.size - keys.size
        val expectedDuplicates = keys.count(key => branchOf(key.head) != Names(k))
        assert(duplicates == expectedDuplicates, s"k=$k: $duplicates duplicates")
        // a replayed batch is byte-identical, generated payloads included
        val byAttempt = all.groupBy(_._1).map { case (a, rs) => a -> rs.map(r => (r._3, r._4)).toSet }
        assert(byAttempt(1).subsetOf(byAttempt(2)), s"k=$k: the replay differs")

        val deadline = System.currentTimeMillis() + 10000
        def sinkJobs = jobs.asScala.toSeq
        while (sinkJobs.map(_._1.head).distinct.size < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(sinkJobs.nonEmpty)
        sinkJobs.foreach { case (s, group) =>
          val runId = if (s.startsWith("1:")) q1.runId else q2.runId
          assert(group == runId.toString, s"k=$k: job of sink $s ran in group $group")
        }
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
