package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Assertions.assert

/** One shared local session for the whole (forked) test JVM, built by the
  * engine's own [[Sessions]] factory on 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Smallest testdata scale factor — used by data-driven specs. */
  val sf0001 = "/root/testdata/sf0.001"
}

trait SparkSpec {
  lazy val spark: SparkSession = TestSpark.spark

  /** A fresh directory under the JVM's one scratch root, which is deleted
    * when the test JVM exits ([[Scratch]]).
    */
  def tmpDir(prefix: String): String = Scratch.dir(prefix)

  /** Wrap a JSON article payload in a one-shard envelope the way the
    * producer does (`populate_stream.py:96-101`), with sequence number
    * `seq` and the partition key derived from it.
    */
  def envelopeOf(json: String, seq: Long,
      arrival: java.sql.Timestamp): graft.streaming.KinesisEnvelope =
    graft.streaming.KinesisEnvelope(
      data = json.getBytes("UTF-8"),
      approximateArrivalTimestamp = arrival,
      partitionKey = s"pk-$seq",
      sequenceNumber = seq.toString,
      kinesisShardId = "shardId-000000000000")

  /** Runs `body` with `listener` registered, then runs a marker job and
    * waits until the bus has delivered it: the bus delivers events in
    * order, so `listener` has then seen every event posted during `body`.
    */
  def withListener[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val marker = s"listener-marker-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val markerListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(markerListener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the marker job")
      out
    } finally {
      sc.removeSparkListener(markerListener)
      sc.removeSparkListener(listener)
    }
  }

  /** Publish `df` as a [[graft.ops.SnapTables]] table partitioned by
    * `partCol` (the layout the catalog's stored-index serves read) and
    * resolve its current generation.
    */
  def publishAndResolve(path: String, partCol: String, df: DataFrame): DataFrame = {
    graft.ops.SnapTables.publishInitial(spark, path, partCol, df)
    graft.ops.SnapTables.resolve(spark, path, partCol)
  }

  /** The right-to-be-forgotten check on a snapshot table after a delete:
    * the superseded generation's files still hold removed keys (so the
    * check is not vacuous), and after `SnapTables.expire(keepGens = 1)` no
    * parquet file under `path` holds one — a raw directory read, not a
    * manifest resolve, so it sees exactly the bytes storage keeps.
    */
  def assertForgottenAfterExpire(path: String, partCol: String,
      removed: DataFrame, keyCol: String = "doc_id"): Unit = {
    def held = spark.read.parquet(path)
      .join(removed.select(keyCol), Seq(keyCol), "left_semi").count()
    assert(held > 0, s"the superseded generation at $path must still hold removed rows")
    graft.ops.SnapTables.expire(spark, path, partCol, keepGens = 1)
    assert(held == 0, s"removed ${keyCol}s must leave every parquet file under $path")
  }
}
