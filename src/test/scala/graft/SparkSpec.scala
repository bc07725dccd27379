package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole (forked) test JVM — mirrors the
  * production session shape: UTC, small shuffle parallelism, AQE defaults,
  * and the fork-free local filesystem `AppConfig.buildSession()` installs.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.streaming.LocalFs.SessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Smallest testdata scale factor — used by data-driven specs. */
  val sf0001 = "/root/testdata/sf0.001"
}

trait SparkSpec {
  lazy val spark: SparkSession = TestSpark.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
