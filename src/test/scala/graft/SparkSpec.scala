package graft

import org.apache.spark.sql.SparkSession

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

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
