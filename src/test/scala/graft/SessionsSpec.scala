package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{AppConfig, LocalFs}

/** Every session is built by [[Sessions]], and the application's session
  * carries its pinned settings. That the rule really runs in the session is
  * `TextProfileSpec`'s rewrite test.
  */
class SessionsSpec extends AnyFunSuite {

  test("exactly one SparkSession builder call under src/") {
    val call = Regex.quote("SparkSession" + ".builder()").r
    val sites = Files.walk(Paths.get("src")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> call.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toSeq
    assert(sites == Seq("src/main/scala/graft/Sessions.scala" -> 1))
  }

  test("no deprecation annotation under src/main: a superseded path is deleted, not kept beside its replacement") {
    val mark = Regex.quote("@" + "deprecated").r
    val sites = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> mark.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toSeq
    assert(sites.isEmpty, s"deprecated definitions remain: $sites")
  }

  test("AppConfig's settings carry the pinned ones; S3A keys only with an endpoint") {
    val plain = AppConfig.fromEnv(Map.empty).settings
    assert(plain("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(plain("spark.sql.session.timeZone") == "UTC")
    assert(plain("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(plain("spark.ui.enabled") == "false")
    // generated code outlives a query only without per-clone classloaders
    // (CodegenReuseSpec measures it)
    assert(Sessions.Pinned("spark.sql.artifact.isolation.enabled") == "false")
    assert(plain("spark.sql.artifact.isolation.enabled") == "false")
    assert(LocalFs.SessionConf.forall { case (k, v) => plain.get(k).contains(v) })
    assert(!plain.keys.exists(_.contains("s3a")))

    val s3 = AppConfig.fromEnv(Map(
      "AWS_ENDPOINT_URL" -> "http://localstack:4566",
      "AWS_ACCESS_KEY_ID" -> "test",
      "AWS_SECRET_ACCESS_KEY" -> "secret")).settings
    assert(Sessions.Pinned.forall { case (k, v) => s3.get(k).contains(v) })
    assert(s3("spark.hadoop.fs.s3a.endpoint") == "http://localstack:4566")
    assert(s3("spark.hadoop.fs.s3a.path.style.access") == "true")
    assert(s3("spark.hadoop.fs.s3a.access.key") == "test")
    assert(s3("spark.hadoop.fs.s3a.secret.key") == "secret")
  }
}
