package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Text

/** Native TokenFingerprint must equal the HOF composition on arbitrary
  * inputs and propagate nulls. */
class TokenFingerprintExpressionSpec extends AnyFunSuite with SparkSpec {

  test("token_fingerprint: native == composed on generated texts; null -> null") {
    import spark.implicits._
    val word = Gen.oneOf("alpha", "beta", "x", "中文", "7", "")
    val doc = Gen.choose(0, 20).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    val inputs = (Gen.listOfN(150, doc).sample.get :+ "" :+ " leading and trailing ").distinct
    val rows = inputs.toDF("t")
      .select(Text.fingerprint(col("t")).as("n"),
        Text.fingerprintComposed(col("t")).as("c"), col("t"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch for '${r.getString(2)}'"))
    val nul = Seq[Option[String]](None).toDF("t")
      .select(Text.fingerprint(col("t")), Text.fingerprintComposed(col("t"))).head()
    assert(nul.isNullAt(0) && nul.isNullAt(1))
  }
}
