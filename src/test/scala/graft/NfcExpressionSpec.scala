package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Text

/** The native NFC expression must match java.text.Normalizer on a fixture
  * matrix of composed/decomposed forms, be identity on already-normalized
  * text (the common path), stay inside whole-stage codegen, and register
  * for SQL.
  */
class NfcExpressionSpec extends AnyFunSuite with SparkSpec {

  private val fixtures = Seq(
    // (input, expected NFC) — all escapes, no raw combining chars in source
    "a\u0301" -> "\u00e1",                   // a + combining acute -> a-acute
    "\u00e9\u0301" -> "\u00e9\u0301",      // e-acute + second acute: no further compose
    "\u00e1" -> "\u00e1",                    // already composed: identity
    "plain ascii text" -> "plain ascii text",
    "" -> "",
    "o\u0308u\u0308" -> "\u00f6\u00fc",    // o-umlaut u-umlaut from combining diaeresis
    "\u30ab\u3099" -> "\u30ac",             // katakana KA + voicing -> GA
    "x\u0301y\u0300" -> "x\u0301\u1ef3")   // x-acute has no composed form; y+grave -> U+1EF3

  test("native nfc == java.text.Normalizer on the fixture matrix; nulls propagate") {
    import spark.implicits._
    val rows = fixtures.map(_._1).toDF("s")
      .select(col("s"), Text.nfc(col("s")).as("n")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    fixtures.foreach { case (in, want) =>
      assert(rows(in) == want, s"nfc of ${in.map(c => f"U+${c.toInt}%04X").mkString(" ")}")
      assert(rows(in) == java.text.Normalizer.normalize(in, java.text.Normalizer.Form.NFC))
    }
    val n = Seq[Option[String]](None).toDF("s").select(Text.nfc(col("s"))).head()
    assert(n.isNullAt(0))
  }

  test("nfc stays inside whole-stage codegen over a real scan") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val df = docs.select(Text.nfc(col("text")).as("t"))
    val plan = df.queryExecution.executedPlan.toString()
    assert("\\*\\(\\d+\\) Project \\[nfc".r.findFirstIn(plan).isDefined,
      s"nfc projection must carry the codegen star:\n$plan")
    // corpus text is already NFC: normalization must be the identity on it
    assert(docs.where(col("text").isNotNull &&
      not(Text.nfc(col("text")) === col("text"))).count() == 0)
  }

  test("SQL registration: nfc callable from Spark SQL") {
    val r = spark.sql("SELECT nfc('a\u0301') AS n").head()
    assert(r.getString(0) == "\u00e1")
  }
}
