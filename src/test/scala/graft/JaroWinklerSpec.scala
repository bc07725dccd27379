package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Text

/** Pins the native Jaro-Winkler expression to the textbook values and the
  * DuckDB-probed edge semantics (the expression's cross-engine contract is
  * BIT-exactness, fuzz-verified against `jaro_winkler_similarity` on 60k
  * random pairs — these fixtures keep the pinned points executable).
  */
class JaroWinklerSpec extends AnyFunSuite with SparkSpec {

  private def jw(a: String, b: String): Double = {
    import org.apache.spark.unsafe.types.UTF8String
    graft.plans.JaroWinkler.similarity(
      UTF8String.fromString(a), UTF8String.fromString(b))
  }

  test("textbook fixtures (bit-exact doubles, as DuckDB computes them)") {
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("DWAYNE", "DUANE") == 0.8400000000000001)
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(jw("abc", "abc") == 1.0)
  }

  test("boost threshold: jaro <= 0.7 gets NO prefix boost despite a shared prefix") {
    // DuckDB-probed: jaro == jw == 0.5619047619047619 for this pair.
    assert(jw("abcdxxxxxx", "abcdyyyyyyzzzz") == 0.5619047619047619)
  }

  test("edges: empty strings score 0 (even both-empty, DuckDB's choice); no cross-position 1-char match") {
    assert(jw("a", "") == 0.0)
    assert(jw("", "") == 0.0)
    assert(jw("ab", "ba") == 0.0, "window 0 means only same-position matches")
    assert(jw("a", "a") == 1.0)
    assert(jw("a", "b") == 0.0)
  }

  test("symmetry on a generated sample") {
    val rnd = new scala.util.Random(11)
    (1 to 500).foreach { _ =>
      val a = (1 to rnd.nextInt(10)).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      val b = (1 to rnd.nextInt(10)).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      assert(jw(a, b) == jw(b, a), s"asymmetric for '$a' / '$b'")
    }
  }

  test("DataFrame path (codegen) agrees with the static reference; null-safe; SQL-registered") {
    import spark.implicits._
    val df = Seq(("martha", "marhta"), ("DWAYNE", "DUANE"), ("", ""))
      .toDF("a", "b")
    val got = df.select(Text.jaroWinkler(col("a"), col("b")).as[Double]).collect()
    assert(got.toSeq == Seq(0.9611111111111111, 0.8400000000000001, 0.0))
    val withNull = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(Text.jaroWinkler(col("a"), col("b"))).head()
    assert(withNull.isNullAt(0), "null input must yield null, not a score")
    val viaSql = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS s")
      .as[Double].head()
    assert(viaSql == 0.9611111111111111)
  }
}
