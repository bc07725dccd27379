package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Hashing

/** The native Hash60 expression must be bit-identical to the built-in
  * composition (and the JVM reference) on arbitrary inputs, stay inside
  * whole-stage codegen, and register for SQL via the extensions entry.
  */
class Hash60ExpressionSpec extends AnyFunSuite with SparkSpec {

  test("native == composed == JVM reference on generated strings (incl. unicode, empty, long)") {
    import spark.implicits._
    val gen = Gen.listOfN(300, Gen.oneOf(
      Gen.alphaNumStr,
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("α", "β", "中", "文", "🙂", "a", " ")).map(_.mkString)))
    val inputs = (gen.sample.get :+ "" :+ ("x" * 10000)).distinct
    val rows = inputs.toDF("s")
      .select(col("s"),
        Hashing.hash60(col("s")).as("native"),
        Hashing.hash60Composed(col("s")).as("composed"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s, n, c) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(n == c, s"native != composed for '$s'")
      assert(n == Hashing.hash60JVM(s), s"native != JVM ref for '$s'")
      assert(n >= 0L && n < (1L << 60))
    }
  }

  test("native hash60 stays inside whole-stage codegen (no fallback to interpreted)") {
    import spark.implicits._
    // literal inputs constant-fold at plan time (which itself exercises the
    // interpreted path); a parquet scan forces runtime evaluation
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val df = docs.select(Hashing.hash60(col("text")).as("h"))
    val plan = df.queryExecution.executedPlan.toString()
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert("\\*\\(\\d+\\) Project \\[hash60".r.findFirstIn(plan).isDefined,
      s"hash60 projection must carry the codegen star:\n$plan")
    assert(df.limit(5).collect().forall(r => r.getLong(0) >= 0L))
    // nulls propagate
    val n = Seq[Option[String]](None).toDF("s")
      .select(Hashing.hash60(col("s"))).head()
    assert(n.isNullAt(0))
  }

  test("SQL registration: every GraftExtensions function is callable from Spark SQL") {
    val r = spark.sql(
      """SELECT hash60('hello world') AS h,
        |  dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |              array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |  word_shingles('a b c d', 3) AS sh,
        |  token_fingerprint('a b c') AS fp,
        |  regexp_match_count('a1 b2 c3', '[a-z][0-9]') AS rc,
        |  l2sq(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |       array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS l2""".stripMargin).head()
    assert(r.getLong(0) == Hashing.hash60JVM("hello world"))
    assert(r.getDouble(1) == 11.0)
    assert(r.getSeq[String](2) == Seq("a b c", "b c d"))
    assert(r.getLong(3) >= 0L && r.getLong(3) < 8796093022208L)
    assert(r.getInt(4) == 3)
    assert(r.getDouble(5) == 8.0) // (1-3)^2 + (2-4)^2
    // the native aggregate registers too (analyzer wraps the bare
    // AggregateFunction in an AggregateExpression)
    val agg = spark.sql(
      """SELECT freq_items_sketch(t, 4) AS cands FROM
        |  (SELECT explode(array('a','a','a','b','a','c')) AS t)""".stripMargin)
      .head().getSeq[String](0)
    assert(agg.contains("a"))
  }
}
