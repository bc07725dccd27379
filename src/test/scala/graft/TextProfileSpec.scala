package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Text

/** The one-pass TextProfile must reproduce every composed-builtin feature it
  * replaced (language marker hits, stopword hits, token count, alpha chars),
  * and the RegexpMatchCount native must equal the materializing composed
  * form. The optimizer rule is checked on real plans.
  */
class TextProfileSpec extends AnyFunSuite with SparkSpec {

  private def genDocs: Seq[String] = {
    val word = Gen.oneOf(
      "THE", "The", "the", "and", "of", "el", "la", "de", "der", "und",
      "le", "est", "x", "中文", "a1b2", "...", "off", "theory", "7")
    val doc = for {
      k <- Gen.choose(0, 25)
      ws <- Gen.listOfN(k, word)
      lead <- Gen.oneOf("", "  ", "\t", "\n")
      trail <- Gen.oneOf("", " ")
    } yield lead + ws.mkString(" ") + trail
    (Gen.listOfN(300, doc).sample.get :+ "" :+ "the de la of und est").distinct
  }

  test("profile features == composed builtins on generated texts") {
    import spark.implicits._
    val p = Text.profile(col("t"))
    val langCols = Text.LangMarkers.zipWithIndex.flatMap { case ((lang, m), i) =>
      Seq(p.getItem(i).as(s"n_$lang"),
        Text.markerHitsComposed(col("t"), m).as(s"c_$lang"))
    }
    val rows = genDocs.toDF("t").select(
      langCols ++ Seq(
        p.getItem(5).as("n_stop"),
        Text.markerHitsComposed(col("t"), Text.Stopwords).as("c_stop"),
        p.getItem(6).as("n_tok"),
        size(split(col("t"), "\\s+")).as("c_tok"),
        p.getItem(7).as("n_alpha"),
        length(regexp_replace(col("t"), "[^A-Za-z]", "")).as("c_alpha"),
        col("t")): _*).collect()
    rows.foreach { r =>
      (0 until 6).foreach { i =>
        assert(r.getInt(2 * i) == r.getInt(2 * i + 1),
          s"marker set $i mismatch for '${r.getString(16)}'")
      }
      assert(r.getInt(12) == r.getInt(13), s"token count mismatch for '${r.getString(16)}'")
      assert(r.getInt(14) == r.getInt(15), s"alpha mismatch for '${r.getString(16)}'")
    }
  }

  test("langId / qualityScore over documents: single-profile forms keep their semantics") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    // langId via profile == the per-set composed argmax built the old way
    val composedLang = {
      val scores = Text.LangMarkers.map { case (lang, m) =>
        (lang, Text.markerHitsComposed(col("text"), m))
      }
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      scores.foldRight(lit("und")) { case ((lang, s), acc) =>
        when(s === best && best > 0, lit(lang)).otherwise(acc)
      }
    }
    val mism = docs.select(Text.langId(col("text")).as("n"), composedLang.as("c"))
      .where(col("n") =!= col("c")).count()
    assert(mism == 0, s"$mism langId mismatches vs composed argmax")

    // quality features via profile == fully composed recomputation
    val t = split(col("text"), "\\s+")
    val nTok = size(t).cast("long")
    val nChars = length(col("text")).cast("long")
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
    val stop = Text.markerHitsComposed(col("text"), Text.Stopwords).cast("long")
    val comparisons = Seq(
      ("n_tokens", nTok), ("n_chars", nChars),
      ("alpha_ratio", alpha.cast("double") / nChars.cast("double")),
      ("mean_word_len", nChars.cast("double") / nTok.cast("double")),
      ("stopword_ratio", stop.cast("double") / nTok.cast("double")))
    val feats = Text.qualityFeatures(col("text")).toMap
    comparisons.foreach { case (name, composed) =>
      val bad = docs.select(feats(name).as("n"), composed.as("c"))
        .where(not(col("n") <=> col("c"))).count()
      assert(bad == 0, s"feature $name diverged from composed form")
    }
  }

  test("profile: null -> null; langId(null) = 'und' as before") {
    import spark.implicits._
    val row = Seq[Option[String]](None).toDF("t")
      .select(Text.profile(col("t")), Text.langId(col("t"))).head()
    assert(row.isNullAt(0))
    assert(row.getString(1) == "und")
  }

  test("regexp_match_count: native == composed; null -> null") {
    import spark.implicits._
    val inputs = (genDocs :+ "a1!b2?c3" :+ "   " :+ "...---...").map(Option(_)) :+ None
    // parquet-backed, so neither side is constant-folded before the rule
    val dir = tmpDir("regexp-count") + "/t"
    inputs.toDF("t").write.parquet(dir)
    def counts(count: Column => Column) = {
      val df = spark.read.parquet(dir).select(col("t"), count(col("t")))
      (df.as[(Option[String], Option[Int])].collect().toMap, df.queryExecution.optimizedPlan)
    }
    val (native, _) = counts(Text.bpeishTokenCount)
    // the session's rule would turn the composed form into the native one,
    // so it runs with the rule excluded: Spark's own regex stays the reference
    val rule = graft.plans.GraftRewriteRule.ruleName
    spark.conf.set("spark.sql.optimizer.excludedRules", rule)
    val (composed, plan) = try counts(Text.bpeishTokenCountComposed)
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    assert(!plan.toString.contains("regexp_match_count"), s"$rule must not run:\n$plan")
    inputs.foreach(t => assert(native(t) == composed(t), s"mismatch for '$t'"))
    assert(native(None).isEmpty && composed(None).isEmpty)
  }

  /** `f` of the parquet-backed bytes `b` read as a string (so no side is
    * constant-folded before the rule), keyed by row id, with the optimized
    * plan; `rewrite = false` runs with GraftRewriteRule excluded.
    */
  private def perRow(dir: String, f: Column => Column, rewrite: Boolean = true) = {
    val rule = graft.plans.GraftRewriteRule.ruleName
    if (!rewrite) spark.conf.set("spark.sql.optimizer.excludedRules", rule)
    try {
      val df = spark.read.parquet(dir).select(col("id"), f(col("b").cast("string")))
      val got = df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      (got, df.queryExecution.optimizedPlan.toString)
    } finally if (!rewrite) spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** Texts as raw UTF-8 bytes, so malformed sequences are kept as they are. */
  private def writeTexts(name: String, texts: Seq[Option[Array[Byte]]]): String = {
    import spark.implicits._
    val dir = tmpDir(name) + "/t"
    texts.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "b").write.parquet(dir)
    dir
  }

  test("word count: native whitespace-run count == size(split(\\s+, -1)) on edge, malformed and generated texts") {
    def utf8(t: String) = Some(t.getBytes("UTF-8"))
    val edges = Seq("", " ", "a", " a", "a ", "  a  b  ", " \t\n\u000B\f\r ",
      "a\tb\nc\u000Bd\fe\rf", "\u000B", "a\u000B\u000Bb",
      // not Java's \s: no-break space, em space, NEL, line separator
      "\u00A0", "a\u00A0b", "a\u2003b", "\u2003 \u2003", "a\u0085b", "a\u2028b",
      "中文 字\t😀 x").map(utf8)
    val malformed = Seq(
      Array(0xC3, 0x20, 0x41), Array(0xE2, 0x80), Array(0xFF, 0x09, 0xFE),
      Array(0x80, 0x20, 0x80, 0x20), Array(0xF0, 0x9F, 0x98, 0x0B, 0x61),
      Array(0xED, 0xA0, 0x80, 0x20)).map(b => Some(b.map(_.toByte)))
    val char = Gen.frequency(
      4 -> Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('\u00A0', '\u2003', '\u0085', '\u3000', 'é', '中'))
    val generated = Gen.listOfN(300, Gen.listOf(char).map(_.mkString)).sample.get.map(utf8)
    val randomBytes = Gen.listOfN(200, Gen.listOf(Gen.frequency(
      3 -> Gen.oneOf(0x20, 0x09, 0x0B, 0x0D), 5 -> Gen.choose(0, 255))))
      .sample.get.map(bs => Some(bs.map(_.toByte).toArray))
    val texts = edges ++ malformed ++ genDocs.map(utf8) ++ generated ++ randomBytes :+ None
    val dir = writeTexts("word-count", texts)
    val (native, nativePlan) = perRow(dir, Text.wordCount)
    val (composed, composedPlan) = perRow(dir, Text.wordCount, rewrite = false)
    assert(nativePlan.contains("whitespace_run_count"), s"the rule must fire:\n$nativePlan")
    assert(!composedPlan.contains("whitespace_run_count"), s"the rule must not run:\n$composedPlan")
    texts.indices.foreach { i =>
      assert(native(i.toLong) == composed(i.toLong),
        s"mismatch for bytes ${texts(i).map(_.map(b => f"${b & 0xff}%02x").mkString(" "))}")
    }
    assert(native(texts.size - 1L).isEmpty, "null text -> null count")
    assert(native(0L).contains(1) && native(4L).contains(2) && native(5L).contains(4))
  }

  test("word count rewrite: legacy size, '\\s', limit != -1 and collated text are left alone") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Size, StringSplit}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dir = writeTexts("word-count-guards",
      Seq(Some(" a  b ".getBytes("UTF-8")), Some(Array[Byte]()), None))
    def fires(f: Column => Column) = perRow(dir, f)._2.contains("whitespace_run_count")
    assert(fires(t => size(split(t, "\\s+"))), "control: the reference's form is rewritten")
    val untouched = Seq[(String, Column => Column)](
      "pattern \\s" -> (t => size(split(t, "\\s"))),
      "limit 2" -> (t => size(split(t, "\\s+", 2))),
      "limit 0" -> (t => size(split(t, "\\s+", 0))),
      "legacy size" -> (t => ColumnBridge.column(Size(StringSplit(ColumnBridge.expression(t),
        Literal("\\s+"), Literal(-1)), legacySizeOfNull = true))),
      // a non-default collation that `split` accepts
      "UTF8_LCASE" -> (t => size(split(collate(t, "UTF8_LCASE"), "\\s+"))))
    untouched.foreach { case (name, f) => assert(!fires(f), s"$name must not be rewritten") }
  }

  test("hashing embedding: partition-invariant, duplicate-consistent, fixed width") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a"), (2L, "a b c a"), (3L, "x y zz"), (4L, ""))
      .toDF("doc_id", "text")
    def run(parts: Int): Map[Long, Seq[Double]] =
      Text.hashingTrickEmbedding(docs.repartition(parts), col("doc_id"), col("text"), 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p1 = run(1)
    val p4 = run(4)
    assert(p1 == p4, "vectors must not depend on partitioning")
    assert(p1(1L) == p1(2L), "identical texts -> identical vectors")
    assert(p1.keySet == Set(1L, 2L, 3L, 4L) && p1.values.forall(_.size == 16))
    assert(p1(1L) != p1(3L), "different texts -> (generically) different vectors")
  }

  test("rewrite rule: size(regexp_extract_all) and built-in regexp_count become RegexpMatchCount") {
    // parquet-backed input: a literal local relation would be constant-folded
    // away before the rule could see the expression. The session's own
    // optimizer runs the rule: Sessions loads GraftExtensions.
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val composed = docs.select(Text.bpeishTokenCountComposed(col("text")).as("n"))
      .queryExecution.optimizedPlan
    assert(composed.toString.contains("regexp_match_count"),
      s"composed form must rewrite to the native count:\n$composed")

    // Spark's built-in regexp_count is RuntimeReplaceable sugar for the same
    // composed form — after ReplaceExpressions it matches the rule too.
    val builtin = docs.selectExpr("regexp_count(text, '[a-z]+') AS n")
      .queryExecution.optimizedPlan
    assert(builtin.toString.contains("regexp_match_count"),
      s"built-in regexp_count must rewrite:\n$builtin")
  }
}
