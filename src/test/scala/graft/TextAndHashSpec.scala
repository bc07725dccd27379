package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Hashing, Text}

/** Unit pins for the cross-engine hash and the text operators' edge cases. */
class TextAndHashSpec extends AnyFunSuite with SparkSpec {

  /** JVM-side reference implementation of hash60: first 15 hex chars of md5,
    * base 16 — what both the Spark column and the DuckDB fold must equal.
    */
  private def refHash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("hash60 matches the md5-prefix reference value and stays in [0, 2^60)") {
    import spark.implicits._
    val inputs = Seq("", "a", "hello world", "шницель", "a b c#7")
    val got = inputs.toDF("s").select(Hashing.hash60(col("s")).as("h"))
      .collect().map(_.getLong(0))
    inputs.zip(got).foreach { case (s, h) =>
      assert(h == refHash60(s), s"hash60($s)")
      assert(h >= 0L && h < (1L << 60))
    }
  }

  test("shingles: fewer than n tokens -> empty array; duplicates removed; order preserved") {
    import spark.implicits._
    val rows = Seq("one two", "a b c a b c a b", "x y z").toDF("t")
      .select(Text.shingles(col("t"), 3).as("sh")).collect()
      .map(_.getSeq[String](0))
    assert(rows(0).isEmpty, "2 tokens < n=3")
    assert(rows(1) == Seq("a b c", "b c a", "c a b"), "distinct keeps first occurrence order")
    assert(rows(2) == Seq("x y z"))
  }

  test("langId: marker argmax with fixed tie-break; 'und' when no markers hit") {
    import spark.implicits._
    val rows = Seq(
      "the cat and the dog of a house",  // en
      "el perro de la casa que y en",    // es
      "zzz qqq www",                     // no markers
      "the el"                           // 1-1 tie -> first in LangMarkers order = en
    ).toDF("t").select(Text.langId(col("t")).as("l")).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("en", "es", "und", "en"))
  }

  test("fingerprint: order-sensitive (token swap changes it), deterministic, < 2^43") {
    import spark.implicits._
    val rows = Seq("alpha beta gamma", "beta alpha gamma", "alpha beta gamma")
      .toDF("t").select(Text.fingerprint(col("t")).as("f")).collect().map(_.getLong(0))
    assert(rows(0) == rows(2), "deterministic")
    assert(rows(0) != rows(1), "order-sensitive")
    rows.foreach(f => assert(f >= 0L && f < 8796093022208L))
  }

  test("bpeish token count: alpha runs, digit runs, single symbols") {
    import spark.implicits._
    val n = Seq("ab12 cd!e").toDF("t")
      .select(Text.bpeishTokenCount(col("t")).as("n")).head().getInt(0)
    // ab | 12 | cd | ! | e
    assert(n == 5)
  }

  test("bm25TopKBatch on a single query reproduces bm25TopK bit for bit") {
    import spark.implicits._
    val docs = Seq(
      (1L, "join scan merge join extra words here"),
      (2L, "scan scan filter scan"),
      (3L, "merge join"),
      (4L, "unrelated noise tokens only"),
      (5L, "join")).toDF("doc_id", "text")
    val terms = Seq("join", "scan", "merge")
    val single = Text.bm25TopK(docs, col("doc_id"), col("text"), terms, k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    val qdf = Seq((7L, terms)).toDF("qid", "terms")
    val batch = Text.bm25TopKBatch(docs, col("doc_id"), col("text"), qdf, k = 10)
      .collect().map { r =>
        assert(r.getLong(0) == 7L, "qid carried through")
        r.getLong(1) -> ((r.getDouble(2), r.getInt(3)))
      }.toMap
    // (0.0 + c0) + c1 + ... == c0 + c1 + ... exactly for nonzero finite
    // contributions, so the two reduction shapes agree bit for bit
    assert(batch == single)
  }

  test("bpeMerges: frequency argmax with lexicographic ties; greedy fold handles overlaps") {
    import spark.implicits._
    // "aaab" x3, "ab" x2: step1 pairs: (a,a) 6 (two per aaab), (a,b) 5 ->
    // merge (a,a). aaab folds greedily to [aa, a, b] (the third 'a' cannot
    // re-merge into the fresh 'aa'). step2 pairs over [aa,a,b]x3 + [a,b]x2:
    // (aa,a) 3, (a,b) 5 -> merge (a,b).
    val docs = Seq("aaab aaab aaab ab ab").toDF("text")
    val got = Text.bpeMerges(docs, col("text"), numMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "a", 6L), (2, "a", "b", 5L)))
  }

  test("bpeTrain batched == sequential: same merge table, same counts, same final vocab") {
    import spark.implicits._
    // Real corpus (documents at sf0.001) plus an adversarial fixture that
    // exercises the batch-closing rules: a self-pair with a high count
    // ("xxxx" words — residual (xx,x)/(xx,xx) pairs bound only by its own
    // count), a pre-existing symbol colliding with a concat, and flat
    // counts that force the 4·stopCnt fallback to single merges.
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("text"))
      .union(Seq("xxxx xxxx xxxx xxxx qr qr qr rs rs st st").toDF("text"))
    val (seqM, seqV) = Text.bpeTrain(docs, col("text"), numMerges = 12, batch = 1)
    val (batM, batV) = Text.bpeTrain(docs, col("text"), numMerges = 12, batch = 8)
    assert(batM == seqM,
      s"batched merge table must equal sequential exactly:\nseq=$seqM\nbat=$batM")
    val key = concat_ws("|", col("w"), col("n"), concat_ws("+", col("syms")))
    val sv = seqV.select(key).as[String].collect().sorted.toSeq
    val bv = batV.select(key).as[String].collect().sorted.toSeq
    assert(bv == sv, "batched final vocabulary must equal sequential exactly")
  }

  test("redact: emails, urls, digit runs -> typed placeholders; fixed order; clean text untouched") {
    import spark.implicits._
    val rows = Seq(
      "mail me at a.b-c_1@sub.example.org today",
      "see https://example.com/x?q=1&r=2 and http://e.co/y",
      "card 12345678 and short 123456 stay mixed",
      "u@e.io at https://e.io/u@e.io",
      "plain words only").toDF("t")
      .select(Text.redact(col("t")).as("c")).collect().map(_.getString(0))
    assert(rows(0) == "mail me at <EMAIL> today")
    assert(rows(1) == "see <URL> and <URL>")
    assert(rows(2) == "card <NUM> and short 123456 stay mixed", "7+ digits only")
    // email rule runs first, so the address inside the URL is already gone
    // before the URL rule sees it; the remaining url prefix still matches
    assert(rows(3) == "<EMAIL> at <URL>")
    assert(rows(4) == "plain words only")
  }

  test("rrfFuse: N-list fixed-order fusion, absent lists contribute 0, per-group windows") {
    import spark.implicits._
    // doc 10 ranked by all three systems; doc 20 by two; doc 30 by one
    val l1 = Seq((0L, 10L, 1), (0L, 20L, 2)).toDF("qid", "doc_id", "r1")
    val l2 = Seq((0L, 10L, 2), (0L, 30L, 1)).toDF("qid", "doc_id", "r2")
    val l3 = Seq((0L, 10L, 3), (0L, 20L, 1)).toDF("qid", "doc_id", "r3")
    val out = Text.rrfFuse(Seq((l1, "r1"), (l2, "r2"), (l3, "r3")),
        partKeys = Seq("qid"), docKey = "doc_id", k = 10)
      .collect().map(r => r.getLong(1) -> ((r.getDouble(5), r.getInt(6)))).toMap
    def rr(r: Int): Double = 1.0 / (60.0 + r)
    assert(out(10L) == (((rr(1) + rr(2)) + rr(3), 1)))
    assert(out(20L) == (((rr(2) + 0.0) + rr(1), 2)))
    assert(out(30L) == (((0.0 + rr(1)) + 0.0, 3)))
  }

  test("bigramLmScore: seen bigrams score ln(c2/c1); unseen back off with add-one OOV; short docs excluded") {
    import spark.implicits._
    // train "a b a b": uni a:2 b:2 (N=4, V=2); bigrams (a,b):2 (b,a):1
    val train = Seq((10L, "a b a b")).toDF("id", "text")
    val score = Seq((1L, "a b c"), (2L, "solo")).toDF("id", "text")
    val out = Text.bigramLmScore(train, score, col("id"), col("text")).collect()
    assert(out.length == 1, "single-token doc has no bigrams and is excluded")
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // pos1 (a,b): ln(2/2) = 0; pos2 (b,c): OOV -> ln(2/5) + ln((0+1)/(4+2))
    val expected = -(0.0 + (math.log(2.0 / 5.0) + math.log(1.0 / 6.0))) / 2.0
    assert(r.getDouble(2) == expected, "nll is an exact fold of integer-ratio lns")
    assert(r.getDouble(3) == 0.5, "one of two positions backed off")
  }

  test("bigramLmScore maxVocab: huge cap == uncapped bit-for-bit; tight cap raises backoff, no NULLs") {
    import spark.implicits._
    val train = Seq((1L, "a b a b c d c d e f"), (2L, "a b e f a b")).toDF("id", "text")
    val score = Seq((10L, "a b c d e f g")).toDF("id", "text")
    def run(cap: Option[Int]) = Text
      .bigramLmScore(train, score, col("id"), col("text"), cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val uncapped = run(None)
    assert(run(Some(1000)).toSeq == uncapped.toSeq, "a non-binding cap changes nothing")
    val tight = run(Some(2)) // keep only the 2 most frequent words (a, b)
    assert(tight.forall(r => !r._3.isNaN && !r._4.isNaN), "no NULL/NaN under the cap")
    assert(tight.head._4 > uncapped.head._4,
      "dropping vocab must push more positions through the backoff")
  }

  test("repetitionProfile: degenerate repetition fails; single-token doc KEEPS (no NULL verdict)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "hello"),
      (3L, (1 to 20).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val out = Text.repetitionProfile(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap

    val spam = out(1L)
    assert(spam.getLong(1) == 6L, "n_tokens")
    assert(spam.getDouble(2) == 5.0 / 6.0, "dup_token_frac")
    assert(spam.getString(3) == "spam spam", "top_2gram")
    assert(spam.getDouble(4) == 10.0 / 6.0, "overlapping-gram coverage may exceed 1")
    assert(spam.getDouble(6) == 1.0, "both 5-gram occurrences are of a duplicated gram")
    assert(!spam.getBoolean(7), "degenerate doc must be filtered")

    val single = out(2L)
    assert(single.getLong(1) == 1L)
    assert(single.isNullAt(3), "no 2-gram exists")
    assert(single.getDouble(4) == 0.0 && single.getDouble(5) == 0.0 &&
      single.getDouble(6) == 0.0, "short-doc fractions coalesce to 0.0")
    assert(single.getBoolean(7), "a doc too short to repeat must PASS, not NULL-drop")

    val distinct20 = out(3L)
    assert(distinct20.getDouble(2) == 0.0)
    assert(distinct20.getString(3) == "t1 t2", "count tie breaks to lexicographically smallest")
    assert(distinct20.getDouble(4) == 0.1)
    assert(distinct20.getBoolean(7))
  }

  test("cjkSegment: CJK runs become character bigrams; ASCII token streams are invariant") {
    import spark.implicits._
    val rows = Seq(
      "水光潋滟",                 // pure han run
      "abc 水光潋 def",           // mixed: run embedded in ASCII
      "水",                       // single CJK char stays a unigram
      "のには",                   // kana run
      "plain ascii text",         // untouched
      "")                         // empty
      .toDF("t")
      .select(Text.cjkSegment(col("t")).as("s"))
      .collect().map(_.getString(0))
    assert(rows(0) == "水光 光潋 潋滟")
    assert(rows(1) == "abc 水光 光潋 def")
    assert(rows(2) == "水")
    assert(rows(3) == "のに には")
    assert(rows(4) == "plain ascii text")
    assert(rows(5) == "")

    // corpus-level invariance: on CJK-free text the segmented token stream
    // equals the whitespace token stream (whitespace runs normalize away)
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val diff = docs.select(
        Text.tokens(Text.cjkSegment(col("text"))).as("a"),
        Text.tokens(col("text")).as("b"))
      .where(not(col("a") <=> col("b"))).count()
    assert(diff == 0, s"$diff documents changed token streams under cjkSegment")
  }

  test("langIdScript: kana >= 5 -> ja, han >= 5 -> zh, otherwise the marker fallback") {
    import spark.implicits._
    val got = Seq(
      "水光潋滟晴方好",                    // 7 han -> zh
      "水がのにはをた",                    // 6 kana beats 1 han -> ja
      "the cat sat on the mat and so on", // en markers
      "水光 mostly english the and of to a in is that") // 2 han only -> fallback
      .toDF("t").select(Text.langIdScript(col("t")).as("l"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("zh", "ja", "en", "en"))
  }

  test("fixMojibake: repairs every table artifact, is identity on clean text, and idempotent") {
    import spark.implicits._
    // every artifact must round-trip: cp1252-misdecode of the fixed form's
    // UTF-8 bytes IS the artifact (the JVM check mirrors tools the web uses)
    Text.MojibakePairs.foreach { case (moj, fixed) =>
      assert(moj == new String(fixed.getBytes("UTF-8"), "windows-1252"),
        s"artifact table row is not a cp1252 misdecode: ${moj.map(c => f"U+${c.toInt}%04X")}")
    }
    val corrupt = "caf\u00c3\u00a9 \u00e2\u20ac\u0153ok\u00e2\u20ac\u00a6 na\u00c3\u00afve"
    val want = "caf\u00e9 \u201cok\u2026 na\u00efve"
    val clean = "plain ascii text with no artifacts at all"
    val rows = Seq(corrupt, want, clean).toDF("t")
      .select(col("t"), Text.fixMojibake(col("t")).as("f"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows(corrupt) == want, "artifacts repaired")
    assert(rows(want) == want, "repaired text is a fixed point (idempotent)")
    assert(rows(clean) == clean, "clean text passes byte-identical")
  }

  test("soundexSql: classic fixtures under the documented SQL variant; typo pairs collide; edge inputs") {
    import spark.implicits._
    val fixtures = Seq(
      "Robert" -> "R163", "Rupert" -> "R163", "Tymczak" -> "T522",
      "Pfister" -> "P236", // F folds into P's run (collapse-before-drop)
      "Ashcraft" -> "A226", // strict soundex says A261; H/W-as-separator variant pinned
      "hash" -> "H200", "haash" -> "H200", // planted q340 typo collides
      "tabel" -> "T140", "table" -> "T140",
      "windoq" -> "W532", "window" -> "W530", // the miss the variant accepts
      "" -> "0000", "123" -> "0000", "a.b!c" -> "A120")
    val got = fixtures.map(_._1).toDF("t")
      .select(col("t"), graft.ops.Text.soundexSql(col("t")).as("sx"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    fixtures.foreach { case (w, exp) =>
      assert(got(w) == exp, s"soundex('$w') = ${got(w)}, expected $exp")
    }
  }

  test("stylometry closed forms: Yule's K, RAKE scores, Burrows' Delta, JS divergence") {
    import spark.implicits._
    // Yule's K: "x x x y" → N=4, Σm² = 9+1 = 10, K = 10⁴·(10−4)/16 = 3750
    val yk = graft.ops.Text.yuleK(
      Seq(("s", "x x x y")).toDF("src", "text"), col("src"), col("text"))
      .collect().head
    assert(yk.getAs[Long]("n_tokens") == 4L && yk.getAs[Long]("n_types") == 2L)
    assert(math.abs(yk.getAs[Double]("yule_k") - 3750.0) < 1e-9)

    // RAKE: "red apple the red apple the juice", stop={the}:
    // phrases "red apple"×2, "juice"; deg/freq: red 4/2, apple 4/2,
    // juice 1/1 → scores: "red apple" = 4.0, "juice" = 1.0
    val rake = graft.ops.Text.rakeKeywords(
      Seq((1L, "red apple the red apple the juice")).toDF("id", "text"),
      col("id"), col("text"), Seq("the"), k = 10)
      .collect().map(r => (r.getAs[String]("phrase"), r.getAs[Double]("score"),
        r.getAs[Long]("n_occurrences")))
    assert(rake.toSeq == Seq(("red apple", 4.0, 2L), ("juice", 1.0, 1L)),
      s"got ${rake.toSeq}")

    // Burrows' Delta on s1="x x y", s2="x y y", s3="x y": f_x are
    // {2/3, 1/3, 1/2} → μ=1/2, σ²=1/54, so z_x = {+√6/2, −√6/2, 0}
    // (y mirrors): delta(s1,s2) = √6, delta(s1,s3) = delta(s2,s3) = √6/2
    val bd = graft.ops.Text.burrowsDelta(
      Seq(("s1", "x x y"), ("s2", "x y y"), ("s3", "x y")).toDF("src", "text"),
      col("src"), col("text"), topN = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getAs[Double]("delta"))).toMap
    assert(math.abs(bd(("s1", "s2")) - math.sqrt(6)) < 1e-9)
    assert(math.abs(bd(("s1", "s3")) - math.sqrt(6) / 2) < 1e-9)
    assert(math.abs(bd(("s2", "s3")) - math.sqrt(6) / 2) < 1e-9)

    // JS divergence: disjoint unigram distributions → ln 2; the diagonal is
    // excluded by a<b so only the cross pair appears
    val js = graft.ops.Text.sourceTokenJS(
      Seq(("a", "x x"), ("b", "y y")).toDF("src", "text"),
      col("src"), col("text"), topV = 10)
      .collect().map(r => r.getAs[Double]("js_divergence"))
    assert(js.length == 1 && math.abs(js.head - math.log(2.0)) < 1e-12)
  }

  test("unigram tokenizer: Viterbi picks the higher-likelihood split; M-step recounts") {
    import spark.implicits._
    // corpus "ab ab b": pieces a(2) b(3) ab(2), total 7; segmenting "ab" as
    // the single piece (ln 2/7) beats a+b (ln 2/7 + ln 3/7) → seg ['ab']
    val segs = graft.ops.Text.unigramSegmentWords(
      Seq("ab ab b").toDF("text"), col("text"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[String](2).mkString("|")).toMap
    assert(segs == Map("ab" -> "ab", "b" -> "b"), s"got $segs")
    val stats = graft.ops.Text.unigramPieceStats(
      graft.ops.Text.unigramSegmentWords(Seq("ab ab b").toDF("text"), col("text")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(stats("ab") == ((2L, 2.0 / 3)) && stats("b") == ((1L, 1.0 / 3)),
      s"got $stats")
    // corpus "aa": a(2) aa(1), total 3; a|a = 2·ln(2/3) beats aa = ln(1/3)
    val s2 = graft.ops.Text.unigramSegmentWords(
      Seq("aa").toDF("text"), col("text"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](2).mkString("|")).toMap
    assert(s2 == Map("aa" -> "a|a"), s"got $s2")
  }
}
