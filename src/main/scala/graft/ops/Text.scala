package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators: tokenization, shingling, language-ID heuristic,
  * quality scoring, token counting, document fingerprinting.
  *
  * All column functions here are pure `Column => Column` built-in compositions
  * (codegen-friendly, no UDFs) and have exact DuckDB twins for the oracle.
  * Tokenization generalizes the reference's enrichment step
  * (`/root/reference/app/process_articles.py:74-75`: `split(content, "\s+")`
  * then `size`).
  */
object Text {

  /** Whitespace-run tokenizer — the reference's exact semantics
    * (`process_articles.py:74`).
    *
    * Cross-engine pin: Java's `\s` is `[ \t\n\x0B\f\r]` while DuckDB/RE2's
    * `\s` is `[ \t\n\f\r]` — they disagree ONLY on vertical tab (U+000B).
    * The oracle pairing (`split` vs `string_split_regex`) therefore assumes
    * the corpus is U+000B-free (verified for all testdata scale factors); a
    * corpus with vertical tabs would need the explicit class
    * `[ \t\n\x0B\f\r]+` on the DuckDB side.
    */
  val WhitespaceRegex = "\\s+"

  /** The tokens themselves run through Spark's regex split: a caller that
    * keeps the array pays for it. A caller that only takes its `size` does
    * not (see [[wordCount]]).
    */
  def tokens(text: Column): Column = split(text, WhitespaceRegex)

  /** Unicode NFC (canonical composition) normalization — native codegen
    * expression (graft.plans.NfcNormalize), DuckDB twin `nfc_normalize()`.
    * Normalize BEFORE any byte-keyed operator (exact dedup, shingle/minhash
    * hashing): composed U+00E1 and decomposed "a"+U+0301 are the same text
    * to a reader but different bytes to every hash in the engine.
    */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.NfcNormalize(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text.cast("string"))))

  /** Word count = token count (`process_articles.py:75`). Written as the
    * reference writes it; the session's `GraftRewriteRule` turns
    * `size(split(text, '\s+', -1))` into the native
    * `graft.plans.WhitespaceRunCount`, which counts whitespace runs on the
    * UTF-8 bytes without the regex or the array.
    */
  def wordCount(text: Column): Column = size(tokens(text))

  // -------------------------------------------------------------------------
  // Readability (Flesch reading ease over heuristic syllables).
  //
  // A corpus-scale readability profile needs a dictionary-free, deterministic
  // syllable count: one syllable per maximal [aeiouy] run in the lowercased
  // text (the classic approximation — over-counts hiatus, misses silent-e
  // subtleties, but is stable and engine-portable). Sentences are terminator
  // RUNS ("..." and "?!" count once), floored at 1 so headline-like texts
  // divide cleanly. All three counts ride the native RegexpMatchCount
  // codegen expression — no per-match array materialization on the hot path.
  // -------------------------------------------------------------------------

  /** Native Jaro-Winkler similarity (graft.plans.JaroWinklerSimilarity):
    * the short-string record-linkage scorer Spark lacks (`levenshtein` is
    * built in; the Jaro family is not). Bit-exact to DuckDB's
    * `jaro_winkler_similarity` — see the expression scaladoc for the pinned
    * semantics (0.7 boost threshold, 0.1 scaling, prefix cap 4, empty → 0).
    */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.JaroWinklerSimilarity(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a.cast("string")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b.cast("string"))))

  /** SQL-style Soundex phonetic code, composed from built-ins with an
    * IDENTICAL recipe on both engines (translate → per-digit run collapse →
    * drop the first coded run → strip separators → pad):
    *
    *   - letters map A..Z → "01230120022455012623010202" (vowels AND H/W/Y
    *     → 0 — the simplified "SQL" variant; strict American Soundex treats
    *     H/W as transparent, which needs backreferences RE2 doesn't have,
    *     and is also what Spark's built-in `soundex()` implements — NOT
    *     used here precisely because the oracle side couldn't replicate it);
    *   - adjacent equal digits collapse BEFORE the first run is dropped, so
    *     "Pfister" → P236 (the F folds into P's run);
    *   - non-alpha chars are stripped first; an all-non-alpha token codes
    *     as "0000".
    *
    * Fixture-pinned in TextAndHashSpec (Robert→R163, Tymczak→T522,
    * Pfister→P236, Ashcraft→A226 under this variant).
    */
  def soundexSql(tok: Column): Column = {
    val clean = regexp_replace(upper(tok), "[^A-Z]", "")
    val d = translate(clean,
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "01230120022455012623010202")
    val c = (1 to 6).foldLeft(d)((acc, k) =>
      regexp_replace(acc, s"$k$k+", s"$k"))
    val tail = translate(substring(c, 2, Int.MaxValue), "0", "")
    when(length(clean) === 0, lit("0000"))
      .otherwise(concat(substring(clean, 1, 1), rpad(substring(tail, 1, 3), 3, "0")))
  }

  /** DuckDB twin of [[soundexSql]] — the same recipe, step for step. */
  def duckSoundexSql(e: String): String = {
    val clean = s"regexp_replace(upper($e), '[^A-Z]', '', 'g')"
    val d = s"translate($clean, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202')"
    val c = (1 to 6).foldLeft(d)((acc, k) =>
      s"regexp_replace($acc, '$k$k+', '$k', 'g')")
    val tail = s"translate(substr($c, 2), '0', '')"
    s"(CASE WHEN length($clean) = 0 THEN '0000' " +
      s"ELSE substr($clean, 1, 1) || rpad(substr($tail, 1, 3), 3, '0') END)"
  }

  /** One syllable per maximal vowel run (lowercased input). */
  val SyllableRegex = "[aeiouy]+"

  /** One sentence per terminator run. */
  val SentenceRegex = "[.!?]+"

  private def matchCount(text: Column, pattern: String): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.RegexpMatchCount(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          text.cast("string")), pattern))

  def syllableCount(text: Column): Column = matchCount(lower(text), SyllableRegex)

  def sentenceCount(text: Column): Column =
    greatest(matchCount(text, SentenceRegex), lit(1))

  /** Flesch reading ease = 206.835 - 1.015*(words/sentences)
    * - 84.6*(syllables/words), word count floored at 1 (zero-division
    * guard). Literal and operation order mirror [[duckFleschScore]] exactly,
    * so both engines produce bit-identical doubles (only +,-,*,/ — no
    * transcendentals).
    */
  def fleschScore(text: Column): Column = {
    val w = greatest(wordCount(text), lit(1)).cast("double")
    val sct = sentenceCount(text).cast("double")
    val syl = syllableCount(text).cast("double")
    lit(206.835) - lit(1.015) * (w / sct) - lit(84.6) * (syl / w)
  }

  /** DuckDB twin of [[fleschScore]] (same shape, same order). */
  def duckFleschScore(e: String): String = {
    val w = s"CAST(GREATEST(len(string_split_regex($e, '\\s+')), 1) AS DOUBLE)"
    val sct = s"CAST(GREATEST(len(regexp_extract_all($e, '[.!?]+')), 1) AS DOUBLE)"
    val syl = s"CAST(len(regexp_extract_all(lower($e), '[aeiouy]+')) AS DOUBLE)"
    s"(206.835 - 1.015 * ($w / $sct) - 84.6 * ($syl / $w))"
  }

  // -------------------------------------------------------------------------
  // Script-aware (CJK) segmentation.
  //
  // CJK text has no spaces, so every whitespace-tokenized operator silently
  // degrades to whole-sentence tokens on it. The fix stays behind the same
  // tokens() seam: cjkSegment() rewrites each han/kana RUN as its
  // space-joined character BIGRAMS (the standard CJK shingling unit) and
  // leaves space-delimited scripts untouched — so wordCount, shingles, BM25,
  // Jaccard/MinHash dedup, repetition metrics all become CJK-correct by
  // tokenizing cjkSegment(text) instead of text. Ranges are BMP-only
  // (CJK Unified Ideographs + Hiragana/Katakana): Spark's length()/substr()
  // count codepoints while DuckDB slices characters, so supplementary-plane
  // ideographs (Ext-B+) would need a codepoint-safe slice on the Duck side.
  // -------------------------------------------------------------------------

  /** Regex character-class body for han (CJK Unified Ideographs) + kana. */
  val HanRange = "\\x{4E00}-\\x{9FFF}"
  val KanaRange = "\\x{3040}-\\x{30FF}"
  private val CjkClass = s"[$HanRange$KanaRange]"

  /** Text with every CJK run replaced by its space-joined character bigrams
    * (single CJK chars stay as unigrams); non-CJK text passes through with
    * whitespace runs normalized to single spaces (token-stream-invariant).
    */
  def cjkSegment(text: Column): Column = {
    val marked = regexp_replace(text, s"($CjkClass+)", " $1 ")
    val toks = split(trim(marked), WhitespaceRegex)
    concat_ws(" ", transform(toks, t =>
      when(t.rlike(s"^$CjkClass{2,}$$"),
        concat_ws(" ", transform(sequence(lit(1), length(t) - 1),
          i => t.substr(i, lit(2)))))
        .otherwise(t)))
  }

  /** DuckDB twin of [[cjkSegment]] over VARCHAR expr `e`. */
  def duckCjkSegment(e: String): String = {
    val cls = """[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]"""
    s"""array_to_string(list_transform(
       |  string_split_regex(trim(regexp_replace($e, '($cls+)', ' \\1 ', 'g')), '\\s+'),
       |  sgt -> CASE WHEN regexp_full_match(sgt, '$cls{2,}')
       |    THEN array_to_string(list_transform(range(1, length(sgt)),
       |      sgi -> sgt[sgi:sgi+1]), ' ')
       |    ELSE sgt END), ' ')""".stripMargin
  }

  /** Script-aware language ID: kana presence (>= 5 chars) marks Japanese,
    * else han presence (>= 5 chars) marks Chinese — character-class markers,
    * the script-level analogue of the token marker sets (CJK has no
    * space-delimited marker tokens for [[langId]] to hit) — otherwise fall
    * back to the marker-token heuristic.
    */
  def langIdScript(text: Column): Column = {
    val nKana = length(text) - length(regexp_replace(text, s"[$KanaRange]", ""))
    val nHan = length(text) - length(regexp_replace(text, s"[$HanRange]", ""))
    when(nKana >= 5, lit("ja"))
      .when(nHan >= 5, lit("zh"))
      .otherwise(langId(text))
  }

  /** DuckDB twin of [[langIdScript]] over VARCHAR expr `e`. */
  def duckLangIdScript(e: String): String = {
    val kana = s"(length($e) - length(regexp_replace($e, '[\\x{3040}-\\x{30FF}]', '', 'g')))"
    val han = s"(length($e) - length(regexp_replace($e, '[\\x{4E00}-\\x{9FFF}]', '', 'g')))"
    s"""(CASE WHEN $kana >= 5 THEN 'ja'
       | WHEN $han >= 5 THEN 'zh'
       | ELSE ${duckLangId(e)} END)""".stripMargin
  }

  /** Distinct word n-gram shingles joined by single spaces. Empty array when
    * the document has fewer than n tokens or is null. Native codegen
    * expression (graft.plans.WordShingles); [[shinglesComposed]] is the
    * built-in HOF twin kept for the equivalence test.
    */
  def shingles(text: Column, n: Int): Column =
    coalesce(
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.WordShingles(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(text.cast("string")), n)),
      array().cast("array<string>"))

  /** The same shingling from Spark built-ins only (interpreted HOFs). */
  def shinglesComposed(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      array_distinct(
        transform(sequence(lit(1), size(t) - lit(n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** DuckDB twin of [[shingles]] over a VARCHAR expression `e`. */
  def duckShingles(e: String, n: Int): String =
    s"""(SELECT CASE WHEN len(toks) >= $n THEN list_distinct(list_transform(range(1, len(toks) - ${n - 1} + 1), i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' '))) ELSE [] END FROM (SELECT string_split_regex($e, '\\s+') AS toks))"""

  // -------------------------------------------------------------------------
  // Language identification (n-gram/marker heuristic).
  //
  // A deterministic, oracle-checkable heuristic: score each candidate language
  // by how many of its marker tokens appear in the document (token-set
  // intersection), predict the argmax with a fixed tie-break order. Marker
  // lists are tiny and embedded so the DuckDB twin can inline them.
  // -------------------------------------------------------------------------

  /** language -> marker tokens (lowercase). Order = tie-break priority. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "du", "ich"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1")
  )

  /** Count of tokens of lower(text) (occurrences, not distinct) that are in
    * `markers`, from Spark built-ins only (interpreted filter lambda): the
    * reference form [[profile]]'s per-set hit counts are pinned against.
    */
  def markerHitsComposed(text: Column, markers: Seq[String]): Column = {
    val t = tokens(lower(text))
    size(filter(t, tok => tok.isin(markers.map(lit(_)): _*)))
  }

  // -------------------------------------------------------------------------
  // Shared one-pass profile: every langId / quality consumer indexes into the
  // SAME TextProfile expression (5 language marker sets + the stopword set +
  // token count + alpha count), so Catalyst subexpression elimination
  // evaluates ONE tokenization per row no matter how many features a query
  // projects — the round-2 hot path (curation pipeline) paid ~6-11.
  // -------------------------------------------------------------------------

  /** Canonical marker-set order for [[profile]]: LangMarkers then Stopwords.
    * profile[i]   (i < 5) = hits of language i's markers
    * profile[5]           = stopword hits
    * profile[6]           = token count
    * profile[7]           = [A-Za-z] char count
    */
  // lazy: Stopwords is declared below (quality section) — forced on first use.
  private lazy val ProfileSets: Seq[Seq[String]] = LangMarkers.map(_._2) :+ Stopwords

  /** The shared one-pass profile array (see [[ProfileSets]] for the layout). */
  def profile(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.TextProfile(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text.cast("string")),
        ProfileSets))

  /** Predicted language: argmax of marker hits, ties broken by LangMarkers
    * order; "und" (undetermined) when no marker hits at all. All hit counts
    * index one shared [[profile]] evaluation.
    */
  def langId(text: Column): Column = {
    val p = profile(text)
    val scores = LangMarkers.zipWithIndex.map { case ((lang, _), i) => (lang, p.getItem(i)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight builds when(en)...otherwise(when(es)...): first match in
    // LangMarkers order wins — same CASE shape as the DuckDB twin.
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** DuckDB twin of [[langId]] over VARCHAR expr `e`. */
  def duckLangId(e: String): String = {
    def hits(markers: Seq[String]): String = {
      val inList = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split_regex(lower($e), '\\s+'), t -> t IN ($inList)))"
    }
    val scoreExprs = LangMarkers.map { case (lang, m) => lang -> hits(m) }
    val best = scoreExprs.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val cases = scoreExprs
      .map { case (lang, s) => s"WHEN $s = ($best) AND ($best) > 0 THEN '$lang'" }
      .mkString(" ")
    s"(CASE $cases ELSE 'und' END)"
  }

  // -------------------------------------------------------------------------
  // Quality scoring
  // -------------------------------------------------------------------------

  /** Common-word list used for the stopword-ratio quality feature. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "on", "for", "with", "as", "at", "by", "be", "this")

  /** Heuristic quality score in [0,1]:
    * 0.25*lengthOk + 0.25*meanWordLenOk + 0.25*stopwordOk + 0.25*alphaRatio.
    * All features are integer-derived ratios, so the arithmetic is exact and
    * reproducible in DuckDB.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val p = profile(text)
    val nTok = p.getItem(6).cast("long")
    val nChars = length(text).cast("long")
    val alphaChars = p.getItem(7).cast("long")
    val stopHits = p.getItem(5).cast("long")
    Seq(
      "n_tokens" -> nTok,
      "n_chars" -> nChars,
      "alpha_ratio" -> (alphaChars.cast("double") / nChars.cast("double")),
      "mean_word_len" -> (nChars.cast("double") / nTok.cast("double")),
      "stopword_ratio" -> (stopHits.cast("double") / nTok.cast("double"))
    )
  }

  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lengthOk = when(f("n_tokens") >= 20 && f("n_tokens") <= 10000, 1.0).otherwise(0.0)
    val wordLenOk = when(f("mean_word_len") >= 3.0 && f("mean_word_len") <= 12.0, 1.0).otherwise(0.0)
    val stopOk = when(f("stopword_ratio") >= 0.05, 1.0).otherwise(0.0)
    lengthOk * 0.25 + wordLenOk * 0.25 + stopOk * 0.25 + f("alpha_ratio") * 0.25
  }

  /** DuckDB twin of [[qualityScore]] over column expression `e` — the ONE
    * copy of the composite-quality SQL scaffold (q41/q90/q117 all embed it;
    * a drifted copy would silently desynchronize an oracle).
    */
  def duckQualityScore(e: String): String = {
    val t = s"string_split_regex($e, '\\s+')"
    val tl = s"string_split_regex(lower($e), '\\s+')"
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    val nTok = s"CAST(len($t) AS BIGINT)"
    val nChars = s"CAST(length($e) AS BIGINT)"
    val alpha = s"CAST(length(regexp_replace($e, '[^A-Za-z]', '', 'g')) AS BIGINT)"
    val stopHits = s"CAST(len(list_filter($tl, tok -> tok IN ($stop))) AS BIGINT)"
    val meanWl = s"(CAST($nChars AS DOUBLE) / CAST($nTok AS DOUBLE))"
    val stopRatio = s"(CAST($stopHits AS DOUBLE) / CAST($nTok AS DOUBLE))"
    val alphaRatio = s"(CAST($alpha AS DOUBLE) / CAST($nChars AS DOUBLE))"
    s"""((CASE WHEN $nTok >= 20 AND $nTok <= 10000 THEN 1.0 ELSE 0.0 END) * 0.25
       | + (CASE WHEN $meanWl >= 3.0 AND $meanWl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.25
       | + (CASE WHEN $stopRatio >= 0.05 THEN 1.0 ELSE 0.0 END) * 0.25
       | + $alphaRatio * 0.25)""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Token counting (whitespace + BPE-ish regex)
  // -------------------------------------------------------------------------

  /** Regex classes shared by Spark (Java regex) and DuckDB (RE2): alpha runs,
    * digit runs, single non-alnum-non-space chars — a crude BPE-ish
    * pre-tokenization.
    */
  val BpeishRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"

  /** Native match-count (no per-match allocation);
    * [[bpeishTokenCountComposed]] is the built-in twin kept for the
    * equivalence test (and the form GraftRewriteRule rewrites to this).
    */
  def bpeishTokenCount(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.RegexpMatchCount(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text.cast("string")),
        BpeishRegex))

  def bpeishTokenCountComposed(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishRegex), lit(0)))

  def duckBpeishTokenCount(e: String): String =
    s"len(regexp_extract_all($e, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]'))"

  // -------------------------------------------------------------------------
  // PII redaction (emails / IPv4 / international phone numbers)
  // -------------------------------------------------------------------------

  /** Redaction regexes, written in the Java∩RE2 common subset (no
    * lookaround, no backreferences, unambiguous greedy quantifiers) so the
    * Spark `regexp_replace` and the DuckDB oracle produce byte-identical
    * output. Order matters and is fixed: emails first (an address contains
    * digit runs and dots that the IP pattern could otherwise nibble), then
    * IPv4, then phones.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9]{7,15}", "<PHONE>"))

  /** Scrub PII spans, replacing each with its `<TYPE>` placeholder — the
    * standard pre-training privacy pass. Pure per-row codegen'd
    * `regexp_replace` chain: no shuffle, no state, streaming-safe in any
    * output mode. Deliberately pattern-based (the public-corpus baseline,
    * e.g. what C4/ROOTS-style pipelines ship); an NER-grade scrubber is a
    * model, not an operator.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-class PII match counts on the RAW text (audit surface for the
    * redaction pass), via the allocation-free native counter.
    */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (name, pat, _) =>
      s"n_$name" -> org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.RegexpMatchCount(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(text.cast("string")),
          pat)).cast("long")
    }

  /** DuckDB twins of [[redactPii]] / [[piiCounts]] over column expression
    * `e`. DuckDB's standard SQL strings pass backslashes through verbatim
    * (no doubling — the `duckBpeishTokenCount` precedent), so the identical
    * pattern text reaches RE2 that the JVM side hands to java.util.regex.
    */
  def duckRedactPii(e: String): String =
    PiiPatterns.foldLeft(e) { case (s, (_, pat, repl)) =>
      s"regexp_replace($s, '$pat', '$repl', 'g')"
    }

  def duckPiiCount(e: String, name: String): String = {
    val pat = PiiPatterns.find(_._1 == name).get._2
    s"CAST(len(regexp_extract_all($e, '$pat')) AS BIGINT)"
  }

  // -------------------------------------------------------------------------
  // Heavy-hitter tokens (Misra-Gries sketch pass + exact verify pass)
  // -------------------------------------------------------------------------

  /** Misra-Gries candidate sketch aggregate over a string column (the
    * engine's native Catalyst AGGREGATE — graft.plans.FreqItemsSketch).
    * Evals to the sorted candidate key array.
    */
  def freqItemsSketch(c: Column, capacity: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.FreqItemsSketch(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        capacity).toAggregateExpression())

  /** Count-Min sketch aggregate over a string column (the engine's second
    * native Catalyst aggregate — graft.plans.CountMinSketch). Evals to the
    * flat depth×width counter array; estimate with [[cmsEstimate]]. Cell
    * values are partitioning-independent sums, so estimates are
    * hash-comparable cross-engine (not merely error-bounded).
    */
  def countMinSketch(c: Column, depth: Int, width: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CountMinSketch(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c.cast("string")),
        depth, width).toAggregateExpression())

  /** Point estimate from a [[countMinSketch]] array: min over the `depth`
    * rows of the key's cell — never undercounts; overcount bounded by the
    * row collisions. Pure column arithmetic over the sketch array.
    */
  def cmsEstimate(sketch: Column, key: Column, depth: Int, width: Int): Column =
    least((0 until depth).map { r =>
      element_at(sketch,
        (lit(r * width) + pmod(
          Hashing.hash60(concat(lit(s"cm$r-"), key.cast("string"))),
          lit(width.toLong))).cast("int") + 1)
    }: _*)

  /** EXACT tokens with frequency >= ceil(total * minFrac), computed at scale
    * without ever shuffling the full vocabulary:
    *
    *  1. sketch pass — Misra-Gries candidates (`capacity` counters per
    *     partition, `capacity` rows per partition through the shuffle) plus
    *     the total token count in the same single-row aggregate;
    *  2. verify pass — exact counts of the <= `capacity` candidates only
    *     (map-side filter via broadcast semi-join, then a tiny aggregation).
    *
    * The Misra-Gries bound (undercount <= n/(capacity+1), merge-order
    * independent) makes recall exact whenever minFrac > 1/(capacity+1) —
    * enforced here — so the output is the deterministic true heavy-hitter
    * set, identical to the full GROUP BY ... HAVING the oracle runs. A naive
    * full count at 100 TB shuffles billions of distinct tokens; this shuffles
    * O(capacity × partitions) rows and scans the corpus twice.
    */
  def heavyHitterTokens(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      capacity: Int,
      minFrac: Double): org.apache.spark.sql.DataFrame = {
    require(minFrac > 1.0 / (capacity + 1),
      s"minFrac=$minFrac must exceed the Misra-Gries bound 1/(capacity+1)=${1.0 / (capacity + 1)}")
    val toks = Dedup.spreadBy(df, id).select(explode(tokens(text)).as("tok"))
    val sk = toks.agg(
      freqItemsSketch(col("tok"), capacity).as("cands"),
      count(lit(1)).as("total"))
    val cands = sk.select(explode(col("cands")).as("tok"), col("total"))
    // threshold in EXACT decimal arithmetic: a double product can overshoot
    // (ceil(100 * 0.07) = 8 in binary doubles, 7 exactly) and silently drop
    // a true heavy hitter; DuckDB multiplies decimal literals exactly, so
    // the engine must too for the "identical to GROUP BY/HAVING" guarantee.
    // BigDecimal.valueOf goes through the double's shortest decimal
    // rendering, so minFrac = 0.07 becomes exactly 0.07.
    val fracDec = lit(java.math.BigDecimal.valueOf(minFrac))
    toks.join(broadcast(cands), "tok")
      .groupBy(col("tok"), col("total"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= ceil(col("total") * fracDec))
      .select(col("tok"), col("n"))
  }

  // -------------------------------------------------------------------------
  // Hashing-trick embedding (feature hashing / "the hashing trick")
  // -------------------------------------------------------------------------

  /** Signed bag-of-words feature-hashing embedding (Weinberger et al.,
    * "Feature Hashing for Large Scale Multitask Learning", ICML'09): token t
    * adds sign(t) ∈ {−1, +1} to bucket hash60(t) mod dims; the sign hash
    * keeps the inner product unbiased. Output: (doc_id, vec array<double>).
    *
    * This is the vectorizer that bridges `documents` into the similarity
    * stack — its output feeds [[Similarity]]'s LSH/IVF ops directly. Scale
    * shape: one explode, partial-aggregated (doc, bucket) sums, then a
    * per-doc map assembly; the dense vector materializes once per document,
    * and no vocabulary table exists anywhere (that is the point of the
    * trick — memory is O(dims), not O(vocab)).
    */
  def hashingTrickEmbedding(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      dims: Int): org.apache.spark.sql.DataFrame = {
    require(dims >= 1, "need at least one dimension")
    val toks = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(tokens(text)).as("tok"))
    embeddingFromTokenRows(toks, dims)
  }

  /** The vectorizer core over pre-exploded `(doc_id, tok)` rows — the shared
    * tail of [[hashingTrickEmbedding]], also used directly to embed small
    * query frames (a term list is already token rows; re-tokenizing a joined
    * string and re-spreading a handful of rows would only add plan nodes).
    */
  def embeddingFromTokenRows(
      toks: org.apache.spark.sql.DataFrame,
      dims: Int): org.apache.spark.sql.DataFrame = {
    // ONE hash per token supplies both coordinates: the low bit is the sign,
    // the remaining 59 bits the bucket — independent for dims < 2^59, and
    // half the hashing work of a separate sign hash (this is the hot path:
    // one md5 fold per token occurrence).
    val weights = toks
      .select(col("doc_id"), Hashing.hash60(col("tok")).as("h"))
      .select(col("doc_id"),
        pmod(expr("h div 2"), lit(dims.toLong)).cast("int").as("bucket"),
        when(col("h") % 2 === 1, lit(1L)).otherwise(lit(-1L)).as("s"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("s")).as("w"))
    weights
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("w")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => coalesce(element_at(col("m"), d), lit(0L)).cast("double")).as("vec"))
  }

  // -------------------------------------------------------------------------
  // TF-IDF
  // -------------------------------------------------------------------------

  /** Top-k characteristic terms per document by TF-IDF: tf = occurrences of
    * the token in the document, idf = ln(N / df) with N = corpus size and
    * df = documents containing the token; ties broken by token asc.
    *
    * Scale shape: one explode shuffled once on doc_id (pre-spread), df from
    * a distinct-(doc, tok) aggregation whose join back to term rows is keyed
    * on the token — the only corpus-wide statistic is the (token, df) table,
    * exactly like the shingle-df cap in [[Dedup.ngramJaccardPairs]]. The
    * final per-doc rank compiles to WindowGroupLimit (no full sort per doc
    * reaches the exchange).
    */
  def tfidfTopTerms(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      k: Int): org.apache.spark.sql.DataFrame = {
    val toks = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(tokens(text)).as("tok"))
    // tf feeds BOTH dfreq and the score join, so the corpus tokenizes once
    // per consumer. Recomputing it measured cheaper than a localCheckpoint
    // of tf at sf0.1 (round 9: warm-min 0.63 s against 0.86 s).
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n").cast("double") / col("df").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** BM25 lexical retrieval: top-k documents for a fixed query-term list
    * (Robertson/Sparck-Jones idf in the Lucene `ln(1 + (N-df+0.5)/(df+0.5))`
    * form; tf saturation k1, length normalization b). The lexical half of a
    * hybrid retrieval stack, beside the embedding ANN operators.
    *
    * Determinism note: the per-term contributions are pivoted into FIXED
    * columns and added in query-term order — never `sum()`-aggregated — so
    * the floating-point reduction order is identical on any partitioning
    * and in the DuckDB oracle (the same discipline as `Num.dot`'s
    * dimension-order accumulation).
    *
    * Scale shape: the token explode is filtered to the query terms BEFORE
    * the tf aggregation (the predicate rides into the explode's project),
    * so the shuffled tf frame carries |terms| rows per matching doc, not
    * the corpus vocabulary; doc lengths join from a (doc_id, dl) frame and
    * the 1-row corpus stats broadcast.
    */
  def bm25TopK(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "query terms must be non-empty and distinct")
    val toks = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(tokens(text)).as("tok"))
    val dl = df.select(id.as("doc_id"), wordCount(text).cast("long").as("dl"))
    val tf = toks.where(col("tok").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    bm25Rank(tf, dl, queryTerms, k, k1, b)
  }

  /** BM25 scoring over pre-computed query-term tf rows + doc lengths — the
    * shared back half of [[bm25TopK]] (which derives tf/dl from text) and
    * [[TextIndex.searchBM25]] (which reads them from stored postings
    * tables). Identical expression tree either way, so the index serve
    * path is hash-provably equal to the in-query scan (q175).
    */
  private[ops] def bm25Rank(
      tf: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame,
      queryTerms: Seq[String],
      k: Int,
      k1: Double,
      b: Double): org.apache.spark.sql.DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("total_dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(dfreq, "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n").cast("double"))
      .withColumn("idf", log(
        lit(1.0) + (col("n").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    // pivot: at most ONE non-zero element per (doc, term) sum, so the
    // aggregation is reduction-order-free; the cross-term addition is the
    // fixed-order reduce below
    val termCols = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("contrib")).otherwise(lit(0.0))).as(s"c_$i")
    }
    val perDoc = contrib.groupBy(col("doc_id")).agg(termCols.head, termCols.tail: _*)
    val score = queryTerms.indices.map(i => col(s"c_$i")).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    perDoc.withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("score"), col("rank"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai & Lafferty
    * 2001) — the third classical retrieval model beside BM25 (tf·idf
    * saturation) and vector cosine: rank by the probability the document's
    * smoothed unigram LM generates the query,
    *
    *   score(q, d) = Σ_{t∈q} ln( (tf(t,d) + μ·cf(t)/|C|) / (dl(d) + μ) )
    *
    * computed as ln of INTEGER ratios — the per-term argument is
    * (tf·|C| + μ·cf) / (|C|·(dl+μ)) with integer μ, so both engines take ln
    * of bit-identical doubles and the per-doc sum is a fixed-term-order
    * fold (the q108 ln discipline). Only documents containing ≥ 1 query
    * term are ranked (the standard inverted-index practice; a no-match doc
    * differs only by its length prior). Terms with zero collection
    * frequency must be dropped upstream — they would send every score to
    * -∞ (ln 0).
    *
    * Scale shape: identical to [[bm25TopK]] — the token explode filters to
    * the query terms BEFORE the tf aggregation, collection stats are a
    * 1-row broadcast, cf is a |terms|-row broadcast, and the global top-k
    * window prunes map-side (TakeOrderedAndProject/WindowGroupLimit).
    */
  def queryLikelihoodTopK(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      queryTerms: Seq[String],
      k: Int,
      mu: Long = 2000L): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "query terms must be non-empty and distinct")
    require(mu >= 1, "Dirichlet mu must be a positive integer")
    val toks = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(tokens(text)).as("tok"))
    val dl = df.select(id.as("doc_id"), wordCount(text).cast("long").as("dl"))
    val stats = dl.agg(sum(col("dl")).as("total"))
    val tf = toks.where(col("tok").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // collection frequency per term: one row per query term, pivoted to a
    // single broadcast row (at most one non-zero element per sum)
    val cfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("cf")).otherwise(lit(0L))).as(s"cf_$i")
    }
    val cfRow = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cf"))
      .agg(cfCols.head, cfCols.tail: _*)
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("tf")).otherwise(lit(0L))).as(s"tf_$i")
    }
    val perDoc = tf.groupBy(col("doc_id")).agg(tfCols.head, tfCols.tail: _*)
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(cfRow))
    val score = queryTerms.indices.map { i =>
      log((col(s"tf_$i") * col("total") + lit(mu) * col(s"cf_$i")).cast("double") /
        (col("total") * (col("dl") + lit(mu))).cast("double"))
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    perDoc.withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("score"), col("rank"))
  }

  /** BATCHED multi-query BM25: scores a whole query TABLE `(qid bigint,
    * terms array<string>)` against the corpus in ONE pass — the shape a real
    * retrieval/eval pipeline needs (thousands of queries per job), where
    * [[bm25TopK]] is the single-query special case.
    *
    * Determinism note: per-query term counts vary, so the fixed-pivot-column
    * trick of [[bm25TopK]] cannot apply. Instead the per-(qid, doc)
    * contributions are collected, sorted by the query's own term index, and
    * LEFT-FOLDED in that fixed order (`aggregate` over the sorted array) —
    * the same reduction-order discipline, realized per-row instead of
    * per-column; the DuckDB twin is `list_reduce` over `list(... ORDER BY
    * ti)`.
    *
    * Scale shape: the corpus is tokenized and aggregated ONCE for all
    * queries — the token explode is semi-joined against the (broadcast)
    * distinct term set BEFORE the tf aggregation, so the shuffled tf frame
    * carries only matching (doc, term) rows; the (qid, ti, term) frame then
    * broadcast-joins onto tf to fan scored rows out per query. No per-query
    * re-scan exists anywhere in the plan. The final per-qid top-k compiles
    * to WindowGroupLimit.
    */
  def bm25TopKBatch(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      queries: org.apache.spark.sql.DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val q = queries.select(col("qid"), posexplode(col("terms")).as(Seq("ti", "tok")))
    val termSet = q.select(col("tok")).distinct()
    val toks = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(tokens(text)).as("tok"))
    val dl = df.select(id.as("doc_id"), wordCount(text).cast("long").as("dl"))
    val tf = toks.join(broadcast(termSet), "tok")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    bm25BatchRank(tf, dl, q, k, k1, b)
  }

  /** The shared batched-BM25 scoring tail over an already-materialized
    * (doc_id, tok, tf) frame and a (doc_id, dl) length table — the seam
    * that lets [[graft.ops.TextIndex.searchBM25Batch]] serve the identical
    * ranking from STORED postings (q218 pins it to q96's oracle). Per-query
    * contributions sum in fixed term order (the collect_list + array_sort +
    * fold), so scores are bit-reproducible regardless of partitioning.
    */
  private[ops] def bm25BatchRank(
      tf: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame,
      k: Int,
      k1: Double,
      b: Double): org.apache.spark.sql.DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("total_dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(q), "tok")
      .join(dfreq, "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n").cast("double"))
      .withColumn("idf", log(
        lit(1.0) + (col("n").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    val perQd = contrib.groupBy(col("qid"), col("doc_id"))
      .agg(array_sort(collect_list(struct(col("ti"), col("contrib")))).as("cs"))
      .withColumn("score",
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("contrib")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    perQd.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("score"), col("rank"))
  }

  /** Reciprocal Rank Fusion of N ranked lists, fused in the FIXED order of
    * `lists`: each element is (frame, rankCol) where the frame carries
    * columns `partKeys :+ docKey :+ rankCol` (its system's rank, already cut
    * to that system's top-perList). rrf = Σ_system 1/(kRrf + rank_system),
    * docs absent from a system contribute 0 from it. All arithmetic is
    * integer-derived (ranks), so the fused score is bit-reproducible on any
    * engine and any partitioning.
    *
    * Scale shape: each input is top-perList rows per (partKeys) group —
    * the full-outer fusion joins handle N×perList rows per group regardless
    * of corpus size; the final per-group top-k is a WindowGroupLimit (or
    * TakeOrderedAndProject when partKeys is empty).
    */
  def rrfFuse(
      lists: Seq[(org.apache.spark.sql.DataFrame, String)],
      partKeys: Seq[String],
      docKey: String,
      k: Int,
      kRrf: Int = 60): org.apache.spark.sql.DataFrame = {
    require(lists.size >= 2, "fusion needs at least two ranked lists")
    val keys = partKeys :+ docKey
    val joined = lists.map(_._1).reduce((a, c) => a.join(c, keys, "full_outer"))
    val rrf = lists
      .map { case (_, rn) =>
        coalesce(lit(1.0) / (lit(kRrf.toDouble) + col(rn)), lit(0.0))
      }
      .reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partKeys.map(col): _*)
      .orderBy(col("rrf").desc, col(docKey).asc)
    joined.withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select((keys.map(col) ++ lists.map(l => col(l._2)) ++ Seq(col("rrf"), col("rank"))): _*)
  }

  /** HYBRID retrieval: Reciprocal Rank Fusion of the BM25 lexical ranking
    * and a vector ranking (cosine of the corpus' hashing-trick embeddings
    * against the query's own hashing-trick embedding — the query is
    * embedded by exactly the document vectorizer, so no model is needed).
    * rrf = Σ_system 1/(kRrf + rank_system), summed lexical-then-vector
    * (fixed order), docs absent from a system's top-`perList` contribute 0.
    *
    * Fusing top-`perList` lists (not full rankings) is both the standard
    * RRF contract and the scale-safe one: each system's global ranking is
    * cut by WindowGroupLimit to perList rows per partition before the final
    * window, and the fusion join handles 2×perList rows regardless of
    * corpus size. All arithmetic is integer-derived (ranks) — the fused
    * score is bit-reproducible on any engine.
    */
  def hybridRrfTopK(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      queryTerms: Seq[String],
      dims: Int,
      k: Int,
      perList: Int = 100,
      kRrf: Int = 60): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lex = bm25TopK(df, id, text, queryTerms, perList)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val emb = hashingTrickEmbedding(df, id, text, dims)
    // the term list IS the query's token rows — embed it directly (no
    // re-tokenization / spreadBy plan nodes on a handful of rows)
    val qtoks = queryTerms.map(t => (0L, t)).toDF("doc_id", "tok")
    val qvec = embeddingFromTokenRows(qtoks, dims)
      .select(col("vec").as("qv"), Num.norm(col("vec")).as("nq")) // norm ONCE, pre-broadcast
      .where(col("nq") > 0)
    val wv = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id").asc)
    val vec = emb.crossJoin(broadcast(qvec))
      .withColumn("nv", Num.norm(col("vec")))
      .where(col("nv") > 0) // zero vectors have no direction
      .withColumn("cos", Num.dot(col("vec"), col("qv")) / (col("nv") * col("nq")))
      .withColumn("vec_rank", row_number().over(wv))
      .where(col("vec_rank") <= perList)
      .select(col("doc_id"), col("vec_rank"))
    rrfFuse(Seq((lex, "lex_rank"), (vec, "vec_rank")),
      partKeys = Seq.empty, docKey = "doc_id", k = k, kRrf = kRrf)
  }

  /** BATCHED hybrid retrieval: [[hybridRrfTopK]] over a whole query TABLE
    * `(qid bigint, terms array<string>)` — BM25 and embedding-cosine ranked
    * per query in one corpus pass each, fused per (qid, doc_id) by
    * [[rrfFuse]] in fixed lexical-then-vector order.
    *
    * Scale shape: the corpus embeddings materialize once and broadcast-join
    * against the |Q| query vectors (corpus scanned once; the per-qid rank
    * windows cut each list to perList via WindowGroupLimit before fusion).
    */
  def hybridRrfTopKBatch(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      queries: org.apache.spark.sql.DataFrame,
      dims: Int,
      k: Int,
      perList: Int = 100,
      kRrf: Int = 60): org.apache.spark.sql.DataFrame = {
    val lex = bm25TopKBatch(df, id, text, queries, perList)
      .select(col("qid"), col("doc_id"), col("rank").as("lex_rank"))
    val vec = embeddingCosineTopKBatch(df, id, text, queries, dims, perList)
      .select(col("qid"), col("doc_id"), col("rank").as("vec_rank"))
    rrfFuse(Seq((lex, "lex_rank"), (vec, "vec_rank")),
      partKeys = Seq("qid"), docKey = "doc_id", k = k, kRrf = kRrf)
  }

  /** Per-query embedding-cosine top-k over the hashing-trick vectors: each
    * query's terms are embedded by the document vectorizer itself and ranked
    * against the corpus vectors — the vector half of hybrid retrieval, and a
    * batched brute-force cosine baseline in its own right.
    *
    * Scale shape: the corpus embeds ONCE; the |Q| query vectors (with their
    * norms pre-computed) broadcast against it, so the cosine pass is one
    * corpus scan producing |docs|×|Q| scored rows, cut to k per qid by
    * WindowGroupLimit. For corpus-×-corpus scale use the ANN operators in
    * [[Similarity]]; a query TABLE of thousands of rows is exactly the
    * broadcast-friendly small side this shape assumes.
    */
  def embeddingCosineTopKBatch(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      queries: org.apache.spark.sql.DataFrame,
      dims: Int,
      k: Int): org.apache.spark.sql.DataFrame =
    cosineTopKBatchFromVectors(hashingTrickEmbedding(df, id, text, dims),
      queries, dims, k)

  /** The batched cosine ranking over an ALREADY-built (doc_id, vec) frame —
    * the seam that lets the stored doc-vector table serve the batch
    * ([[graft.ops.TextIndex.hybridFromTablesBatch]], q224) through the
    * identical scoring tree as the in-query path.
    */
  def cosineTopKBatchFromVectors(
      emb: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      dims: Int,
      k: Int): org.apache.spark.sql.DataFrame = {
    val qtoks = queries.select(col("qid").as("doc_id"), explode(col("terms")).as("tok"))
    val qvecs = embeddingFromTokenRows(qtoks, dims)
      .select(col("doc_id").as("qid"), col("vec").as("qv"), Num.norm(col("vec")).as("nq"))
      .where(col("nq") > 0)
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    emb.withColumn("nv", Num.norm(col("vec")))
      .where(col("nv") > 0) // zero vectors have no direction
      .crossJoin(broadcast(qvecs))
      .withColumn("cos", Num.dot(col("vec"), col("qv")) / (col("nv") * col("nq")))
      .withColumn("rank", row_number().over(wv))
      .where(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("cos"), col("rank"))
  }

  /** Term-coverage ranking: per query, docs ranked by HOW MANY of the
    * query's terms they contain (a boolean-retrieval scorer — integer
    * scores, engine-exact). The third ranked system beside BM25 and
    * embedding cosine in the N-system fusion demo; also useful standalone
    * as a cheap recall-oriented candidate generator.
    *
    * Scale shape: token explode semi-joined to the broadcast term set, then
    * distinct (doc, term) — the shuffled frame is |matched terms| rows per
    * doc; per-qid counts and the top-perList window follow the standard
    * WindowGroupLimit shape.
    */
  def termCoverageTopK(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      queries: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val q = queries.select(col("qid"), explode(col("terms")).as("tok"))
    val toks = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(tokens(text)).as("tok"))
    val hits = toks.join(broadcast(q.select(col("tok")).distinct()), "tok")
      .select(col("doc_id"), col("tok")).distinct()
      .join(broadcast(q), "tok")
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("coverage"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("coverage").desc, col("doc_id").asc)
    hits.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("coverage"), col("rank"))
  }

  /** Distributed BPE merge training (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units"): learn `numMerges`
    * byte-pair merges from the corpus — the tokenizer-training half of a
    * training-data pipeline, beside the BPE-ish token COUNTER the engine
    * already has. Each step counts adjacent symbol pairs weighted by word
    * frequency, picks the most frequent pair (ties → lexicographic (a, b)),
    * and greedily merges it left-to-right in every word.
    *
    * Distribution shape: the corpus is read ONCE (the word-count
    * aggregation); every merge iteration then runs on the (word, count)
    * VOCABULARY — vocab-sized, not corpus-sized — as one pair-explode +
    * weighted count + bounded argmax collect (a 1-row model parameter per
    * step, like the k-means seeds) + one fold projection, with the
    * re-symbolized vocab localCheckpointed per step (each iteration's input
    * is materialized, the k-means lineage discipline).
    *
    * Determinism: integer pair counts (exact), fixed tie-break, and the
    * greedy merge as a LEFT FOLD over the symbol array — the same fold the
    * DuckDB oracle runs via `list_reduce` over single-element lists.
    *
    * Output: (step, a, b, cnt) — the ordered merge table a BPE tokenizer
    * loads.
    */
  def bpeMerges(
      df: org.apache.spark.sql.DataFrame,
      text: Column,
      numMerges: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrain(df, text, numMerges)._1.toDF("step", "a", "b", "cnt")
  }

  /** One greedy left-to-right application of merge (a, b) → a+b as a left
    * fold over a symbol array: the just-merged symbol becomes the new tail,
    * so it cannot re-merge as the left side of the same rule within one
    * pass — classic BPE. Shared by training and the vocab encoder.
    */
  private def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Full BPE training: the ordered merge list AND the final vocabulary
    * `(w, n, syms)` — each distinct corpus word with its post-merge symbol
    * segmentation. The vocab is what [[bpeEncodeByVocab]] joins against.
    */
  def bpeTrain(
      df: org.apache.spark.sql.DataFrame,
      text: Column,
      numMerges: Int,
      batch: Int = 8): (Seq[(Int, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    require(numMerges >= 1, "learn at least one merge")
    require(batch >= 1, "batch at least one merge per round-trip")
    val words = df.select(explode(tokens(text)).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    var vocab = words.select(col("w"), col("n"),
        expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))").as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    while (merges.size < numMerges) {
      // BATCHED merge selection (cuts driver round-trips up to `batch`×,
      // EXACTLY equal to one-merge-at-a-time training — property-tested):
      // collect the top batch+1 pairs, then keep the rank-order prefix that
      // sequential training would provably pick unchanged:
      //  - kept pairs are symbol-disjoint, guarding concatenations too (a
      //    kept merge may neither consume another's symbols nor create one
      //    of them), so kept counts are invariant under each other;
      //  - stop at the FIRST conflicting candidate (no skipping — kept is a
      //    prefix of the global ranking); a SELF-pair (a,a) also closes its
      //    batch: its greedy merge leaves residual (aa,a)/(aa,aa) pairs
      //    bounded only by its own count, so nothing may batch after it;
      //  - a merge can only GROW the count of a pair touching its new
      //    symbol; at sequential pick time any such competitor's
      //    occurrences map to pre-batch occurrences of at most 2×2
      //    boundary pairs (last-constituent × first-constituent, each
      //    possibly colliding with a pre-existing symbol name), all
      //    conflict-excluded hence ≤ stopCnt each — so batching is safe
      //    only while cnt > 4·stopCnt; otherwise fall back to the
      //    unconditionally-correct single merge.
      val want = math.min(batch, numMerges - merges.size)
      val top = vocab
        .where(size(col("syms")) > 1)
        .select(col("n"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(
            element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(want + 1)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      require(top.nonEmpty, s"no adjacent pairs left to merge at step ${merges.size + 1}")
      val guard = scala.collection.mutable.Set[String]()
      val kept = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      var stopCnt = 0L // no residual candidate => nothing a merge can grow from
      var open = true
      for (cand @ (a, b, cnt) <- top if open) {
        if (kept.size == want || Seq(a, b, a + b).exists(guard.contains)) {
          stopCnt = cnt; open = false
        } else if (a == b) {
          if (kept.isEmpty) kept += cand
          else stopCnt = cnt
          open = false
        } else { kept += cand; guard ++= Seq(a, b, a + b) }
      }
      val safe = kept.takeWhile(_._3 > 4 * stopCnt)
      val step = if (safe.nonEmpty) safe.toSeq else Seq(kept.head)
      step.foreach { case (a, b, cnt) => merges += ((merges.size + 1, a, b, cnt)) }
      vocab = vocab.select(col("w"), col("n"),
          step.foldLeft(col("syms")) { case (s, (a, b, _)) => mergeFold(s, a, b) }
            .as("syms"))
        .localCheckpoint()
    }
    (merges.toSeq, vocab)
  }

  /** Tokenizer APPLICATION at corpus scale: explode doc words, join the
    * trained vocabulary (`bpeTrain`._2), aggregate back per doc. Output:
    * (doc_id, n_tokens, n_chars, n_bpe_tokens).
    *
    * Scale shape: dictionary-encode-then-join — the (word → segmentation)
    * table is vocab-sized (Heaps' law: ≪ corpus), so the join is a
    * broadcast at any realistic vocabulary, and the only corpus-sized
    * shuffle is the per-doc count aggregation of 3 small ints, instead of
    * replaying the merge folds once per word occurrence.
    */
  def bpeEncodeByVocab(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(tokens(text)).as("w"))
      .where(length(col("w")) > 0)
      .join(broadcast(vocab.select(col("w"), size(col("syms")).cast("long").as("nb"))),
        Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("nb")).as("n_bpe_tokens"))

  /** Tokenizer application from a STORED vocabulary table — the frozen-
    * tokenizer serving path (the q158 frozen-model discipline applied to
    * BPE): new documents encode against the trained `(w, syms)` table
    * as-is, with NO retraining, and out-of-vocabulary words fall back to
    * one token per character (the byte-fallback contract every production
    * tokenizer ships). Output: (doc_id, n_tokens, n_chars, n_bpe_tokens,
    * n_oov) — n_bpe_tokens counts vocab words at their stored
    * segmentation length and OOV words at their character count.
    *
    * Same dictionary-encode-then-broadcast-join shape as
    * [[bpeEncodeByVocab]]; the LEFT join is what lets the stored table
    * serve text the trainer never saw.
    */
  def bpeEncodeFromTable(
      df: org.apache.spark.sql.DataFrame,
      id: Column,
      text: Column,
      vocabTable: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(tokens(text)).as("w"))
      .where(length(col("w")) > 0)
      .join(broadcast(vocabTable
          .select(col("w"), size(col("syms")).cast("long").as("nb"))),
        Seq("w"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(coalesce(col("nb"), length(col("w")).cast("long")))
          .as("n_bpe_tokens"),
        sum(when(col("nb").isNull, 1L).otherwise(0L)).as("n_oov"))

  /** Retrieval evaluation: recall@k and NDCG@k per query, from a ranked
    * frame `(qid, doc_id, rank)` and a binary-relevance qrels frame
    * `(qid, doc_id)` — the eval stage every retrieval/training pipeline
    * runs over its rankings.
    *
    * NDCG uses the ln discount (gain/ln(rank+1)); the normalization ratio
    * dcg/idcg is IDENTICAL to the log2 form (the base cancels), and ln of
    * integer-derived arguments is cross-engine-exact. Both DCG and IDCG are
    * LEFT-FOLDED in rank order (the bm25TopKBatch discipline), so the
    * double sums are bit-reproducible on any partitioning and in DuckDB.
    *
    * Scale shape: one equi-join of the top-k rows (k rows per query, not
    * the corpus) against qrels, one per-qid aggregation; n_rel joins from a
    * qrels aggregate. Nothing corpus-sized crosses a shuffle.
    */
  def rankingMetrics(
      ranked: org.apache.spark.sql.DataFrame,
      qrels: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val nrel = qrels.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    val marked = ranked.where(col("rank") <= k)
      .join(qrels.select(col("qid"), col("doc_id")).withColumn("rel", lit(1L)),
        Seq("qid", "doc_id"), "left_outer")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    marked.groupBy(col("qid"))
      .agg(
        sum(col("rel")).as("hits"),
        min(when(col("rel") === 1L, col("rank"))).as("first_rel"),
        array_sort(collect_list(struct(col("rank"), col("rel")))).as("rs"))
      .withColumn("dcg", aggregate(col("rs"), lit(0.0),
        (acc, x) => acc + x.getField("rel").cast("double")
          / log(x.getField("rank").cast("double") + lit(1.0))))
      .join(nrel, "qid")
      .withColumn("m", least(lit(k), col("n_rel")).cast("int"))
      .withColumn("idcg", aggregate(
        transform(sequence(lit(1), col("m")),
          i => lit(1.0) / log(i.cast("double") + lit(1.0))),
        lit(0.0), (acc, v) => acc + v))
      .select(col("qid"), col("n_rel"), col("hits"),
        (col("hits").cast("double") / col("n_rel").cast("double")).as("recall_k"),
        (col("dcg") / col("idcg")).as("ndcg_k"),
        coalesce(lit(1.0) / col("first_rel").cast("double"), lit(0.0))
          .as("rr_k"))
  }

  // -------------------------------------------------------------------------
  // PII / link redaction
  // -------------------------------------------------------------------------

  /** Redaction rules applied in FIXED order (email before URL before digit
    * runs — order is semantics: a pattern must not see text an earlier rule
    * already replaced). Patterns restrict themselves to the regex subset
    * with identical meaning in Java regex and RE2/DuckDB: char classes,
    * bounded repetition, literal space instead of `\s` (the U+000B
    * Java-vs-RE2 divergence pinned on [[WhitespaceRegex]]).
    */
  val RedactionRules: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("https?://[^ ]+", "<URL>"),
    ("[0-9]{7,}", "<NUM>"))

  /** PII/link scrubbing for training corpora: replace email addresses, URLs
    * and long digit runs (phone/account numbers) with typed placeholder
    * tokens — the standard redaction pass before text enters a training
    * mix. Pure codegen'd `regexp_replace` chain: per-row, no shuffle, no
    * UDF; composes with the quality/mixing/packing curation ops.
    */
  def redact(text: Column): Column =
    RedactionRules.foldLeft(text.cast("string")) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }

  /** DuckDB twin of [[redact]] (global regexp_replace chain, same order). */
  def duckRedact(e: String): String =
    RedactionRules.foldLeft(e) {
      case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
    }

  // -------------------------------------------------------------------------
  // Document fingerprint (rolling polynomial hash over tokens)
  // -------------------------------------------------------------------------

  /** Order-sensitive polynomial rolling fingerprint over token hash60s:
    * acc = (acc * 31 + h(tok)) mod 2^61-1 — would overflow int64, so instead
    * fold with acc = (acc * 131071 + (h mod 131072)) mod 2^60 using only
    * values < 2^60 (131071 * 2^43 fits; we keep acc < 2^43 by folding mod
    * 2^43). Concretely: acc' = (acc * 131071 + (h % 131072)) % 8796093022208
    * (2^43), all intermediates < 2^61.
    */
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.TokenFingerprint(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text.cast("string"))))

  /** The same fold from Spark built-ins only (interpreted HOFs). */
  def fingerprintComposed(text: Column): Column = {
    val hs = transform(tokens(text), tok => Hashing.hash60(tok) % lit(131072L))
    aggregate(hs, lit(0L),
      (acc, h) => (acc * lit(131071L) + h) % lit(8796093022208L))
  }

  /** DuckDB twin of [[fingerprint]]. */
  def duckFingerprint(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split_regex($e, '\\s+'), tok -> ${Hashing.duckHash60("tok")} % 131072)), (acc, h) -> (acc * 131071 + h) % 8796093022208)"""

  // -------------------------------------------------------------------------
  // N-gram language-model scoring (CCNet-style perplexity-proxy filter)
  // -------------------------------------------------------------------------

  /** Bigram language-model document scoring — the relational form of CCNet's
    * KenLM perplexity filter (Wenzek et al. 2020, arXiv:1911.00359 §3.3:
    * score each document under an LM trained on a trusted slice; low
    * log-probability ⇒ gibberish tail, suspiciously low ⇒ boilerplate head).
    * The LM is a stupid-backoff bigram model (Brants et al. 2007):
    *
    *   S(w_i | w_{i-1}) = c2(w_{i-1}, w_i) / c1(w_{i-1})   if c2 > 0
    *                    = α · (c1(w_i) + 1) / (N + V)      otherwise
    *
    * with α = 2/5, add-one-smoothed unigram backoff, N = training token
    * occurrences, V = training vocabulary size. Output per scored doc (≥ 2
    * tokens): `n_bigrams`, `nll` = −(Σ ln S)/n_bigrams (the
    * perplexity exponent — exp is deliberately NOT applied, keeping every
    * value an ln of an integer ratio, which both engines round identically),
    * `backoff_frac` = fraction of positions that backed off (an OOV-rate
    * quality signal of its own).
    *
    * Determinism: the per-doc Σ ln S is an ORDER-FIXED left fold (sort by
    * position, then `aggregate`) — never a float `sum()` whose partial-
    * aggregation order varies run to run; the oracle folds
    * `list(lp ORDER BY pos)` identically.
    *
    * Scale shape: counting shuffles carry tokens/token-pairs with map-side
    * partial counts; scoring is three LEFT joins of the exploded bigram
    * stream against the c2/c1 tables (hash-distributed on ~uniform token
    * keys, no fan-out) plus a 1-row broadcast of (N, V); the per-doc fold
    * is a doc-length-bounded collect_list inside a regular aggregation.
    * `maxVocab` is the 100 TB knob: keep only the top-V training words
    * (count desc, word asc — deterministic tie-break); words outside the
    * cap score through the OOV backoff exactly like unseen words, and both
    * count tables shrink to the kept vocabulary (the bigram table by a
    * semi join on BOTH endpoints) before anything joins the corpus.
    */
  def bigramLmScore(
      train: DataFrame,
      score: DataFrame,
      id: Column,
      text: Column,
      maxVocab: Option[Int] = None): DataFrame = {
    val toks = Dedup.spreadBy(train, id).select(tokens(text).as("t"))
    val uniAll = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bigAll = toks.where(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
        struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    lmScoreFromCounts(uniAll, bigAll, score, id, text, maxVocab)
  }

  /** Stupid-backoff scoring from ALREADY-AGGREGATED count tables
    * (uni = (w, c1), big = (w1, w2, c2)) — the ONE copy of the scoring
    * tree, shared by [[bigramLmScore]] (in-query counts) and
    * [[LmIndex.score]] (stored tables); a drifted copy would silently
    * desynchronize the serve path from the q108 oracle. The vocabulary cap
    * applies HERE, at read: stored tables keep raw additive counts (a
    * capped table could not be appended exactly — top-V of a merge is not
    * the merge of top-Vs).
    */
  private[ops] def lmScoreFromCounts(
      uniAll: DataFrame,
      bigAll: DataFrame,
      score: DataFrame,
      id: Column,
      text: Column,
      maxVocab: Option[Int]): DataFrame = {
    val uni = maxVocab match {
      case Some(v) =>
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("c1").desc, col("w").asc)
        // global rank over the vocab table (vocab-sized, not corpus-sized;
        // Spark plans rank()<=k as a WindowGroupLimit map-side prune)
        uniAll.withColumn("__r", rank().over(w)).where(col("__r") <= v)
          .drop("__r")
      case None => uniAll
    }
    val tot = uni.agg(sum(col("c1")).cast("long").as("n"),
      count(lit(1)).as("v"))
    val big = maxVocab match {
      case Some(_) =>
        // a bigram whose endpoint fell outside the cap must go through the
        // backoff (a surviving c2 with a dropped w1 would divide by NULL)
        bigAll
          .join(uni.select(col("w").as("w1")), Seq("w1"), "left_semi")
          .join(uni.select(col("w").as("w2")), Seq("w2"), "left_semi")
      case None => bigAll
    }
    val sc = Dedup.spreadBy(score, id)
      .select(id.as("doc_id"), tokens(text).as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
          struct(i.cast("long").as("pos"),
            element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val alpha = lit(2.0) / lit(5.0)
    val lp = sc
      .join(big, Seq("w1", "w2"), "left_outer")
      .join(uni.select(col("w").as("w1"), col("c1").as("c1_w1")), Seq("w1"), "left_outer")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1_w2")), Seq("w2"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("pos"),
        when(col("c2").isNotNull,
          log(col("c2").cast("double") / col("c1_w1").cast("double")))
          .otherwise(log(alpha) +
            log((coalesce(col("c1_w2"), lit(0L)) + lit(1L)).cast("double") /
              (col("n") + col("v")).cast("double"))).as("lp"),
        when(col("c2").isNull, lit(1L)).otherwise(lit(0L)).as("backoff"))
    lp.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("lp")))).as("arr"),
        sum(col("backoff")).as("nb"))
      .select(col("doc_id"), col("n_bigrams"),
        (-aggregate(transform(col("arr"), x => x.getField("lp")),
          lit(0.0), (a, x) => a + x) / col("n_bigrams").cast("double")).as("nll"),
        (col("nb").cast("double") / col("n_bigrams").cast("double")).as("backoff_frac"))
  }

  // -------------------------------------------------------------------------
  // Repetition / boilerplate quality metrics (Gopher-style, token n-grams)
  // -------------------------------------------------------------------------

  /** Per-document repetition metrics in the spirit of Gopher's repetition
    * filters (Rae et al. 2021, arXiv:2112.11446, Table A1), adapted to a
    * token stream (this corpus has no newlines, so the line-based metrics
    * become token/n-gram ones):
    *
    *   - `dup_token_frac`   = 1 - distinct/total tokens
    *   - `top_2gram_frac`   = tokens covered by the single most frequent word
    *     2-gram (`count * 2 / n_tokens`); ties break to the lexicographically
    *     smallest gram (reported as `top_2gram`)
    *   - `top_3gram_frac`   = same for 3-grams
    *   - `dup_5gram_frac`   = fraction of 5-gram OCCURRENCES whose gram
    *     appears more than once within the document
    *   - `keep`             = `top_2gram_frac <= top2Max AND dup_5gram_frac
    *     <= dup5Max` — the filter verdict
    *
    * Docs too short to form an n-gram get that fraction coalesced to 0.0
    * (and `top_2gram` NULL), so `keep` is always a real boolean — a
    * single-token doc PASSES the filter (it cannot exhibit repetition),
    * never NULL-drops under three-valued logic. Docs with NULL text are
    * excluded from the output entirely, matching the [[shingles]]/dedup
    * convention for this corpus (the generator emits no NULL text).
    *
    * All ratios are integer-derived doubles, so the DuckDB oracle (q106)
    * reproduces them bit for bit.
    *
    * Shape for 100 TB: ONE explode tags every n-gram occurrence with its n
    * (≈4 rows per token), ONE (doc_id, n, gram) count aggregation (map-side
    * partials absorb in-doc repetition before the shuffle), then ONE per-doc
    * conditional aggregation — `min(struct(-cnt, gram))` folds the argmax
    * gram inside the same aggregate, so there is no second window/shuffle
    * stage and no corpus-wide state of any kind.
    */
  def repetitionProfile(
      df: DataFrame,
      id: Column,
      text: Column,
      top2Max: Double = 0.125,
      dup5Max: Double = 0.10): DataFrame = {
    val t = tokens(text)
    // spreadBy: the ~4-rows-per-token explode must not run on the compact
    // scan's few input partitions (the shingleRows discipline).
    // The four gram lengths explode as DATA (one generic slice lambda over
    // an exploded n column) instead of four instantiated transform
    // branches concatenated: the expression tree is ~4× smaller, which is
    // what whole-stage codegen compiles — the four-branch form spent
    // multiple seconds per session in Janino for the same rows (the
    // bench's shared session measured q106 cold at 31.7 s vs 0.9 warm).
    val occ = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), t.as("__t"),
        explode(array(Seq(1, 2, 3, 5).map(lit): _*)).as("n"))
      .select(col("doc_id"), col("n"),
        explode(when(size(col("__t")) >= col("n"),
          transform(sequence(lit(1), size(col("__t")) - col("n") + lit(1)),
            i => concat_ws(" ", slice(col("__t"), i, col("n")))))
          .otherwise(array().cast("array<string>"))).as("gram"))
    val counts = occ
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val agg = counts.groupBy(col("doc_id")).agg(
      sum(when(col("n") === 1, col("cnt"))).as("n_tokens"),
      count(when(col("n") === 1, lit(1))).as("n_distinct"),
      min(when(col("n") === 2,
        struct((-col("cnt")).as("nc"), col("gram").as("g")))).as("t2"),
      min(when(col("n") === 3,
        struct((-col("cnt")).as("nc"), col("gram").as("g")))).as("t3"),
      coalesce(sum(when(col("n") === 5, col("cnt"))), lit(0L)).as("tot5"),
      coalesce(sum(when(col("n") === 5 && col("cnt") > 1, col("cnt"))), lit(0L))
        .as("dup5"))
    val nt = col("n_tokens").cast("double")
    // Coalesce to 0.0: a doc with < n tokens has no n-grams (t_n is NULL) —
    // it shows zero repetition, and `keep` below must stay a real boolean.
    val top2f = coalesce((col("t2.nc") * lit(-2L)).cast("double") / nt, lit(0.0))
    val top3f = coalesce((col("t3.nc") * lit(-3L)).cast("double") / nt, lit(0.0))
    val dup5f = when(col("tot5") > 0,
      col("dup5").cast("double") / col("tot5").cast("double")).otherwise(lit(0.0))
    agg.select(
      col("doc_id"),
      col("n_tokens"),
      ((col("n_tokens") - col("n_distinct")).cast("double") / nt).as("dup_token_frac"),
      col("t2.g").as("top_2gram"),
      top2f.as("top_2gram_frac"),
      top3f.as("top_3gram_frac"),
      dup5f.as("dup_5gram_frac"),
      (top2f <= lit(top2Max) && dup5f <= lit(dup5Max)).as("keep"))
  }

  /** MERGEABLE per-shard distinct-count sketch table + union — the 100 TB
    * distinct-counting pattern: each shard (source, day, partition) keeps a
    * tiny Datasketches HLL sketch of its n-gram shingle set; any cross-shard
    * distinct count is then a register-wise max over the stored sketches
    * (`hll_union_agg`), with NO rescan of the corpus — unlike
    * `approx_count_distinct` (q26), whose sketch dies inside the
    * aggregation, these are durable, composable aggregates (store the
    * `sk` column and a year of daily sketches folds in milliseconds).
    * Insertion is idempotent and union is a per-register max, so estimates
    * are deterministic under any partitioning or merge order.
    *
    * Output: one row per group plus a `__union__` row — (scope,
    * exact_distinct, within_bound), where within_bound checks the sketch
    * estimate against the exactly-counted truth at `relErr` (lgK=12 ⇒
    * σ ≈ 1.6%, so 0.05 ≈ 3σ). The exact columns are the VERIFICATION
    * harness, not the production read path — they are what lets the
    * correctness gate hash-match a sketch query (the q26 discipline).
    * The #groups-row shard table is localCheckpoint'd: per-group rows and
    * the union row both consume it, and without the break the corpus
    * explode would run twice.
    */
  def shingleHllReport(df: DataFrame, id: Column, text: Column, group: Column,
      n: Int, lgK: Int = 12, relErr: Double = 0.05): DataFrame = {
    // spread on the high-cardinality id (the shingleRows discipline), NOT the
    // bounded group key: the per-group HLL aggregation combines map-side, so
    // only #tasks × #groups partial sketches cross the exchange
    val rows = Dedup.spreadBy(df, id)
      .select(group.as("grp"), explode(shingles(text, n)).as("sh"))
    val shard = rows.groupBy(col("grp"))
      .agg(
        hll_sketch_agg(col("sh"), lit(lgK)).as("sk"),
        count_distinct(col("sh")).as("exact_distinct"))
      .localCheckpoint()
    def bounded(est: Column, exact: Column): Column =
      abs(est.cast("double") - exact.cast("double")) <=
        lit(relErr) * exact.cast("double")
    val per = shard.select(
      col("grp").cast("string").as("scope"),
      col("exact_distinct"),
      bounded(hll_sketch_estimate(col("sk")), col("exact_distinct")).as("within_bound"))
    val globalExact = rows.agg(count_distinct(col("sh")).as("exact_distinct"))
    val union = shard
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .crossJoin(globalExact)
      .select(lit("__union__").as("scope"), col("exact_distinct"),
        bounded(col("est"), col("exact_distinct")).as("within_bound"))
    per.unionByName(union)
  }

  /** The MAINTAINED variant of [[shingleHllReport]]: the per-group shingle
    * sketches are built per id-shard ([[HllIndex.build]] on each
    * `pmod(id, shards)` slice — the micro-batch / daily-drop shape) and
    * folded through [[HllIndex.merge]], so the distinct-count table never
    * rescans absorbed rows. HLL union is a register-wise max, so the merged
    * table answers EXACTLY like a from-scratch rebuild (HllIndexSpec pins
    * estimate equality; here the q125 discipline keeps the query
    * hash-checkable: exact counts + within_bound verdicts, with n_rows the
    * exact shingle-row count riding along as a second checkable surface).
    *
    * Output: (scope, n_rows, exact_distinct, within_bound) per group plus
    * the `__union__` row folded from stored sketches alone.
    */
  def shingleHllMaintainedReport(df: DataFrame, id: Column, text: Column,
      group: Column, n: Int, shards: Int = 3, lgK: Int = 12,
      relErr: Double = 0.05): DataFrame = {
    require(shards >= 2, "a maintained table needs at least two shards")
    val rows = Dedup.spreadBy(df, id)
      .select(pmod(id, lit(shards)).as("shard"), group.as("grp"),
        explode(shingles(text, n)).as("sh"))
      .localCheckpoint()
    // ONE aggregation builds every shard's sketch table (grouped by
    // (shard, grp)); the sliced shard frames are row-identical to per-shard
    // HllIndex.build outputs, so the merge law being exercised is unchanged
    // while the scan count drops from #shards passes to one.
    val perShard = rows.groupBy(col("shard"), col("grp"))
      .agg(hll_sketch_agg(col("sh"), lit(lgK)).as("sk"),
        count(lit(1)).as("n_rows"))
      .localCheckpoint()
    val tables = (0 until shards).map(i =>
      perShard.where(col("shard") === i)
        .select(col("grp").as("key"), col("sk"), col("n_rows")))
    val est = HllIndex.estimates(HllIndex.merge(tables))
    // per-scope and union exact counts in one ROLLUP pass (two passes
    // before); grouping() tags the total row as the union scope
    val exact = rows.rollup(col("grp"))
      .agg(count_distinct(col("sh")).as("exact_distinct"),
        grouping(col("grp")).as("__g"))
      .select(
        when(col("__g") === 1, lit("__union__"))
          .otherwise(col("grp").cast("string")).as("scope"),
        col("exact_distinct"))
    est.join(exact, "scope")
      .select(col("scope"), col("n_rows"), col("exact_distinct"),
        (abs(col("est") - col("exact_distinct").cast("double")) <=
          lit(relErr) * col("exact_distinct").cast("double")).as("within_bound"))
  }

  // -------------------------------------------------------------------------
  // Line hygiene (C4-style rules + within-document line dedup)
  // -------------------------------------------------------------------------

  /** C4's line-level cleaning rules (Raffel et al. 2020, arXiv:1910.10683
    * §2.2): keep only lines that end in terminal punctuation AND carry at
    * least `minWords` words; a document keeps its row with the surviving
    * lines stitched back in order plus a `keep` verdict requiring at least
    * `minLines` survivors. Pure per-row HOF work — no shuffle, no state,
    * streaming-safe (the gate-family transport).
    *
    * Output: (doc_id, n_lines, n_kept, clean_text, keep).
    */
  def c4LineRules(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      minWords: Int = 3, minLines: Int = 2,
      sep: String = "\n"): org.apache.spark.sql.DataFrame = {
    val lines = split(text, sep)
    val kept = filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?") && size(tokens(l)) >= minWords)
    df.select(id.as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, sep).as("clean_text"),
      (size(kept) >= minLines).as("keep"))
  }

  /** Within-document line dedup: drop repeated lines INSIDE a document,
    * keeping first occurrences in order — the in-row complement of the
    * corpus-wide [[Dedup.paragraphDedup]] (no corpus state, so it runs as
    * a stateless per-row expression; `array_distinct` preserves
    * first-occurrence order by contract). Output: (doc_id, n_lines,
    * n_distinct, clean_text).
    */
  def dedupLinesWithin(df: org.apache.spark.sql.DataFrame, id: Column,
      text: Column, sep: String = "\n"): org.apache.spark.sql.DataFrame = {
    val lines = split(text, sep)
    val distinctLines = array_distinct(lines)
    df.select(id.as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(distinctLines).cast("long").as("n_distinct"),
      array_join(distinctLines, sep).as("clean_text"))
  }

  // -------------------------------------------------------------------------
  // Corpus distribution statistics (diversity / divergence / Zipf)
  // -------------------------------------------------------------------------

  /** Per-source distinct-n-gram diversity (the distinct-n metric of Li et
    * al. 2016, arXiv:1510.03055 §5, applied to corpus sources instead of
    * generations): distinct n-gram types ÷ total n-gram occurrences, per
    * (source, n). Low diversity = templated/repetitive source — the
    * corpus-level face of q106's per-document repetition profile.
    *
    * ONE corpus pass for all n: each token array explodes once into
    * (n, hash) occurrence structs for every requested n. The shuffle
    * carries (source, n, hash60) — never gram text; a hash collision
    * merges two gram types (undercounts distinct by 1 at ~2⁻⁶¹/pair, the
    * q124 stance).
    */
  def ngramDiversity(df: org.apache.spark.sql.DataFrame, source: Column,
      text: Column, ns: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "n-gram sizes must be positive")
    val base = df.select(source.as("source"), tokens(text).as("t"))
    val grams = flatten(transform(array(ns.map(n => lit(n)): _*), nc =>
      when(size(col("t")) >= nc,
        transform(sequence(lit(1), size(col("t")) - nc + lit(1)),
          i => struct(nc.as("n"),
            Hashing.hash60(concat_ws(" ", slice(col("t"), i, nc))).as("h"))))
        .otherwise(array().cast("array<struct<n:int,h:bigint>>"))))
    base.select(col("source"), explode(grams).as("g"))
      .groupBy(col("source"), col("g.n").as("n"))
      .agg(count(lit(1)).as("total_ngrams"),
        count_distinct(col("g.h")).as("distinct_ngrams"))
      .withColumn("diversity",
        col("distinct_ngrams").cast("double") / col("total_ngrams").cast("double"))
  }

  /** KL divergence of each source's unigram distribution from the corpus
    * distribution: Σ_tok p_src(tok) · ln(p_src(tok) / p_corpus(tok)) —
    * the standard "how far does this shard drift from the mixture" number
    * a curator reads next to q113's mixture weights. Every probability is
    * an integer-count ratio (exact in both engines) and the per-source sum
    * folds decimal(38,18) ([[Num.dsum38]]), so the result is
    * bit-reproducible on any partitioning. p_corpus > 0 wherever
    * p_src > 0 by construction (the corpus contains every source), so no
    * term degenerates.
    *
    * Scale shape: one corpus tokenization into (source, tok) counts; the
    * corpus-marginal table derives from those counts by a second
    * vocab-sized aggregation (no second corpus pass — the count frame is
    * localCheckpoint'd for its two consumers); source totals and the
    * 1-row corpus total broadcast back.
    */
  def sourceTokenKL(df: org.apache.spark.sql.DataFrame, source: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val sc = df.select(source.as("source"), explode(tokens(text)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_s"))
      .localCheckpoint()
    val cc = sc.groupBy(col("tok")).agg(sum(col("c_s")).as("c_c"))
    val totS = sc.groupBy(col("source")).agg(sum(col("c_s")).as("t_s"))
    val totC = sc.agg(sum(col("c_s")).as("t_c"))
    val p = col("c_s").cast("double") / col("t_s").cast("double")
    val q = col("c_c").cast("double") / col("t_c").cast("double")
    sc.join(cc, "tok")
      .join(broadcast(totS), "source")
      .crossJoin(broadcast(totC))
      .groupBy(col("source"))
      .agg(Num.dsum38(p * log(p / q)).as("kl_divergence"),
        count(lit(1)).as("n_token_types"))
  }

  /** Zipf rank-frequency slope over the corpus' top-`k` tokens: the
    * least-squares slope of ln(freq) on ln(rank) — ≈ −1 for natural text
    * (Zipf's law), ≈ 0 for uniform/synthetic vocabularies. Rank ties
    * break by token asc, so the top-k boundary and every x-coordinate are
    * deterministic cross-engine; the four regression sums fold
    * decimal(38,18) over k ≤ bounded rows.
    *
    * Scale shape: the vocabulary aggregation is the only corpus-scale
    * stage; the top-k cut is TakeOrderedAndProject and the ranking window
    * runs on k rows (bounded by the parameter, not the data).
    */
  def zipfSlope(df: org.apache.spark.sql.DataFrame, text: Column,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 2, "need at least 2 ranks for a slope")
    val vocab = df.select(explode(tokens(text)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("tok").asc)
    val xy = vocab.withColumn("rank", row_number().over(w))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    val s = xy.agg(
      count(lit(1)).cast("double").as("n"),
      Num.dsum38(col("x")).as("sx"),
      Num.dsum38(col("y")).as("sy"),
      Num.dsum38(col("x") * col("y")).as("sxy"),
      Num.dsum38(col("x") * col("x")).as("sxx"))
    s.select(col("n").cast("long").as("k"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
      ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"))
        .as("intercept"))
  }

  // -------------------------------------------------------------------------
  // Mojibake repair (UTF-8 read as Latin-1/cp1252 double-encoding).
  //
  // The ftfy-style fix a web-corpus pipeline runs before any hashing: text
  // that was UTF-8 but got decoded as Latin-1/cp1252 somewhere upstream
  // carries the telltale "Ã©"/"â€œ" artifact pairs. Repair is a fixed,
  // ordered chain of literal replacements — deterministic, codegen'd
  // (functions.replace), and exactly replayable in DuckDB via the same
  // chain (no byte-level decode needed, which DuckDB could not mirror).
  // The curated table covers the printable artifacts of the Latin-1
  // Supplement letters plus the cp1252 punctuation range; multi-byte
  // (3-byte) artifacts repair FIRST so a repaired 2-byte "â" can never be
  // produced before the longer patterns have been consumed. Clean text
  // passes through byte-identical (no pattern can match post-repair text
  // that was not itself mojibake).
  // -------------------------------------------------------------------------

  /** (mojibake artifact, repaired form), applied in order — ALL escapes,
    * no raw supplement/punctuation chars in source (the NfcExpressionSpec
    * round-8 lesson). 3-byte artifacts (E2 80 xx) precede the 2-byte ones
    * so a repaired 2-byte a-circumflex can never be produced before the
    * longer patterns have been consumed.
    */
  val MojibakePairs: Seq[(String, String)] = Seq(
    "\u00e2\u20ac\u0153" -> "\u201c", // left double quote (9C reads as cp1252 oe-ligature)
    "\u00e2\u20ac\u02dc" -> "\u2018", // left single quote (98 reads as cp1252 small tilde)
    "\u00e2\u20ac\u2122" -> "\u2019", // right single quote / apostrophe (99 = trade mark)
    "\u00e2\u20ac\u201c" -> "\u2013", // en dash (93 reads as cp1252 left double quote)
    "\u00e2\u20ac\u201d" -> "\u2014", // em dash (94 reads as cp1252 right double quote)
    "\u00e2\u20ac\u00a6" -> "\u2026", // ellipsis (A6 = broken bar)
    "\u00c3\u00a9" -> "\u00e9", // e-acute
    "\u00c3\u00a8" -> "\u00e8", // e-grave
    "\u00c3\u00aa" -> "\u00ea", // e-circumflex
    "\u00c3\u00ab" -> "\u00eb", // e-diaeresis
    "\u00c3\u00a1" -> "\u00e1", // a-acute
    "\u00c3\u00a2" -> "\u00e2", // a-circumflex
    "\u00c3\u00a4" -> "\u00e4", // a-diaeresis
    "\u00c3\u00a7" -> "\u00e7", // c-cedilla
    "\u00c3\u00ae" -> "\u00ee", // i-circumflex
    "\u00c3\u00af" -> "\u00ef", // i-diaeresis
    "\u00c3\u00b1" -> "\u00f1", // n-tilde
    "\u00c3\u00b3" -> "\u00f3", // o-acute
    "\u00c3\u00b4" -> "\u00f4", // o-circumflex
    "\u00c3\u00b6" -> "\u00f6", // o-diaeresis
    "\u00c3\u00ba" -> "\u00fa", // u-acute
    "\u00c3\u00bb" -> "\u00fb", // u-circumflex
    "\u00c3\u00bc" -> "\u00fc", // u-diaeresis
    "\u00c3\u0178" -> "\u00df", // sharp-s (9F reads as cp1252 Y-diaeresis)
    "\u00c2\u00ab" -> "\u00ab", // left guillemet
    "\u00c2\u00bb" -> "\u00bb", // right guillemet
    "\u00c2\u00b0" -> "\u00b0", // degree sign
    "\u00c2\u00a0" -> "\u00a0") // no-break space

  /** Repair double-encoded text: the ordered literal-replace chain. */
  def fixMojibake(text: Column): Column =
    MojibakePairs.foldLeft(text.cast("string")) { case (acc, (m, f)) =>
      replace(acc, lit(m), lit(f))
    }

  /** Build a DuckDB chr()-chain literal for a (possibly non-ASCII) string —
    * keeps the oracle SQL pure ASCII regardless of transport encoding.
    */
  def duckChr(s: String): String =
    s.map(ch => s"chr(${ch.toInt})").mkString("(", " || ", ")")

  /** DuckDB twin of [[fixMojibake]] over a VARCHAR expression `e`. */
  def duckFixMojibake(e: String): String =
    MojibakePairs.foldLeft(e) { case (acc, (m, f)) =>
      s"replace($acc, ${duckChr(m)}, ${duckChr(f)})"
    }

  /** Heaps'-law vocabulary-growth exponent: regress ln(distinct tokens so
    * far) on ln(tokens so far) over the doc-id-ordered corpus prefix —
    * V(N) ≈ K·N^β with β ≈ 0.5 for natural text; β near 1 means the
    * vocabulary never saturates (OCR noise, random ids), β near 0 a
    * closed template vocabulary. The companion of q194's Zipf slope (the
    * two laws are duals) and the empirical basis for every "vocab-sized ≪
    * corpus" table argument in this repo.
    *
    * Shape: a token's FIRST-SEEN doc is min(doc_id) over one (w)-keyed
    * aggregation; per-doc (n_tok, n_novel) then take the TWO-column
    * two-phase prefix sum (Stats.prefixSums — no global window), and the
    * regression folds decimal(38,18) over #docs points. Output: one row
    * (n_docs, total_tokens, vocab, beta).
    */
  def heapsExponent(df: DataFrame, id: Column, text: Column): DataFrame = {
    val perDoc = df.select(id.as("doc_id"),
      size(filter(tokens(text), w => length(w) > 0)).cast("long").as("n_tok"))
    val novel = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), explode(filter(tokens(text),
        w => length(w) > 0)).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    val joined = perDoc.join(novel, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .localCheckpoint()
    val tot = joined.agg(sum(col("n_tok")).as("total_tokens"),
      sum(col("n_novel")).as("vocab"))
    val cum = Stats.prefixSums(joined, col("doc_id"), Seq("n_tok", "n_novel"))
      .where(col("cum_n_tok") > 0L && col("cum_n_novel") > 0L)
      .select(log(col("cum_n_tok").cast("double")).as("x"),
        log(col("cum_n_novel").cast("double")).as("y"))
    cum.agg(count(lit(1)).as("n_docs"),
        Num.dsum38(col("x")).as("sx"), Num.dsum38(col("y")).as("sy"),
        Num.dsum38(col("x") * col("y")).as("sxy"),
        Num.dsum38(col("x") * col("x")).as("sxx"))
      .crossJoin(broadcast(tot))
      .select(col("n_docs"), col("total_tokens"), col("vocab"),
        ((col("n_docs") * col("sxy") - col("sx") * col("sy")) /
          (col("n_docs") * col("sxx") - col("sx") * col("sx"))).as("beta"))
  }

  /** Per-document token-distribution Shannon entropy — the
    * information-density member of the quality family (a gibberish doc that
    * repeats one token scores ~0; templated boilerplate scores low; natural
    * prose scores near ln(distinct)). H = ln(N) − (Σ n·ln n)/N from exact
    * integer token counts; norm_entropy = H/ln(D) (0 when D = 1, so
    * single-token docs read "zero diversity", not NULL).
    *
    * Shape: one explode + one (doc_id, token) aggregation + one doc_id
    * aggregation — tokens cross the shuffle once, with map-side combine on
    * both. The Σ n·ln n fold is decimal(38,18) (Num.dsum38) so the per-doc
    * sum is partition-order independent; every other float op is a fixed
    * per-row expression written identically in the oracle. Docs with zero
    * (length-filtered) tokens emit nothing in either engine.
    */
  def tokenEntropy(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("doc_id"), explode(filter(tokens(text),
      w => length(w) > 0)).as("w"))
    toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_tok"),
        count(lit(1)).as("n_distinct"),
        Num.dsum38(col("n").cast("double") * log(col("n").cast("double")))
          .as("sum_nlnn"))
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        (log(col("n_tok").cast("double")) - col("sum_nlnn") / col("n_tok"))
          .as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1L,
          col("entropy") / log(col("n_distinct").cast("double")))
          .otherwise(lit(0.0)))
  }

  /** DuckDB twin of [[tokenEntropy]] over table `tbl(idCol, textCol)`. */
  def duckTokenEntropy(tbl: String, idCol: String, textCol: String): String =
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id, unnest(list_filter(
       |    string_split_regex($textCol, '\\s+'), w -> length(w) > 0)) AS w
       |  FROM $tbl),
       |cnt AS (SELECT doc_id, w, COUNT(*) AS n FROM toks GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tok,
       |    COUNT(*) AS n_distinct,
       |    ${Num.duckDsum38("CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))")}
       |      AS sum_nlnn
       |  FROM cnt GROUP BY 1)
       |SELECT doc_id, n_tok, n_distinct,
       |  ln(CAST(n_tok AS DOUBLE)) - sum_nlnn / n_tok AS entropy,
       |  CASE WHEN n_distinct > 1
       |    THEN (ln(CAST(n_tok AS DOUBLE)) - sum_nlnn / n_tok)
       |      / ln(CAST(n_distinct AS DOUBLE))
       |    ELSE 0.0 END AS norm_entropy
       |FROM agg""".stripMargin

  /** Skip-gram PMI pairs — the word2vec-era co-occurrence statistic that
    * seeds embedding vocabularies and collocation dictionaries: for ordered
    * token pairs within a ±`window` skip-gram, pmi = ln P(a,b) − ln P(a)
    * − ln P(b) with P(a,b) = c_ab/T over pair emissions and P(·) = c/N over
    * token occurrences.
    *
    * Shape: pair EMISSION is a pure per-row HOF (positions i, i+d inside
    * each doc's own token array — no positional self-join, no shuffle
    * before the count), so pair volume is ≤ window·N rows of two tokens
    * each. Unigram and total frames are vocab-sized / 1-row; totals ride
    * in as 1-row broadcast crossJoins and the two unigram attaches are
    * vocab-keyed joins. Top-k is orderBy+limit (TakeOrderedAndProject, no
    * global sort). All counts are exact longs; pmi is ONE fixed-order
    * expression over their logs, written identically in the oracle (whose
    * replay is the relational positional join over the same positions).
    */
  def skipgramPmiPairs(df: DataFrame, id: Column, text: Column,
      window: Int = 2, minCount: Long = 5L, topK: Int = 50): DataFrame = {
    require(window >= 1, "skip-gram window must be at least 1")
    val t = filter(tokens(text), w => length(w) > 0)
    val base = df.select(id.as("doc_id"), t.as("t")).localCheckpoint()
    val pairsCol = flatten(transform(
      sequence(lit(1), size(col("t")) - 1),
      i => transform(
        sequence(lit(1), least(lit(window), size(col("t")) - i)),
        d => struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + d).as("b")))))
    val pairs = base.where(size(col("t")) >= 2)
      .select(explode(pairsCol).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val uni = base.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val tPairs = pairs.agg(sum(col("c_ab")).as("t_pairs"))
    pairs.where(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(tPairs))
      .select(col("a"), col("b"), col("c_ab"),
        (log(col("c_ab").cast("double")) - log(col("t_pairs").cast("double"))
          - log(col("c_a").cast("double")) - log(col("c_b").cast("double"))
          + lit(2.0) * log(col("n_tok").cast("double"))).as("pmi"))
      .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }

  /** DuckDB twin of [[skipgramPmiPairs]]: the relational positional-join
    * replay of the per-row pair emission (same (i, i+d) pairs, d in
    * [1, window]).
    */
  def duckSkipgramPmiPairs(tbl: String, idCol: String, textCol: String,
      window: Int = 2, minCount: Long = 5L, topK: Int = 50): String =
    s"""WITH t0 AS (
       |  SELECT $idCol AS doc_id, list_filter(
       |    string_split_regex($textCol, '\\s+'), w -> length(w) > 0) AS t
       |  FROM $tbl),
       |pos AS (
       |  SELECT doc_id, i, t[i] AS w
       |  FROM t0, UNNEST(range(1, len(t) + 1)) AS r(i)),
       |pairs AS (
       |  SELECT p1.w AS a, p2.w AS b, COUNT(*) AS c_ab
       |  FROM pos p1 JOIN pos p2
       |    ON p1.doc_id = p2.doc_id AND p2.i - p1.i BETWEEN 1 AND $window
       |  GROUP BY 1, 2),
       |uni AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY 1),
       |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
       |tp AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS t_pairs FROM pairs)
       |SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
       |  ln(CAST(c_ab AS DOUBLE)) - ln(CAST(t_pairs AS DOUBLE))
       |    - ln(CAST(ua.c AS DOUBLE)) - ln(CAST(ub.c AS DOUBLE))
       |    + 2.0 * ln(CAST(n_tok AS DOUBLE)) AS pmi
       |FROM pairs
       |JOIN uni ua ON ua.w = a JOIN uni ub ON ub.w = b
       |CROSS JOIN nt CROSS JOIN tp
       |WHERE c_ab >= $minCount
       |ORDER BY pmi DESC, a ASC, b ASC
       |LIMIT $topK""".stripMargin

  // -------------------------------------------------------------------------
  // Unigram language-model tokenizer (SentencePiece-style, Viterbi-EM).
  //
  // The OTHER industry-standard subword tokenizer beside BPE (bpeTrain):
  // instead of greedy merges, a piece VOCABULARY with probabilities and a
  // Viterbi segmentation maximizing Σ log p(piece). One hard-EM round,
  // fully deterministic and replayed step-for-step by the DuckDB twin:
  //
  //  1. seed candidates = every substring (length ≤ maxPieceLen) of every
  //     distinct word, weighted by word frequency; keep ALL single
  //     characters (completeness — every position stays reachable) plus the
  //     top-`topV` multi-char pieces (freq DESC, piece ASC);
  //  2. seed log-probs lp = ln(freq / Σ freq) over the kept set;
  //  3. E-step: per distinct WORD (never per corpus row), the Viterbi DP
  //     dp[i] = max_k dp[i−k] + lp(w[i−k+1..i]), k ≤ maxPieceLen, with the
  //     SMALLEST k winning ties (strictly-greater update, k ascending —
  //     the tie-break both engines replay identically);
  //  4. M-step: piece counts over the Viterbi segmentations, weighted by
  //     word frequency → re-estimated probabilities.
  //
  // Exactness: lp values are ln of single divisions of exact integers; the
  // DP adds ≤ maxWordLen doubles in the fixed recurrence order, so every
  // score — and therefore every argmax under the shared tie-break — is
  // bit-identical cross-engine. Words longer than `maxWordLen` are excluded
  // in BOTH engines (the DP unroll bound is part of the operator contract).
  //
  // Scale: one corpus tokenization; everything after runs on the DISTINCT
  // word vocabulary (Heaps-sublinear) with parameter-bounded piece lists
  // carried as two broadcast arrays — no driver collect, no per-row joins.
  // -------------------------------------------------------------------------

  /** E-step: (w, n, seg) — every distinct word with its Viterbi
    * segmentation under the seed piece model. See the section comment.
    */
  def unigramSegmentWords(df: org.apache.spark.sql.DataFrame, text: Column,
      maxPieceLen: Int = 4, topV: Int = 40,
      maxWordLen: Int = 12): org.apache.spark.sql.DataFrame = {
    require(maxPieceLen >= 1 && topV >= 1 && maxWordLen >= 1)
    val words = df.select(explode(tokens(text)).as("w"))
      .where(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val cand = words.select(col("n"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(sequence(lit(1),
              least(lit(maxPieceLen), length(col("w")) - i + 1)),
            l => col("w").substr(i, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).as("freq"))
      .localCheckpoint()
    val chars = cand.where(length(col("piece")) === 1)
    val multi = cand.where(length(col("piece")) > 1)
      .orderBy(col("freq").desc, col("piece").asc).limit(topV)
    val kept = chars.unionByName(multi)
    val tot = kept.agg(sum(col("freq")).as("t"))
    val pieces = kept.crossJoin(broadcast(tot))
      .select(col("piece"), col("freq"),
        log(col("freq").cast("double") / col("t").cast("double")).as("lp"))
    // the model rides every word row as two piece-ordered broadcast arrays
    val lists = pieces.agg(
      transform(sort_array(collect_list(struct(col("piece"), col("lp")))),
        s => s.getField("piece")).as("pk"),
      transform(sort_array(collect_list(struct(col("piece"), col("lp")))),
        s => s.getField("lp")).as("pv"))
    val NEG = -1.0e18
    def lp(p: Column): Column = {
      val pos = array_position(col("pk"), p)
      when(pos > 0, element_at(col("pv"), pos.cast("int"))).otherwise(lit(NEG))
    }
    val dpExpr = aggregate(
      sequence(lit(1), length(col("w"))),
      array(struct(lit(0.0).as("s"), lit(0).as("k"))),
      (acc, i) => {
        val best = (1 to maxPieceLen).foldLeft(
          struct(lit(NEG).as("s"), lit(0).as("k"))) { (cur, k) =>
          val sc = element_at(acc, (i - lit(k) + 1).cast("int")).getField("s") +
            lp(col("w").substr(i - lit(k) + 1, lit(k)))
          when(lit(k) <= i && sc > cur.getField("s"),
            struct(sc.as("s"), lit(k).as("k"))).otherwise(cur)
        }
        concat(acc, array(best))
      })
    // backtrack: maxWordLen folds suffice (each consumes ≥ 1 char); pos
    // derives from chars already consumed, pieces PREPEND so seg reads
    // left-to-right
    val segExpr = aggregate(
      sequence(lit(1), length(col("w"))),
      struct(length(col("w")).as("pos"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val pos = st.getField("pos")
        val k = element_at(col("dp"), (pos + 1).cast("int")).getField("k")
        when(pos > 0,
          struct((pos - k).as("pos"),
            concat(array(col("w").substr(pos - k + 1, k)),
              st.getField("ps")).as("ps")))
          .otherwise(st)
      },
      st => st.getField("ps"))
    words.crossJoin(broadcast(lists))
      .withColumn("dp", dpExpr)
      .select(col("w"), col("n"), segExpr.as("seg"))
  }

  /** M-step over [[unigramSegmentWords]]: re-estimated piece statistics
    * (piece, cnt, prob), cnt weighted by word frequency.
    */
  def unigramPieceStats(segmented: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val counts = segmented.select(col("n"), explode(col("seg")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      .localCheckpoint()
    val tot = counts.agg(sum(col("cnt")).as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        (col("cnt").cast("double") / col("t").cast("double")).as("prob"))
  }

  /** DuckDB twin of [[unigramSegmentWords]] — CTE chain ending in
    * `segw(w, n, seg)`. The DP and backtrack are fully UNROLLED as
    * `maxWordLen` plain CTE steps (the BPE oracle discipline) instead of
    * list_reduce folds: DuckDB 1.0 lambdas that capture outer columns
    * (here `w`/`dp`) returned OTHER ROWS' values in some vectorized batch
    * paths during development (a q362-with-LIMIT run was right while the
    * same CTE without it segmented "customer" with pieces from a different
    * word), so no lambda in this chain captures anything.
    */
  def duckUnigramCtes(src: String, textCol: String, maxPieceLen: Int = 4,
      topV: Int = 40, maxWordLen: Int = 12): String = {
    val NEG = "-1.0e18"
    def lpOf(piece: String): String =
      s"COALESCE(pv[list_position(pk, $piece)], $NEG)"
    // DP step K: append best(position K) — nested strictly-greater CASE,
    // k ascending, so the SMALLEST k wins ties (the engine's tie-break)
    val dpSteps = (1 to maxWordLen).map { bigK =>
      val best = (1 to math.min(maxPieceLen, bigK)).foldLeft(
        s"{'s': CAST($NEG AS DOUBLE), 'k': 0}") { (cur, k) =>
        val sc = s"(dp[${bigK - k + 1}].s + ${lpOf(s"substr(w, ${bigK - k + 1}, $k)")})"
        s"""CASE WHEN $sc > ($cur).s
           | THEN {'s': $sc, 'k': $k} ELSE $cur END""".stripMargin
      }
      s"""udp$bigK AS (
         |  SELECT w, n, pk, pv,
         |    CASE WHEN length(w) >= $bigK THEN list_append(dp, $best)
         |         ELSE dp END AS dp
         |  FROM udp${bigK - 1})""".stripMargin
    }.mkString(",\n")
    // backtrack step J: consume one piece while the cursor is open
    val btSteps = (1 to maxWordLen).map { j =>
      s"""ubt$j AS (
         |  SELECT w, n, dp,
         |    CASE WHEN pos > 0 THEN pos - dp[pos + 1].k ELSE pos END AS pos,
         |    CASE WHEN pos > 0
         |      THEN list_prepend(
         |        substr(w, pos - dp[pos + 1].k + 1, dp[pos + 1].k), ps)
         |      ELSE ps END AS ps
         |  FROM ubt${j - 1})""".stripMargin
    }.mkString(",\n")
    s"""uw AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(string_split_regex($textCol, '\\s+')) AS w FROM $src)
       |  WHERE length(w) BETWEEN 1 AND $maxWordLen GROUP BY 1),
       |ucand AS (
       |  SELECT substr(w, ci, cl) AS piece, CAST(SUM(n) AS BIGINT) AS freq
       |  FROM uw,
       |    unnest(range(1, length(w) + 1)) AS t1(ci),
       |    unnest(range(1, least($maxPieceLen, length(w) - ci + 1) + 1)) AS t2(cl)
       |  GROUP BY 1),
       |ukept AS (
       |  SELECT piece, freq FROM ucand WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq FROM ucand WHERE length(piece) > 1
       |    ORDER BY freq DESC, piece ASC LIMIT $topV)),
       |utot AS (SELECT CAST(SUM(freq) AS BIGINT) AS t FROM ukept),
       |upieces AS (
       |  SELECT piece, freq,
       |    ln(CAST(freq AS DOUBLE) / CAST(t AS DOUBLE)) AS lp
       |  FROM ukept CROSS JOIN utot),
       |plists AS (
       |  SELECT list(piece ORDER BY piece) AS pk, list(lp ORDER BY piece) AS pv
       |  FROM upieces),
       |udp0 AS (
       |  SELECT w, n, pk, pv, [{'s': CAST(0.0 AS DOUBLE), 'k': 0}] AS dp
       |  FROM uw CROSS JOIN plists),
       |$dpSteps,
       |ubt0 AS (
       |  SELECT w, n, dp, length(w) AS pos, CAST([] AS VARCHAR[]) AS ps
       |  FROM udp$maxWordLen),
       |$btSteps,
       |segw AS (SELECT w, n, ps AS seg FROM ubt$maxWordLen)""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Stylometry: Burrows' Delta, Jensen-Shannon source divergence, Yule's K,
  // RAKE keyword extraction. All single-corpus-pass operators whose working
  // frames collapse to (sources × topN) / (vocabulary) rows before any join.
  // -------------------------------------------------------------------------

  /** Burrows' Delta authorship distance between sources: z-score each
    * source's relative frequency of the corpus' top-`topN` tokens (the
    * "function words" — in classic stylometry the most frequent words carry
    * the authorial signal), then Delta(a,b) = mean |z_a − z_b| over those
    * tokens. Zero-variance tokens (identical relative frequency everywhere)
    * are excluded — their z is undefined and they carry no signal.
    *
    * Exactness: relative frequencies are single divisions of exact integer
    * counts (deterministic doubles); μ/σ and the final mean fold
    * decimal(38,18), so every number is partition-order independent and the
    * DuckDB twin replays the identical arithmetic.
    *
    * Scale: ONE corpus tokenization/aggregation; the top-N cut is
    * TakeOrdered; every later frame is (sources × topN) ≤ a few thousand
    * rows. Output: (source_a, source_b, delta, n_terms), a < b.
    */
  def burrowsDelta(df: org.apache.spark.sql.DataFrame, source: Column,
      text: Column, topN: Int = 30): org.apache.spark.sql.DataFrame = {
    val sc = df.select(source.as("source"), explode(tokens(text)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val tot = sc.groupBy(col("source")).agg(sum(col("c_st")).as("t_s"))
    val top = sc.groupBy(col("tok")).agg(sum(col("c_st")).as("c_c"))
      .orderBy(col("c_c").desc, col("tok").asc)
      .limit(topN)
      .select(col("tok"))
    val f = broadcast(top).crossJoin(broadcast(tot))
      .join(sc, Seq("source", "tok"), "left_outer")
      .select(col("source"), col("tok"),
        (coalesce(col("c_st"), lit(0L)).cast("double") /
          col("t_s").cast("double")).as("f"))
      .localCheckpoint()
    val stats = f.groupBy(col("tok")).agg(
        (Num.dsum38(col("f")) / count(lit(1))).as("mu"),
        (Num.dsum38(col("f") * col("f")) / count(lit(1))).as("m2"))
      .select(col("tok"), col("mu"),
        (col("m2") - col("mu") * col("mu")).as("v"))
      .where(col("v") > 0.0)
      .select(col("tok"), col("mu"), sqrt(col("v")).as("sd"))
    val z = f.join(broadcast(stats), "tok")
      .select(col("source"), col("tok"),
        ((col("f") - col("mu")) / col("sd")).as("z"))
    z.select(col("source").as("source_a"), col("tok"), col("z").as("za"))
      .join(z.select(col("source").as("source_b"), col("tok"),
        col("z").as("zb")), "tok")
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((Num.dsum38(abs(col("za") - col("zb"))) / count(lit(1))).as("delta"),
        count(lit(1)).as("n_terms"))
  }

  /** DuckDB twin of [[burrowsDelta]] — the same chain, step for step. */
  def duckBurrowsDelta(tbl: String, srcCol: String, textCol: String,
      topN: Int = 30): String =
    s"""WITH sc AS (
       |  SELECT $srcCol AS source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
       |  FROM (SELECT $srcCol, unnest(string_split_regex($textCol, '\\s+')) AS tok
       |        FROM $tbl)
       |  GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s FROM sc GROUP BY 1),
       |top AS (
       |  SELECT tok FROM (
       |    SELECT tok, SUM(c_st) AS c_c FROM sc GROUP BY 1
       |    ORDER BY c_c DESC, tok ASC LIMIT $topN)),
       |f AS (
       |  SELECT tot.source, top.tok,
       |    CAST(COALESCE(sc.c_st, 0) AS DOUBLE) / CAST(tot.t_s AS DOUBLE) AS f
       |  FROM top CROSS JOIN tot
       |  LEFT OUTER JOIN sc ON sc.source = tot.source AND sc.tok = top.tok),
       |stats AS (
       |  SELECT tok, mu, sqrt(v) AS sd FROM (
       |    SELECT tok,
       |      ${Num.duckDsum38("f")} / COUNT(*) AS mu,
       |      ${Num.duckDsum38("f * f")} / COUNT(*) -
       |        (${Num.duckDsum38("f")} / COUNT(*)) *
       |        (${Num.duckDsum38("f")} / COUNT(*)) AS v
       |    FROM f GROUP BY 1)
       |  WHERE v > 0.0),
       |z AS (
       |  SELECT f.source, f.tok, (f.f - stats.mu) / stats.sd AS z
       |  FROM f JOIN stats ON f.tok = stats.tok)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  ${Num.duckDsum38("abs(a.z - b.z)")} / COUNT(*) AS delta,
       |  CAST(COUNT(*) AS BIGINT) AS n_terms
       |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions, over the corpus' top-`topV` tokens (distributions are
    * renormalized WITHIN that vocabulary, so each sums to 1 over the grid —
    * the cap is what bounds the pair frame at corpus scale and is part of
    * the metric's definition here, mirrored in the oracle).
    *
    * JS(P,Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m = (p+q)/2, with the 0·ln0
    * terms dropped explicitly (p=0 contributes nothing). Symmetric, finite,
    * ∈ [0, ln 2] — unlike the one-sided KL (q193) it never blows up on a
    * token one source lacks.
    *
    * Scale: one corpus aggregation → (sources × topV) grid; the pair join
    * is (sources² × topV) — bounded by parameters, not data.
    */
  def sourceTokenJS(df: org.apache.spark.sql.DataFrame, source: Column,
      text: Column, topV: Int = 200): org.apache.spark.sql.DataFrame = {
    val sc = df.select(source.as("source"), explode(tokens(text)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val top = sc.groupBy(col("tok")).agg(sum(col("c_st")).as("c_c"))
      .orderBy(col("c_c").desc, col("tok").asc)
      .limit(topV)
      .select(col("tok"))
    val rc = sc.join(broadcast(top), "tok").localCheckpoint()
    val tot = rc.groupBy(col("source")).agg(sum(col("c_st")).as("t_s"))
    val p = broadcast(top).crossJoin(broadcast(tot))
      .join(rc, Seq("source", "tok"), "left_outer")
      .select(col("source"), col("tok"),
        (coalesce(col("c_st"), lit(0L)).cast("double") /
          col("t_s").cast("double")).as("p"))
    val a = p.select(col("source").as("source_a"), col("tok"), col("p").as("pa"))
    val b = p.select(col("source").as("source_b"), col("tok"), col("p").as("pb"))
    val m = (col("pa") + col("pb")) / lit(2.0)
    val term =
      when(col("pa") > 0.0, col("pa") * log(col("pa") / m)).otherwise(lit(0.0)) +
      when(col("pb") > 0.0, col("pb") * log(col("pb") / m)).otherwise(lit(0.0))
    a.join(b, "tok")
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((Num.dsum38(term) * lit(0.5)).as("js_divergence"),
        count(lit(1)).as("n_token_types"))
  }

  /** DuckDB twin of [[sourceTokenJS]]. */
  def duckSourceTokenJS(tbl: String, srcCol: String, textCol: String,
      topV: Int = 200): String =
    s"""WITH sc AS (
       |  SELECT $srcCol AS source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
       |  FROM (SELECT $srcCol, unnest(string_split_regex($textCol, '\\s+')) AS tok
       |        FROM $tbl)
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT tok FROM (
       |    SELECT tok, SUM(c_st) AS c_c FROM sc GROUP BY 1
       |    ORDER BY c_c DESC, tok ASC LIMIT $topV)),
       |rc AS (SELECT sc.* FROM sc JOIN top ON sc.tok = top.tok),
       |tot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s FROM rc GROUP BY 1),
       |p AS (
       |  SELECT tot.source, top.tok,
       |    CAST(COALESCE(rc.c_st, 0) AS DOUBLE) / CAST(tot.t_s AS DOUBLE) AS p
       |  FROM top CROSS JOIN tot
       |  LEFT OUTER JOIN rc ON rc.source = tot.source AND rc.tok = top.tok)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  ${Num.duckDsum38(
      "(CASE WHEN a.p > 0.0 THEN a.p * ln(a.p / ((a.p + b.p) / 2.0)) ELSE 0.0 END " +
      "+ CASE WHEN b.p > 0.0 THEN b.p * ln(b.p / ((a.p + b.p) / 2.0)) ELSE 0.0 END)")} * 0.5
       |    AS js_divergence,
       |  CAST(COUNT(*) AS BIGINT) AS n_token_types
       |FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** Yule's K vocabulary-richness characteristic per group:
    * K = 10⁴·(Σ_t m_t² − N)/N², N = token count, m_t = occurrences of type
    * t. Repetition-heavy text scores high; rich vocabulary scores low; K is
    * (asymptotically) length-invariant — the reason stylometry prefers it
    * over raw type/token ratio, which collapses as documents grow.
    *
    * Σm² folds decimal(38,0): a 100 TB source can put m_t near 10¹², whose
    * square overflows int64 — the decimal ladder is load-bearing, not
    * pedantry. The two divisions at the end are deterministic doubles.
    */
  def yuleK(df: org.apache.spark.sql.DataFrame, group: Column,
      text: Column): org.apache.spark.sql.DataFrame =
    df.select(group.as("source"), explode(tokens(text)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("source"))
      .agg(sum(col("m")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("m") * col("m")).cast("decimal(38,0)")).as("sm2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        (lit(10000.0) *
          (col("sm2").cast("double") - col("n_tokens").cast("double")) /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("yule_k"))

  /** DuckDB twin of [[yuleK]]. */
  def duckYuleK(tbl: String, grpCol: String, textCol: String): String =
    s"""WITH m AS (
       |  SELECT $grpCol AS source, tok, CAST(COUNT(*) AS BIGINT) AS m
       |  FROM (SELECT $grpCol, unnest(string_split_regex($textCol, '\\s+')) AS tok
       |        FROM $tbl)
       |  GROUP BY 1, 2)
       |SELECT source,
       |  CAST(SUM(m) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_types,
       |  10000.0 * (CAST(SUM(CAST(m * m AS DECIMAL(38,0))) AS DOUBLE)
       |    - CAST(SUM(m) AS DOUBLE))
       |    / (CAST(SUM(m) AS DOUBLE) * CAST(SUM(m) AS DOUBLE)) AS yule_k
       |FROM m GROUP BY 1""".stripMargin

  /** RAKE keyword extraction (Rose et al.): candidate phrases are maximal
    * runs of non-stopword tokens; word score = deg(w)/freq(w) where freq
    * counts candidate occurrences and deg sums the lengths of the phrases
    * containing each occurrence; phrase score = Σ word scores. Returns the
    * global top-`k` phrases by (score, occurrences) with deterministic
    * tie-breaks.
    *
    * The run segmentation is ONE per-document analytic window (stop-flag
    * prefix sum — documents co-locate, so the window never crosses
    * partitions); phrase assembly sorts by position INSIDE the group
    * (sort_array of (pos, tok) structs — collect_list order is not a
    * contract). Word scores are single divisions of exact integers; the
    * per-phrase score folds decimal(38,18), so identical phrase texts score
    * identically and the MAX over instances is exact. Top-k is TakeOrdered.
    */
  def rakeKeywords(df: org.apache.spark.sql.DataFrame, id: Column,
      text: Column, stopwords: Seq[String], k: Int = 20): org.apache.spark.sql.DataFrame = {
    val pos = df.select(id.as("doc_id"), posexplode(tokens(text)).as(Seq("pos", "tok")))
      .withColumn("stop", col("tok").isin(stopwords: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val runs = pos
      .withColumn("run", sum(when(col("stop"), 1L).otherwise(0L)).over(w))
      .where(!col("stop"))
    val phrases = runs.groupBy(col("doc_id"), col("run"))
      .agg(array_join(transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")), " ").as("phrase"),
        count(lit(1)).as("plen"))
      .localCheckpoint()
    val words = phrases.select(col("doc_id"), col("run"), col("phrase"),
      col("plen"), explode(split(col("phrase"), " ")).as("tok"))
    val wstats = words.groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("tok"),
        (col("deg").cast("double") / col("freq").cast("double")).as("wscore"))
    words.join(broadcast(wstats), "tok")
      .groupBy(col("doc_id"), col("run"))
      .agg(max(col("phrase")).as("phrase"), // all equal within the group
        Num.dsum38(col("wscore")).as("pscore"))
      .groupBy(col("phrase"))
      .agg(max(col("pscore")).as("score"), count(lit(1)).as("n_occurrences"))
      .orderBy(col("score").desc, col("n_occurrences").desc, col("phrase").asc)
      .limit(k)
  }

  /** DuckDB twin of [[rakeKeywords]] — identical run segmentation and
    * scoring chain. */
  def duckRakeKeywords(tbl: String, idCol: String, textCol: String,
      stopwords: Seq[String], k: Int = 20): String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t0 AS (
       |  SELECT $idCol AS doc_id, string_split_regex($textCol, '\\s+') AS t
       |  FROM $tbl),
       |pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[CAST(i AS INTEGER)] AS tok
       |  FROM t0, UNNEST(range(1, len(t) + 1)) AS r(i)),
       |flagged AS (
       |  SELECT doc_id, pos, tok, tok IN ($stopList) AS stop FROM pos),
       |runs AS (
       |  SELECT doc_id, pos, tok,
       |    CAST(SUM(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run,
       |    stop
       |  FROM flagged),
       |phrases AS (
       |  SELECT doc_id, run,
       |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    CAST(COUNT(*) AS BIGINT) AS plen
       |  FROM runs WHERE NOT stop GROUP BY 1, 2),
       |words AS (
       |  SELECT doc_id, run, plen, unnest(string_split(phrase, ' ')) AS tok
       |  FROM phrases),
       |wstats AS (
       |  SELECT tok,
       |    CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS wscore
       |  FROM words GROUP BY 1),
       |pscore AS (
       |  SELECT doc_id, run, MAX(phrase) AS phrase,
       |    ${Num.duckDsum38("wscore")} AS pscore
       |  FROM (SELECT w.doc_id, w.run, p.phrase, s.wscore
       |        FROM words w
       |        JOIN phrases p ON p.doc_id = w.doc_id AND p.run = w.run
       |        JOIN wstats s ON s.tok = w.tok)
       |  GROUP BY 1, 2)
       |SELECT phrase, MAX(pscore) AS score,
       |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
       |FROM pscore GROUP BY 1
       |ORDER BY score DESC, n_occurrences DESC, phrase ASC
       |LIMIT $k""".stripMargin
  }
}
