package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Hashing, Num, Sampling, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis extension queries over `documents` (language-ID heuristic,
  * quality scoring, token counting, fingerprinting) — SURVEY.md §7.2 step 8.
  */
object TextQueries {

  /** The fixed retrieval query shared by q91 (BM25) and q92 (hybrid RRF). */
  private val HybridTerms = Seq("join", "scan", "merge")

  /** The batched-hybrid oracle shared by q97 (in-query) and q224 (served
    * from durable tables): the table-served batch stack must reproduce the
    * same per-query fused ranking.
    */
  private lazy val duckHybridBatchOracle: String = {
        val rrf2 =
          """COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(lex_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
            |      + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(vec_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))""".stripMargin
        s"""WITH ${duckBm25BatchCtes(BatchQueries)},
           |$DuckBatchVecCtes,
           |blex AS (SELECT qid, doc_id, rank AS lex_rank FROM bmb WHERE rank <= 50),
           |bvec AS (SELECT qid, doc_id, vec_rank FROM bvecranked WHERE vec_rank <= 50)
           |SELECT CAST(qid AS BIGINT) AS qid, doc_id, lex_rank, vec_rank, rrf, rank FROM (
           |  SELECT qid, doc_id, lex_rank, vec_rank,
           |    $rrf2 AS rrf,
           |    row_number() OVER (PARTITION BY qid ORDER BY $rrf2 DESC, doc_id ASC) AS rank
           |  FROM blex FULL OUTER JOIN bvec USING (qid, doc_id))
           |WHERE rank <= 10""".stripMargin
  }

  /** The hybrid-RRF oracle shared by q92 (in-query) and q217 (served from
    * durable tables): both engines' fused rankings must equal the same
    * relational replay — table-serving may lose nothing.
    */
  private lazy val duckHybridOracle: String = {
        val qvals = HybridTerms.map(t => s"('$t')").mkString(", ")
        s"""WITH ${duckBm25Ctes(HybridTerms)},
           |lex AS (SELECT doc_id, rank AS lex_rank FROM bmranked WHERE rank <= 100),
           |hcontrib AS (
           |  SELECT doc_id, (h // 2) % 32 AS bucket,
           |    CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END AS s
           |  FROM (SELECT doc_id, ${Hashing.duckHash60("tok")} AS h FROM toks)),
           |hw AS (SELECT doc_id, bucket, SUM(s) AS w FROM hcontrib GROUP BY 1, 2),
           |dvec AS (
           |  SELECT d.doc_id, list(CAST(COALESCE(hw.w, 0) AS DOUBLE) ORDER BY g.dim) AS v
           |  FROM (SELECT DISTINCT doc_id FROM documents) d
           |  CROSS JOIN (SELECT unnest(range(0, 32)) AS dim) g
           |  LEFT JOIN hw ON hw.doc_id = d.doc_id AND hw.bucket = g.dim
           |  GROUP BY d.doc_id),
           |qcontrib AS (
           |  SELECT (h // 2) % 32 AS bucket, CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END AS s
           |  FROM (SELECT ${Hashing.duckHash60("tok")} AS h FROM (VALUES $qvals) q(tok))),
           |qw AS (SELECT bucket, SUM(s) AS w FROM qcontrib GROUP BY 1),
           |qvec AS (
           |  SELECT list(CAST(COALESCE(qw.w, 0) AS DOUBLE) ORDER BY g.dim) AS qv
           |  FROM (SELECT unnest(range(0, 32)) AS dim) g
           |  LEFT JOIN qw ON qw.bucket = g.dim),
           |vecranked AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS vec_rank
           |  FROM (
           |    SELECT doc_id, ${Num.duckDot("v", "qv")} / (${Num.duckNorm("v")} * ${Num.duckNorm("qv")}) AS cos
           |    FROM dvec CROSS JOIN qvec
           |    WHERE ${Num.duckNorm("v")} > 0 AND ${Num.duckNorm("qv")} > 0)),
           |vec AS (SELECT doc_id, vec_rank FROM vecranked WHERE vec_rank <= 100)
           |SELECT doc_id, lex_rank, vec_rank, rrf, rank FROM (
           |  SELECT doc_id, lex_rank, vec_rank,
           |    COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(lex_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
           |      + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(vec_rank AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS rrf,
           |    row_number() OVER (
           |      ORDER BY COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(lex_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
           |        + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(vec_rank AS DOUBLE)), CAST(0.0 AS DOUBLE)) DESC,
           |      doc_id ASC) AS rank
           |  FROM lex FULL OUTER JOIN vec USING (doc_id))
           |WHERE rank <= 20""".stripMargin
  }

  /** The CMS estimate-vs-exact oracle shared by q103 (in-query sketch) and
    * q216 (merged durable sketch table): CMS linearity means both engines'
    * estimate surfaces are the SAME relational per-cell replay over the
    * full events table.
    */
  private def duckCmsOracle(evFilter: String = ""): String = {
    val cellHash = Hashing.duckHash60("('cm' || CAST(r AS VARCHAR) || '-' || u)")
    val probeHash = Hashing.duckHash60("('cm' || CAST(rr.r AS VARCHAR) || '-' || p.probe_u)")
    s"""WITH ev AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events$evFilter),
       |probes(probe_u) AS (VALUES ('1'), ('5'), ('17'), ('42'), ('99')),
       |rows_r(r) AS (VALUES (0), (1), (2), (3)),
       |cells AS (
       |  SELECT event_type, r, $cellHash % 256 AS c, COUNT(*) AS n
       |  FROM ev CROSS JOIN rows_r GROUP BY 1, 2, 3),
       |pcells AS (
       |  SELECT p.probe_u, rr.r, $probeHash % 256 AS c
       |  FROM probes p CROSS JOIN rows_r rr),
       |est AS (
       |  SELECT et.event_type, pc.probe_u, MIN(COALESCE(cells.n, 0)) AS est
       |  FROM (SELECT DISTINCT event_type FROM ev) et
       |  CROSS JOIN pcells pc
       |  LEFT JOIN cells ON cells.event_type = et.event_type
       |    AND cells.r = pc.r AND cells.c = pc.c
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT event_type, u AS probe_u, COUNT(*) AS exact
       |  FROM ev WHERE u IN ('1', '5', '17', '42', '99') GROUP BY 1, 2)
       |SELECT e.event_type, e.probe_u, CAST(e.est AS BIGINT) AS est,
       |  CAST(COALESCE(x.exact, 0) AS BIGINT) AS exact,
       |  e.est >= COALESCE(x.exact, 0) AS no_undercount
       |FROM est e LEFT JOIN exact x USING (event_type, probe_u)""".stripMargin
  }

  /** The fixed query TABLE for the batched retrieval queries q96–q98:
    * variable term counts on purpose (the batch path cannot rely on the
    * fixed-pivot trick, so the fixture must exercise ragged queries).
    */
  private val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("join", "scan", "merge"),
    1L -> Seq("filter", "sort", "group"),
    2L -> Seq("stream", "window", "batch", "spark"))

  /** DuckDB CTE chain for BPE training over `documents`: word counts `wc`,
    * symbolized vocab `v0..v<numMerges>` (word column carried through every
    * fold so the final vocabulary doubles as the q111 encoder dictionary —
    * the pair counting ignores it), per-step argmax `best1..best<numMerges>`
    * with the engine's exact tie-break (cnt DESC, a ASC, b ASC) and the
    * identical greedy left-fold via `list_reduce` over single-element lists.
    * Shared by q102 (merge table) and q111 (encoding).
    */
  private def duckBpeCtes(numMerges: Int, src: String = "documents"): String = {
    val steps = (1 to numMerges).map { i =>
      s"""p$i AS (
         |  SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, syms[pi] AS a, syms[pi + 1] AS b
         |    FROM v${i - 1}, unnest(range(1, len(syms))) AS t(pi))
         |  GROUP BY 1, 2),
         |best$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |v$i AS (
         |  SELECT w, n, list_reduce(list_transform(syms, bs -> [bs]),
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = bb.a AND x[1] = bb.b
         |                THEN list_append(acc[1:len(acc) - 1], bb.a || bb.b)
         |                ELSE list_concat(acc, x) END) AS syms
         |  FROM v${i - 1} CROSS JOIN best$i bb)""".stripMargin
    }.mkString(",\n")
    s"""wc AS (
       |  SELECT w, COUNT(*) AS n FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM $src)
       |  WHERE length(w) > 0 GROUP BY 1),
       |v0 AS (
       |  SELECT w, n, list_transform(range(1, length(w) + 1), ci -> substr(w, ci, 1)) AS syms
       |  FROM wc),
       |$steps""".stripMargin
  }

  /** BM25 per-(doc, term) contribution — Lucene idf, k1=1.2, b=0.75 — over
    * CTE columns `tf, df, n, total_dl, dl`; every fraction literal CAST to
    * DOUBLE so DuckDB's decimal literals can't shift the arithmetic. Shared
    * by the single-query and batch CTE chains.
    */
  private val DuckBm25Contrib: String =
    """ln(CAST(1.0 AS DOUBLE)
      |        + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |          / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |      * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tf AS DOUBLE)
      |        + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
      |            / (CAST(total_dl AS DOUBLE) / CAST(n AS DOUBLE))))""".stripMargin

  /** DuckDB CTE chain ending in `bmranked(doc_id, score, rank)`: the exact
    * twin of `Text.bm25TopK`'s arithmetic (Lucene idf, k1=1.2, b=0.75,
    * per-term pivot columns added in term order; every fraction literal CAST
    * to DOUBLE so DuckDB's decimal literals can't shift the arithmetic).
    * Also defines `toks` (doc_id, tok), reused by q92's embedding CTEs.
    */
  private def duckBm25Ctes(terms: Seq[String], src: String = "documents"): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val cs = terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN tok = '$t' THEN contrib ELSE CAST(0.0 AS DOUBLE) END) AS c$i"
    }.mkString(", ")
    val scoreExpr = terms.indices.map(i => s"c$i").reduce((a, x) => s"($a + $x)")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM $src),
       |dl AS (
       |  SELECT doc_id, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS dl
       |  FROM $src),
       |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
       |  WHERE tok IN ($inList) GROUP BY 1, 2),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |contrib AS (
       |  SELECT tf.doc_id, tf.tok,
       |    $DuckBm25Contrib AS contrib
       |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats),
       |perdoc AS (
       |  SELECT doc_id, $cs
       |  FROM contrib GROUP BY 1),
       |bmranked AS (
       |  SELECT doc_id, $scoreExpr AS score,
       |    row_number() OVER (ORDER BY $scoreExpr DESC, doc_id ASC) AS rank
       |  FROM perdoc)""".stripMargin
  }

  /** DuckDB CTE chain for the BATCHED retrieval queries, ending in
    * `bmb(qid, doc_id, score, rank)` — the twin of `Text.bm25TopKBatch`.
    * The per-(qid, doc) score is `list_reduce` over `list(contrib ORDER BY
    * ti)` prepended with 0.0: the exact left fold the Spark side performs
    * with `aggregate` over the ti-sorted contribution array, so the double
    * reduction order is identical. Also defines `q(qid, ti, tok)` and
    * `toks`, reused by q97/q98's embedding and coverage CTEs.
    */
  private def duckBm25BatchCtes(qs: Seq[(Long, Seq[String])],
      src: String = "documents"): String = {
    val qvals = qs.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, i) => s"($qid, $i, '$t')" }
    }.mkString(", ")
    val allTerms = qs.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""q(qid, ti, tok) AS (VALUES $qvals),
       |toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM $src),
       |dl AS (
       |  SELECT doc_id, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS dl
       |  FROM $src),
       |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
       |  WHERE tok IN ($allTerms) GROUP BY 1, 2),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |bcontrib AS (
       |  SELECT q.qid, q.ti, tf.doc_id,
       |    $DuckBm25Contrib AS contrib
       |  FROM tf JOIN q USING (tok) JOIN dfreq USING (tok) JOIN dl USING (doc_id)
       |  CROSS JOIN stats),
       |bperqd AS (
       |  SELECT qid, doc_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(contrib ORDER BY ti)),
       |      (a, x) -> a + x) AS score
       |  FROM bcontrib GROUP BY 1, 2),
       |bmb AS (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM bperqd)""".stripMargin
  }

  /** DuckDB CTEs for the batched embedding-cosine ranking, ending in
    * `bvecranked(qid, doc_id, cos, vec_rank)` — twin of
    * `Text.embeddingCosineTopKBatch` (32 dims). Requires `q` and `toks`
    * from [[duckBm25BatchCtes]].
    */
  private val DuckBatchVecCtes: String =
    s"""hcontrib AS (
       |  SELECT doc_id, (h // 2) % 32 AS bucket,
       |    CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END AS s
       |  FROM (SELECT doc_id, ${Hashing.duckHash60("tok")} AS h FROM toks)),
       |hw AS (SELECT doc_id, bucket, SUM(s) AS w FROM hcontrib GROUP BY 1, 2),
       |dvec AS (
       |  SELECT d.doc_id, list(CAST(COALESCE(hw.w, 0) AS DOUBLE) ORDER BY g.dim) AS v
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  CROSS JOIN (SELECT unnest(range(0, 32)) AS dim) g
       |  LEFT JOIN hw ON hw.doc_id = d.doc_id AND hw.bucket = g.dim
       |  GROUP BY d.doc_id),
       |bqcontrib AS (
       |  SELECT qid, (h // 2) % 32 AS bucket,
       |    CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END AS s
       |  FROM (SELECT qid, ${Hashing.duckHash60("tok")} AS h FROM q)),
       |bqw AS (SELECT qid, bucket, SUM(s) AS w FROM bqcontrib GROUP BY 1, 2),
       |bqvec AS (
       |  SELECT qq.qid, list(CAST(COALESCE(bqw.w, 0) AS DOUBLE) ORDER BY g.dim) AS qv
       |  FROM (SELECT DISTINCT qid FROM q) qq
       |  CROSS JOIN (SELECT unnest(range(0, 32)) AS dim) g
       |  LEFT JOIN bqw ON bqw.qid = qq.qid AND bqw.bucket = g.dim
       |  GROUP BY qq.qid),
       |bvecranked AS (
       |  SELECT qid, doc_id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id ASC) AS vec_rank
       |  FROM (
       |    SELECT bqvec.qid, dvec.doc_id,
       |      ${Num.duckDot("v", "qv")} / (${Num.duckNorm("v")} * ${Num.duckNorm("qv")}) AS cos
       |    FROM dvec CROSS JOIN bqvec
       |    WHERE ${Num.duckNorm("v")} > 0 AND ${Num.duckNorm("qv")} > 0))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Marker-token language-ID heuristic (deterministic argmax).
    QueryDef(
      "q40_lang_id",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
      },
      Some(s"""SELECT doc_id, ${Text.duckLangId("text")} AS lang_pred FROM documents""")),

    // Quality features + composite score (integer-derived ratios: exact).
    QueryDef(
      "q41_quality_score",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val feats = Text.qualityFeatures(col("text"))
        docs.select(
          col("doc_id") +:
            feats.map { case (n, c) => c.as(n) } :+
            Text.qualityScore(col("text")).as("quality"): _*)
      },
      Some {
        val t = "string_split_regex(text, '\\s+')"
        val tl = "string_split_regex(lower(text), '\\s+')"
        val stop = Text.Stopwords.map(w => s"'$w'").mkString(", ")
        val nTok = s"CAST(len($t) AS BIGINT)"
        val nChars = "CAST(length(text) AS BIGINT)"
        val alpha = "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)"
        val stopHits = s"CAST(len(list_filter($tl, tok -> tok IN ($stop))) AS BIGINT)"
        val meanWl = s"(CAST($nChars AS DOUBLE) / CAST($nTok AS DOUBLE))"
        val stopRatio = s"(CAST($stopHits AS DOUBLE) / CAST($nTok AS DOUBLE))"
        val alphaRatio = s"(CAST($alpha AS DOUBLE) / CAST($nChars AS DOUBLE))"
        s"""SELECT doc_id,
           |  $nTok AS n_tokens,
           |  $nChars AS n_chars,
           |  $alphaRatio AS alpha_ratio,
           |  $meanWl AS mean_word_len,
           |  $stopRatio AS stopword_ratio,
           |  ${Text.duckQualityScore("text")} AS quality
           |FROM documents""".stripMargin
      }),

    // Token counting: whitespace tokens + BPE-ish regex pre-tokenization.
    QueryDef(
      "q42_token_count",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.select(
          col("doc_id"),
          Text.wordCount(col("text")).as("ws_tokens"),
          Text.bpeishTokenCount(col("text")).as("bpeish_tokens"))
      },
      Some(s"""SELECT doc_id,
           |  len(string_split_regex(text, '\\s+')) AS ws_tokens,
           |  ${Text.duckBpeishTokenCount("text")} AS bpeish_tokens
           |FROM documents""".stripMargin)),

    // Rolling polynomial fingerprint over token hashes.
    QueryDef(
      "q43_fingerprint",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      },
      Some(s"""SELECT doc_id, ${Text.duckFingerprint("text")} AS fp FROM documents""")),

    // Corpus-level n-gram statistics: top-50 bigram shingles by document
    // frequency with a deterministic tie-break — the vocabulary/contamination
    // profiling pass of a training-data pipeline. Distributed top-k: partial
    // counts shuffle once, TakeOrderedAndProject caps the result.
    QueryDef(
      "q45_top_ngrams",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.ops.Dedup.shingleRows(docs, col("doc_id"), col("text"), 2)
          .groupBy(col("sh"))
          .agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("sh").asc)
          .limit(50)
      },
      Some(s"""SELECT sh, COUNT(*) AS df
           |FROM (SELECT doc_id, unnest(${Text.duckShingles("text", 2)}) AS sh FROM documents)
           |GROUP BY sh ORDER BY df DESC, sh ASC LIMIT 50""".stripMargin)),

    // EXACT heavy-hitter tokens via the native Misra-Gries sketch aggregate
    // (candidate pass) + exact verification of the candidates only — the
    // scale path that never shuffles the full vocabulary. minFrac=0.02 >
    // 1/(64+1), so recall is guaranteed and the output equals the oracle's
    // plain GROUP BY ... HAVING.
    QueryDef(
      "q49_heavy_hitter_tokens",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.heavyHitterTokens(docs, col("doc_id"), col("text"),
          capacity = 64, minFrac = 0.02)
      },
      Some("""WITH toks AS (
           |  SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
           |tot AS (SELECT COUNT(*) AS total FROM toks)
           |SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
           |HAVING COUNT(*) >= (SELECT ceil(total * 0.02) FROM tot)""".stripMargin)),

    // Signed feature-hashing embedding (32-dim): the vectorizer bridging
    // documents into the similarity stack — no vocabulary table, memory
    // O(dims). Output exploded to flat rows for the oracle compare.
    QueryDef(
      "q57_hashing_embedding",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.hashingTrickEmbedding(docs, col("doc_id"), col("text"), dims = 32)
          .select(col("doc_id"), posexplode(col("vec")).as(Seq("dim", "val")))
      },
      Some(s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
           |contrib AS (
           |  SELECT doc_id, (h // 2) % 32 AS bucket,
           |    CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END AS s
           |  FROM (SELECT doc_id, ${Hashing.duckHash60("tok")} AS h FROM toks)),
           |w AS (SELECT doc_id, bucket, SUM(s) AS w FROM contrib GROUP BY 1, 2)
           |SELECT d.doc_id, g.dim, CAST(COALESCE(w.w, 0) AS DOUBLE) AS val
           |FROM (SELECT DISTINCT doc_id FROM documents) d
           |CROSS JOIN (SELECT unnest(range(0, 32)) AS dim) g
           |LEFT JOIN w ON w.doc_id = d.doc_id AND w.bucket = g.dim""".stripMargin)),

    // Top-3 characteristic terms per document by TF-IDF (ties -> token asc).
    // The only corpus-wide statistic is the (token, df) table; the per-doc
    // rank compiles to WindowGroupLimit.
    QueryDef(
      "q59_tfidf_top_terms",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.tfidfTopTerms(docs, col("doc_id"), col("text"), k = 3)
      },
      Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
           |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
           |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT COUNT(*) AS n FROM documents)
           |SELECT doc_id, tok, tf, df, tfidf, rank FROM (
           |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
           |    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS tfidf,
           |    row_number() OVER (PARTITION BY tf.doc_id
           |      ORDER BY CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) DESC,
           |               tf.tok ASC) AS rank
           |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n)
           |WHERE rank <= 3""".stripMargin)),

    // BM25 lexical top-20 for a fixed 3-term query — the lexical half of
    // hybrid retrieval beside the ANN operators. Per-term contributions are
    // pivoted to fixed columns and added in term order, so the double
    // arithmetic is reduction-order-free and the oracle reproduces it bit
    // for bit (ln from integer-derived ratios, same expression shape).
    QueryDef(
      "q91_bm25_topk",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.bm25TopK(docs, col("doc_id"), col("text"), HybridTerms, k = 20)
      },
      Some(s"""WITH ${duckBm25Ctes(HybridTerms)}
           |SELECT doc_id, score, rank FROM bmranked WHERE rank <= 20""".stripMargin)),

    // Query-likelihood retrieval (Dirichlet smoothing, mu = 2000): the
    // third classical ranking model beside BM25 (q91) and cosine — every
    // per-term contribution is ln of an integer ratio and the per-doc sum
    // a fixed-term-order fold, so the doubles hash-match the oracle.
    QueryDef(
      "q140_query_likelihood_topk",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.queryLikelihoodTopK(docs, col("doc_id"), col("text"),
          HybridTerms, k = 20, mu = 2000L)
      },
      Some {
        val inList = HybridTerms.map(t => s"'$t'").mkString(", ")
        val tfCs = HybridTerms.zipWithIndex.map { case (t, i) =>
          s"SUM(CASE WHEN tok = '$t' THEN tf ELSE 0 END) AS tf_$i"
        }.mkString(", ")
        val cfCs = HybridTerms.zipWithIndex.map { case (t, i) =>
          s"SUM(CASE WHEN tok = '$t' THEN cf ELSE 0 END) AS cf_$i"
        }.mkString(", ")
        val scoreExpr = HybridTerms.indices.map { i =>
          s"ln(CAST(tf_$i * total + 2000 * cf_$i AS DOUBLE) / CAST(total * (dl + 2000) AS DOUBLE))"
        }.reduce((a, x) => s"($a + $x)")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
           |dl AS (
           |  SELECT doc_id, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS dl
           |  FROM documents),
           |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS total FROM dl),
           |tf AS (
           |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           |  WHERE tok IN ($inList) GROUP BY 1, 2),
           |cfrow AS (
           |  SELECT $cfCs FROM (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1)),
           |perdoc AS (
           |  SELECT doc_id, $tfCs FROM tf GROUP BY 1)
           |SELECT doc_id, score, rank FROM (
           |  SELECT p.doc_id, $scoreExpr AS score,
           |    row_number() OVER (ORDER BY $scoreExpr DESC, p.doc_id ASC) AS rank
           |  FROM perdoc p JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN cfrow)
           |WHERE rank <= 20""".stripMargin
      }),

    // Hybrid retrieval: Reciprocal Rank Fusion of the BM25 top-100 and the
    // hashing-embedding cosine top-100 (query embedded by the document
    // vectorizer itself). Ranks are integers, so the fused score is
    // bit-reproducible; docs absent from one list contribute 0 from it.
    QueryDef(
      "q92_hybrid_rrf",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.hybridRrfTopK(docs, col("doc_id"), col("text"), HybridTerms,
          dims = 32, k = 20, perList = 100)
      },
      Some(duckHybridOracle)),

    // BATCHED BM25: a query TABLE (3 ragged queries) scored against the
    // corpus in ONE pass — the corpus tokenization/tf aggregation is shared
    // across queries (semi-join on the union term set BEFORE aggregation),
    // and per-(qid, doc) scores left-fold the contributions in term-index
    // order (array_sort + aggregate == DuckDB list_reduce over list(ORDER BY
    // ti)), so the double reduction order is engine-identical.
    QueryDef(
      "q96_bm25_batch",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val qdf = BatchQueries.toDF("qid", "terms")
        Text.bm25TopKBatch(docs, col("doc_id"), col("text"), qdf, k = 10)
      },
      Some(s"""WITH ${duckBm25BatchCtes(BatchQueries)}
           |SELECT CAST(qid AS BIGINT) AS qid, doc_id, score, rank
           |FROM bmb WHERE rank <= 10""".stripMargin)),

    // BATCHED hybrid retrieval: per-query RRF fusion of the batched BM25
    // top-50 and the batched embedding-cosine top-50 (each query embedded by
    // the document vectorizer). Integer-rank arithmetic keeps the fused
    // score bit-reproducible; the fusion joins handle 2×50 rows per query.
    QueryDef(
      "q97_hybrid_rrf_batch",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val qdf = BatchQueries.toDF("qid", "terms")
        Text.hybridRrfTopKBatch(docs, col("doc_id"), col("text"), qdf,
          dims = 32, k = 10, perList = 50)
      },
      Some(duckHybridBatchOracle)),

    // N-SYSTEM RRF: three ranked systems — BM25, embedding cosine, and
    // term-coverage (boolean retrieval) — fused per query in fixed order by
    // the general rrfFuse. Proves fusion is not hard-wired to two lists.
    QueryDef(
      "q98_rrf_three_system",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val qdf = BatchQueries.toDF("qid", "terms")
        val lex = Text.bm25TopKBatch(docs, col("doc_id"), col("text"), qdf, k = 50)
          .select(col("qid"), col("doc_id"), col("rank").as("lex_rank"))
        val vec = Text.embeddingCosineTopKBatch(docs, col("doc_id"), col("text"), qdf,
            dims = 32, k = 50)
          .select(col("qid"), col("doc_id"), col("rank").as("vec_rank"))
        val cov = Text.termCoverageTopK(docs, col("doc_id"), col("text"), qdf, k = 50)
          .select(col("qid"), col("doc_id"), col("rank").as("cov_rank"))
        Text.rrfFuse(Seq((lex, "lex_rank"), (vec, "vec_rank"), (cov, "cov_rank")),
          partKeys = Seq("qid"), docKey = "doc_id", k = 10)
      },
      Some {
        val allTerms = BatchQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
        val rrf3 =
          """COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(lex_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
            |      + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(vec_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
            |      + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(cov_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))""".stripMargin
        s"""WITH ${duckBm25BatchCtes(BatchQueries)},
           |$DuckBatchVecCtes,
           |bcov AS (
           |  SELECT q.qid, t.doc_id, COUNT(*) AS coverage
           |  FROM (SELECT DISTINCT doc_id, tok FROM toks WHERE tok IN ($allTerms)) t
           |  JOIN q USING (tok) GROUP BY 1, 2),
           |bcovranked AS (
           |  SELECT qid, doc_id,
           |    row_number() OVER (PARTITION BY qid ORDER BY coverage DESC, doc_id ASC) AS cov_rank
           |  FROM bcov),
           |blex AS (SELECT qid, doc_id, rank AS lex_rank FROM bmb WHERE rank <= 50),
           |bvec AS (SELECT qid, doc_id, vec_rank FROM bvecranked WHERE vec_rank <= 50),
           |bcovl AS (SELECT qid, doc_id, cov_rank FROM bcovranked WHERE cov_rank <= 50)
           |SELECT CAST(qid AS BIGINT) AS qid, doc_id, lex_rank, vec_rank, cov_rank, rrf, rank FROM (
           |  SELECT qid, doc_id, lex_rank, vec_rank, cov_rank,
           |    $rrf3 AS rrf,
           |    row_number() OVER (PARTITION BY qid ORDER BY $rrf3 DESC, doc_id ASC) AS rank
           |  FROM blex
           |  FULL OUTER JOIN bvec USING (qid, doc_id)
           |  FULL OUTER JOIN bcovl USING (qid, doc_id))
           |WHERE rank <= 10""".stripMargin
      }),

    // Array-function surface over the token array: distinct/sort/slice/
    // contains/position composed to scalar outputs (scalars keep the oracle
    // compare engine-agnostic; the arrays themselves are exercised upstream
    // by the shingle/fingerprint paths).
    QueryDef(
      "q79_array_funcs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val t = Text.tokens(col("text"))
        val dt = array_distinct(t)
        docs.select(
          col("doc_id"),
          size(dt).as("n_distinct"),
          array_contains(t, "the").as("has_the"),
          array_position(t, "the").cast("long").as("first_the"),
          concat_ws("|", slice(sort_array(dt), 1, 3)).as("first3_sorted"),
          element_at(t, 1).as("first_tok"),
          element_at(t, -1).as("last_tok"))
      },
      Some("""SELECT doc_id,
           |  len(list_distinct(toks)) AS n_distinct,
           |  list_contains(toks, 'the') AS has_the,
           |  CAST(COALESCE(list_position(toks, 'the'), 0) AS BIGINT) AS first_the,
           |  array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 3), '|') AS first3_sorted,
           |  toks[1] AS first_tok,
           |  toks[-1] AS last_tok
           |FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)""".stripMargin)),

    // Higher-order lambda functions (transform/filter/exists/forall/
    // aggregate) composed to scalars — the §2.7 HOF surface exercised
    // directly (the hot paths use native expressions instead; this query
    // pins the built-in lambda semantics against DuckDB's list lambdas).
    QueryDef(
      "q82_higher_order_funcs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val t = Text.tokens(col("text"))
        docs.select(
          col("doc_id"),
          size(filter(t, x => length(x) > 4)).as("n_long"),
          aggregate(transform(t, x => length(x).cast("long")),
            lit(0L), (acc, v) => acc + v).as("total_chars"),
          exists(t, x => x === lit("the")).as("has_the"),
          forall(t, x => length(x) < 20).as("all_short"))
      },
      Some("""SELECT doc_id,
           |  len(list_filter(toks, x -> length(x) > 4)) AS n_long,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a, v) -> a + v) AS total_chars,
           |  len(list_filter(toks, x -> x = 'the')) > 0 AS has_the,
           |  len(list_filter(toks, x -> length(x) >= 20)) = 0 AS all_short
           |FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)""".stripMargin)),

    // Count-Min sketch (the second native aggregate): per-event-type CMS
    // over user ids, point estimates for a fixed probe set vs the exact
    // counts. CMS cells are partitioning-independent SUMS over the
    // cross-engine hash, so the oracle reproduces the estimates EXACTLY
    // (relational GROUP BY per (row, cell)) — stronger than an error bound.
    QueryDef(
      "q103_countmin_sketch",
      (s, dir) => {
        import s.implicits._
        val probeSeq = Seq("1", "5", "17", "42", "99")
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), col("user_id").cast("string").as("u"))
        val probes = probeSeq.toDF("probe_u")
        val sk = ev.groupBy(col("event_type"))
          .agg(Text.countMinSketch(col("u"), depth = 4, width = 256).as("sk"))
        val est = sk.crossJoin(broadcast(probes))
          .select(col("event_type"), col("probe_u"),
            Text.cmsEstimate(col("sk"), col("probe_u"), depth = 4, width = 256).as("est"))
        val exact = ev.where(col("u").isin(probeSeq: _*))
          .groupBy(col("event_type"), col("u").as("probe_u"))
          .agg(count(lit(1)).as("exact"))
        est.join(exact, Seq("event_type", "probe_u"), "left_outer")
          .select(col("event_type"), col("probe_u"), col("est"),
            coalesce(col("exact"), lit(0L)).as("exact"),
            (col("est") >= coalesce(col("exact"), lit(0L))).as("no_undercount"))
      },
      Some(duckCmsOracle())),

    // Mergeable HLL sketch TABLE: per-source Datasketches sketches of the
    // 3-gram shingle sets, plus the cross-source union folded from the
    // stored sketches alone (no rescan) — the durable distinct-count
    // pre-aggregation q26's in-query sketch cannot provide. The q26
    // discipline makes it hash-checkable: rows carry exact counts + an
    // in-query within_bound verdict, which the oracle reproduces as exact
    // counts + literal TRUE.
    QueryDef(
      "q125_hll_shingle_sketches",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.shingleHllReport(docs, col("doc_id"), col("text"), col("source"),
          n = 3, lgK = 12, relErr = 0.05)
      },
      Some("""WITH sr AS (
           |  SELECT scope, unnest(shingles) AS sh FROM (
           |    SELECT source AS scope,
           |      CASE WHEN len(toks) >= 3
           |           THEN list_distinct(list_transform(range(1, len(toks) - 1),
           |                  i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
           |           ELSE [] END AS shingles
           |    FROM (SELECT source, string_split_regex(text, '\s+') AS toks FROM documents)))
           |SELECT scope, CAST(COUNT(DISTINCT sh) AS BIGINT) AS exact_distinct,
           |  TRUE AS within_bound
           |FROM sr GROUP BY scope
           |UNION ALL
           |SELECT '__union__', CAST(COUNT(DISTINCT sh) AS BIGINT), TRUE FROM sr""".stripMargin)),

    // Distributed BPE merge training: 6 merges learned from corpus word
    // counts — pair counting on the vocab (not the corpus), greedy
    // left-to-right merge as a left fold, deterministic argmax tie-break.
    // The oracle unrolls all 6 steps as CTE chains with the identical
    // list_reduce fold (the k-means unrolling discipline applied to a
    // tokenizer).
    QueryDef(
      "q102_bpe_merges",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.bpeMerges(docs, col("text"), numMerges = 6)
      },
      Some {
        val out = (1 to 6)
          .map(i => s"SELECT $i AS step, a, b, cnt FROM best$i")
          .mkString(" UNION ALL ")
        s"""WITH ${duckBpeCtes(6)}
           |$out""".stripMargin
      }),

    // Tokenizer APPLICATION: every doc encoded with the 6-merge BPE
    // vocabulary trained by the q102 procedure — dictionary-encode (the
    // distinct-word vocab carries its final segmentation) then a broadcast
    // join and per-doc count aggregation. The oracle extends the q102 CTE
    // chain (word column carried through the folds) and joins doc words
    // against the final vocabulary exactly like the engine.
    QueryDef(
      "q111_bpe_encode",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val (_, vocab) = Text.bpeTrain(docs, col("text"), numMerges = 6)
        Text.bpeEncodeByVocab(docs, col("doc_id"), col("text"), vocab)
      },
      Some(s"""WITH ${duckBpeCtes(6)},
           |docw AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
           |  FROM documents),
           |j AS (
           |  SELECT d.doc_id, d.w, len(v.syms) AS nb
           |  FROM docw d JOIN v6 v ON v.w = d.w
           |  WHERE length(d.w) > 0)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |  CAST(SUM(length(w)) AS BIGINT) AS n_chars,
           |  CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens
           |FROM j GROUP BY doc_id""".stripMargin)),

    // Retrieval evaluation closing the loop on the batched retrieval stack:
    // recall@20 and NDCG@20 of the batched BM25 rankings against synthetic
    // binary qrels (20% of docs relevant per query via the cross-engine
    // hash, so both engines derive the identical judgment set). DCG and
    // IDCG left-fold in rank order; ndcg = dcg/idcg is base-free.
    QueryDef(
      "q101_retrieval_eval",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val qdf = BatchQueries.toDF("qid", "terms")
        val ranked = Text.bm25TopKBatch(docs, col("doc_id"), col("text"), qdf, k = 20)
          .select(col("qid"), col("doc_id"), col("rank"))
        val qrels = qdf.select(col("qid")).crossJoin(docs.select(col("doc_id")))
          .where(pmod(Hashing.hash60(concat(
            lit("rel-"), col("qid").cast("string"),
            lit("-"), col("doc_id").cast("string"))), lit(5L)) === 0)
        Text.rankingMetrics(ranked, qrels, k = 20)
      },
      Some {
        val relHash = Hashing.duckHash60(
          "('rel-' || CAST(qid AS VARCHAR) || '-' || CAST(doc_id AS VARCHAR))")
        s"""WITH ${duckBm25BatchCtes(BatchQueries)},
           |ranked AS (SELECT qid, doc_id, rank FROM bmb WHERE rank <= 20),
           |qr AS (
           |  SELECT qq.qid, d.doc_id
           |  FROM (SELECT DISTINCT qid FROM q) qq CROSS JOIN documents d
           |  WHERE $relHash % 5 = 0),
           |nrel AS (SELECT qid, COUNT(*) AS n_rel FROM qr GROUP BY 1),
           |marked AS (
           |  SELECT r.qid, r.rank,
           |    CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
           |  FROM ranked r LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id),
           |aggd AS (
           |  SELECT qid, CAST(SUM(rel) AS BIGINT) AS hits,
           |    MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(CAST(rel AS DOUBLE) / ln(CAST(rank AS DOUBLE) + CAST(1.0 AS DOUBLE))
           |        ORDER BY rank)),
           |      (a, x) -> a + x) AS dcg
           |  FROM marked GROUP BY 1)
           |SELECT CAST(a.qid AS BIGINT) AS qid, n.n_rel, a.hits,
           |  CAST(a.hits AS DOUBLE) / CAST(n.n_rel AS DOUBLE) AS recall_k,
           |  a.dcg / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform(range(1, CAST(LEAST(20, n.n_rel) AS INTEGER) + 1),
           |      ndi -> CAST(1.0 AS DOUBLE) / ln(CAST(ndi AS DOUBLE) + CAST(1.0 AS DOUBLE)))),
           |    (a2, x2) -> a2 + x2) AS ndcg_k,
           |  COALESCE(CAST(1.0 AS DOUBLE) / CAST(a.first_rel AS DOUBLE), 0.0)
           |    AS rr_k
           |FROM aggd a JOIN nrel n ON n.qid = a.qid""".stripMargin
      }),

    // BM25-MaxP long-document retrieval: score the q110 overlapping
    // passages, rank each document by its BEST passage (Dai & Callan's
    // MaxP — long docs stop being penalized for off-topic tails), top-10
    // docs per query from the top-100 passages. The passage cut keeps the
    // aggregation bounded at any corpus size; the doc rollup is one keyed
    // max + a per-query rank window.
    QueryDef(
      "q276_bm25_maxp",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val qdf = BatchQueries.toDF("qid", "terms")
        val ch = Sampling.chunkWithOverlap(docs, col("doc_id"), col("text"),
            chunkSize = 64, stride = 48)
          .select((col("doc_id") * 10000 + col("chunk_id")).as("pid"),
            col("chunk_text"))
        val ranked = Text.bm25TopKBatch(ch, col("pid"), col("chunk_text"),
          qdf, k = 100)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id").asc)
        ranked
          .select(col("qid"), expr("doc_id div 10000").as("doc_id"),
            col("score"))
          .groupBy(col("qid"), col("doc_id"))
          .agg(max(col("score")).as("score"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 10)
      },
      Some(s"""WITH ptoks AS (
           |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
           |pbase AS (
           |  SELECT doc_id, t, len(t) AS n,
           |    1 + CASE WHEN len(t) > 64 THEN (len(t) - 64 + 48 - 1) // 48
           |        ELSE 0 END AS nchunks
           |  FROM ptoks WHERE len(t) >= 1),
           |pch AS (
           |  SELECT doc_id, t, n, unnest(range(0, nchunks)) AS cid FROM pbase),
           |passages AS (
           |  SELECT doc_id * 10000 + cid AS doc_id,
           |    array_to_string(list_slice(t, CAST(cid * 48 + 1 AS INTEGER),
           |      CAST(LEAST(cid * 48 + 64, n) AS INTEGER)), ' ') AS text
           |  FROM pch),
           |${duckBm25BatchCtes(BatchQueries, "passages")},
           |mp AS (
           |  SELECT qid, doc_id // 10000 AS doc_id, MAX(score) AS score
           |  FROM bmb WHERE rank <= 100 GROUP BY 1, 2),
           |r AS (
           |  SELECT qid, doc_id, score,
           |    row_number() OVER (PARTITION BY qid
           |      ORDER BY score DESC, doc_id ASC) AS rank
           |  FROM mp)
           |SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS doc_id,
           |  score, rank
           |FROM r WHERE rank <= 10""".stripMargin)),

    // DPR-style BM25 negative mining: for each training query, the top-20
    // lexically-confusable documents that are NOT relevant — the standard
    // hard-negative set for contrastive retriever training. One anti join
    // on (qid, doc_id) over the already-ranked frame; the qrel side is the
    // q101 deterministic relevance hash.
    QueryDef(
      "q267_bm25_negatives",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val qdf = BatchQueries.toDF("qid", "terms")
        val ranked = Text.bm25TopKBatch(docs, col("doc_id"), col("text"), qdf, k = 20)
          .select(col("qid"), col("doc_id"), col("rank"))
        val qrels = qdf.select(col("qid")).crossJoin(docs.select(col("doc_id")))
          .where(pmod(Hashing.hash60(concat(
            lit("rel-"), col("qid").cast("string"),
            lit("-"), col("doc_id").cast("string"))), lit(5L)) === 0)
        ranked.join(qrels, Seq("qid", "doc_id"), "left_anti")
      },
      Some {
        val relHash = Hashing.duckHash60(
          "('rel-' || CAST(qid AS VARCHAR) || '-' || CAST(doc_id AS VARCHAR))")
        s"""WITH ${duckBm25BatchCtes(BatchQueries)},
           |ranked AS (SELECT qid, doc_id, rank FROM bmb WHERE rank <= 20),
           |qr AS (
           |  SELECT qq.qid, d.doc_id
           |  FROM (SELECT DISTINCT qid FROM q) qq CROSS JOIN documents d
           |  WHERE $relHash % 5 = 0)
           |SELECT CAST(r.qid AS BIGINT) AS qid, r.doc_id, r.rank
           |FROM ranked r LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
           |WHERE qr.doc_id IS NULL""".stripMargin
      }),

    // PII/link redaction: emails, URLs and long digit runs replaced with
    // typed placeholders in fixed rule order — the scrubbing pass before
    // text enters a training mix. The corpus is synthetically "dirtied"
    // per-doc (deterministically, in both engines) so the redaction has
    // real work to do and the oracle verifies the exact rewritten string.
    QueryDef(
      "q100_pii_redaction",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val dirty = concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via https://ex.com/p/"), col("doc_id").cast("string"),
          lit(" or call 555"), (col("doc_id") + 1000000L).cast("string"))
        docs.select(col("doc_id"), Text.redact(dirty).as("clean"))
      },
      Some {
        val dirty = "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
          " || '@example.com via https://ex.com/p/' || CAST(doc_id AS VARCHAR)" +
          " || ' or call 555' || CAST(doc_id + 1000000 AS VARCHAR)"
        s"""SELECT doc_id, ${Text.duckRedact(s"($dirty)")} AS clean FROM documents"""
      }),

    // Marker-hit aggregation: docs per predicted language (argmax rollup).
    QueryDef(
      "q44_lang_distribution",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.select(Text.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some(s"""SELECT ${Text.duckLangId("text")} AS lang_pred, COUNT(*) AS n_docs
           |FROM documents GROUP BY 1""".stripMargin)),

    // Language-ID CONFUSION matrix: predicted vs labeled language with
    // per-cell counts and the cell's share of its true-label row — the
    // classifier-quality table a curator reads before trusting q44's
    // distribution. Counts and shares are integer-derived.
    QueryDef(
      "q156_langid_confusion",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val cells = docs
          .groupBy(col("lang").as("lang_true"),
            Text.langId(col("text")).as("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
        val rows = cells.groupBy(col("lang_true"))
          .agg(sum(col("n_docs")).as("n_true"))
        cells.join(rows, "lang_true")
          .select(col("lang_true"), col("lang_pred"), col("n_docs"),
            (col("n_docs").cast("double") / col("n_true").cast("double"))
              .as("row_frac"))
      },
      Some(s"""WITH cells AS (
           |  SELECT lang AS lang_true, ${Text.duckLangId("text")} AS lang_pred,
           |    COUNT(*) AS n_docs
           |  FROM documents GROUP BY 1, 2),
           |rows_t AS (
           |  SELECT lang_true, SUM(n_docs) AS n_true FROM cells GROUP BY 1)
           |SELECT c.lang_true, c.lang_pred, CAST(c.n_docs AS BIGINT) AS n_docs,
           |  CAST(c.n_docs AS DOUBLE) / CAST(r.n_true AS DOUBLE) AS row_frac
           |FROM cells c JOIN rows_t r ON r.lang_true = c.lang_true""".stripMargin)),

    // Gopher-style repetition profile (Rae et al. 2021, Table A1, adapted to
    // token n-grams): duplicate-token fraction, top 2-/3-gram coverage,
    // duplicated-5-gram occurrence fraction, and the keep verdict — all
    // integer-derived doubles. The oracle rebuilds every n-gram occurrence
    // relationally (unnest over the slice ranges) and breaks the argmax tie
    // identically (cnt DESC, gram ASC — the min(struct(-cnt, gram)) fold).
    QueryDef(
      "q106_repetition_profile",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.repetitionProfile(docs, col("doc_id"), col("text"))
      },
      Some(duckRepetitionSql))
  ) ++ lateDefs

  /** Complete DuckDB twin of `Text.repetitionProfile` over `documents`
    * (also embedded as a CTE by q117's filter funnel). A `def`: it is
    * referenced during `defs` initialization, and object vals initialize in
    * declaration order.
    */
  private[queries] def duckRepetitionSql: String =
    ("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
           |ns(n) AS (VALUES (1), (2), (3), (5)),
           |occ AS (
           |  SELECT doc_id, n, t,
           |    unnest(range(1, GREATEST(len(t) - n + 2, 1))) AS i
           |  FROM toks CROSS JOIN ns),
           |grams AS (
           |  SELECT doc_id, n,
           |    array_to_string(list_slice(t, i, i + n - 1), ' ') AS gram
           |  FROM occ),
           |counts AS (
           |  SELECT doc_id, n, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3),
           |base AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN n = 1 THEN cnt END) AS BIGINT) AS n_tokens,
           |    CAST(COUNT(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_distinct,
           |    CAST(COALESCE(SUM(CASE WHEN n = 5 THEN cnt END), 0) AS BIGINT) AS tot5,
           |    CAST(COALESCE(SUM(CASE WHEN n = 5 AND cnt > 1 THEN cnt END), 0) AS BIGINT) AS dup5
           |  FROM counts GROUP BY 1),
           |top AS (
           |  SELECT doc_id, n, gram, cnt FROM (
           |    SELECT doc_id, n, gram, cnt,
           |      row_number() OVER (PARTITION BY doc_id, n
           |        ORDER BY cnt DESC, gram ASC) AS rn
           |    FROM counts WHERE n IN (2, 3)) ranked
           |  WHERE rn = 1),
           |fracs AS (
           |  SELECT b.doc_id, b.n_tokens,
           |    CAST(b.n_tokens - b.n_distinct AS DOUBLE)
           |      / CAST(b.n_tokens AS DOUBLE) AS dup_token_frac,
           |    t2.gram AS top_2gram,
           |    COALESCE(CAST(t2.cnt * 2 AS DOUBLE) / CAST(b.n_tokens AS DOUBLE),
           |      CAST(0.0 AS DOUBLE)) AS top_2gram_frac,
           |    COALESCE(CAST(t3.cnt * 3 AS DOUBLE) / CAST(b.n_tokens AS DOUBLE),
           |      CAST(0.0 AS DOUBLE)) AS top_3gram_frac,
           |    CASE WHEN b.tot5 > 0
           |      THEN CAST(b.dup5 AS DOUBLE) / CAST(b.tot5 AS DOUBLE)
           |      ELSE CAST(0.0 AS DOUBLE) END AS dup_5gram_frac
           |  FROM base b
           |  LEFT JOIN top t2 ON t2.doc_id = b.doc_id AND t2.n = 2
           |  LEFT JOIN top t3 ON t3.doc_id = b.doc_id AND t3.n = 3)
           |SELECT doc_id, n_tokens, dup_token_frac, top_2gram, top_2gram_frac,
           |  top_3gram_frac, dup_5gram_frac,
           |  top_2gram_frac <= CAST(0.125 AS DOUBLE)
           |    AND dup_5gram_frac <= CAST(0.10 AS DOUBLE) AS keep
           |FROM fracs""".stripMargin)

  /** Entries defined after the shared helper `def`s (appended to [[defs]]). */
  private def lateDefs: Seq[QueryDef] = Seq(

    // CCNet-style LM scoring: stupid-backoff bigram model trained on the
    // deterministic half of the corpus (cross-engine hash split), every doc
    // scored by average negative log-probability. Every lp is ln of an
    // integer ratio and the per-doc sum is an order-fixed fold, so the
    // doubles hash-match.
    QueryDef(
      "q108_lm_score",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val train = docs.where(pmod(Hashing.hash60(
          concat(lit("lm-"), col("doc_id").cast("string"))), lit(2L)) === 0)
        Text.bigramLmScore(train, docs, col("doc_id"), col("text"))
      },
      Some(s"""WITH $duckLmScoreCtes
           |SELECT doc_id, n_bigrams, nll, backoff_frac FROM lmscores""".stripMargin)),

    // Script-aware language ID + tokenization over a PLANTED CJK mix (the
    // q135 planted-fixture pattern: the corpus has no organic CJK, so every
    // 31st document is rewritten as deterministic palette-built han (zh) or
    // han+kana (ja) text, mirrored in the oracle). The per-language token
    // sums show exactly the degradation cjkSegment fixes: whitespace
    // tokenization sees each 20-char CJK doc as ONE token; the script-aware
    // path sees its 19 character bigrams.
    QueryDef(
      "q159_script_langid",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val raw = docs.where(pmod(col("doc_id"), lit(31)) =!= 0)
          .select(col("doc_id"), col("text"))
        val zh = docs.where(pmod(col("doc_id"), lit(62)) === 0)
          .select(col("doc_id"), plantedHan(col("doc_id"), Set.empty).as("text"))
        val ja = docs.where(pmod(col("doc_id"), lit(31)) === 0 &&
            pmod(col("doc_id"), lit(62)) =!= 0)
          .select(col("doc_id"), plantedJa(col("doc_id")).as("text"))
        raw.unionByName(zh).unionByName(ja)
          .groupBy(Text.langIdScript(col("text")).as("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(Text.wordCount(col("text")).cast("long")).as("ws_tokens"),
            sum(Text.wordCount(Text.cjkSegment(col("text"))).cast("long"))
              .as("script_tokens"))
      },
      Some(s"""WITH mix AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 31 <> 0
           |  UNION ALL
           |  SELECT doc_id, ${duckPlantedHan("doc_id", Set.empty)} AS text
           |  FROM documents WHERE doc_id % 62 = 0
           |  UNION ALL
           |  SELECT doc_id, ${duckPlantedJa("doc_id")} AS text
           |  FROM documents WHERE doc_id % 31 = 0 AND doc_id % 62 <> 0)
           |SELECT ${Text.duckLangIdScript("text")} AS lang,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS ws_tokens,
           |  CAST(SUM(len(string_split_regex(${Text.duckCjkSegment("text")}, '\\s+'))) AS BIGINT) AS script_tokens
           |FROM mix GROUP BY 1""".stripMargin)),

    // CJK near-dup pairs through the UNCHANGED Jaccard machinery: planted
    // han docs plus 2-char-edited copies, shingled over cjkSegment(text) —
    // with whitespace tokens each doc is a single token and has NO 2-gram
    // shingles at all (zero pairs, silent dedup blindness); over the
    // segmented bigram stream the inverted-index join finds every edited
    // copy. The oracle rebuilds the segmentation and the q52 pair chain.
    QueryDef(
      "q160_cjk_neardup_pairs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val originals = docs.where(pmod(col("doc_id"), lit(62)) === 0)
          .select(col("doc_id"), plantedHan(col("doc_id"), Set.empty).as("text"))
        val copies = docs.where(pmod(col("doc_id"), lit(62)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            plantedHan(col("doc_id"), Set(10, 11)).as("text"))
        graft.ops.Dedup.ngramJaccardPairs(originals.unionByName(copies),
          col("doc_id"), Text.cjkSegment(col("text")), 2, 0.25)
      },
      Some(s"""WITH cjk AS (
           |  SELECT doc_id, ${duckPlantedHan("doc_id", Set.empty)} AS text
           |  FROM documents WHERE doc_id % 62 = 0
           |  UNION ALL
           |  SELECT doc_id + 10000000 AS doc_id,
           |    ${duckPlantedHan("doc_id", Set(10, 11))} AS text
           |  FROM documents WHERE doc_id % 62 = 0),
           |seg AS (SELECT doc_id, ${Text.duckCjkSegment("text")} AS st FROM cjk),
           |sh AS (
           |  SELECT doc_id AS id, unnest(${Text.duckShingles("st", 2)}) AS sh
           |  FROM seg),
           |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.id = id_a
           |JOIN sizes sb ON sb.id = id_b
           |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.25""".stripMargin)),

    // BM25 from a PERSISTED postings index (the q157/q169 table-ification
    // discipline applied to lexical retrieval): the corpus is tokenized
    // ONCE into (tok, doc_id, tf) postings + (doc_id, dl) lengths; serve
    // filters postings to the query terms and runs the SHARED bm25Rank
    // scoring tree. The oracle is q91's chain VERBATIM — hash-equality
    // proves the stored-index path is indistinguishable from the in-query
    // corpus scan.
    QueryDef(
      "q175_bm25_index_serve",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val idx = graft.ops.TextIndex.build(docs, col("doc_id"), col("text"))
        graft.ops.TextIndex.searchBM25(idx, HybridTerms, k = 20)
      },
      Some(s"""WITH ${duckBm25Ctes(HybridTerms)}
           |SELECT doc_id, score, rank FROM bmranked WHERE rank <= 20""".stripMargin)),

    // Index maintenance THROUGH the serve result: the index is built on the
    // 6/7 base corpus, the 1/7 delta indexed against nothing but its own
    // text and appended (per-doc locality — postings/lengths of a new doc
    // are self-contained), and a DIFFERENT query served from the appended
    // tables must equal the oracle's full-corpus scan — including the
    // corpus-wide statistics (N, avgdl, df) the append legitimately shifts.
    // TextIndexSpec additionally pins postings-level append == rebuild.
    QueryDef(
      "q176_bm25_index_append_serve",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        val idx = graft.ops.TextIndex.append(
          graft.ops.TextIndex.build(base, col("doc_id"), col("text")),
          delta, col("doc_id"), col("text"))
        graft.ops.TextIndex.searchBM25(idx, Seq("window", "stream"), k = 15)
      },
      Some(s"""WITH ${duckBm25Ctes(Seq("window", "stream"))}
           |SELECT doc_id, score, rank FROM bmranked WHERE rank <= 15""".stripMargin)),

    // PII redaction: the standard pre-training privacy pass. The corpus has
    // no PII, so every 5th document is planted with a doc_id-derived email,
    // IPv4 and international phone number (identical construction both
    // engines); the other 4/5 exercise the no-op path. Counts audit the raw
    // text via the native allocation-free RegexpMatchCount; clean_text is
    // the codegen'd regexp_replace chain — patterns live in the Java∩RE2
    // common subset so both engines redact byte-identically. Pure per-row
    // work: no shuffle, streaming-safe.
    QueryDef(
      "q182_pii_redaction",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"),
              lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com via 10."),
              pmod(col("doc_id"), lit(200)).cast("string"), lit(".0."),
              pmod(col("doc_id"), lit(250)).cast("string"),
              lit(" or +14155550"),
              lpad(pmod(col("doc_id"), lit(100)).cast("string"), 3, "0")))
            .otherwise(col("text")).as("text"))
        val counts = Text.piiCounts(col("text")).map { case (n, c) => c.as(n) }
        planted.select(
          Seq(col("doc_id")) ++ counts :+ Text.redactPii(col("text")).as("clean_text"): _*)
      },
      Some(s"""WITH planted AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 5 = 0
           |      THEN text || ' contact user' || doc_id || '@mail.example.com via 10.'
           |        || (doc_id % 200) || '.0.' || (doc_id % 250)
           |        || ' or +14155550' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0')
           |      ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  ${Text.duckPiiCount("text", "email")} AS n_email,
           |  ${Text.duckPiiCount("text", "ip")} AS n_ip,
           |  ${Text.duckPiiCount("text", "phone")} AS n_phone,
           |  ${Text.duckRedactPii("text")} AS clean_text
           |FROM planted""".stripMargin)),

    // Per-source distinct-n diversity (Li et al. 2016 distinct-n over
    // corpus shards): one corpus pass explodes every token array into
    // (n, hash60) occurrence structs for n = 1, 2, 3 — the shuffle carries
    // hashes, never gram text.
    QueryDef(
      "q192_ngram_diversity",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.ngramDiversity(docs, col("source"), col("text"), Seq(1, 2, 3))
      },
      Some(s"""WITH toks AS (
           |  SELECT source, string_split_regex(text, '\\s+') AS t FROM documents),
           |ns(n) AS (VALUES (1), (2), (3)),
           |occ AS (
           |  SELECT source, n, t,
           |    unnest(range(1, GREATEST(len(t) - n + 2, 1))) AS i
           |  FROM toks CROSS JOIN ns),
           |gh AS (
           |  SELECT source, n, ${Hashing.duckFoldHexCol("m")} AS h
           |  FROM (SELECT source, n,
           |          md5(array_to_string(list_slice(t, i, i + n - 1), ' ')) AS m
           |        FROM occ))
           |SELECT source, n, COUNT(*) AS total_ngrams,
           |  CAST(COUNT(DISTINCT h) AS BIGINT) AS distinct_ngrams,
           |  CAST(COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS diversity
           |FROM gh GROUP BY 1, 2""".stripMargin)),

    // Per-source KL divergence from the corpus unigram distribution — the
    // drift number next to q113's mixture weights. All probabilities are
    // integer-count ratios; the per-source sum folds decimal(38,18), so
    // the doubles agree cross-engine exactly.
    QueryDef(
      "q193_source_kl_divergence",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.sourceTokenKL(docs, col("source"), col("text"))
      },
      Some(s"""WITH sc AS (
           |  SELECT source, tok, COUNT(*) AS c_s
           |  FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS tok
           |        FROM documents)
           |  GROUP BY 1, 2),
           |cc AS (SELECT tok, SUM(c_s) AS c_c FROM sc GROUP BY 1),
           |ts AS (SELECT source, SUM(c_s) AS t_s FROM sc GROUP BY 1),
           |tc AS (SELECT SUM(c_s) AS t_c FROM sc)
           |SELECT source,
           |  ${Num.duckDsum38("(CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE)) * ln((CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE)) / (CAST(c_c AS DOUBLE) / CAST(t_c AS DOUBLE)))")} AS kl_divergence,
           |  COUNT(*) AS n_token_types
           |FROM sc JOIN cc USING (tok) JOIN ts USING (source) CROSS JOIN tc
           |GROUP BY 1""".stripMargin)),

    // C4-style line rules (Raffel et al. 2020 §2.2) over a planted 4-line
    // corpus (the documents are single lines with no punctuation, so the
    // query builds the fixture): line 1 = the doc text + '.', line 2 =
    // 'so short.' (punctuated but under min-words), line 3 = the raw text
    // (no terminal punctuation), line 4 = a constant punctuated sentence.
    // Expected survivors: lines 1 and 4 — both rules exercised per doc.
    // Pure per-row HOFs, both engines applying the identical predicates.
    QueryDef(
      "q196_c4_line_rules",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"),
          concat(col("text"), lit(".\nso short.\n"), col("text"),
            lit("\nthe final line stays here.")).as("text"))
        Text.c4LineRules(planted, col("doc_id"), col("text"))
      },
      Some("""WITH planted AS (
           |  SELECT doc_id,
           |    text || '.' || chr(10) || 'so short.' || chr(10) || text
           |      || chr(10) || 'the final line stays here.' AS text
           |  FROM documents),
           |ln AS (
           |  SELECT doc_id, string_split(text, chr(10)) AS lines FROM planted),
           |flt AS (
           |  SELECT doc_id, lines,
           |    list_filter(lines, l -> right(l, 1) IN ('.', '!', '?')
           |      AND len(string_split_regex(l, '\s+')) >= 3) AS kept
           |  FROM ln)
           |SELECT doc_id,
           |  CAST(len(lines) AS BIGINT) AS n_lines,
           |  CAST(len(kept) AS BIGINT) AS n_kept,
           |  array_to_string(kept, chr(10)) AS clean_text,
           |  len(kept) >= 2 AS keep
           |FROM flt""".stripMargin)),

    // Within-document line dedup (first occurrence kept, order preserved)
    // over a planted repeat: doc text, a constant boilerplate line, the
    // SAME doc text again, a closing line — the repeated line 3 must
    // vanish. Stateless per-row array_distinct; the oracle replays the
    // positional first-occurrence election relationally (DuckDB's
    // list_distinct does not guarantee order).
    QueryDef(
      "q197_line_dedup_within",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"),
          concat(col("text"), lit("\nboilerplate nav bar\n"), col("text"),
            lit("\nclosing line")).as("text"))
        Text.dedupLinesWithin(planted, col("doc_id"), col("text"))
      },
      Some("""WITH planted AS (
           |  SELECT doc_id,
           |    text || chr(10) || 'boilerplate nav bar' || chr(10) || text
           |      || chr(10) || 'closing line' AS text
           |  FROM documents),
           |px AS (
           |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS t FROM planted)),
           |ln AS (
           |  SELECT doc_id, CAST(p AS BIGINT) AS pos, len(t) AS n_lines,
           |    t[CAST(p AS INTEGER)] AS line
           |  FROM px),
           |first AS (
           |  SELECT doc_id, pos, n_lines, line FROM (
           |    SELECT doc_id, pos, n_lines, line, row_number() OVER (
           |      PARTITION BY doc_id, line ORDER BY pos) AS rn
           |    FROM ln) WHERE rn = 1)
           |SELECT doc_id,
           |  CAST(MAX(n_lines) AS BIGINT) AS n_lines,
           |  COUNT(*) AS n_distinct,
           |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
           |FROM first GROUP BY doc_id""".stripMargin)),

    // DURABLE bigram-LM count tables, maintenance path: the q108 train
    // split is divided into a base batch and a daily-ingest delta, counted
    // separately, and merged by summation — counts are ADDITIVE, so the
    // merge equals a from-scratch aggregation of the whole training corpus
    // EXACTLY (no ordering contract needed, unlike q190). The oracle IS
    // that full rebuild. Raw counts on purpose: a vocab-capped table could
    // never append exactly (top-V of a merge != merge of top-Vs); the cap
    // is a read-time concern (Text.lmScoreFromCounts).
    QueryDef(
      "q198_lm_table_append",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val train = docs.where(pmod(Hashing.hash60(
          concat(lit("lm-"), col("doc_id").cast("string"))), lit(2L)) === 0)
        val base = train.where(pmod(col("doc_id"), lit(3)) =!= 0)
        val delta = train.where(pmod(col("doc_id"), lit(3)) === 0)
        val merged = graft.ops.LmIndex.append(
          graft.ops.LmIndex.build(base, col("doc_id"), col("text")),
          delta, col("doc_id"), col("text"))
        merged.uni.select(lit("uni").as("kind"), col("w").as("w1"),
            lit("").as("w2"), col("c1").cast("long").as("cnt"))
          .unionByName(merged.big.select(lit("big").as("kind"), col("w1"),
            col("w2"), col("c2").cast("long").as("cnt")))
      },
      Some {
        val splitHash = Hashing.duckHash60("('lm-' || CAST(doc_id AS VARCHAR))")
        s"""WITH train AS (
           |  SELECT doc_id, string_split_regex(text, '\\s+') AS t
           |  FROM documents WHERE $splitHash % 2 = 0),
           |uni AS (
           |  SELECT w, COUNT(*) AS c1
           |  FROM (SELECT unnest(t) AS w FROM train) GROUP BY 1),
           |big AS (
           |  SELECT w1, w2, COUNT(*) AS c2 FROM (
           |    SELECT t[pi] AS w1, t[pi + 1] AS w2
           |    FROM train, unnest(range(1, len(t))) AS tt(pi)) GROUP BY 1, 2)
           |SELECT 'uni' AS kind, w AS w1, '' AS w2, CAST(c1 AS BIGINT) AS cnt FROM uni
           |UNION ALL
           |SELECT 'big' AS kind, w1, w2, CAST(c2 AS BIGINT) AS cnt FROM big""".stripMargin
      }),

    // DURABLE bigram-LM tables, serve path: q108's scoring driven from the
    // STORED count tables through the ONE shared scoring tree
    // (Text.lmScoreFromCounts) — the training corpus is never re-tokenized
    // at serve. The oracle is q108's verbatim (the q175 discipline):
    // hash-green IS the proof that stored-table scoring == in-query
    // scoring.
    QueryDef(
      "q199_lm_table_serve",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val train = docs.where(pmod(Hashing.hash60(
          concat(lit("lm-"), col("doc_id").cast("string"))), lit(2L)) === 0)
        val tbl = graft.ops.LmIndex.build(train, col("doc_id"), col("text"))
        graft.ops.LmIndex.score(tbl, docs, col("doc_id"), col("text"))
      },
      Some(s"""WITH $duckLmScoreCtes
           |SELECT doc_id, n_bigrams, nll, backoff_frac FROM lmscores""".stripMargin)),

    // Heaps'-law vocabulary-growth exponent: V(N) ~ K·N^beta over the
    // doc-ordered corpus prefix — the dual of q194's Zipf slope and the
    // empirical basis for every "vocab-sized << corpus" durable-table
    // argument in this repo. First-seen docs from one keyed aggregation;
    // the cumulative series is the two-column two-phase prefix sum (no
    // global window); regression folds are decimal-exact.
    QueryDef(
      "q291_heaps_exponent",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.heapsExponent(docs, col("doc_id"), col("text"))
      },
      Some("""WITH perdoc AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(text, '\s+'),
           |      w -> length(w) > 0)) AS BIGINT) AS n_tok
           |  FROM documents),
           |fs AS (
           |  SELECT w, MIN(doc_id) AS doc_id FROM (
           |    SELECT doc_id, unnest(list_filter(
           |      string_split_regex(text, '\s+'), w -> length(w) > 0)) AS w
           |    FROM documents) GROUP BY 1),
           |nv AS (SELECT doc_id, COUNT(*) AS n_novel FROM fs GROUP BY 1),
           |j AS (
           |  SELECT p.doc_id, p.n_tok,
           |    CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel
           |  FROM perdoc p LEFT JOIN nv USING (doc_id)),
           |c AS (
           |  SELECT doc_id,
           |    CAST(SUM(n_tok) OVER wo AS BIGINT) AS ct,
           |    CAST(SUM(n_novel) OVER wo AS BIGINT) AS cv
           |  FROM j WINDOW wo AS (ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |pts AS (
           |  SELECT ln(CAST(ct AS DOUBLE)) AS x, ln(CAST(cv AS DOUBLE)) AS y
           |  FROM c WHERE ct > 0 AND cv > 0),
           |tot AS (
           |  SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           |    CAST(SUM(n_novel) AS BIGINT) AS vocab FROM j),
           |ag AS (
           |  SELECT COUNT(*) AS n_docs,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
           |    CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
           |    CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
           |    CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
           |  FROM pts)
           |SELECT n_docs, total_tokens, vocab,
           |  (n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx) AS beta
           |FROM ag CROSS JOIN tot""".stripMargin)),

    // LM count-table RETRACTION — right-to-be-forgotten for additive
    // models: count the removed docs alone, SUBTRACT per key, drop
    // zeroed keys. Additivity works in both directions, so the
    // decremented tables score every document exactly as a model that
    // never trained on the removed docs (the oracle trains on the
    // filtered split). With q277's key-filter delete this closes the
    // deletion story for both durable-table classes; sketch tables
    // (register max-folds) are the documented rebuild-only exception.
    QueryDef(
      "q278_lm_table_retract",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val trainPred = pmod(Hashing.hash60(
          concat(lit("lm-"), col("doc_id").cast("string"))), lit(2L)) === 0
        val train = docs.where(trainPred)
        val tbl = graft.ops.LmIndex.build(train, col("doc_id"), col("text"))
        val removed = train.where(pmod(col("doc_id"), lit(11)) === 0)
        val cut = graft.ops.LmIndex.retract(tbl, removed, col("doc_id"), col("text"))
        graft.ops.LmIndex.score(cut, docs, col("doc_id"), col("text"))
      },
      Some(s"""WITH ${duckLmScoreCtes(" AND doc_id % 11 <> 0")}
           |SELECT doc_id, n_bigrams, nll, backoff_frac FROM lmscores""".stripMargin)),

    // Zipf rank-frequency slope over the top-100 tokens: ~ -1 for natural
    // text, ~ 0 for uniform synthetic vocabularies — a one-row corpus
    // health check. Rank ties break by token, the top-k cut is
    // TakeOrderedAndProject, and the four regression sums fold
    // decimal(38,18) over 100 bounded rows.
    QueryDef(
      "q194_zipf_slope",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.zipfSlope(docs, col("text"), k = 100)
      },
      Some(s"""WITH vocab AS (
           |  SELECT tok, COUNT(*) AS freq
           |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
           |        FROM documents)
           |  GROUP BY 1 ORDER BY freq DESC, tok ASC LIMIT 100),
           |xy AS (
           |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok ASC) AS DOUBLE)) AS x,
           |    ln(CAST(freq AS DOUBLE)) AS y
           |  FROM vocab),
           |s AS (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           |    ${Num.duckDsum38("x")} AS sx, ${Num.duckDsum38("y")} AS sy,
           |    ${Num.duckDsum38("x * y")} AS sxy, ${Num.duckDsum38("x * x")} AS sxx
           |  FROM xy)
           |SELECT CAST(n AS BIGINT) AS k,
           |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
           |FROM s""".stripMargin)),

    // Mojibake repair (ftfy-style): every 30th doc is planted with
    // UTF-8-read-as-cp1252 artifacts (the accented-letter and curly-quote
    // forms a scraped web corpus actually carries), every other 15th doc
    // stays clean — the repair chain must fix the former and pass the
    // latter through byte-identical. Both engines replay the SAME ordered
    // literal-replace chain (Text.MojibakePairs); the oracle builds every
    // non-ASCII literal from chr() codes so the SQL stays pure ASCII
    // end-to-end. A pure per-row projection: streaming-safe in any output
    // mode, no corpus state, applied BEFORE any hashing so dedup sees
    // repaired bytes.
    QueryDef(
      "q214_mojibake_repair",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // planted artifacts spelled in escapes (corrupt caf\u00e9 na\u00efve + curly quote + ellipsis)
        val corrupted = " caf\u00c3\u00a9 na\u00c3\u00afve \u00e2\u20ac\u0153quoted\u00e2\u20ac\u00a6"
        val planted = docs.where(pmod(col("doc_id"), lit(15)) === 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(30)) === 0,
              concat(col("text"), lit(corrupted)))
              .otherwise(col("text")).as("text"))
        planted
          .select(col("doc_id"), col("text"),
            Text.fixMojibake(col("text")).as("fixed"))
          .select(col("doc_id"), col("fixed"),
            (col("fixed") =!= col("text")).as("changed"))
      }, {
        // planted artifacts spelled in escapes (corrupt caf\u00e9 na\u00efve + curly quote + ellipsis)
        val corrupted = " caf\u00c3\u00a9 na\u00c3\u00afve \u00e2\u20ac\u0153quoted\u00e2\u20ac\u00a6"
        Some(s"""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 30 = 0 THEN text || ${Text.duckChr(corrupted)}
             |         ELSE text END AS text
             |  FROM documents WHERE doc_id % 15 = 0)
             |SELECT doc_id, ${Text.duckFixMojibake("text")} AS fixed,
             |  ${Text.duckFixMojibake("text")} <> text AS changed
             |FROM planted""".stripMargin)
      }),

    // DURABLE Count-Min sketch table, maintenance path: the per-event-type
    // sketch is built on each half of the events split SEPARATELY and
    // merged (elementwise counter sum per key — CMS linearity), then probed
    // for the q103 point estimates. The oracle is q103's VERBATIM (the full
    // relational per-cell replay): hash-match proves merge == rebuild with
    // no ordering contract at all, over fixed-size state (depth×width longs
    // per key, independent of item cardinality — the strongest maintenance
    // class in the table hierarchy).
    QueryDef(
      "q216_cms_table_merge",
      (s, dir) => {
        val probeSeq = Seq("1", "5", "17", "42", "99")
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), col("user_id").cast("string").as("u"),
            col("event_id"))
        val base = ev.where(pmod(col("event_id"), lit(2)) === 0)
        val delta = ev.where(pmod(col("event_id"), lit(2)) =!= 0)
        val merged = graft.ops.CmsIndex.merge(
          graft.ops.CmsIndex.build(base, col("event_type"), col("u"), 4, 256),
          graft.ops.CmsIndex.build(delta, col("event_type"), col("u"), 4, 256))
        val est = graft.ops.CmsIndex.estimates(merged, probeSeq, 4, 256)
          .withColumnRenamed("key", "event_type")
          .withColumnRenamed("probe", "probe_u")
        val exact = ev.where(col("u").isin(probeSeq: _*))
          .groupBy(col("event_type"), col("u").as("probe_u"))
          .agg(count(lit(1)).as("exact"))
        est.join(exact, Seq("event_type", "probe_u"), "left_outer")
          .select(col("event_type"), col("probe_u"), col("est"),
            coalesce(col("exact"), lit(0L)).as("exact"),
            (col("est") >= coalesce(col("exact"), lit(0L))).as("no_undercount"))
      },
      Some(duckCmsOracle())),

    // HYBRID retrieval served ENTIRELY from durable tables: BM25 from the
    // stored postings+doclens (q175) fused with cosine over a stored
    // doc-vector side table — no corpus text anywhere in the search plan.
    // The oracle is q92's VERBATIM in-query hybrid: hash-match proves the
    // fully table-served retrieval stack reproduces the in-query ranking
    // bit for bit (ranks are integers; the fused score is two integer-
    // derived divisions).
    QueryDef(
      "q217_hybrid_from_tables",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val idx = graft.ops.TextIndex.build(docs, col("doc_id"), col("text"))
        val vecs = Text.hashingTrickEmbedding(docs, col("doc_id"), col("text"), 32)
          .localCheckpoint()
        graft.ops.TextIndex.hybridFromTables(idx, vecs, HybridTerms,
          dims = 32, k = 20)
      },
      Some(duckHybridOracle)),

    // BATCHED BM25 served from the stored postings: the q96 query table
    // against the durable index, one term-filtered pass — the oracle is
    // q96's verbatim batch scan. Hash-match proves the stored-table batch
    // path scores every query identically to the in-query tokenization.
    QueryDef(
      "q218_bm25_batch_from_tables",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val idx = graft.ops.TextIndex.build(docs, col("doc_id"), col("text"))
        val qdf = BatchQueries.toDF("qid", "terms")
        graft.ops.TextIndex.searchBM25Batch(idx, qdf, k = 10)
      },
      Some(s"""WITH ${duckBm25BatchCtes(BatchQueries)}
           |SELECT CAST(qid AS BIGINT) AS qid, doc_id, score, rank
           |FROM bmb WHERE rank <= 10""".stripMargin)),

    // BATCHED hybrid retrieval from durable tables: stored postings +
    // stored doc-vectors serve the whole q97 query table — the serving
    // matrix (single/batched × lexical/vector/hybrid) is now entirely
    // table-backed. Oracle is q97's verbatim in-query batch hybrid.
    QueryDef(
      "q224_hybrid_batch_from_tables",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val idx = graft.ops.TextIndex.build(docs, col("doc_id"), col("text"))
        val vecs = Text.hashingTrickEmbedding(docs, col("doc_id"), col("text"), 32)
          .localCheckpoint()
        val qdf = BatchQueries.toDF("qid", "terms")
        graft.ops.TextIndex.hybridFromTablesBatch(idx, vecs, qdf,
          dims = 32, k = 10, perList = 50)
      },
      Some(duckHybridBatchOracle)),

    // FROZEN-tokenizer serving from the stored vocab table (the q158
    // frozen-model discipline applied to BPE): the tokenizer trains ONCE
    // on the 6/7 id-prefix, its (word, segmentation) table is stored, and
    // the unseen 1/7 delta encodes against the STORED table with NO
    // retraining — out-of-vocabulary words fall back to one token per
    // character (the byte-fallback contract), counted explicitly in n_oov.
    // The oracle replays the identical base-corpus merge chain and the
    // same LEFT join.
    QueryDef(
      "q234_bpe_table_encode",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        val (_, vocab) = Text.bpeTrain(base, col("text"), numMerges = 6)
        Text.bpeEncodeFromTable(delta, col("doc_id"), col("text"),
          vocab.localCheckpoint())
      },
      Some(s"""WITH base AS (
           |  SELECT text FROM documents WHERE doc_id % 7 <> 0),
           |${duckBpeCtes(6, "base")},
           |docw AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
           |  FROM documents WHERE doc_id % 7 = 0),
           |j AS (
           |  SELECT d.doc_id, d.w,
           |    COALESCE(len(v.syms), length(d.w)) AS nb,
           |    CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM docw d LEFT JOIN v6 v ON v.w = d.w
           |  WHERE length(d.w) > 0)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |  CAST(SUM(length(w)) AS BIGINT) AS n_chars,
           |  CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens,
           |  CAST(SUM(oov) AS BIGINT) AS n_oov
           |FROM j GROUP BY doc_id""".stripMargin)),

    // Per-document token-distribution entropy: the information-density
    // quality signal (repetitive/templated docs score low regardless of
    // length — a dimension the ratio-based q41 score can't see). Exact
    // integer counts; the Σ n·ln n fold is decimal-exact, so the per-doc
    // entropy is partition-order independent and bit-identical cross-engine.
    QueryDef(
      "q252_token_entropy",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.tokenEntropy(docs, col("doc_id"), col("text"))
      },
      Some(Text.duckTokenEntropy("documents", "doc_id", "text"))),

    // Skip-gram PMI collocations: top-50 ordered token pairs within a ±2
    // window by pointwise mutual information — the co-occurrence statistic
    // that seeds embedding vocabularies and collocation dictionaries. Pair
    // emission is a pure per-row HOF over each doc's own token array (no
    // positional self-join); the oracle replays it as the relational
    // positional join over the same (i, i+d) positions.
    QueryDef(
      "q253_pmi_pairs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.skipgramPmiPairs(docs, col("doc_id"), col("text"))
      },
      Some(Text.duckSkipgramPmiPairs("documents", "doc_id", "text"))),

    // MAINTAINED HLL sketch table: the q125 per-source distinct-count
    // sketches built per id-shard (the micro-batch shape) and folded
    // through HllIndex.merge — register-wise max, so the maintained table
    // answers exactly like a rebuild (estimate equality spec-pinned) and
    // absorbed rows are never rescanned. The q125 discipline keeps it
    // hash-checkable: exact counts + within_bound verdicts, with the exact
    // shingle-row count as a second checkable surface.
    QueryDef(
      "q255_hll_table_merge",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.shingleHllMaintainedReport(docs, col("doc_id"), col("text"),
          col("source"), n = 3, shards = 3)
      },
      Some("""WITH sr AS (
           |  SELECT scope, unnest(shingles) AS sh FROM (
           |    SELECT source AS scope,
           |      CASE WHEN len(toks) >= 3
           |           THEN list_distinct(list_transform(range(1, len(toks) - 1),
           |                  i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
           |           ELSE [] END AS shingles
           |    FROM (SELECT source, string_split_regex(text, '\s+') AS toks FROM documents)))
           |SELECT scope, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(DISTINCT sh) AS BIGINT) AS exact_distinct,
           |  TRUE AS within_bound
           |FROM sr GROUP BY scope
           |UNION ALL
           |SELECT '__union__', CAST(COUNT(*) AS BIGINT),
           |  CAST(COUNT(DISTINCT sh) AS BIGINT), TRUE FROM sr""".stripMargin)),

    // TYPO-normalization candidates: rare tokens within edit distance 2 of
    // a high-df vocabulary word — the spelling-consolidation map a cleaning
    // pipeline applies before token statistics. Thresholds are RELATIVE
    // (rare ≤ 0.5% of docs, head ≥ 5%) so the query is scale-invariant; the
    // head vocabulary is Zipf-bounded and BROADCAST, so the corpus-scale
    // rare side never shuffles for the join. Planted misspellings
    // ("tabel", "haash", "windoq") on a sparse doc-id schedule guarantee
    // known hits at every SF; levenshtein() agrees across engines.
    QueryDef(
      "q300_typo_candidates",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(251)) === 0,
            concat(col("text"), lit(" tabel haash windoq")))
            .otherwise(col("text")).as("text"))
        val toks = planted
          .select(explode(Text.tokens(col("text"))).as("tok"))
          .where(length(col("tok")) >= 4)
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val nd = planted.agg(count(lit(1)).as("n_docs"))
        val t = toks.crossJoin(broadcast(nd))
        val rare = t.where(col("df") <= expr("(n_docs + 199) div 200"))
          .select(col("tok").as("typo"), col("df").as("df_typo"))
        val head = t.where(col("df") * 20 >= col("n_docs"))
          .select(col("tok").as("fix"), col("df").as("df_fix"))
        val cand = rare.join(broadcast(head),
            abs(length(col("typo")) - length(col("fix"))) <= 1 &&
              levenshtein(col("typo"), col("fix")) <= 2 &&
              col("typo") =!= col("fix"))
          .withColumn("lev", levenshtein(col("typo"), col("fix")))
        val w = Window.partitionBy(col("typo"))
          .orderBy(col("lev").asc, col("df_fix").desc, col("fix").asc)
        cand.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("typo"), col("fix"), col("lev"),
            col("df_typo"), col("df_fix"))
      },
      Some(s"""WITH planted AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 251 = 0 THEN text || ' tabel haash windoq'
           |         ELSE text END AS text
           |  FROM documents),
           |toks AS (
           |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM (
           |    SELECT unnest(string_split_regex(text, '\\s+')) AS tok
           |    FROM planted)
           |  WHERE len(tok) >= 4 GROUP BY 1),
           |nd AS (SELECT COUNT(*) AS n_docs FROM planted),
           |rare AS (
           |  SELECT tok AS typo, df AS df_typo FROM toks CROSS JOIN nd
           |  WHERE df <= (n_docs + 199) // 200),
           |head AS (
           |  SELECT tok AS fix, df AS df_fix FROM toks CROSS JOIN nd
           |  WHERE df * 20 >= n_docs),
           |cand AS (
           |  SELECT typo, fix, levenshtein(typo, fix) AS lev, df_typo, df_fix
           |  FROM rare JOIN head
           |    ON abs(len(typo) - len(fix)) <= 1
           |    AND levenshtein(typo, fix) <= 2 AND typo <> fix),
           |rk AS (
           |  SELECT typo, fix, lev, df_typo, df_fix,
           |    row_number() OVER (PARTITION BY typo
           |      ORDER BY lev ASC, df_fix DESC, fix ASC) AS rn
           |  FROM cand)
           |SELECT typo, fix, lev, df_typo, df_fix FROM rk WHERE rn = 1"""
        .stripMargin)),

    // MIXED-SCRIPT / homoglyph audit: tokens containing BOTH Latin and
    // Cyrillic letters are the confusable-spoofing signature (Cyrillic
    // "а" inside a Latin word) that poisons dedup keys and search
    // indexes; pure-Cyrillic tokens in a Latin corpus are a separate
    // language-contamination signal. Pure per-row regex work, one keyed
    // aggregation; planted homoglyph fixtures on the doc_id % 97 schedule
    // (with pure-Cyrillic and pure-Latin negative controls in the same
    // appended text) prove the classifier separates the three cases.
    QueryDef(
      "q301_mixed_script_audit",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(97)) === 0,
            concat(col("text"), lit(" pаypal привет secure")))
            .otherwise(col("text")).as("text"))
        val flags = planted
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
          .select(col("doc_id"), col("tok"),
            col("tok").rlike("\\p{IsLatin}").cast("long").as("lat"),
            col("tok").rlike("\\p{IsCyrillic}").cast("long").as("cyr"))
        flags.groupBy(col("doc_id"))
          .agg(
            sum(when(col("lat") === 1 && col("cyr") === 1, 1L).otherwise(0L))
              .as("n_mixed"),
            sum(col("cyr")).as("n_cyr"),
            min(when(col("lat") === 1 && col("cyr") === 1, col("tok")))
              .as("sample_tok"))
          .where(col("n_cyr") > 0)
      },
      Some(s"""WITH planted AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 97 = 0
           |      THEN text || ' pаypal привет secure'
           |      ELSE text END AS text
           |  FROM documents),
           |flags AS (
           |  SELECT doc_id, tok,
           |    CASE WHEN regexp_matches(tok, '\\p{Latin}') THEN 1 ELSE 0 END
           |      AS lat,
           |    CASE WHEN regexp_matches(tok, '\\p{Cyrillic}') THEN 1 ELSE 0 END
           |      AS cyr
           |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
           |        FROM planted)),
           |agg AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN lat = 1 AND cyr = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_mixed,
           |    CAST(SUM(cyr) AS BIGINT) AS n_cyr,
           |    MIN(CASE WHEN lat = 1 AND cyr = 1 THEN tok END) AS sample_tok
           |  FROM flags GROUP BY 1)
           |SELECT doc_id, n_mixed, n_cyr, sample_tok FROM agg
           |WHERE n_cyr > 0""".stripMargin)),

    // Per-source TOKENIZER COMPRESSION RATIO from the frozen BPE table
    // (q234's stored vocabulary): chars-per-BPE-token and OOV rate per
    // source — the fertility audit that tells a curator which sources the
    // tokenizer serves poorly (low compression = wasted context window;
    // high OOV = vocabulary mismatch). The whole corpus encodes against
    // the broadcast stored table; one keyed aggregation per source.
    QueryDef(
      "q306_bpe_compression_ratio",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val (_, vocab) = Text.bpeTrain(base, col("text"), numMerges = 6)
        val enc = Text.bpeEncodeFromTable(docs, col("doc_id"), col("text"),
          vocab.localCheckpoint())
        enc.join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_words"),
            sum(col("n_chars")).as("n_chars"),
            sum(col("n_bpe_tokens")).as("n_bpe"),
            sum(col("n_oov")).as("n_oov"))
          .select(col("source"), col("n_docs"), col("n_chars"), col("n_bpe"),
            (col("n_chars").cast("double") / col("n_bpe")).as("chars_per_token"),
            (col("n_oov").cast("double") / col("n_words")).as("oov_rate"))
      },
      Some(s"""WITH base AS (
           |  SELECT text FROM documents WHERE doc_id % 7 <> 0),
           |${duckBpeCtes(6, "base")},
           |docw AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
           |  FROM documents),
           |j AS (
           |  SELECT d.doc_id, d.w,
           |    COALESCE(len(v.syms), length(d.w)) AS nb,
           |    CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM docw d LEFT JOIN v6 v ON v.w = d.w
           |  WHERE length(d.w) > 0),
           |per AS (
           |  SELECT doc_id, COUNT(*) AS nw, SUM(length(w)) AS nc,
           |    SUM(nb) AS nb, SUM(oov) AS oov
           |  FROM j GROUP BY 1),
           |src AS (
           |  SELECT d.source, p.nw, p.nc, p.nb, p.oov
           |  FROM per p JOIN documents d USING (doc_id))
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(nc) AS BIGINT) AS n_chars,
           |  CAST(SUM(nb) AS BIGINT) AS n_bpe,
           |  CAST(SUM(nc) AS DOUBLE) / SUM(nb) AS chars_per_token,
           |  CAST(SUM(oov) AS DOUBLE) / SUM(nw) AS oov_rate
           |FROM src GROUP BY 1""".stripMargin)),

    // FLESCH READING EASE profile per source: heuristic vowel-run syllables
    // + terminator-run sentences (Text.fleschScore — native match-count
    // codegen, no per-match arrays), bucketed into 10-point bands. The
    // readability axis of the quality stack (q41 ratios, q108 LM score give
    // "is it clean / is it fluent"; this gives "how hard is it to read" —
    // the curriculum signal for difficulty-ordered training mixes, q139).
    // Scale: one scan, three counters per row, map-side-combinable agg on
    // (source, band) — no joins, no windows.
    QueryDef(
      "q335_flesch_readability",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.select(col("source"), Text.fleschScore(col("text")).as("f"))
          .select(col("source"), col("f"),
            floor(col("f") / 10).cast("int").as("band"))
          .groupBy(col("source"), col("band"))
          .agg(count(lit(1)).as("n_docs"), Num.dsum38(col("f")).as("sum_f"))
          .select(col("source"), col("band"), col("n_docs"),
            (col("sum_f") / col("n_docs")).as("avg_flesch"))
      },
      Some(s"""WITH f AS (
           |  SELECT source, ${Text.duckFleschScore("text")} AS f
           |  FROM documents),
           |b AS (
           |  SELECT source, CAST(FLOOR(f / 10) AS INT) AS band, f FROM f)
           |SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  ${Num.duckDsum38("f")} / COUNT(*) AS avg_flesch
           |FROM b GROUP BY 1, 2""".stripMargin)),

    // JARO-WINKLER typo linking: q300's rare-token → head-token map rescored
    // with the native JW expression instead of Levenshtein — JW weights the
    // shared PREFIX, which is where real typos preserve signal ("tabel" →
    // "table" is lev-2 but JW 0.95), so the candidate gate is a similarity
    // floor (>= 0.88) rather than an edit budget. Same planted typos, same
    // vocabulary funnel: rare side stays distributed, head side broadcasts,
    // JW runs only on blocked (first char, |len diff| <= 2) vocabulary
    // pairs — never on corpus rows. Cross-engine the scores are BIT-equal
    // (the expression is pinned to DuckDB's jaro_winkler_similarity), so
    // ranking by score is deterministic.
    QueryDef(
      "q336_jw_typo_links",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(251)) === 0,
            concat(col("text"), lit(" tabel haash windoq")))
            .otherwise(col("text")).as("text"))
        val toks = planted
          .select(explode(Text.tokens(col("text"))).as("tok"))
          .where(length(col("tok")) >= 4)
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val nd = planted.agg(count(lit(1)).as("n_docs"))
        val t = toks.crossJoin(broadcast(nd)).localCheckpoint()
        val rare = t.where(col("df") <= expr("(n_docs + 199) div 200"))
          .select(col("tok").as("typo"), col("df").as("df_typo"))
        val head = t.where(col("df") * 20 >= col("n_docs"))
          .select(col("tok").as("fix"), col("df").as("df_fix"))
        val cand = rare.join(broadcast(head),
            expr("substring(typo, 1, 1)") === expr("substring(fix, 1, 1)") &&
              abs(length(col("typo")) - length(col("fix"))) <= 2 &&
              col("typo") =!= col("fix"))
          .withColumn("jw", Text.jaroWinkler(col("typo"), col("fix")))
          .where(col("jw") >= 0.88)
        val w = Window.partitionBy(col("typo"))
          .orderBy(col("jw").desc, col("df_fix").desc, col("fix").asc)
        cand.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("typo"), col("fix"), col("jw"),
            col("df_typo"), col("df_fix"))
      },
      Some(s"""WITH planted AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 251 = 0
           |      THEN text || ' tabel haash windoq' ELSE text END AS text
           |  FROM documents),
           |toks AS (
           |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
           |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
           |        FROM planted)
           |  WHERE length(tok) >= 4 GROUP BY 1),
           |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM planted),
           |t AS (SELECT * FROM toks CROSS JOIN nd),
           |rare AS (
           |  SELECT tok AS typo, df AS df_typo FROM t
           |  WHERE df <= (n_docs + 199) // 200),
           |head AS (
           |  SELECT tok AS fix, df AS df_fix FROM t
           |  WHERE df * 20 >= n_docs),
           |cand AS (
           |  SELECT r.typo, r.df_typo, h.fix, h.df_fix,
           |    jaro_winkler_similarity(r.typo, h.fix) AS jw
           |  FROM rare r JOIN head h
           |    ON substr(r.typo, 1, 1) = substr(h.fix, 1, 1)
           |    AND abs(length(r.typo) - length(h.fix)) <= 2
           |    AND r.typo <> h.fix
           |  WHERE jaro_winkler_similarity(r.typo, h.fix) >= 0.88),
           |rk AS (
           |  SELECT typo, fix, jw, df_typo, df_fix,
           |    ROW_NUMBER() OVER (PARTITION BY typo
           |      ORDER BY jw DESC, df_fix DESC, fix ASC) AS rn
           |  FROM cand)
           |SELECT typo, fix, jw, df_typo, df_fix FROM rk WHERE rn = 1"""
        .stripMargin)),

    // PHONETIC typo linking: the q336 funnel with SOUNDEX-equality blocking
    // instead of (first char, length band) — sound-alike misspellings
    // ("haash"→"hash") collide on the phonetic key even when the edit
    // pattern defeats prefix blocking, and JW only RANKS within the block.
    // The composed soundexSql recipe is identical on both engines
    // (translate → run collapse → drop-first-run → strip), so the blocking
    // keys — and hence the candidate sets — match exactly. Same scale
    // shape: keys are computed on the token VOCABULARY, the head side
    // broadcasts, corpus rows never enter the similarity join. An
    // equality-key block also beats q336's at scale: it hash-joins instead
    // of range-probing.
    QueryDef(
      "q340_phonetic_typo_links",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val planted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(251)) === 0,
            concat(col("text"), lit(" tabel haash windoq")))
            .otherwise(col("text")).as("text"))
        val toks = planted
          .select(explode(Text.tokens(col("text"))).as("tok"))
          .where(length(col("tok")) >= 4)
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val nd = planted.agg(count(lit(1)).as("n_docs"))
        val t = toks.crossJoin(broadcast(nd)).localCheckpoint()
        val rare = t.where(col("df") <= expr("(n_docs + 199) div 200"))
          .select(col("tok").as("typo"), col("df").as("df_typo"),
            Text.soundexSql(col("tok")).as("sx"))
        val head = t.where(col("df") * 20 >= col("n_docs"))
          .select(col("tok").as("fix"), col("df").as("df_fix"),
            Text.soundexSql(col("tok")).as("sx"))
        val cand = rare.join(broadcast(head), Seq("sx"))
          .where(col("typo") =!= col("fix"))
          .withColumn("jw", Text.jaroWinkler(col("typo"), col("fix")))
        val w = Window.partitionBy(col("typo"))
          .orderBy(col("jw").desc, col("df_fix").desc, col("fix").asc)
        cand.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("typo"), col("sx"), col("fix"), col("jw"),
            col("df_typo"), col("df_fix"))
      },
      Some(s"""WITH planted AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 251 = 0
           |      THEN text || ' tabel haash windoq' ELSE text END AS text
           |  FROM documents),
           |toks AS (
           |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
           |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
           |        FROM planted)
           |  WHERE length(tok) >= 4 GROUP BY 1),
           |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM planted),
           |t AS (SELECT * FROM toks CROSS JOIN nd),
           |rare AS (
           |  SELECT tok AS typo, df AS df_typo,
           |    ${Text.duckSoundexSql("tok")} AS sx
           |  FROM t WHERE df <= (n_docs + 199) // 200),
           |head AS (
           |  SELECT tok AS fix, df AS df_fix,
           |    ${Text.duckSoundexSql("tok")} AS sx
           |  FROM t WHERE df * 20 >= n_docs),
           |cand AS (
           |  SELECT r.typo, r.sx, r.df_typo, h.fix, h.df_fix,
           |    jaro_winkler_similarity(r.typo, h.fix) AS jw
           |  FROM rare r JOIN head h ON h.sx = r.sx AND r.typo <> h.fix),
           |rk AS (
           |  SELECT typo, sx, fix, jw, df_typo, df_fix,
           |    ROW_NUMBER() OVER (PARTITION BY typo
           |      ORDER BY jw DESC, df_fix DESC, fix ASC) AS rn
           |  FROM cand)
           |SELECT typo, sx, fix, jw, df_typo, df_fix FROM rk WHERE rn = 1"""
        .stripMargin)),

    // BURROWS' DELTA: the classic stylometric authorship distance between
    // sources — z-scored relative frequencies of the corpus' 30 most
    // frequent tokens, mean |Δz| per source pair. The operator every
    // "which sources write alike / did this source change writers" audit
    // starts from. One corpus pass; every later frame is (sources × 30).
    QueryDef(
      "q351_burrows_delta",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.burrowsDelta(docs, col("source"), col("text"), topN = 30)
      },
      Some(Text.duckBurrowsDelta("documents", "source", "text", topN = 30))),

    // JENSEN-SHANNON source divergence: the symmetric, finite counterpart
    // of q193's one-sided KL — pairwise JS between source unigram
    // distributions over the top-200 vocabulary (renormalized within it).
    // The "which pairs of sources are interchangeable for mixing" matrix.
    QueryDef(
      "q352_source_js_divergence",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.sourceTokenJS(docs, col("source"), col("text"), topV = 200)
      },
      Some(Text.duckSourceTokenJS("documents", "source", "text", topV = 200))),

    // RAKE keyword extraction: maximal non-stopword runs as candidate
    // phrases, deg/freq word scores, top-20 phrases. The unsupervised
    // keyword baseline beside TF-IDF (q59: per-document ranking; RAKE:
    // corpus-level multi-word phrases).
    QueryDef(
      "q353_rake_keywords",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.rakeKeywords(docs, col("doc_id"), col("text"),
          stopwords = Seq("a", "the"), k = 20)
      },
      Some(Text.duckRakeKeywords("documents", "doc_id", "text",
        stopwords = Seq("a", "the"), k = 20))),

    // UNIGRAM-LM TOKENIZER (SentencePiece-style), piece statistics after
    // one Viterbi-EM round — the OTHER industry tokenizer beside the BPE
    // family (q89/q102/q111/q234/q306): substring-seeded piece vocabulary,
    // Viterbi segmentation of the distinct-word frame, frequency-weighted
    // M-step recount. Top-30 pieces by re-estimated count.
    QueryDef(
      "q361_unigram_pieces",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.unigramPieceStats(Text.unigramSegmentWords(docs, col("text")))
          .orderBy(col("cnt").desc, col("piece").asc)
          .limit(30)
      },
      Some(s"""WITH ${Text.duckUnigramCtes("documents", "text")},
           |counts AS (
           |  SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
           |  FROM (SELECT n, unnest(seg) AS piece FROM segw)
           |  GROUP BY 1),
           |ctot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM counts)
           |SELECT piece, cnt,
           |  CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE) AS prob
           |FROM counts CROSS JOIN ctot
           |ORDER BY cnt DESC, piece ASC
           |LIMIT 30""".stripMargin)),

    // The unigram tokenizer's SEGMENTATIONS for the 20 most frequent
    // words — the inspection surface for q361's model ("how does it cut
    // the head of the vocabulary"), and the serve-path proof that the
    // engine's Viterbi (smallest-k tie-break) matches the oracle's
    // replayed DP argmax exactly, piece boundaries and all.
    QueryDef(
      "q362_unigram_segmentations",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.unigramSegmentWords(docs, col("text"))
          .select(col("w"), col("n"),
            array_join(col("seg"), " ").as("seg_str"))
          .orderBy(col("n").desc, col("w").asc)
          .limit(20)
      },
      Some(s"""WITH ${Text.duckUnigramCtes("documents", "text")}
           |SELECT w, n, array_to_string(seg, ' ') AS seg_str
           |FROM segw
           |ORDER BY n DESC, w ASC
           |LIMIT 20""".stripMargin)),

    // UNIGRAM tokenizer SERVE path + fertility audit — the q306 discipline
    // applied to q361's model: train on a held-in split (doc_id % 7 ≠ 0),
    // apply to the WHOLE corpus by joining doc words to the trained
    // segmentations (vocabulary-sized, broadcast), per-source
    // chars-per-piece and OOV rate. OOV words (unseen in training OR beyond
    // the maxWordLen bound) fall back to one piece per char — the
    // byte-fallback contract, counted explicitly.
    QueryDef(
      "q363_unigram_fertility",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val segw = Text.unigramSegmentWords(base, col("text"))
          .select(col("w"), size(col("seg")).as("np"))
        val words = docs
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
          .where(length(col("w")) > 0)
        words
          .join(broadcast(segw), Seq("w"), "left_outer")
          .select(col("doc_id"), length(col("w")).as("nc"),
            coalesce(col("np"), length(col("w"))).as("pieces"),
            when(col("np").isNull, 1L).otherwise(0L).as("oov"))
          .join(Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("nc")).as("n_chars"),
            sum(col("pieces")).as("n_pieces"),
            sum(col("oov")).as("n_oov"))
          .select(col("source"), col("n_words"), col("n_chars"), col("n_pieces"),
            (col("n_chars").cast("double") / col("n_pieces"))
              .as("chars_per_piece"),
            (col("n_oov").cast("double") / col("n_words")).as("oov_rate"))
      },
      Some(s"""WITH base AS (
           |  SELECT text FROM documents WHERE doc_id % 7 <> 0),
           |${Text.duckUnigramCtes("base", "text")},
           |docw AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
           |  FROM documents),
           |j AS (
           |  SELECT d.doc_id, length(d.w) AS nc,
           |    COALESCE(len(sv.seg), length(d.w)) AS pieces,
           |    CASE WHEN sv.w IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM docw d LEFT JOIN segw sv ON sv.w = d.w
           |  WHERE length(d.w) > 0),
           |src AS (
           |  SELECT dd.source, j.nc, j.pieces, j.oov
           |  FROM j JOIN documents dd USING (doc_id))
           |SELECT source,
           |  CAST(COUNT(*) AS BIGINT) AS n_words,
           |  CAST(SUM(nc) AS BIGINT) AS n_chars,
           |  CAST(SUM(pieces) AS BIGINT) AS n_pieces,
           |  CAST(SUM(nc) AS DOUBLE) / SUM(pieces) AS chars_per_piece,
           |  CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
           |FROM src GROUP BY 1""".stripMargin)),

    // QUANTILE NORMALIZATION across sources — the batch-effect correction
    // that maps every source's score distribution EXACTLY onto the pooled
    // distribution (RobustScaler q269 shifts/scales; this matches the whole
    // CDF): doc score = word count; within-source rank r (a source-keyed
    // window — sources co-locate) maps to the pooled order statistic at
    // index ⌈(2r−1)·N / (2·n_s)⌉ (the midpoint quantile, all integer
    // arithmetic), served from the two-phase globalRank frame — never a
    // global window. Per-source report: n, mean original vs mean mapped
    // (decimal-exact) — harmonized sources agree on the mapped mean.
    QueryDef(
      "q371_quantile_normalization",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Text.wordCount(col("text")).cast("long").as("score"))
          .localCheckpoint()
        val pooled = graft.ops.Sampling.globalRank(docs, col("score"), col("doc_id"))
          .select(col("rank").as("pidx"), col("v").as("pooled_score"))
          .localCheckpoint()
        val n = pooled.agg(count(lit(1)).as("n_pool"))
        val wSrc = Window.partitionBy(col("source"))
          .orderBy(col("score"), col("doc_id"))
        val ranked = docs
          .withColumn("r", row_number().over(wSrc))
          .withColumn("n_s", count(lit(1)).over(Window.partitionBy(col("source"))))
        val mapped = ranked.crossJoin(broadcast(n))
          .withColumn("pidx",
            expr("((2 * r - 1) * n_pool + (2 * n_s - 1)) div (2 * n_s)"))
          .join(pooled, "pidx")
        mapped.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            (Num.dsum38(col("score").cast("double")) / count(lit(1)))
              .as("mean_original"),
            (Num.dsum38(col("pooled_score").cast("double")) / count(lit(1)))
              .as("mean_mapped"))
      },
      Some(s"""WITH d AS (
           |  SELECT doc_id, source,
           |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS score
           |  FROM documents),
           |pooled AS (
           |  SELECT row_number() OVER (ORDER BY score, doc_id) AS pidx,
           |    score AS pooled_score
           |  FROM d),
           |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pool FROM d),
           |ranked AS (
           |  SELECT doc_id, source, score,
           |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id)
           |      AS r,
           |    COUNT(*) OVER (PARTITION BY source) AS n_s
           |  FROM d),
           |mapped AS (
           |  SELECT ranked.source, ranked.score, pooled.pooled_score
           |  FROM ranked CROSS JOIN np
           |  JOIN pooled
           |    ON pooled.pidx = ((2 * r - 1) * n_pool + (2 * n_s - 1)) // (2 * n_s))
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  ${Num.duckDsum38("CAST(score AS DOUBLE)")} / COUNT(*) AS mean_original,
           |  ${Num.duckDsum38("CAST(pooled_score AS DOUBLE)")} / COUNT(*)
           |    AS mean_mapped
           |FROM mapped GROUP BY 1""".stripMargin)),

    // MANN-WHITNEY U rank-sum test: does src1 stochastically dominate src3
    // on document length? The nonparametric member completing the
    // two-sample suite (Welch t q261 = means, KS q295 = whole CDFs,
    // log-rank q303 = survival) — the right test when length distributions
    // are skewed and a mean comparison misleads. Midrank ties,
    // tie-corrected variance, decimal(38,0) rank folds (operator scaladoc).
    QueryDef(
      "q372_mann_whitney",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .where(col("source").isin("src1", "src3"))
        graft.ops.Stats.mannWhitney(docs,
          Text.wordCount(col("text")).cast("long"),
          (col("source") === "src1").cast("long"))
      },
      Some(graft.ops.Stats.duckMannWhitney(
        "(SELECT * FROM documents WHERE source IN ('src1', 'src3'))",
        "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)",
        "CASE WHEN source = 'src1' THEN 1 ELSE 0 END"))),

    // KRUSKAL-WALLIS H: do ANY of the 20 sources differ in document-length
    // distribution? The omnibus k-group rank test (q372's Mann-Whitney
    // generalized — nonparametric one-way ANOVA), with per-source mean
    // ranks as the effect readout beside the single H. Tie-corrected,
    // decimal-exact rank folds (operator scaladoc).
    QueryDef(
      "q373_kruskal_wallis",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.ops.Stats.kruskalWallis(docs,
          Text.wordCount(col("text")).cast("long"), col("source"))
      },
      Some(graft.ops.Stats.duckKruskalWallis("documents",
        "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)", "source"))),

    // YULE'S K vocabulary richness per source: the length-invariant
    // repetitiveness characteristic (high K = repetitive templates, low K =
    // rich vocabulary) — the stylometric complement of q291's Heaps-law
    // growth exponent, from the SAME (source, token, m) frame family.
    QueryDef(
      "q354_yule_k",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Text.yuleK(docs, col("source"), col("text"))
      },
      Some(Text.duckYuleK("documents", "source", "text"))),

    // BM25-index STORED delete — the right-to-be-forgotten path a
    // view-level filter cannot satisfy: both stored tables (postings by
    // token hash-bucket, doclens by doc-id bucket) are strictly
    // per-document, so the %11 removal set leaves the stored bytes by exact
    // key filter, and this serve reads the rewritten tables alone. Served
    // through q425's snapshot delete. Serve-time
    // corpus statistics (N, total_dl, per-term df) all derive from the
    // stored tables, so the oracle is the q175/q91 chain over the KEPT
    // corpus — the post-delete index scores exactly as one that never
    // indexed the removed docs, statistics included.
    QueryDef(
      "q408_bm25_stored_delete",
      bm25SnapDelete,
      Some(bm25SurvivorsOracle)),

    // LM count-table STORED delete — q278's retraction made true in the
    // BYTES: the removed docs are counted alone and SUBTRACTED per key
    // inside the stored tables (affected wb buckets only, zeroed keys drop,
    // over-retraction and never-trained-text retraction fail loudly before
    // anything is written). Served through q427's snapshot delete. Scoring
    // every document from the decremented tables must equal a model
    // trained on the filtered split — q278's oracle verbatim.
    QueryDef(
      "q409_lm_stored_delete",
      lmSnapDelete,
      Some(lmSurvivorsOracle)),

    // BM25 index on the SNAPSHOT layer: postings (tb buckets) and doclens
    // (db buckets) both ride the generation layer; the %11 removal deletes
    // by snapshot key-filter in each, and the serve reads the post-flip
    // generations — corpus statistics (N, total_dl, per-term df) derive
    // from the resolved tables, so the post-delete index scores exactly as
    // one that never indexed the removed docs.
    // Oracle: q408's survivors chain verbatim.
    QueryDef(
      "q425_bm25_snapshot_delete",
      bm25SnapDelete,
      Some(bm25SurvivorsOracle)),

    // BM25 snapshot APPEND — the ingest half: 6/7 base publishes as gen 0
    // of both tables, the remainder lands as delta-only appends (new docs
    // → new posting/doclen rows; per-doc locality makes append == rebuild).
    // Serve-time statistics re-derive from the appended generations, so the
    // oracle is the full-corpus q175 chain.
    QueryDef(
      "q426_bm25_snapshot_append",
      (s, dir) => graft.ops.TextIndex.searchBM25(
        bm25SnapIndex(s, bm25SnapAddPath(s, dir)), HybridTerms, k = 20),
      Some(s"""WITH ${duckBm25Ctes(HybridTerms)}
           |SELECT doc_id, score, rank FROM bmranked WHERE rank <= 20""".stripMargin)),

    // LM count tables on the snapshot layer: the %11 retraction subtracts
    // the removed docs' own uni/bigram counts inside their wb buckets via
    // SnapTables.decrementCounts (pre-aggregation, unknown-key and
    // over-retraction guards, published as generations) — scoring from
    // the post-flip tables equals a model trained on the filtered split.
    // Oracle: q409's verbatim.
    QueryDef(
      "q427_lm_snapshot_delete",
      lmSnapDelete,
      Some(lmSurvivorsOracle)),

    // LM snapshot APPEND — counts are ADDITIVE, so the ingest verb is
    // SnapTables.mergeCounts (union + sum per key inside the delta's wb
    // buckets; a bare file append would duplicate shared keys and corrupt
    // every later score): base 6/7 of the train split publishes, the
    // remainder merges, and scoring equals a model trained on the full
    // split — the LmIndex.append law through generation publication.
    QueryDef(
      "q428_lm_snapshot_append",
      (s, dir) => {
        val tbl = lmSnapTables(s, lmSnapAddPath(s, dir))
        graft.ops.LmIndex.score(tbl, Tables.load(s, dir, "documents"),
          col("doc_id"), col("text"))
      },
      Some(s"""WITH ${duckLmScoreCtes("")}
           |SELECT doc_id, n_bigrams, nll, backoff_frac FROM lmscores""".stripMargin)),

    // CMS sketch table on the snapshot layer — the one register family
    // that can maintain EXACTLY (linear counters; HLL/theta max-folds stay
    // rebuild-only by design): the %11 retraction sketches the removed
    // events alone and subtracts elementwise inside the removed keys' kb
    // buckets (CmsIndex.retractSnapshot), and the q103 estimate surface
    // from the post-flip generation equals a sketch that never absorbed
    // them. Oracle: the full relational per-cell replay over the kept
    // events.
    QueryDef(
      "q429_cms_snapshot_delete",
      (s, dir) => {
        val p = cmsSnapDelPath(s, dir)
        cmsSnapServe(s, dir, p, " AND event_id % 11 <> 0")
      },
      Some(duckCmsOracle(" WHERE event_id % 11 <> 0"))),

    // CMS snapshot APPEND: the q216 half-split merge (elementwise counter
    // sum per key — linearity makes merge == rebuild with no ordering
    // contract) published as a generation via CmsIndex.mergeSnapshot.
    // Oracle: q216's full replay verbatim.
    QueryDef(
      "q430_cms_snapshot_append",
      (s, dir) => {
        val p = cmsSnapAddPath(s, dir)
        cmsSnapServe(s, dir, p, "")
      },
      Some(duckCmsOracle()))
  )

  // ---------------------------------------------------------------------
  // Snapshot-layer setups for the BM25 / LM / CMS families (q408/q409,
  // q425–q430): build once per (tag, sfdir) into a scratch path through
  // SnapTables generations, serve scan-only afterwards (the
  // SimilarityQueries.memoPath discipline).
  // ---------------------------------------------------------------------

  private val TokB = graft.ops.TextIndex.DefaultTokenBuckets

  private def bm25Tb = pmod(Hashing.hash60(col("tok")), lit(TokB.toLong)).cast("int")
  private def bm25Db = pmod(col("doc_id"), lit(TokB.toLong)).cast("int")

  private def publishBm25Snap(s: org.apache.spark.sql.SparkSession,
      p: String, idx: graft.ops.Bm25Index): Unit = {
    graft.ops.SnapTables.publishInitial(s, s"$p/postings", "tb",
      idx.postings.withColumn("tb", bm25Tb))
    graft.ops.SnapTables.publishInitial(s, s"$p/doclens", "db",
      idx.doclens.withColumn("db", bm25Db))
  }

  private def bm25SnapIndex(s: org.apache.spark.sql.SparkSession,
      p: String): graft.ops.Bm25Index =
    graft.ops.Bm25Index(
      postings = graft.ops.SnapTables.resolve(s, s"$p/postings", "tb")
        .select(col("tok"), col("doc_id"), col("tf")),
      doclens = graft.ops.SnapTables.resolve(s, s"$p/doclens", "db")
        .select(col("doc_id"), col("dl")))

  private def bm25SnapDelPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("bm25snapdel", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      publishBm25Snap(s, p,
        graft.ops.TextIndex.build(docs, col("doc_id"), col("text")))
      val removed = docs.where(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id"))
      graft.ops.SnapTables.deleteByKey(s, s"$p/postings", "tb", "doc_id", removed)
      graft.ops.SnapTables.deleteByKey(s, s"$p/doclens", "db", "doc_id", removed)
      ()
    }

  /** The q408/q425 oracle: the q175/q91 BM25 chain over the kept
    * (%11-removed) corpus.
    */
  private def bm25SurvivorsOracle: String =
    s"""WITH kept AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
       |${duckBm25Ctes(HybridTerms, "kept")}
       |SELECT doc_id, score, rank FROM bmranked WHERE rank <= 20""".stripMargin

  /** The q408/q425 serve: the hybrid terms' BM25 top-20 from the
    * post-flip generations.
    */
  private def bm25SnapDelete(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.TextIndex.searchBM25(
      bm25SnapIndex(s, bm25SnapDelPath(s, dir)), HybridTerms, k = 20)

  private def bm25SnapAddPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("bm25snapadd", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      publishBm25Snap(s, p, graft.ops.TextIndex.build(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 3),
        col("doc_id"), col("text")))
      val d = graft.ops.TextIndex.build(
        docs.where(pmod(col("doc_id"), lit(7)) === 3),
        col("doc_id"), col("text"))
      graft.ops.SnapTables.appendPartitions(s, s"$p/postings", "tb",
        d.postings.withColumn("tb", bm25Tb))
      graft.ops.SnapTables.appendPartitions(s, s"$p/doclens", "db",
        d.doclens.withColumn("db", bm25Db))
      ()
    }

  private val WordB = graft.ops.LmIndex.DefaultWordBuckets

  private def lmWb(w: String) =
    pmod(Hashing.hash60(col(w)), lit(WordB.toLong)).cast("int")

  private def lmTrain(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents").where(pmod(Hashing.hash60(
      concat(lit("lm-"), col("doc_id").cast("string"))), lit(2L)) === 0)

  private def publishLmSnap(s: org.apache.spark.sql.SparkSession,
      p: String, tbl: graft.ops.LmIndex.LmTables): Unit = {
    graft.ops.SnapTables.publishInitial(s, s"$p/uni", "wb",
      tbl.uni.withColumn("wb", lmWb("w")))
    graft.ops.SnapTables.publishInitial(s, s"$p/big", "wb",
      tbl.big.withColumn("wb", lmWb("w1")))
  }

  private def lmSnapTables(s: org.apache.spark.sql.SparkSession,
      p: String): graft.ops.LmIndex.LmTables =
    graft.ops.LmIndex.LmTables(
      uni = graft.ops.SnapTables.resolve(s, s"$p/uni", "wb")
        .select(col("w"), col("c1")),
      big = graft.ops.SnapTables.resolve(s, s"$p/big", "wb")
        .select(col("w1"), col("w2"), col("c2")))

  private def lmSnapDelPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("lmsnapdel", dir) { p =>
      val train = lmTrain(s, dir)
      publishLmSnap(s, p,
        graft.ops.LmIndex.build(train, col("doc_id"), col("text")))
      val d = graft.ops.LmIndex.build(
        train.where(pmod(col("doc_id"), lit(11)) === 0),
        col("doc_id"), col("text"))
      graft.ops.SnapTables.decrementCounts(s, s"$p/uni", "wb", Seq("w"), "c1",
        d.uni.withColumnRenamed("c1", "__dec"))
      graft.ops.SnapTables.decrementCounts(s, s"$p/big", "wb",
        Seq("w1", "w2"), "c2", d.big.withColumnRenamed("c2", "__dec"))
      ()
    }

  /** The q409/q427 oracle: q278's scoring chain, trained on the split
    * without the removed docs.
    */
  private def lmSurvivorsOracle: String =
    s"""WITH ${duckLmScoreCtes(" AND doc_id % 11 <> 0")}
       |SELECT doc_id, n_bigrams, nll, backoff_frac FROM lmscores""".stripMargin

  /** The q409/q427 serve: every document scored from the post-flip count
    * tables.
    */
  private def lmSnapDelete(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.LmIndex.score(lmSnapTables(s, lmSnapDelPath(s, dir)),
      Tables.load(s, dir, "documents"), col("doc_id"), col("text"))

  private def lmSnapAddPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("lmsnapadd", dir) { p =>
      val train = lmTrain(s, dir)
      publishLmSnap(s, p, graft.ops.LmIndex.build(
        train.where(pmod(col("doc_id"), lit(7)) =!= 3),
        col("doc_id"), col("text")))
      val d = graft.ops.LmIndex.build(
        train.where(pmod(col("doc_id"), lit(7)) === 3),
        col("doc_id"), col("text"))
      graft.ops.SnapTables.mergeCounts(s, s"$p/uni", "wb", Seq("w"), "c1",
        d.uni.withColumn("wb", lmWb("w")))
      graft.ops.SnapTables.mergeCounts(s, s"$p/big", "wb",
        Seq("w1", "w2"), "c2", d.big.withColumn("wb", lmWb("w1")))
      ()
    }

  private def cmsEvents(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "events")
      .select(col("event_type"), col("user_id").cast("string").as("u"),
        col("event_id"))

  private def cmsSnapDelPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("cmssnapdel", dir) { p =>
      val ev = cmsEvents(s, dir)
      graft.ops.CmsIndex.publishSnapshot(s, p,
        graft.ops.CmsIndex.build(ev, col("event_type"), col("u"), 4, 256))
      graft.ops.CmsIndex.retractSnapshot(s, p,
        graft.ops.CmsIndex.build(ev.where(pmod(col("event_id"), lit(11)) === 0),
          col("event_type"), col("u"), 4, 256))
      ()
    }

  private def cmsSnapAddPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("cmssnapadd", dir) { p =>
      val ev = cmsEvents(s, dir)
      graft.ops.CmsIndex.publishSnapshot(s, p,
        graft.ops.CmsIndex.build(ev.where(pmod(col("event_id"), lit(2)) === 0),
          col("event_type"), col("u"), 4, 256))
      graft.ops.CmsIndex.mergeSnapshot(s, p,
        graft.ops.CmsIndex.build(ev.where(pmod(col("event_id"), lit(2)) =!= 0),
          col("event_type"), col("u"), 4, 256))
      ()
    }

  /** The q216 estimate-vs-exact surface served from a snapshot generation;
    * `exactFilter` restricts the exact-count side to the surviving events
    * (the delete leg's semantics).
    */
  private def cmsSnapServe(s: org.apache.spark.sql.SparkSession, dir: String,
      p: String, exactFilter: String): org.apache.spark.sql.DataFrame = {
    val probeSeq = Seq("1", "5", "17", "42", "99")
    val est = graft.ops.CmsIndex.estimates(
      graft.ops.CmsIndex.readSnapshot(s, p), probeSeq, 4, 256)
      .withColumnRenamed("key", "event_type")
      .withColumnRenamed("probe", "probe_u")
    val ev = cmsEvents(s, dir)
      .where(expr(s"true$exactFilter"))
    val exact = ev.where(col("u").isin(probeSeq: _*))
      .groupBy(col("event_type"), col("u").as("probe_u"))
      .agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("event_type", "probe_u"), "left_outer")
      .select(col("event_type"), col("probe_u"), col("est"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        (col("est") >= coalesce(col("exact"), lit(0L))).as("no_undercount"))
  }

  // -------------------------------------------------------------------------
  // CJK planted fixtures (q159/q160): palette-built deterministic texts —
  // Spark `chr()` is ASCII-only, so CJK strings are assembled from literal
  // char palettes indexed by doc_id arithmetic, identically in both engines.
  // -------------------------------------------------------------------------

  private val HanPalette =
    Seq("水", "光", "潋", "滟", "晴", "方", "好", "山", "色", "空", "蒙", "雨")
  private val KanaPalette = Seq("の", "に", "は", "を", "た", "が", "で", "て")

  private def hanAt(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(array(HanPalette.map(lit): _*), (pmod(e, lit(12)) + 1).cast("int"))

  private def kanaAt(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(array(KanaPalette.map(lit): _*), (pmod(e, lit(8)) + 1).cast("int"))

  /** 20-char han text from the palette; positions in `editAt` take a +6
    * palette shift (guaranteed different char — the same-length-edit
    * discipline from the media fixtures).
    */
  private def plantedHan(idc: org.apache.spark.sql.Column,
      editAt: Set[Int]): org.apache.spark.sql.Column =
    concat((0 until 20).map(j =>
      hanAt(idc + lit(5 * j + (if (editAt(j)) 6 else 0)))): _*)

  /** 20-char alternating han/kana text (kana presence marks it ja). */
  private def plantedJa(idc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat((0 until 20).map(j =>
      if (j % 2 == 0) hanAt(idc + lit(5 * j)) else kanaAt(idc + lit(7 * j))): _*)

  private def duckHanAt(e: String): String =
    s"['水','光','潋','滟','晴','方','好','山','色','空','蒙','雨'][CAST(($e) % 12 + 1 AS INTEGER)]"

  private def duckKanaAt(e: String): String =
    s"['の','に','は','を','た','が','で','て'][CAST(($e) % 8 + 1 AS INTEGER)]"

  private def duckPlantedHan(id: String, editAt: Set[Int]): String =
    (0 until 20).map(j =>
      duckHanAt(s"$id + ${5 * j + (if (editAt(j)) 6 else 0)}")).mkString(" || ")

  private def duckPlantedJa(id: String): String =
    (0 until 20).map(j =>
      if (j % 2 == 0) duckHanAt(s"$id + ${5 * j}")
      else duckKanaAt(s"$id + ${7 * j}")).mkString(" || ")

  /** DuckDB CTE chain for the q108 CCNet-style LM scoring pipeline (train
    * split → stupid-backoff bigram model → per-doc order-fixed nll fold),
    * ending in `lmscores(doc_id, n_bigrams, nll, backoff_frac)` — shared by
    * q108 and the curriculum packing oracle (q139).
    */
  def duckLmScoreCtes: String = duckLmScoreCtes("")

  /** Variant with an extra SQL predicate on the TRAIN split — the seam the
    * retraction proof (q278) uses to express "trained on everyone except
    * the removed docs" without copying the chain.
    */
  def duckLmScoreCtes(extraTrainPred: String): String = {
    val splitHash = Hashing.duckHash60("('lm-' || CAST(doc_id AS VARCHAR))")
    s"""alldocs AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       |train AS (
       |  SELECT doc_id, t FROM alldocs WHERE $splitHash % 2 = 0 $extraTrainPred),
       |uni AS (
       |  SELECT w, COUNT(*) AS c1
       |  FROM (SELECT unnest(t) AS w FROM train) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n, COUNT(*) AS v FROM uni),
       |big AS (
       |  SELECT w1, w2, COUNT(*) AS c2 FROM (
       |    SELECT t[pi] AS w1, t[pi + 1] AS w2
       |    FROM train, unnest(range(1, len(t))) AS tt(pi)) GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id, pi AS pos, t[pi] AS w1, t[pi + 1] AS w2
       |  FROM alldocs, unnest(range(1, len(t))) AS tt(pi)),
       |lp AS (
       |  SELECT sc.doc_id, sc.pos,
       |    CASE WHEN b.c2 IS NOT NULL
       |      THEN ln(CAST(b.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
       |      ELSE ln(CAST(2.0 AS DOUBLE) / CAST(5.0 AS DOUBLE))
       |        + ln(CAST(COALESCE(u2.c1, 0) + 1 AS DOUBLE)
       |          / CAST(tot.n + tot.v AS DOUBLE)) END AS lp,
       |    CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END AS backoff
       |  FROM sc
       |  LEFT JOIN big b ON b.w1 = sc.w1 AND b.w2 = sc.w2
       |  LEFT JOIN uni u1 ON u1.w = sc.w1
       |  LEFT JOIN uni u2 ON u2.w = sc.w2
       |  CROSS JOIN tot),
       |lmscores AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    -(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY pos)),
       |      (a, x) -> a + x)) / CAST(COUNT(*) AS DOUBLE) AS nll,
       |    CAST(SUM(backoff) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS backoff_frac
       |  FROM lp GROUP BY doc_id)""".stripMargin
  }
}
