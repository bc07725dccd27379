package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Dedup, Hashing, Media, Num, Sampling, Select, Stats, Text}
import org.apache.spark.sql.functions._

/** Training-data curation queries: deterministic splits, per-group sampling,
  * token inventory, and the composed curation pipeline (language filter →
  * quality gate → exact dedup) — the operators chained the way a real corpus
  * build chains them.
  */
object PipelineQueries {

  /** The NB classifier oracle shared by q130 (in-query train+score) and
    * q221 (merged durable count tables): count additivity means both
    * engines' prediction surfaces are the SAME relational replay.
    */
  private lazy val duckNbOracle: String = duckNbOracleWith("")

  /** Variant with an extra SQL predicate on the TRAIN membership — the
    * seam the NB retraction proof (q282) uses for "trained on everyone
    * except the removed docs" without copying the chain.
    */
  private def duckNbOracleWith(extraTrainPred: String): String = {
        val splitHash = Hashing.duckHash60("('nb-' || CAST(doc_id AS VARCHAR))")
        s"""WITH docs0 AS (
           |  SELECT doc_id, lang AS lbl, ($splitHash % 4 < 3 $extraTrainPred) AS is_tr,
           |    list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS t
           |  FROM documents),
           |cwcall AS (
           |  SELECT lbl, w, COUNT(*) AS cwc
           |  FROM (SELECT lbl, unnest(t) AS w FROM docs0 WHERE is_tr) GROUP BY 1, 2),
           |voc AS (
           |  SELECT w FROM (
           |    SELECT w, RANK() OVER (ORDER BY cw DESC, w ASC) AS r
           |    FROM (SELECT w, CAST(SUM(cwc) AS BIGINT) AS cw FROM cwcall GROUP BY 1))
           |  WHERE r <= 60),
           |cwc AS (SELECT * FROM cwcall WHERE w IN (SELECT w FROM voc)),
           |nc AS (SELECT lbl, CAST(SUM(cwc) AS BIGINT) AS ncl FROM cwc GROUP BY 1),
           |vv AS (SELECT COUNT(DISTINCT w) AS v FROM cwc),
           |cls AS (SELECT lbl, COUNT(*) AS ndocs FROM docs0 WHERE is_tr GROUP BY 1),
           |ntot AS (SELECT CAST(SUM(ndocs) AS BIGINT) AS ntot FROM cls),
           |ci AS (
           |  SELECT c.lbl AS cls,
           |    ln(CAST(c.ndocs AS DOUBLE) / CAST(ntot.ntot AS DOUBLE)) AS prior,
           |    n.ncl, vv.v
           |  FROM cls c JOIN nc n ON n.lbl = c.lbl CROSS JOIN ntot CROSS JOIN vv),
           |dt AS (
           |  SELECT doc_id, lbl, is_tr, w, COUNT(*) AS n
           |  FROM (SELECT doc_id, lbl, is_tr, unnest(t) AS w FROM docs0)
           |  GROUP BY 1, 2, 3, 4),
           |dtv AS (SELECT * FROM dt WHERE w IN (SELECT w FROM voc)),
           |sc AS (
           |  SELECT d.doc_id, d.lbl, d.is_tr, ci.cls, ci.prior, d.w,
           |    CAST(d.n AS DOUBLE) * ln(CAST(COALESCE(t.cwc, 0) + 1 AS DOUBLE)
           |      / CAST(ci.ncl + ci.v AS DOUBLE)) AS c
           |  FROM dtv d CROSS JOIN ci
           |  LEFT JOIN cwc t ON t.lbl = ci.cls AND t.w = d.w),
           |pc AS (
           |  SELECT doc_id, lbl, is_tr, cls,
           |    list_reduce(list_prepend(prior, list(c ORDER BY w)),
           |      (a, x) -> a + x) AS score
           |  FROM sc GROUP BY doc_id, lbl, is_tr, cls, prior),
           |win AS (
           |  SELECT doc_id, lbl, is_tr, cls, score,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, cls ASC) AS rn
           |  FROM pc)
           |SELECT doc_id, lbl AS label, cls AS pred, score, is_tr AS is_train,
           |  cls = lbl AS correct
           |FROM win WHERE rn = 1""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Deterministic train/val/test split: 80/10/10 by salted id hash.
    // A row's assignment is a pure function of its id — stable under corpus
    // growth, reshuffling, and engine choice.
    QueryDef(
      "q46_hash_split",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.withSplit(docs, col("doc_id"), trainPct = 80, valPct = 10)
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some(s"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
           |  lang, COUNT(*) AS n_docs
           |FROM (SELECT lang, ${Sampling.duckHashBucket("doc_id")} AS b FROM documents)
           |GROUP BY 1, 2""".stripMargin)),

    // Deterministic per-group sample: 20 docs per language by salted hash
    // order (reservoir-sampling stand-in with partition-independent output).
    QueryDef(
      "q47_per_group_sample",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.perGroupSample(docs, col("lang"), col("doc_id"), 20)
          .select(col("doc_id"), col("lang"))
      },
      Some {
        val h = Hashing.duckHash60("('sample-' || CAST(doc_id AS VARCHAR))")
        s"""SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang,
           |    row_number() OVER (PARTITION BY lang ORDER BY $h ASC, doc_id ASC) AS rn
           |  FROM documents)
           |WHERE rn <= 20""".stripMargin
      }),

    // Corpus token inventory: the "how many tokens do we have, where" query
    // that sizes every training run. Exact sums via map-side-combining aggs.
    QueryDef(
      "q48_token_inventory",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(Text.wordCount(col("text")).cast("long")).as("ws_tokens"),
            sum(Text.bpeishTokenCount(col("text")).cast("long")).as("bpeish_tokens"),
            sum(col("n_chars")).as("total_chars"))
      },
      Some(s"""SELECT lang, source, COUNT(*) AS n_docs,
           |  CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS ws_tokens,
           |  CAST(SUM(${Text.duckBpeishTokenCount("text")}) AS BIGINT) AS bpeish_tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
           |FROM documents GROUP BY 1, 2""".stripMargin)),

    // Benchmark decontamination: corpus docs sharing >= 5 distinct 3-gram
    // shingles with any eval-set doc (deterministic eval subset: doc_id % 50
    // == 0). The eval shingle rows broadcast; the corpus side never shuffles.
    QueryDef(
      "q87_decontamination",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.contaminationPairs(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          col("doc_id"), col("text"), 3, 5)
      },
      Some(s"""WITH ${DedupQueries.duckShingleCte},
           |ev AS (SELECT id AS eval_id, sh FROM sh WHERE id % 50 = 0),
           |cp AS (SELECT id AS doc_id, sh FROM sh WHERE id % 50 <> 0)
           |SELECT doc_id, eval_id, COUNT(*) AS n_shared
           |FROM cp JOIN ev USING (sh)
           |GROUP BY 1, 2
           |HAVING COUNT(*) >= 5""".stripMargin)),

    // Bloom-accelerated decontamination: identical semantics to q87 (eval
    // split doc_id % 40, >= 4 shared 3-gram shingles) but the eval shingles
    // broadcast as a 2^18-bit native Bloom array instead of raw rows; the
    // exact verify join kills the false positives, so the oracle is the
    // plain exact relational query — bloom + verify == exact, hash-green.
    QueryDef(
      "q105_decontamination_bloom",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.contaminationPairsBloom(
          docs.where(col("doc_id") % 40 =!= 0),
          docs.where(col("doc_id") % 40 === 0),
          col("doc_id"), col("text"), 3, 4, numBits = 1 << 18, numHashes = 3)
      },
      Some(s"""WITH ${DedupQueries.duckShingleCte},
           |ev AS (SELECT id AS eval_id, sh FROM sh WHERE id % 40 = 0),
           |cp AS (SELECT id AS doc_id, sh FROM sh WHERE id % 40 <> 0)
           |SELECT doc_id, eval_id, COUNT(*) AS n_shared
           |FROM cp JOIN ev USING (sh)
           |GROUP BY 1, 2
           |HAVING COUNT(*) >= 4""".stripMargin)),

    // Targeted decontamination REMOVAL (q87 flags; this CUTS): every
    // 5-token window of a corpus doc appearing verbatim in the eval set
    // (doc_id % 50 == 0) is marked, runs merge to maximal spans, all spans
    // are cut — the document survives minus the leaked text. The corpus
    // has no organic verbatim 5-gram leaks at test SF, so the QUERY plants
    // them (the q135/q141 discipline): every corpus doc with doc_id % 10
    // == 1 gets the 12-token prefix of its floor-multiple-of-50 eval doc
    // appended; the cut must remove exactly that suffix (plus any organic
    // hits) and leave every other doc untouched. Both engines build the
    // identical planted corpus and replay the identical mark/island/cut.
    QueryDef(
      "q177_decontam_cut",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val evalSet = docs.where(pmod(col("doc_id"), lit(50)) === 0)
          .select(col("doc_id"), col("text"))
        val corpus0 = docs.where(pmod(col("doc_id"), lit(50)) =!= 0)
          .select(col("doc_id"), col("text"))
        val pref = concat_ws(" ", slice(Text.tokens(col("etext")), 1, 12))
        val corpus = corpus0
          .join(evalSet.select(col("doc_id").as("eid"), col("text").as("etext")),
            col("eid") === col("doc_id") - pmod(col("doc_id"), lit(50)), "left_outer")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) === 1 && col("etext").isNotNull,
              concat(col("text"), lit(" "), pref)).otherwise(col("text")).as("text"))
        Dedup.cutEvalSpans(corpus, col("doc_id"), col("text"),
          evalSet, col("doc_id"), col("text"), n = 5)
      },
      Some(s"""WITH ev AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
           |corp0 AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
           |corp AS (
           |  SELECT c.doc_id,
           |    CASE WHEN c.doc_id % 10 = 1 AND e.text IS NOT NULL
           |      THEN c.text || ' ' || array_to_string(
           |        list_slice(string_split_regex(e.text, '\\s+'), 1, 12), ' ')
           |      ELSE c.text END AS text
           |  FROM corp0 c LEFT JOIN ev e ON e.doc_id = c.doc_id - (c.doc_id % 50)),
           |etoks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM ev),
           |egh AS (
           |  SELECT DISTINCT ${Hashing.duckFoldHexCol("m")} AS gh FROM (
           |    SELECT md5(array_to_string(list_slice(t, CAST(pos AS INTEGER),
           |      CAST(pos + 4 AS INTEGER)), ' ')) AS m
           |    FROM etoks, unnest(range(1, len(t) - 5 + 2)) AS tp(pos)
           |    WHERE len(t) >= 5)),
           |toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM corp),
           |ghs AS (
           |  SELECT doc_id, pos, ${Hashing.duckFoldHexCol("m")} AS gh FROM (
           |    SELECT doc_id, pos, md5(array_to_string(list_slice(t,
           |      CAST(pos AS INTEGER), CAST(pos + 4 AS INTEGER)), ' ')) AS m
           |    FROM toks, unnest(range(1, len(t) - 5 + 2)) AS tp(pos)
           |    WHERE len(t) >= 5)),
           |mk AS (SELECT doc_id, pos FROM ghs WHERE gh IN (SELECT gh FROM egh)),
           |isl AS (
           |  SELECT doc_id, pos,
           |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |  FROM mk),
           |cuts AS (
           |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
           |  FROM isl GROUP BY doc_id, grp),
           |kept AS (
           |  SELECT t.doc_id, pos, t.t[pos] AS tok
           |  FROM toks t, unnest(range(1, len(t.t) + 1)) AS tp(pos)
           |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
           |    WHERE c.doc_id = t.doc_id AND pos >= c.s AND pos <= c.e)),
           |keptagg AS (
           |  SELECT doc_id, COUNT(*) AS n_kept,
           |    array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
           |  FROM kept GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
           |  CAST(len(t.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           |  COALESCE(k.cleaned, '') AS cleaned_text
           |FROM toks t LEFT JOIN keptagg k USING (doc_id)""".stripMargin)),

    // Source-mixing weights: keep all of src0, half of src1, a quarter of
    // src2, 10% of everything else — per-row hash-threshold decision, no
    // shuffle, nested-sample monotone in the rate.
    QueryDef(
      "q88_source_mixing",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.mixBySource(docs, col("doc_id"), col("source"),
            Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
          .select(col("doc_id"), col("source"))
      },
      Some(s"""SELECT doc_id, source FROM documents
           |WHERE ${Sampling.duckMixPredicate("doc_id", "source",
                Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)}""".stripMargin)),

    // Sequence packing (concat-and-chunk at a 2048-token context): per-doc
    // chunk spans from a DISTRIBUTED two-phase cumulative token sum; the
    // oracle is the plain single-window cumsum, which also proves the
    // partition-offset recomposition exact.
    QueryDef(
      "q89_sequence_packing",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.packSequences(docs, col("doc_id"), Text.wordCount(col("text")), 2048L)
      },
      Some {
        val nTok = "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)"
        s"""WITH t AS (
           |  SELECT doc_id, $nTok AS n_tok FROM documents WHERE $nTok > 0),
           |c AS (
           |  SELECT doc_id, n_tok,
           |    CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
           |  FROM t),
           |x AS (
           |  SELECT doc_id, n_tok, end_tok - n_tok AS start_tok,
           |    unnest(range((end_tok - n_tok) // 2048, (end_tok - 1) // 2048 + 1)) AS chunk_id
           |  FROM c)
           |SELECT doc_id, chunk_id, n_tok,
           |  least(start_tok + n_tok, (chunk_id + 1) * 2048)
           |    - greatest(start_tok, chunk_id * 2048) AS tokens_in_chunk
           |FROM x""".stripMargin
      }),

    // Weighted SYSTEMATIC sample (PPS): sampling positions every 2000 chars
    // (offset 1000) on the global weight line — inclusion probability
    // exactly n_chars/2000, fixed sample size, integer-exact on the
    // distributed cumsum (the oracle is the plain single-window cumsum).
    QueryDef(
      "q122_systematic_sample",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.systematicWeightedSample(docs, col("doc_id"), col("n_chars"),
          step = 2000L, offset = 1000L)
      },
      Some("""WITH c AS (
           |  SELECT doc_id, n_chars AS w,
           |    CAST(SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_w
           |  FROM documents WHERE n_chars > 0)
           |SELECT doc_id, w, end_w - w AS start_w,
           |  (end_w - 1 - 1000 + 2000) // 2000 - (end_w - w - 1 - 1000 + 2000) // 2000 AS n_picks
           |FROM c
           |WHERE (end_w - 1 - 1000 + 2000) // 2000 - (end_w - w - 1 - 1000 + 2000) // 2000 >= 1""".stripMargin)),

    // Stratified sample of exactly 60 docs across the 20 sources with
    // largest-remainder (Hamilton) allocation — every quota within 1 of
    // exact proportionality, integer allocation arithmetic, per-stratum
    // membership by the deterministic hash ranking.
    QueryDef(
      "q123_stratified_sample",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.stratifiedSample(docs, col("doc_id"), col("source"), n = 60L)
          .select(col("doc_id"), col("source"), col("quota"))
      },
      Some {
        val h = Hashing.duckHash60("('strat-' || CAST(doc_id AS VARCHAR))")
        s"""WITH counts AS (SELECT source AS stratum, COUNT(*) AS ns FROM documents GROUP BY source),
           |tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS ntot FROM counts),
           |alloc AS (
           |  SELECT stratum, ns, (60 * ns) // ntot AS base, (60 * ns) % ntot AS rem
           |  FROM counts CROSS JOIN tot),
           |tb AS (SELECT CAST(SUM(base) AS BIGINT) AS sbase FROM alloc),
           |quota AS (
           |  SELECT stratum,
           |    CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum ASC)
           |      <= 60 - sbase THEN 1 ELSE 0 END AS BIGINT) AS quota
           |  FROM alloc CROSS JOIN tb),
           |ranked AS (
           |  SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source ORDER BY $h ASC, doc_id ASC) AS rn
           |  FROM documents)
           |SELECT doc_id, source, quota
           |FROM ranked JOIN quota ON quota.stratum = ranked.source
           |WHERE rn <= quota""".stripMargin
      }),

    // Materialized packing: q89's chunk spans assembled into actual
    // 512-token training rows (docs concatenated in id order, sliced at
    // boundaries) — segment order fixed by the sorted-struct fold, so the
    // chunk text hash-matches DuckDB's list(ORDER BY doc_id) assembly.
    QueryDef(
      "q127_packed_chunks",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.packedChunks(docs, col("doc_id"), col("text"), budget = 512L)
      },
      Some {
        val nTok = "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)"
        s"""WITH t AS (
           |  SELECT doc_id, string_split_regex(text, '\\s+') AS t, $nTok AS w
           |  FROM documents WHERE $nTok > 0),
           |c AS (
           |  SELECT doc_id, t, w,
           |    CAST(SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_w
           |  FROM t),
           |x AS (
           |  SELECT doc_id, t, w, end_w - w AS start_w,
           |    unnest(range((end_w - w) // 512, (end_w - 1) // 512 + 1)) AS chunk_id
           |  FROM c),
           |seg AS (
           |  SELECT doc_id, chunk_id,
           |    greatest(start_w, chunk_id * 512) - start_w + 1 AS lo,
           |    least(start_w + w, (chunk_id + 1) * 512) - start_w AS hi,
           |    t
           |  FROM x)
           |SELECT chunk_id, COUNT(*) AS n_docs,
           |  CAST(SUM(hi - lo + 1) AS BIGINT) AS n_tokens,
           |  array_to_string(list(array_to_string(
           |    list_slice(t, CAST(lo AS INTEGER), CAST(hi AS INTEGER)), ' ')
           |    ORDER BY doc_id), ' ') AS chunk_text
           |FROM seg GROUP BY chunk_id""".stripMargin
      }),

    // CURRICULUM packing: the q89 budget-boundary packing with documents
    // laid on the token line in LM-difficulty order (q108 nll ascending,
    // doc_id tiebreak) instead of id order — chunk_id now reads easy→hard,
    // the curriculum-learning data layout. Only LM-scoreable docs (≥ 2
    // tokens) pack; the oracle chains the shared q108 CTE chain into the
    // plain single-window cumsum ordered by (nll, doc_id).
    QueryDef(
      "q139_curriculum_pack",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val train = docs.where(pmod(Hashing.hash60(
          concat(lit("lm-"), col("doc_id").cast("string"))), lit(2L)) === 0)
        val scored = Text.bigramLmScore(train, docs, col("doc_id"), col("text"))
          .select(col("doc_id"), col("nll"))
        val withTok = docs.join(scored, "doc_id")
          .select(col("doc_id"), col("nll"), Text.wordCount(col("text")).as("n_tok"))
        Sampling.packSequencesBy(withTok, col("doc_id"), col("n_tok"),
            col("nll"), budget = 2048L)
          .withColumnRenamed("key", "nll")
      },
      Some {
        val nTok = "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)"
        s"""WITH ${TextQueries.duckLmScoreCtes},
           |t AS (
           |  SELECT d.doc_id, s.nll, $nTok AS n_tok
           |  FROM documents d JOIN lmscores s ON s.doc_id = d.doc_id
           |  WHERE $nTok > 0),
           |c AS (
           |  SELECT doc_id, nll, n_tok,
           |    CAST(SUM(n_tok) OVER (ORDER BY nll, doc_id ROWS UNBOUNDED PRECEDING)
           |      AS BIGINT) AS end_tok
           |  FROM t),
           |x AS (
           |  SELECT doc_id, nll, n_tok, end_tok - n_tok AS start_tok,
           |    unnest(range((end_tok - n_tok) // 2048, (end_tok - 1) // 2048 + 1)) AS chunk_id
           |  FROM c)
           |SELECT doc_id, nll, chunk_id, n_tok,
           |  least(start_tok + n_tok, (chunk_id + 1) * 2048)
           |    - greatest(start_tok, chunk_id * 2048) AS tokens_in_chunk
           |FROM x""".stripMargin
      }),

    // The composed MULTIMODAL curation funnel: document+asset pairs gated
    // by predicted language -> composite quality -> metadata integrity
    // (sniffed mime == declared) -> cross-modal alignment (cosine >= 0),
    // reported as per-source sequential survival counts — the multimodal
    // complement of q90/q117, composing four independently-verified
    // operators (q40, q41, q70, q138) end to end. Only docs WITH a paired
    // embedding enter the funnel (the LAION pair-table framing).
    QueryDef(
      "q152_multimodal_funnel",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val emb = Tables.load(s, dir, "embeddings")
        val media = Media.syntheticFromDocs(docs, col("doc_id"), col("text"))
        val meta = Media.extractMeta(media, col("media_id"), col("payload"))
          .select(col("media_id").as("doc_id"),
            (col("declared_mime") === col("sniffed_mime")).as("meta_ok"))
        val aligned = graft.ops.Similarity.crossModalAlignment(
            docs, col("doc_id"), col("text"),
            emb, col("vec_id"), col("embedding"), dims = 64, minCos = 0.0)
          .select(col("doc_id"), col("aligned"))
        val staged = docs
          .join(meta, "doc_id")
          .join(aligned, "doc_id")
          .select(col("source"),
            (Text.langId(col("text")) === "en").as("l_ok"),
            (Text.qualityScore(col("text")) >= 0.5).as("q_ok"),
            col("meta_ok"), col("aligned"))
        staged.groupBy(col("source")).agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("l_ok"), 1L).otherwise(0L)).as("n_lang"),
          sum(when(col("l_ok") && col("q_ok"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("l_ok") && col("q_ok") && col("meta_ok"), 1L).otherwise(0L))
            .as("n_meta"),
          sum(when(col("l_ok") && col("q_ok") && col("meta_ok") && col("aligned"), 1L)
            .otherwise(0L)).as("n_final"))
      },
      Some(s"""WITH ${SimilarityQueries.duckEmbCte},
           |${MediaQueries.duckMediaCte},
           |${SimilarityQueries.duckAlignmentCtes},
           |staged AS (
           |  SELECT d.source,
           |    ${Text.duckLangId("d.text")} = 'en' AS l_ok,
           |    ${Text.duckQualityScore("d.text")} >= 0.5 AS q_ok,
           |    (m.declared_mime = ${MediaQueries.duckSniff.replace("hex(payload)", "hex(m.payload)")}) AS meta_ok,
           |    sc.cosine >= 0.0 AS aligned
           |  FROM documents d
           |  JOIN media m ON m.media_id = d.doc_id
           |  JOIN scored sc ON sc.doc_id = d.doc_id)
           |SELECT source, COUNT(*) AS n_pairs,
           |  CAST(SUM(CASE WHEN l_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           |  CAST(SUM(CASE WHEN l_ok AND q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           |  CAST(SUM(CASE WHEN l_ok AND q_ok AND meta_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_meta,
           |  CAST(SUM(CASE WHEN l_ok AND q_ok AND meta_ok AND aligned THEN 1 ELSE 0 END) AS BIGINT) AS n_final
           |FROM staged GROUP BY source""".stripMargin)),

    // The composed curation pipeline: predicted-language filter -> quality
    // gate -> exact dedup (min-id representative) -> per-source yield stats.
    // Each stage is an independently-verified operator; this query verifies
    // their composition end to end.
    QueryDef(
      "q90_curation_pipeline",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val filtered = docs
          .where(Text.langId(col("text")) === "en")
          .where(Text.qualityScore(col("text")) >= 0.5)
        Dedup.exactByKey(filtered, col("text"), col("doc_id"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(Text.wordCount(col("text")).cast("long")).as("ws_tokens"))
      },
      Some {
        val t = "string_split_regex(text, '\\s+')"
        s"""WITH filtered AS (
           |  SELECT doc_id, source, text FROM documents
           |  WHERE ${Text.duckLangId("text")} = 'en'
           |    AND ${Text.duckQualityScore("text")} >= 0.5),
           |deduped AS (
           |  SELECT doc_id, source, text FROM (
           |    SELECT doc_id, source, text, min(doc_id) OVER (PARTITION BY text) AS m
           |    FROM filtered)
           |  WHERE doc_id = m)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(len($t)) AS BIGINT) AS ws_tokens
           |FROM deduped GROUP BY source""".stripMargin
      }),

    // The composed Gopher-style filter FUNNEL: raw -> language -> composite
    // quality -> repetition keep, with doc and whitespace-token survival per
    // stage — the one-look summary a curator reads before committing a
    // filter config. Embeds the full q106 repetition chain as a CTE.
    QueryDef(
      "q117_filter_funnel",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val rep = Text.repetitionProfile(docs, col("doc_id"), col("text"))
          .select(col("doc_id"), col("keep"))
        val base = docs.select(col("doc_id"),
          Text.wordCount(col("text")).cast("long").as("n_tok"),
          (Text.langId(col("text")) === "en").as("lang_ok"),
          (Text.qualityScore(col("text")) >= 0.5).as("q_ok"))
        val j = base.join(rep, "doc_id")
        // ONE conditional aggregation over the joined frame (not four union
        // branches relying on ReuseExchange to dedup identical subplans),
        // unpivoted by stack() to the same 4-row funnel schema — integer
        // sums, so the unpivot order can't perturb anything
        val conds = Seq(
          lit(true),
          col("lang_ok"),
          col("lang_ok") && col("q_ok"),
          col("lang_ok") && col("q_ok") && col("keep"))
        val aggs = conds.zipWithIndex.flatMap { case (c, i) =>
          Seq(
            coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)).as(s"d$i"),
            coalesce(sum(when(c, col("n_tok"))), lit(0L)).as(s"t$i"))
        }
        val agged = j.agg(aggs.head, aggs.tail: _*)
        agged.select(expr(
          "stack(4, " + (0 until 4).map(i =>
            s"bigint($i), d$i, t$i").mkString(", ") +
            ") AS (stage, n_docs, n_ws_tokens)"))
      },
      Some {
        val nTok = "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)"
        def stage(i: Int, cond: String) =
          s"""SELECT CAST($i AS BIGINT) AS stage, COUNT(*) AS n_docs,
             |  CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS n_ws_tokens
             |FROM j WHERE $cond""".stripMargin
        s"""WITH rep AS (${TextQueries.duckRepetitionSql}),
           |base AS (
           |  SELECT doc_id, $nTok AS n_tok,
           |    ${Text.duckLangId("text")} = 'en' AS lang_ok,
           |    ${Text.duckQualityScore("text")} >= 0.5 AS q_ok
           |  FROM documents),
           |j AS (SELECT b.*, r.keep FROM base b JOIN rep r USING (doc_id))
           |${stage(0, "true")}
           |UNION ALL ${stage(1, "lang_ok")}
           |UNION ALL ${stage(2, "lang_ok AND q_ok")}
           |UNION ALL ${stage(3, "lang_ok AND q_ok AND keep")}""".stripMargin
      }),

    // Temperature mixture weights (alpha = 1/2): per-source token masses ->
    // sqrt-flattened sampling distribution and the acceptance rates that
    // hit a 50k-token budget — the compute stage upstream of q88's
    // mixBySource. sqrt is correctly rounded in both engines, so even the
    // weights hash-match.
    QueryDef(
      "q113_mixture_weights",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.temperatureMixWeights(docs, col("source"),
          Text.wordCount(col("text")), budget = 50000L)
      },
      Some("""WITH per AS (
           |  SELECT source, COUNT(*) AS n_docs,
           |    CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |z AS (
           |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
           |    (a, b) -> a + b) AS z
           |  FROM per)
           |SELECT source, n_docs, n_tokens,
           |  sqrt(CAST(n_tokens AS DOUBLE)) / z AS weight,
           |  LEAST(CAST(1 AS DOUBLE),
           |    sqrt(CAST(n_tokens AS DOUBLE)) / z * 50000
           |      / CAST(n_tokens AS DOUBLE)) AS acceptance_rate
           |FROM per CROSS JOIN z""".stripMargin)),

    // Temperature mixing APPLIED end-to-end: q113 derives the sqrt-
    // flattened acceptance rates, q88 applies hand-specified rates — this
    // composes them: rates derived in-plan from the corpus's own token
    // masses (50k budget), broadcast-joined back, and every row kept iff
    // its salted hash lands under rate·10^6. The integer-hash-vs-derived-
    // double comparison is engine-exact (sqrt correctly rounded, fixed
    // normalizer fold), so the RESAMPLED corpus itself hash-matches, not
    // just the weights. Output: per-source kept counts + surviving tokens.
    QueryDef(
      "q179_temperature_resample",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val w = Sampling.temperatureMixWeights(docs, col("source"),
          Text.wordCount(col("text")), budget = 50000L)
        val rates = w.select(col("source").as("src"),
          col("acceptance_rate").as("rate"))
        Sampling.mixByDerivedRates(docs, col("doc_id"), col("source"), rates)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(Text.wordCount(col("text")).cast("long")).as("kept_tokens"))
      },
      Some(s"""WITH per AS (
           |  SELECT source, CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |z AS (
           |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
           |    (a, b) -> a + b) AS z
           |  FROM per),
           |rates AS (
           |  SELECT source, LEAST(CAST(1 AS DOUBLE),
           |    sqrt(CAST(n_tokens AS DOUBLE)) / z * 50000
           |      / CAST(n_tokens AS DOUBLE)) AS rate
           |  FROM per CROSS JOIN z),
           |kept AS (
           |  SELECT d.source, len(string_split_regex(d.text, '\\s+')) AS tok
           |  FROM documents d JOIN rates r USING (source)
           |  WHERE (${Hashing.duckHash60("('mix-' || CAST(doc_id AS VARCHAR))")} % 1000000)
           |    < r.rate * 1000000)
           |SELECT source, COUNT(*) AS n_kept, CAST(SUM(tok) AS BIGINT) AS kept_tokens
           |FROM kept GROUP BY 1""".stripMargin)),

    // Overlapping token chunks (64-token windows every 48 tokens): the
    // RAG/context-window splitter. Pure per-row arithmetic — the oracle
    // re-derives every window boundary including the shortened tail chunk.
    QueryDef(
      "q110_doc_chunks",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.chunkWithOverlap(docs, col("doc_id"), col("text"),
          chunkSize = 64, stride = 48)
      },
      Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
           |base AS (
           |  SELECT doc_id, t, len(t) AS n,
           |    1 + CASE WHEN len(t) > 64 THEN (len(t) - 64 + 48 - 1) // 48
           |        ELSE 0 END AS nchunks
           |  FROM toks WHERE len(t) >= 1),
           |ch AS (
           |  SELECT doc_id, t, n, unnest(range(0, nchunks)) AS cid FROM base)
           |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
           |  CAST(cid * 48 + 1 AS BIGINT) AS chunk_start,
           |  CAST(LEAST(64, n - (cid * 48 + 1) + 1) AS BIGINT) AS n_chunk_tokens,
           |  array_to_string(list_slice(t, CAST(cid * 48 + 1 AS INTEGER),
           |    CAST(LEAST(cid * 48 + 64, n) AS INTEGER)), ' ') AS chunk_text
           |FROM ch""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023): every document scored by
    // the hashed-n-gram log-likelihood ratio of a target distribution
    // (the English slice) over the raw corpus. Model = 512 bucket rows;
    // every ln is of an integer ratio and the per-doc sum folds in
    // bucket-id order, so the doubles hash-match.
    QueryDef(
      "q129_dsir_weights",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Select.dsirWeights(docs, col("doc_id"), col("text"),
          col("lang") === "en", numBuckets = 512)
      },
      Some {
        val h = Hashing.duckFoldHexCol("m")
        s"""WITH toks AS (
           |  SELECT doc_id, lang = 'en' AS is_t,
           |    list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, is_t, unnest(t) AS g FROM toks
           |  UNION ALL
           |  SELECT doc_id, is_t, t[pi] || ' ' || t[pi + 1] AS g
           |  FROM toks, unnest(range(1, len(t))) AS tt(pi)),
           |hb AS (
           |  SELECT doc_id, is_t, $h % 512 AS b
           |  FROM (SELECT doc_id, is_t, md5('ds-' || g) AS m FROM grams)),
           |dc AS (SELECT doc_id, is_t, b, COUNT(*) AS n FROM hb GROUP BY 1, 2, 3),
           |raw AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cq FROM dc GROUP BY 1),
           |tgt AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cp FROM dc WHERE is_t GROUP BY 1),
           |l0 AS (SELECT r.b, r.cq, COALESCE(t.cp, 0) AS cp
           |       FROM raw r LEFT JOIN tgt t USING (b)),
           |tots AS (SELECT CAST(SUM(cq) AS BIGINT) AS nq,
           |                CAST(SUM(cp) AS BIGINT) AS np FROM l0),
           |llr AS (
           |  SELECT b,
           |    ln(CAST(cp + 1 AS DOUBLE) / CAST(np + 512 AS DOUBLE))
           |    - ln(CAST(cq + 1 AS DOUBLE) / CAST(nq + 512 AS DOUBLE)) AS llr
           |  FROM l0 CROSS JOIN tots),
           |sc AS (
           |  SELECT dc.doc_id, CAST(SUM(dc.n) AS BIGINT) AS n_feats,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(CAST(dc.n AS DOUBLE) * llr.llr ORDER BY dc.b)),
           |      (a, x) -> a + x) AS logw
           |  FROM dc JOIN llr ON llr.b = dc.b
           |  GROUP BY dc.doc_id)
           |SELECT doc_id, n_feats, logw, logw > 0.0 AS target_like FROM sc""".stripMargin
      }),

    // Naive Bayes language classifier, trained on the deterministic 3/4
    // hash split with a top-60 vocabulary cap (engaged: the corpus
    // vocabulary is ~100 words, so out-of-vocab scoring is exercised), and
    // scored over EVERY document — the closed-form member of the
    // fastText-style classifier-filtering family. Per-(doc, class) scores
    // fold from the class prior in token order; argmax ties break to the
    // smallest class.
    QueryDef(
      "q130_nb_classifier",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Select.nbTrainScore(docs, col("doc_id"), col("text"), col("lang"),
          pmod(Hashing.hash60(concat(lit("nb-"), col("doc_id").cast("string"))),
            lit(4L)) < 3,
          maxVocab = Some(60))
      },
      Some(duckNbOracle)),

    // Greedy token-budget corpus selection: "the best 8k-token corpus" —
    // documents taken in (quality desc, id) order while the cumulative
    // token count stays within budget. The cut is exact-prefix (cum_tok is
    // the true global prefix sum from the two-phase cumsum, not a
    // per-partition approximation); the oracle replays the same ordering
    // with a plain window cumsum. Quality is integer-ratio arithmetic, so
    // the DESC ordering agrees cross-engine bit-for-bit.
    QueryDef(
      "q183_token_budget_selection",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.selectByBudget(docs, col("doc_id"),
          Text.qualityScore(col("text")), Text.wordCount(col("text")),
          budget = 8000L)
      },
      Some(s"""WITH q AS (
           |  SELECT doc_id, ${Text.duckQualityScore("text")} AS score,
           |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, score, n_tok,
           |    CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cum_tok
           |  FROM q)
           |SELECT doc_id, score, n_tok, cum_tok FROM c
           |WHERE cum_tok <= 8000""".stripMargin)),

    // Per-eval-doc contamination REPORT (q87 flags pairs; this is the
    // summary a curator signs off on): corpus-leak count, worst single
    // overlap, and max containment per eval document — zeros included, so
    // "clean" is an explicit row, not an absence. Same eval split as q87
    // (doc_id % 50), lower minShared (3) so the report has graded severity
    // at test SF.
    QueryDef(
      "q184_contamination_report",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.contaminationReport(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          col("doc_id"), col("text"), 3, 3)
      },
      Some(s"""WITH ${DedupQueries.duckShingleCte},
           |ev AS (SELECT id AS eval_id, sh FROM sh WHERE id % 50 = 0),
           |cp AS (SELECT id AS doc_id, sh FROM sh WHERE id % 50 <> 0),
           |pairs AS (
           |  SELECT doc_id, eval_id, COUNT(*) AS n_shared
           |  FROM cp JOIN ev USING (sh)
           |  GROUP BY 1, 2
           |  HAVING COUNT(*) >= 3),
           |sizes AS (SELECT eval_id, COUNT(*) AS n_shingles FROM ev GROUP BY 1),
           |agg AS (
           |  SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_flagged,
           |    CAST(MAX(n_shared) AS BIGINT) AS max_shared
           |  FROM pairs GROUP BY 1)
           |SELECT s.eval_id, CAST(s.n_shingles AS BIGINT) AS n_shingles,
           |  COALESCE(a.n_flagged, 0) AS n_flagged,
           |  COALESCE(a.max_shared, 0) AS max_shared,
           |  CAST(COALESCE(a.max_shared, 0) AS DOUBLE)
           |    / CAST(s.n_shingles AS DOUBLE) AS max_containment
           |FROM sizes s LEFT JOIN agg a ON a.eval_id = s.eval_id""".stripMargin)),

    // One-row corpus DATASHEET — the "dataset card" header block every
    // release pipeline stamps on a corpus drop: volume (docs/tokens/chars),
    // diversity (languages/sources), and exact-duplication volume. Each
    // distinct count runs as its OWN tiny aggregation crossJoined back as a
    // 1-row broadcast rather than one multi-countDistinct agg — the Expand
    // operator a combined plan would use triples the corpus rows through
    // the shuffle, while separate aggs each shuffle only their own narrow
    // column (lang/source are near-empty domains; the md5 distinct is the
    // only corpus-cardinality one, two longs per row). dup_frac is one
    // double division from two exact longs.
    QueryDef(
      "q215_corpus_datasheet",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(Text.wordCount(col("text")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        val langs = docs.agg(countDistinct(col("lang")).as("n_langs"))
        val sources = docs.agg(countDistinct(col("source")).as("n_sources"))
        val texts = docs.agg(countDistinct(md5(col("text"))).as("n_distinct_texts"))
        base.crossJoin(broadcast(langs)).crossJoin(broadcast(sources))
          .crossJoin(broadcast(texts))
          .withColumn("dup_frac",
            (col("n_docs") - col("n_distinct_texts")).cast("double") / col("n_docs"))
      },
      Some("""SELECT COUNT(*) AS n_docs,
           |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           |  COUNT(DISTINCT lang) AS n_langs,
           |  COUNT(DISTINCT source) AS n_sources,
           |  COUNT(DISTINCT md5(text)) AS n_distinct_texts,
           |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_frac
           |FROM documents""".stripMargin)),

    // PER-SOURCE datasheet — the q215 card broken out by source: the table
    // a curator reads before setting mixture weights (volume, language
    // spread, within-source duplication, mean document length). Same
    // discipline: each distinct count is its own narrow aggregation joined
    // back on the near-empty source key rather than one Expand-ing
    // multi-countDistinct pass.
    QueryDef(
      "q219_source_datasheet",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(Text.wordCount(col("text")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        val langs = docs.groupBy(col("source"))
          .agg(countDistinct(col("lang")).as("n_langs"))
        val texts = docs.groupBy(col("source"))
          .agg(countDistinct(md5(col("text"))).as("n_distinct_texts"))
        base.join(langs, "source").join(texts, "source")
          .withColumn("dup_frac",
            (col("n_docs") - col("n_distinct_texts")).cast("double") / col("n_docs"))
          .withColumn("mean_tokens",
            col("n_tokens").cast("double") / col("n_docs"))
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           |  COUNT(DISTINCT lang) AS n_langs,
           |  COUNT(DISTINCT md5(text)) AS n_distinct_texts,
           |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_frac,
           |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS DOUBLE) / COUNT(*) AS mean_tokens
           |FROM documents GROUP BY source""".stripMargin)),

    // DURABLE NB count tables (the last trained artifact without one): raw
    // (lbl, ndocs) and (lbl, w, cwc) counts are ADDITIVE, so training each
    // half of the train split separately and merging by summation must
    // reproduce q130's predictions exactly — the vocab cap applies at READ
    // inside the one shared scoring tree (the q198 law: top-V-of-merge ≠
    // merge-of-top-Vs, so raw counts are what the table stores). Oracle is
    // q130's verbatim.
    QueryDef(
      "q221_nb_table_merge",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val isTr = pmod(Hashing.hash60(
          concat(lit("nb-"), col("doc_id").cast("string"))), lit(4L)) < 3
        val train = docs.where(isTr)
        val tables = Select.nbMergeCounts(
          Select.nbCountTables(train.where(pmod(col("doc_id"), lit(2)) === 0),
            col("doc_id"), col("text"), col("lang")),
          Select.nbCountTables(train.where(pmod(col("doc_id"), lit(2)) =!= 0),
            col("doc_id"), col("text"), col("lang")))
        Select.nbScoreFromTables(tables, docs, col("doc_id"), col("text"),
          col("lang"), isTr, maxVocab = Some(60))
      },
      Some(duckNbOracle)),

    // END-TO-END batch curation, one oracle-checked query: mojibake repair
    // (observable — every 30th doc is planted with real cp1252 artifacts)
    // → language + quality filter → exact-dup survivor election →
    // benchmark decontamination (eval = every 40th repaired doc, ≥ 4
    // shared 3-gram shingles drops the corpus doc) → quality-ranked token
    // budget. Each stage is an independently hash-proved operator
    // (q214/q90/q50/q87/q183); this query proves the COMPOSITION — stage
    // order, column flow, and every boundary — against one relational
    // replay of the whole chain.
    QueryDef(
      "q222_curation_e2e",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corrupted = " caf\u00c3\u00a9 na\u00c3\u00afve \u00e2\u20ac\u0153quoted\u00e2\u20ac\u00a6"
        val planted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(30)) === 0,
            concat(col("text"), lit(corrupted)))
            .otherwise(col("text")).as("text"))
        // `fixed` feeds both the filter chain and the eval split, `deduped`
        // feeds both the corpus cut and (in the funnel report) its own stat
        // row — break the lineage so the repair pass and the md5 election
        // run once instead of once per consumer
        val fixed = planted.withColumn("text", Text.fixMojibake(col("text")))
          .localCheckpoint()
        val filtered = fixed
          .where(Text.langId(col("text")) === "en" &&
            Text.qualityScore(col("text")) >= 0.5)
        val deduped = Dedup.exactByKey(filtered, col("text"), col("doc_id"))
          .localCheckpoint()
        val evalSet = fixed.where(pmod(col("doc_id"), lit(40)) === 0)
        val corpus = deduped.where(pmod(col("doc_id"), lit(40)) =!= 0)
        val contaminated = Dedup.contaminationPairs(corpus, evalSet,
            col("doc_id"), col("text"), 3, 4)
          .select(col("doc_id")).distinct()
        val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
        Sampling.selectByBudget(clean, col("doc_id"),
          Text.qualityScore(col("text")), Text.wordCount(col("text")),
          budget = 8000L)
      }, {
        val corrupted = " caf\u00c3\u00a9 na\u00c3\u00afve \u00e2\u20ac\u0153quoted\u00e2\u20ac\u00a6"
        Some(s"""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 30 = 0 THEN text || ${Text.duckChr(corrupted)}
             |         ELSE text END AS text
             |  FROM documents),
             |fixed AS (
             |  SELECT doc_id, ${Text.duckFixMojibake("text")} AS text FROM planted),
             |filtered AS (
             |  SELECT doc_id, text FROM fixed
             |  WHERE ${Text.duckLangId("text")} = 'en'
             |    AND ${Text.duckQualityScore("text")} >= 0.5),
             |deduped AS (
             |  SELECT doc_id, text FROM (
             |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS m
             |    FROM filtered)
             |  WHERE doc_id = m),
             |evl AS (
             |  SELECT doc_id AS eval_id, unnest(${Text.duckShingles("text", 3)}) AS sh
             |  FROM fixed WHERE doc_id % 40 = 0),
             |cp AS (
             |  SELECT doc_id, text, unnest(${Text.duckShingles("text", 3)}) AS sh
             |  FROM deduped WHERE doc_id % 40 <> 0),
             |contam AS (
             |  SELECT doc_id FROM (
             |    SELECT cp.doc_id, evl.eval_id, COUNT(*) AS ns
             |    FROM cp JOIN evl USING (sh) GROUP BY 1, 2 HAVING COUNT(*) >= 4)
             |  GROUP BY doc_id),
             |clean AS (
             |  SELECT doc_id, text FROM deduped
             |  WHERE doc_id % 40 <> 0
             |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
             |q AS (
             |  SELECT doc_id, ${Text.duckQualityScore("text")} AS score,
             |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
             |  FROM clean),
             |c AS (
             |  SELECT doc_id, score, n_tok,
             |    CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_tok
             |  FROM q)
             |SELECT doc_id, score, n_tok, cum_tok FROM c
             |WHERE cum_tok <= 8000""".stripMargin)
      }),

    // The q222 chain's per-stage FUNNEL report — doc and token survival
    // after repair, quality, dedup, decontamination and the budget cut:
    // the one-look summary a curator signs before committing the pipeline
    // config (the q117 reporting discipline applied to the full chain).
    // Five 1-row aggregates unioned; every number is an exact long.
    QueryDef(
      "q225_curation_funnel",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corrupted = " caf\u00c3\u00a9 na\u00c3\u00afve \u00e2\u20ac\u0153quoted\u00e2\u20ac\u00a6"
        val planted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(30)) === 0,
            concat(col("text"), lit(corrupted)))
            .otherwise(col("text")).as("text"))
        // `fixed` feeds both the filter chain and the eval split, `deduped`
        // feeds both the corpus cut and (in the funnel report) its own stat
        // row — break the lineage so the repair pass and the md5 election
        // run once instead of once per consumer
        val fixed = planted.withColumn("text", Text.fixMojibake(col("text")))
          .localCheckpoint()
        val filtered = fixed
          .where(Text.langId(col("text")) === "en" &&
            Text.qualityScore(col("text")) >= 0.5)
        val deduped = Dedup.exactByKey(filtered, col("text"), col("doc_id"))
          .localCheckpoint()
        val evalSet = fixed.where(pmod(col("doc_id"), lit(40)) === 0)
        val corpus = deduped.where(pmod(col("doc_id"), lit(40)) =!= 0)
        val contaminated = Dedup.contaminationPairs(corpus, evalSet,
            col("doc_id"), col("text"), 3, 4)
          .select(col("doc_id")).distinct()
        val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
          // two consumers (its stat row + the budget stage): the
          // contamination shingle join must not replay
          .localCheckpoint()
        val budget = Sampling.selectByBudget(clean, col("doc_id"),
          Text.qualityScore(col("text")), Text.wordCount(col("text")),
          budget = 8000L)
        def stat(name: String, df: org.apache.spark.sql.DataFrame,
            tok: org.apache.spark.sql.Column) =
          df.groupBy().agg(count(lit(1)).as("n_docs"),
              sum(tok.cast("long")).as("n_tokens"))
            .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
        stat("00_repaired", fixed, Text.wordCount(col("text")))
          .unionByName(stat("10_quality", filtered, Text.wordCount(col("text"))))
          .unionByName(stat("20_dedup", deduped, Text.wordCount(col("text"))))
          .unionByName(stat("30_decontam", clean, Text.wordCount(col("text"))))
          .unionByName(stat("40_budget", budget, col("n_tok")))
      }, {
        val corrupted = " caf\u00c3\u00a9 na\u00c3\u00afve \u00e2\u20ac\u0153quoted\u00e2\u20ac\u00a6"
        val tok = "CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)"
        Some(s"""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 30 = 0 THEN text || ${Text.duckChr(corrupted)}
             |         ELSE text END AS text
             |  FROM documents),
             |fixed AS (
             |  SELECT doc_id, ${Text.duckFixMojibake("text")} AS text FROM planted),
             |filtered AS (
             |  SELECT doc_id, text FROM fixed
             |  WHERE ${Text.duckLangId("text")} = 'en'
             |    AND ${Text.duckQualityScore("text")} >= 0.5),
             |deduped AS (
             |  SELECT doc_id, text FROM (
             |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS m
             |    FROM filtered)
             |  WHERE doc_id = m),
             |evl AS (
             |  SELECT doc_id AS eval_id, unnest(${Text.duckShingles("text", 3)}) AS sh
             |  FROM fixed WHERE doc_id % 40 = 0),
             |cp AS (
             |  SELECT doc_id, text, unnest(${Text.duckShingles("text", 3)}) AS sh
             |  FROM deduped WHERE doc_id % 40 <> 0),
             |contam AS (
             |  SELECT doc_id FROM (
             |    SELECT cp.doc_id, evl.eval_id, COUNT(*) AS ns
             |    FROM cp JOIN evl USING (sh) GROUP BY 1, 2 HAVING COUNT(*) >= 4)
             |  GROUP BY doc_id),
             |clean AS (
             |  SELECT doc_id, text FROM deduped
             |  WHERE doc_id % 40 <> 0
             |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
             |q AS (
             |  SELECT doc_id, ${Text.duckQualityScore("text")} AS score,
             |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
             |  FROM clean),
             |c AS (
             |  SELECT doc_id, n_tok,
             |    CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_tok
             |  FROM q)
             |SELECT '00_repaired' AS stage, COUNT(*) AS n_docs, $tok AS n_tokens FROM fixed
             |UNION ALL
             |SELECT '10_quality', COUNT(*), $tok FROM filtered
             |UNION ALL
             |SELECT '20_dedup', COUNT(*), $tok FROM deduped
             |UNION ALL
             |SELECT '30_decontam', COUNT(*), $tok FROM clean
             |UNION ALL
             |SELECT '40_budget', COUNT(*), CAST(SUM(n_tok) AS BIGINT)
             |FROM c WHERE cum_tok <= 8000""".stripMargin)
      }),

    // Balanced training-shard export manifest — the final mile after q183's
    // budget selection and q127's packing: every document deals into one of
    // 16 shards by LPT round-robin over the global (tokens desc, id) order
    // (imbalance provably ≤ one document's tokens; SamplingSpec pins it),
    // and the manifest reports per-shard volume, size extremes, and an
    // order-independent additive membership checksum — what a consumer
    // diffs against re-manifested stored shards before trusting a drop.
    // The global order is the two-phase distributed rank (no single-task
    // window anywhere).
    QueryDef(
      "q232_shard_manifest",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Sampling.shardManifest(Sampling.shardAssign(
          docs, col("doc_id"), Text.wordCount(col("text")), nShards = 16))
      },
      Some(s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, n_tok,
           |    row_number() OVER (ORDER BY n_tok DESC, doc_id ASC) AS rank
           |  FROM t)
           |SELECT CAST((rank - 1) % 16 AS BIGINT) AS shard,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |  CAST(MAX(n_tok) AS BIGINT) AS max_doc_tokens,
           |  CAST(MIN(n_tok) AS BIGINT) AS min_doc_tokens,
           |  CAST(SUM(${Hashing.duckHash60("CAST(doc_id AS VARCHAR)")}
           |    % 1000000007) AS BIGINT) AS checksum
           |FROM r GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Corpus SNAPSHOT DIFF — the dataset-versioning report between two
    // corpus drops: per doc_id, 'removed' (in v1 only), 'added' (v2 only),
    // or 'changed' (content md5 differs); unchanged docs emit nothing. The
    // v2 snapshot is derived deterministically (1/13 deleted, 1/17
    // revised, 1/29 re-added under fresh ids). Scale shape: each side
    // reduces to (doc_id, md5) BEFORE the full-outer join, so the diff
    // shuffles two longs + 32 hex chars per doc — never text; at 100 TB
    // both snapshots bucket by doc_id and the join is co-located.
    QueryDef(
      "q235_snapshot_diff",
      (s, dir) => {
        val v1 = Tables.load(s, dir, "documents")
        val v2 = v1.where(pmod(col("doc_id"), lit(13)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(17)) === 0,
              concat(col("text"), lit(" rev2"))).otherwise(col("text")).as("text"))
          .unionByName(v1.where(pmod(col("doc_id"), lit(29)) === 0)
            .select((col("doc_id") + lit(20000000L)).as("doc_id"), col("text")))
        val a = v1.select(col("doc_id").as("id_a"),
          md5(col("text").cast("string")).as("m_a"))
        val b = v2.select(col("doc_id").as("id_b"),
          md5(col("text").cast("string")).as("m_b"))
        a.join(b, col("id_a") === col("id_b"), "full_outer")
          .where(col("id_b").isNull || col("id_a").isNull ||
            col("m_a") =!= col("m_b"))
          .select(coalesce(col("id_a"), col("id_b")).as("doc_id"),
            when(col("id_b").isNull, "removed")
              .when(col("id_a").isNull, "added")
              .otherwise("changed").as("status"))
      },
      Some("""WITH v2 AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 17 = 0 THEN text || ' rev2' ELSE text END AS text
           |  FROM documents WHERE doc_id % 13 <> 0
           |  UNION ALL
           |  SELECT doc_id + 20000000 AS doc_id, text FROM documents
           |  WHERE doc_id % 29 = 0),
           |a AS (SELECT doc_id, md5(text) AS m FROM documents),
           |b AS (SELECT doc_id, md5(text) AS m FROM v2)
           |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           |  CASE WHEN b.doc_id IS NULL THEN 'removed'
           |       WHEN a.doc_id IS NULL THEN 'added'
           |       ELSE 'changed' END AS status
           |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
           |WHERE b.doc_id IS NULL OR a.doc_id IS NULL OR a.m <> b.m""".stripMargin)),

    // DURABLE per-key sample table, maintenance path: the per-source
    // k-smallest-(hash, id) sample built on three id-shards separately and
    // merged (union + re-election — a semilattice, so merge == rebuild
    // exactly and re-absorbing a shard is a no-op). The oracle is the
    // one-shot election over the whole corpus: hash-match proves the
    // incrementally-maintained sample IS the full sample.
    QueryDef(
      "q256_sample_table_merge",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val shards = (0 until 3).map(i =>
          Sampling.sampleTable(docs.where(pmod(col("doc_id"), lit(3)) === i),
            col("source"), col("doc_id"), k = 10))
        Sampling.sampleTableMerge(shards, k = 10)
      },
      Some {
        val h = Hashing.duckHash60("('sample-' || CAST(doc_id AS VARCHAR))")
        s"""SELECT key, doc_id, h FROM (
           |  SELECT source AS key, doc_id, $h AS h,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY $h ASC, doc_id ASC) AS rn
           |  FROM documents)
           |WHERE rn <= 10""".stripMargin
      }),

    // Exact ROC-AUC of the composite quality score as a detector for
    // English documents — the classifier-evaluation primitive every scoring
    // gate needs (does the cheap score actually separate the target
    // class?). Tie-corrected Mann-Whitney over the per-distinct-score
    // frame; u2 is pure integer arithmetic so the one final division is the
    // only float op (bit-identical cross-engine). The oracle replays the
    // identical doubled statistic with a plain window cumsum.
    QueryDef(
      "q250_quality_auc",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Stats.rocAuc(docs, Text.qualityScore(col("text")), col("lang") === "en")
      },
      Some(s"""WITH q AS (
           |  SELECT ${Text.duckQualityScore("text")} AS s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
           |  FROM documents),
           |g AS (
           |  SELECT s, CAST(SUM(p) AS BIGINT) AS npos,
           |    CAST(SUM(1 - p) AS BIGINT) AS nneg
           |  FROM q GROUP BY 1),
           |c AS (
           |  SELECT s, npos, nneg,
           |    CAST(COALESCE(SUM(nneg) OVER (ORDER BY s ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS neg_below
           |  FROM g)
           |SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
           |  CAST(SUM(nneg) AS BIGINT) AS n_neg,
           |  CAST(SUM(npos * (2 * neg_below + nneg)) AS BIGINT) AS u2,
           |  CASE WHEN SUM(npos) = 0 OR SUM(nneg) = 0 THEN NULL
           |    ELSE CAST(SUM(npos * (2 * neg_below + nneg)) AS DOUBLE)
           |      / (2.0 * SUM(npos) * SUM(nneg)) END AS auc
           |FROM c""".stripMargin)),

    // Padding-waste audit for length-bucketed batching: documents rounded
    // up to 128-token buckets, per bucket the real vs padded token volume
    // and the waste fraction — the inference/training throughput read that
    // decides whether sequence packing (q89) is worth running. Pure
    // integer bucket arithmetic + one keyed aggregation.
    QueryDef(
      "q266_padding_waste",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.select(Text.wordCount(col("text")).cast("long").as("n_tok"))
          .select(expr("((n_tok + 127) div 128) * 128").as("bucket"),
            col("n_tok"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("real_tokens"))
          .select(col("bucket"), col("n_docs"), col("real_tokens"),
            (col("bucket") * col("n_docs")).as("padded_tokens"),
            ((col("bucket") * col("n_docs") - col("real_tokens")).cast("double")
              / (col("bucket") * col("n_docs")).cast("double")).as("waste_frac"))
      },
      Some("""WITH t AS (
           |  SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
           |  FROM documents),
           |b AS (
           |  SELECT ((n_tok + 127) // 128) * 128 AS bucket,
           |    COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS real_tokens
           |  FROM t GROUP BY 1)
           |SELECT bucket, n_docs, real_tokens,
           |  bucket * n_docs AS padded_tokens,
           |  CAST(bucket * n_docs - real_tokens AS DOUBLE)
           |    / CAST(bucket * n_docs AS DOUBLE) AS waste_frac
           |FROM b""".stripMargin)),

    // OPTIMAL length-bucket boundaries (q266's optimization counterpart):
    // the exact interval DP picking the 4 bucket end-lengths that minimize
    // total padding over the capped length histogram — see the operator
    // scaladoc (Select.optimalLengthBuckets) for the recurrence, tie-break,
    // and the cap-bounded (not data-bounded) frame argument.
    QueryDef(
      "q365_optimal_length_buckets",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.ops.Select.optimalLengthBuckets(
          docs, Text.wordCount(col("text")), k = 4, cap = 128)
      },
      Some("WITH t AS (SELECT CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok FROM documents),\n" +
        graft.ops.Select.duckOptimalLengthBuckets("t", "n_tok", k = 4, cap = 128)),
      bench = true),

    // Welch two-sample t for every SOURCE pair on document length — the
    // experimentation read over the corpus mixture, computed from the same
    // exact decimal moment sums the q144 shard tables store: the corpus
    // reduces once to #sources moment rows; pairing is a nested loop over
    // that tiny frame. t and the Welch–Satterthwaite df are fixed-form
    // double expressions written identically in the oracle.
    QueryDef(
      "q261_source_welch_t",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Stats.welchPairs(docs, Text.wordCount(col("text")), col("source"))
      },
      Some("""WITH m AS (
           |  SELECT source AS scope, COUNT(*) AS n,
           |    SUM(CAST(v AS DECIMAL(38,18))) AS s1,
           |    SUM(CAST(v * v AS DECIMAL(38,18))) AS s2
           |  FROM (SELECT source,
           |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS v
           |    FROM documents)
           |  GROUP BY 1),
           |p AS (
           |  SELECT a.scope AS scope_a, b.scope AS scope_b,
           |    a.n AS n_a, b.n AS n_b,
           |    CAST(a.s1 AS DOUBLE) AS s1_a, CAST(a.s2 AS DOUBLE) AS s2_a,
           |    CAST(b.s1 AS DOUBLE) AS s1_b, CAST(b.s2 AS DOUBLE) AS s2_b
           |  FROM m a JOIN m b ON a.scope < b.scope
           |  WHERE a.n > 1 AND b.n > 1),
           |x AS (
           |  SELECT scope_a, scope_b, n_a, n_b,
           |    s1_a / CAST(n_a AS DOUBLE) AS mean_a,
           |    s1_b / CAST(n_b AS DOUBLE) AS mean_b,
           |    ((s2_a - s1_a * s1_a / CAST(n_a AS DOUBLE))
           |      / CAST(n_a - 1 AS DOUBLE)) / CAST(n_a AS DOUBLE) AS sa,
           |    ((s2_b - s1_b * s1_b / CAST(n_b AS DOUBLE))
           |      / CAST(n_b - 1 AS DOUBLE)) / CAST(n_b AS DOUBLE) AS sb
           |  FROM p)
           |SELECT scope_a, scope_b, n_a, n_b, mean_a, mean_b,
           |  (mean_a - mean_b) / sqrt(sa + sb) AS t,
           |  ((sa + sb) * (sa + sb))
           |    / (sa * sa / CAST(n_a - 1 AS DOUBLE)
           |      + sb * sb / CAST(n_b - 1 AS DOUBLE)) AS df
           |FROM x""".stripMargin)),

    // Water-filling mixture allocation: the fair token cap across
    // sources for an 18k budget — small sources keep everything, the
    // budget remainder splits evenly among the big ones (+1s to the
    // first ascending capped sources make Σ alloc == budget EXACTLY,
    // integer arithmetic end to end; no float water level). The
    // anti-domination allocator beside q113's temperature weights.
    QueryDef(
      "q290_waterfill_mixture",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val counts = docs.groupBy(col("source").as("src"))
          .agg(sum(Text.wordCount(col("text")).cast("long")).as("tok"))
          .localCheckpoint()
        // budget = 95% of the corpus (integer-exact, the bounded
        // model-parameter transfer class) — scale-adaptive, so the
        // fully-funded and capped branches both exercise at every SF
        val total = counts.agg(sum(col("tok"))).head().getLong(0)
        Sampling.waterFillAllocation(counts, budget = total * 95L / 100L)
      },
      Some("""WITH counts AS (
           |  SELECT source AS src,
           |    CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS tok
           |  FROM documents GROUP BY 1),
           |b AS (
           |  SELECT CAST((SUM(tok) * 95) // 100 AS BIGINT) AS budget
           |  FROM counts),
           |r AS (
           |  SELECT src, tok,
           |    row_number() OVER (ORDER BY tok ASC, src ASC) AS rn,
           |    CAST(SUM(tok) OVER (ORDER BY tok ASC, src ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS prefix,
           |    COUNT(*) OVER () AS nsrc
           |  FROM counts),
           |f AS (
           |  SELECT r.*, b.budget,
           |    tok * (nsrc - rn + 1) <= b.budget - (prefix - tok) AS is_full
           |  FROM r CROSS JOIN b),
           |caps AS (
           |  SELECT CAST(SUM(CASE WHEN is_full THEN tok ELSE 0 END) AS BIGINT)
           |      AS p,
           |    CAST(SUM(CASE WHEN is_full THEN 0 ELSE 1 END) AS BIGINT) AS m,
           |    MIN(CASE WHEN NOT is_full THEN rn END) AS fc
           |  FROM f)
           |SELECT src, tok,
           |  CASE WHEN is_full THEN tok
           |       ELSE CAST(FLOOR(CAST(budget - p AS DOUBLE) / m) AS BIGINT)
           |         + CASE WHEN rn - fc < (budget - p) % m THEN 1 ELSE 0 END
           |  END AS alloc,
           |  NOT is_full AS capped
           |FROM f CROSS JOIN caps""".stripMargin)),

    // Per-source AUC — the ranking-fairness slice view (q280 slices
    // accuracy; this slices DISCRIMINATION): the same doubled
    // tie-corrected statistic with a key-partitioned prefix window.
    // One-class sources report auc NULL, explicitly present.
    QueryDef(
      "q287_source_auc",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Stats.rocAucByKey(docs, col("source"), Text.qualityScore(col("text")),
          col("lang") === "en")
      },
      Some(s"""WITH q AS (
           |  SELECT source AS key, ${Text.duckQualityScore("text")} AS s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
           |  FROM documents),
           |g AS (
           |  SELECT key, s, CAST(SUM(p) AS BIGINT) AS npos,
           |    CAST(SUM(1 - p) AS BIGINT) AS nneg
           |  FROM q GROUP BY 1, 2),
           |c AS (
           |  SELECT key, npos, nneg,
           |    CAST(COALESCE(SUM(nneg) OVER (PARTITION BY key ORDER BY s ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS neg_below
           |  FROM g)
           |SELECT key, CAST(SUM(npos) AS BIGINT) AS n_pos,
           |  CAST(SUM(nneg) AS BIGINT) AS n_neg,
           |  CASE WHEN SUM(npos) = 0 OR SUM(nneg) = 0 THEN NULL
           |    ELSE CAST(SUM(npos * (2 * neg_below + nneg)) AS DOUBLE)
           |      / (2.0 * SUM(npos) * SUM(nneg)) END AS auc
           |FROM c GROUP BY 1""".stripMargin)),

    // Slice significance: pooled two-proportion z of each source's
    // held-out NB accuracy against the rest of the corpus — "is that
    // slice's drop real or small-n noise?", the inferential companion of
    // q280's point estimates. Rest-counts derive by subtraction from
    // 1-row broadcast totals.
    QueryDef(
      "q288_slice_significance",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val nb = Select.nbTrainScore(docs, col("doc_id"), col("text"),
          col("lang"), pmod(Hashing.hash60(concat(lit("nb-"),
            col("doc_id").cast("string"))), lit(4L)) < 3,
          maxVocab = Some(60))
        val counts = nb.where(!col("is_train"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source").as("key"))
          .agg(count(lit(1)).as("n"),
            sum(col("correct").cast("long")).as("k"))
        Stats.twoProportionZ(counts)
      },
      Some(s"""WITH nb AS ($duckNbOracle),
           |counts AS (
           |  SELECT d.source AS key, COUNT(*) AS n,
           |    CAST(SUM(CASE WHEN nb.correct THEN 1 ELSE 0 END) AS BIGINT) AS k
           |  FROM nb JOIN documents d ON d.doc_id = nb.doc_id
           |  WHERE NOT nb.is_train GROUP BY 1),
           |tot AS (
           |  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(k) AS BIGINT) AS tk
           |  FROM counts)
           |SELECT key, n, k,
           |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
           |  CAST(tk - k AS DOUBLE) / CAST(tn - n AS DOUBLE) AS rest_rate,
           |  CASE WHEN n = 0 OR tn = n
           |      OR (CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))
           |        * (1.0 - CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))
           |        * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(tn - n AS DOUBLE)) <= 0
           |    THEN NULL
           |    ELSE (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
           |        - CAST(tk - k AS DOUBLE) / CAST(tn - n AS DOUBLE))
           |      / sqrt((CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))
           |        * (1.0 - CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))
           |        * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(tn - n AS DOUBLE)))
           |  END AS z
           |FROM counts CROSS JOIN tot""".stripMargin)),

    // Rendezvous-hash shard REBALANCE audit: growing 8 → 9 shards, an id
    // moves iff the new shard's score beats its old maximum — so every
    // move lands ON the new shard (bad_moves is exactly 0, a law the
    // hash gate checks, not a probability) and the moved fraction
    // concentrates near 1/9, vs ~8/9 under mod-N hashing. The per-doc
    // argmax is a pure row expression over 2×9 hash evaluations.
    QueryDef(
      "q289_rendezvous_rebalance",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val a = docs.select(
          Sampling.rendezvousShard(col("doc_id"), 8).as("s8"),
          Sampling.rendezvousShard(col("doc_id"), 9).as("s9"))
        a.agg(count(lit(1)).as("n_docs"),
            sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("n_moved"),
            sum(when(col("s8") =!= col("s9") && col("s9") =!= 8, 1L)
              .otherwise(0L)).as("bad_moves"))
          .withColumn("frac_moved",
            col("n_moved").cast("double") / col("n_docs"))
      },
      Some {
        val h = Hashing.duckHash60(
          "('hrw-' || CAST(sh AS VARCHAR) || '-' || CAST(doc_id AS VARCHAR))")
        s"""WITH sc AS (
           |  SELECT doc_id, sh, $h AS h
           |  FROM documents, unnest(range(0, 9)) AS r(sh)),
           |r8 AS (
           |  SELECT doc_id, sh AS s8 FROM (
           |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY h DESC, sh DESC) AS rn
           |    FROM sc WHERE sh < 8) WHERE rn = 1),
           |r9 AS (
           |  SELECT doc_id, sh AS s9 FROM (
           |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY h DESC, sh DESC) AS rn
           |    FROM sc) WHERE rn = 1),
           |j AS (SELECT s8, s9 FROM r8 JOIN r9 USING (doc_id))
           |SELECT COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_moved,
           |  CAST(SUM(CASE WHEN s8 <> s9 AND s9 <> 8 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS bad_moves,
           |  CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS frac_moved
           |FROM j""".stripMargin
      }),

    // ONLINE AUC monitoring from mergeable state: AUC computed twice —
    // exactly, and from 10-bin score counters (the only state a stream
    // has to maintain; counters are additive, so micro-batches merge per
    // the q260/q264 law). The binned value treats within-bin order as
    // ties — exactly the AUC tie rule at bin grain — so estimate, exact,
    // and their gap are all deterministic and the row hash-checks with no
    // tolerance verdict.
    QueryDef(
      "q283_binned_auc",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Stats.binnedAuc(docs, Text.qualityScore(col("text")),
          col("lang") === "en", bins = 10)
      },
      Some {
        def aucChain(scoreExpr: String, pfx: String): String =
          s"""${pfx}g AS (
             |  SELECT $scoreExpr AS s, CAST(SUM(p) AS BIGINT) AS npos,
             |    CAST(SUM(1 - p) AS BIGINT) AS nneg
             |  FROM q GROUP BY 1),
             |${pfx}c AS (
             |  SELECT s, npos, nneg,
             |    CAST(COALESCE(SUM(nneg) OVER (ORDER BY s ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS neg_below
             |  FROM ${pfx}g),
             |${pfx}a AS (
             |  SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
             |    CAST(SUM(nneg) AS BIGINT) AS n_neg,
             |    CASE WHEN SUM(npos) = 0 OR SUM(nneg) = 0 THEN NULL
             |      ELSE CAST(SUM(npos * (2 * neg_below + nneg)) AS DOUBLE)
             |        / (2.0 * SUM(npos) * SUM(nneg)) END AS auc
             |  FROM ${pfx}c)""".stripMargin
        s"""WITH q AS (
           |  SELECT ${Text.duckQualityScore("text")} AS s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
           |  FROM documents),
           |${aucChain("s", "e")},
           |${aucChain("CAST(LEAST(FLOOR(s * 10), 9) AS INT)", "b")}
           |SELECT e.n_pos, e.n_neg, e.auc AS auc_exact, b.auc AS auc_binned,
           |  ABS(e.auc - b.auc) AS abs_err
           |FROM ea e CROSS JOIN ba b""".stripMargin
      }),

    // Per-document curation PROVENANCE manifest — the audit trail behind
    // q222's survivors: every input document gets one row of stage flags
    // (repaired? passed the filters? won its dup election? eval split?
    // decontaminated away? inside the token budget?) and a status naming
    // the FIRST stage that ended its run. "Why did doc X drop" becomes a
    // point lookup instead of a re-run; same stage predicates as q222,
    // assembled by LEFT joins on bare ids.
    QueryDef(
      "q284_curation_provenance",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corrupted = " caf\u00c3\u00a9 na\u00c3\u00afve \u00e2\u20ac\u0153quoted\u00e2\u20ac\u00a6"
        val planted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(30)) === 0,
            concat(col("text"), lit(corrupted)))
            .otherwise(col("text")).as("raw"))
        val fx = planted
          .select(col("doc_id"), col("raw"),
            Text.fixMojibake(col("raw")).as("text"))
          .localCheckpoint()
        val base = fx.select(col("doc_id"), col("text"),
          (col("text") =!= col("raw")).as("repaired"),
          (Text.langId(col("text")) === "en" &&
            Text.qualityScore(col("text")) >= 0.5).as("filter_ok"),
          (pmod(col("doc_id"), lit(40)) === 0).as("is_eval"))
          .localCheckpoint()
        val filtered = base.where(col("filter_ok"))
          .select(col("doc_id"), col("text"))
        val elected = Dedup.exactByKey(filtered, col("text"), col("doc_id"))
          .select(col("doc_id"), lit(true).as("won"))
          .localCheckpoint()
        val evalSet = fx.where(pmod(col("doc_id"), lit(40)) === 0)
          .select(col("doc_id"), col("text"))
        val corpus = filtered.join(elected.select(col("doc_id")), "doc_id")
          .where(pmod(col("doc_id"), lit(40)) =!= 0)
        val contaminated = Dedup.contaminationPairs(corpus, evalSet,
            col("doc_id"), col("text"), 3, 4)
          .select(col("doc_id")).distinct()
          .select(col("doc_id"), lit(true).as("leaked"))
        val clean = corpus
          .join(contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti")
        val selected = Sampling.selectByBudget(clean, col("doc_id"),
            Text.qualityScore(col("text")), Text.wordCount(col("text")),
            budget = 8000L)
          .select(col("doc_id"), lit(true).as("sel"))
        base.drop("text")
          .join(elected, Seq("doc_id"), "left_outer")
          .join(contaminated, Seq("doc_id"), "left_outer")
          .join(selected, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("repaired"), col("filter_ok"),
            coalesce(col("won"), lit(false)).as("dup_winner"),
            col("is_eval"),
            coalesce(col("leaked"), lit(false)).as("leaked"),
            coalesce(col("sel"), lit(false)).as("selected"),
            when(!col("filter_ok"), "filtered")
              .when(!coalesce(col("won"), lit(false)), "dup_loser")
              .when(col("is_eval"), "eval_split")
              .when(coalesce(col("leaked"), lit(false)), "decontaminated")
              .when(!coalesce(col("sel"), lit(false)), "over_budget")
              .otherwise("selected").as("status"))
      }, {
        val corrupted = " caf\u00c3\u00a9 na\u00c3\u00afve \u00e2\u20ac\u0153quoted\u00e2\u20ac\u00a6"
        Some(s"""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 30 = 0 THEN text || ${Text.duckChr(corrupted)}
             |         ELSE text END AS raw
             |  FROM documents),
             |fx AS (
             |  SELECT doc_id, raw, ${Text.duckFixMojibake("raw")} AS text
             |  FROM planted),
             |base AS (
             |  SELECT doc_id, text, text <> raw AS repaired,
             |    (${Text.duckLangId("text")} = 'en'
             |      AND ${Text.duckQualityScore("text")} >= 0.5) AS filter_ok,
             |    doc_id % 40 = 0 AS is_eval
             |  FROM fx),
             |filtered AS (SELECT doc_id, text FROM base WHERE filter_ok),
             |elected AS (
             |  SELECT doc_id FROM (
             |    SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS m
             |    FROM filtered)
             |  WHERE doc_id = m),
             |evl AS (
             |  SELECT doc_id AS eval_id, unnest(${Text.duckShingles("text", 3)}) AS sh
             |  FROM fx WHERE doc_id % 40 = 0),
             |cp AS (
             |  SELECT f.doc_id, f.text, unnest(${Text.duckShingles("f.text", 3)}) AS sh
             |  FROM filtered f JOIN elected e ON e.doc_id = f.doc_id
             |  WHERE f.doc_id % 40 <> 0),
             |contam AS (
             |  SELECT doc_id FROM (
             |    SELECT cp.doc_id, evl.eval_id, COUNT(*) AS ns
             |    FROM cp JOIN evl USING (sh) GROUP BY 1, 2 HAVING COUNT(*) >= 4)
             |  GROUP BY doc_id),
             |clean AS (
             |  SELECT f.doc_id, f.text
             |  FROM filtered f JOIN elected e ON e.doc_id = f.doc_id
             |  WHERE f.doc_id % 40 <> 0
             |    AND f.doc_id NOT IN (SELECT doc_id FROM contam)),
             |cq AS (
             |  SELECT doc_id, ${Text.duckQualityScore("text")} AS score,
             |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
             |  FROM clean),
             |cc AS (
             |  SELECT doc_id,
             |    CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_tok
             |  FROM cq),
             |sel AS (SELECT doc_id FROM cc WHERE cum_tok <= 8000)
             |SELECT b.doc_id, b.repaired, b.filter_ok,
             |  e.doc_id IS NOT NULL AS dup_winner, b.is_eval,
             |  c.doc_id IS NOT NULL AS leaked,
             |  s.doc_id IS NOT NULL AS selected,
             |  CASE WHEN NOT b.filter_ok THEN 'filtered'
             |       WHEN e.doc_id IS NULL THEN 'dup_loser'
             |       WHEN b.is_eval THEN 'eval_split'
             |       WHEN c.doc_id IS NOT NULL THEN 'decontaminated'
             |       WHEN s.doc_id IS NULL THEN 'over_budget'
             |       ELSE 'selected' END AS status
             |FROM base b
             |LEFT JOIN elected e ON e.doc_id = b.doc_id
             |LEFT JOIN contam c ON c.doc_id = b.doc_id
             |LEFT JOIN sel s ON s.doc_id = b.doc_id""".stripMargin)
      }),

    // NB count-table RETRACTION — q278's law applied to the classifier:
    // subtract the removed docs' own counts per key, drop zeroed keys,
    // and the decremented tables predict bit-identically to a model that
    // never trained on them (oracle trains on the filtered split). The
    // additive-table retraction story is now proved on both model
    // families.
    QueryDef(
      "q282_nb_table_retract",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val baseTr = pmod(Hashing.hash60(
          concat(lit("nb-"), col("doc_id").cast("string"))), lit(4L)) < 3
        val keptTr = baseTr && pmod(col("doc_id"), lit(11)) =!= 0
        val full = Select.nbCountTables(docs.where(baseTr),
          col("doc_id"), col("text"), col("lang"))
        val removed = Select.nbCountTables(
          docs.where(baseTr && pmod(col("doc_id"), lit(11)) === 0),
          col("doc_id"), col("text"), col("lang"))
        Select.nbScoreFromTables(Select.nbRetractCounts(full, removed),
          docs, col("doc_id"), col("text"), col("lang"), keptTr,
          maxVocab = Some(60))
      },
      Some(duckNbOracleWith("AND doc_id % 11 <> 0"))),

    // CMS SELF-JOIN size / F2 estimation (Alon-Matias-Szegedy by way of
    // Count-Min): the join-cardinality estimator a planner consults
    // before committing to a shuffle — est = min over depth rows of the
    // counter dot product, which never undercounts Σ c(u)² (row
    // collisions only add). Verified q26-style: exact second moment +
    // verdict columns ride along; the 4×256-long sketch is the ONLY
    // corpus-reduction state.
    QueryDef(
      "q281_cms_selfjoin_size",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id").cast("string").as("k"))
        val sk = ev.agg(graft.ops.Text.countMinSketch(col("k"), 4, 256).as("sk"))
        val ests = (0 until 4).map(r =>
          aggregate(
            transform(slice(col("sk"), r * 256 + 1, 256),
              x => (x * x).cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)"), (a, v) => a + v))
        val est = sk.select(least(ests: _*).cast("long").as("est"))
        val exact = Tables.load(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
          .agg(sum((col("c") * col("c")).cast("decimal(38,0)")).cast("long")
            .as("exact"))
        est.crossJoin(broadcast(exact))
          .select(col("est"), col("exact"),
            (col("est") >= col("exact")).as("no_undercount"),
            (col("est").cast("double") / col("exact")).as("ratio"))
      },
      Some {
        val h = Hashing.duckHash60(
          "('cm' || CAST(r AS VARCHAR) || '-' || CAST(user_id AS VARCHAR))")
        s"""WITH cells AS (
           |  SELECT r, $h % 256 AS j, COUNT(*) AS c
           |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS r)
           |  GROUP BY 1, 2),
           |dots AS (
           |  SELECT r, CAST(SUM(c * c) AS BIGINT) AS dot
           |  FROM cells GROUP BY 1),
           |est AS (SELECT CAST(MIN(dot) AS BIGINT) AS est FROM dots),
           |ex AS (
           |  SELECT CAST(SUM(c * c) AS BIGINT) AS exact FROM (
           |    SELECT COUNT(*) AS c FROM events GROUP BY user_id))
           |SELECT est, exact, est >= exact AS no_undercount,
           |  CAST(est AS DOUBLE) / exact AS ratio
           |FROM est CROSS JOIN ex""".stripMargin
      }),

    // Decision-stump feature ranking: the top-10 tokens by information
    // gain on the "is English" target — the interpretable-filter trainer
    // (a one-rule classifier a curator can read and hand-tune, where
    // q130's NB is a black box of log-ratios). Exact contingency counts;
    // entropies are fixed-form expressions with explicit 0·ln0 = 0.
    QueryDef(
      "q279_stump_gains",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Select.stumpGains(docs, col("doc_id"), col("text"),
          col("lang") === "en", maxCandidates = 50, topK = 10)
      },
      Some("""WITH base AS (
           |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           |    list_distinct(list_filter(string_split_regex(text, '\s+'),
           |      w -> length(w) > 0)) AS t
           |  FROM documents),
           |tot AS (
           |  SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS np FROM base),
           |dt AS (SELECT doc_id, y, unnest(t) AS tok FROM base),
           |cand AS (
           |  SELECT tok, COUNT(*) AS df FROM dt GROUP BY 1
           |  ORDER BY df DESC, tok ASC LIMIT 50),
           |cont AS (
           |  SELECT dt.tok, cand.df, CAST(SUM(dt.y) AS BIGINT) AS n11,
           |    CAST(SUM(1 - dt.y) AS BIGINT) AS n10
           |  FROM dt JOIN cand ON cand.tok = dt.tok
           |  GROUP BY 1, 2),
           |g AS (
           |  SELECT tok, df, n11, n10,
           |    CASE WHEN n - (n11 + n10) = 0 THEN 0.0 ELSE
           |      ((CASE WHEN CAST(np AS DOUBLE) / n = 0 THEN 0.0
           |             ELSE -(CAST(np AS DOUBLE) / n) * ln(CAST(np AS DOUBLE) / n) END)
           |       + (CASE WHEN 1.0 - CAST(np AS DOUBLE) / n = 0 THEN 0.0
           |             ELSE -(1.0 - CAST(np AS DOUBLE) / n) * ln(1.0 - CAST(np AS DOUBLE) / n) END))
           |      - (CAST(n11 + n10 AS DOUBLE) / n) *
           |        ((CASE WHEN CAST(n11 AS DOUBLE) / (n11 + n10) = 0 THEN 0.0
           |             ELSE -(CAST(n11 AS DOUBLE) / (n11 + n10)) * ln(CAST(n11 AS DOUBLE) / (n11 + n10)) END)
           |         + (CASE WHEN 1.0 - CAST(n11 AS DOUBLE) / (n11 + n10) = 0 THEN 0.0
           |             ELSE -(1.0 - CAST(n11 AS DOUBLE) / (n11 + n10)) * ln(1.0 - CAST(n11 AS DOUBLE) / (n11 + n10)) END))
           |      - (CAST(n - (n11 + n10) AS DOUBLE) / n) *
           |        ((CASE WHEN CAST(np - n11 AS DOUBLE) / (n - (n11 + n10)) = 0 THEN 0.0
           |             ELSE -(CAST(np - n11 AS DOUBLE) / (n - (n11 + n10))) * ln(CAST(np - n11 AS DOUBLE) / (n - (n11 + n10))) END)
           |         + (CASE WHEN 1.0 - CAST(np - n11 AS DOUBLE) / (n - (n11 + n10)) = 0 THEN 0.0
           |             ELSE -(1.0 - CAST(np - n11 AS DOUBLE) / (n - (n11 + n10))) * ln(1.0 - CAST(np - n11 AS DOUBLE) / (n - (n11 + n10))) END))
           |    END AS gain
           |  FROM cont CROSS JOIN tot)
           |SELECT tok, df, n11, n10, gain FROM g
           |ORDER BY gain DESC, tok ASC LIMIT 10""".stripMargin)),

    // Slice-based evaluation: held-out NB accuracy PER SOURCE — the
    // "does the filter work for everyone" fairness read (aggregate
    // accuracy hides a source the model fails on; mixture decisions made
    // on a broken slice propagate the break into the trained corpus).
    // Reuses q130's prediction surface verbatim, one group-by deeper.
    QueryDef(
      "q280_accuracy_by_slice",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val nb = Select.nbTrainScore(docs, col("doc_id"), col("text"),
          col("lang"), pmod(Hashing.hash60(concat(lit("nb-"),
            col("doc_id").cast("string"))), lit(4L)) < 3,
          maxVocab = Some(60))
        nb.where(!col("is_train"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("correct").cast("long")).as("n_correct"))
          .withColumn("accuracy",
            col("n_correct").cast("double") / col("n_docs"))
      },
      Some(s"""WITH nb AS ($duckNbOracle)
           |SELECT d.source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN nb.correct THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_correct,
           |  CAST(SUM(CASE WHEN nb.correct THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS accuracy
           |FROM nb JOIN documents d ON d.doc_id = nb.doc_id
           |WHERE NOT nb.is_train
           |GROUP BY 1""".stripMargin)),

    // Gate tuning: the most permissive quality-score threshold whose
    // flag-at-or-above rule still hits 60% precision on English docs —
    // how a curation-gate cutoff is actually chosen (max recall subject
    // to a precision floor). The q250 per-distinct-score machinery with
    // two prefix-sum columns; one output row, or none if the gate cannot
    // run at that precision.
    QueryDef(
      "q273_gate_threshold",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Stats.precisionOperatingPoint(docs, Text.qualityScore(col("text")),
          col("lang") === "en", targetPrecision = 0.6)
      },
      Some(s"""WITH q AS (
           |  SELECT ${Text.duckQualityScore("text")} AS s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
           |  FROM documents),
           |g AS (
           |  SELECT s, CAST(SUM(p) AS BIGINT) AS npos, COUNT(*) AS nall
           |  FROM q GROUP BY 1),
           |tot AS (
           |  SELECT CAST(SUM(npos) AS BIGINT) AS tp_tot,
           |    CAST(SUM(nall) AS BIGINT) AS n_tot FROM g),
           |c AS (
           |  SELECT s, npos, nall,
           |    CAST(SUM(npos) OVER (ORDER BY s ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cum_p,
           |    CAST(SUM(nall) OVER (ORDER BY s ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cum_a
           |  FROM g),
           |x AS (
           |  SELECT s, tp_tot - cum_p + npos AS pos_ge,
           |    n_tot - cum_a + nall AS all_ge, tp_tot
           |  FROM c CROSS JOIN tot),
           |y AS (
           |  SELECT s, all_ge AS n_flagged, pos_ge AS tp,
           |    CAST(pos_ge AS DOUBLE) / all_ge AS prec,
           |    CAST(pos_ge AS DOUBLE) / tp_tot AS rec
           |  FROM x),
           |pick AS (SELECT MIN(s) AS s FROM y WHERE prec >= 0.6)
           |SELECT y.s AS threshold, n_flagged, tp, prec, rec
           |FROM y JOIN pick ON pick.s = y.s""".stripMargin)),

    // PSI drift between the even-id (reference) and odd-id (current)
    // corpus halves over quality-score deciles — the scoring-gate drift
    // monitor (PSI < 0.1 stable / > 0.25 shifted), Laplace-smoothed so
    // every log is finite. Per-bin contributions are double expressions
    // over exact counts; the bin = -1 total row folds them decimal-exactly
    // into the PSI itself.
    QueryDef(
      "q263_quality_psi_drift",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Stats.psiBins(docs, Text.qualityScore(col("text")),
          pmod(col("doc_id"), lit(2)) === 1, bins = 10)
      },
      Some(s"""WITH q AS (
           |  SELECT CAST(LEAST(FLOOR(${Text.duckQualityScore("text")} * 10), 9)
           |      AS INT) AS bin,
           |    CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS cur
           |  FROM documents),
           |b AS (
           |  SELECT bin, CAST(SUM(1 - cur) AS BIGINT) AS n_ref,
           |    CAST(SUM(cur) AS BIGINT) AS n_cur
           |  FROM q GROUP BY 1),
           |tot AS (
           |  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
           |    CAST(SUM(n_cur) AS BIGINT) AS tc FROM b),
           |w AS (
           |  SELECT bin, n_ref, n_cur,
           |    CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE) AS p_ref,
           |    CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE) AS p_cur
           |  FROM b CROSS JOIN tot),
           |c AS (
           |  SELECT bin, n_ref, n_cur, p_ref, p_cur,
           |    (p_cur - p_ref) * ln(p_cur / p_ref) AS contrib
           |  FROM w)
           |SELECT bin, n_ref, n_cur, p_ref, p_cur, contrib FROM c
           |UNION ALL
           |SELECT -1, CAST(SUM(n_ref) AS BIGINT), CAST(SUM(n_cur) AS BIGINT),
           |  1.0, 1.0, ${Num.duckDsum38("contrib")}
           |FROM c""".stripMargin)),

    // Reliability diagram of the quality score against the same
    // English-document outcome: per fixed-width bin, support, positive
    // rate, decimal-exact mean score, and the calibration gap whose
    // support-weighted sum is ECE. One keyed aggregation — the evaluation
    // companion to q250's ranking view.
    QueryDef(
      "q251_quality_calibration",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Stats.calibrationBins(docs, Text.qualityScore(col("text")),
          col("lang") === "en", bins = 10)
      },
      Some(s"""WITH q AS (
           |  SELECT ${Text.duckQualityScore("text")} AS s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
           |  FROM documents),
           |b AS (
           |  SELECT CAST(LEAST(FLOOR(s * 10), 9) AS INT) AS bin,
           |    COUNT(*) AS n_docs, CAST(SUM(p) AS BIGINT) AS n_pos,
           |    ${Num.duckDsum38("s")} AS sum_s
           |  FROM q GROUP BY 1)
           |SELECT bin, n_docs, n_pos,
           |  CAST(n_pos AS DOUBLE) / n_docs AS pos_rate,
           |  sum_s / n_docs AS avg_score,
           |  ABS(sum_s / n_docs - CAST(n_pos AS DOUBLE) / n_docs) AS gap
           |FROM b""".stripMargin)),

    // GAINS TABLE / cumulative lift by score decile: rank every document
    // by quality score through the two-phase globalRank (exact deciles,
    // never a global window over the corpus), then read cumulative
    // positive-capture and lift best-decile-first — the "how deep do I
    // cut" curve a curator reads where ROC (q250) answers "is the score
    // any good". Decile 1 = best scores; cumulative windows run over the
    // 10-row decile frame only.
    QueryDef(
      "q329_gains_table",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.select(col("doc_id"),
            Text.qualityScore(col("text")).as("score"),
            (col("lang") === "en").cast("long").as("pos"))
          .localCheckpoint()
        val ranked = Sampling.globalRank(base, col("score"), col("doc_id"))
        val tot = base.agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
        val dec = ranked
          .join(base.select(col("doc_id").as("rid"), col("pos")), "rid")
          .crossJoin(broadcast(tot))
          .select(expr("10 - ((rank - 1) * 10 div n)").as("decile"),
            col("pos"), col("n"), col("npos"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
            max(col("n")).as("n"), max(col("npos")).as("npos"))
        val wd = org.apache.spark.sql.expressions.Window
          .orderBy(col("decile").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        dec
          .withColumn("cum_pos", sum(col("n_pos")).over(wd))
          .withColumn("cum_docs", sum(col("n_docs")).over(wd))
          .select(col("decile"), col("n_docs"), col("n_pos"), col("cum_pos"),
            (col("cum_pos").cast("double") / col("npos")).as("gain"),
            ((col("cum_pos").cast("double") / col("cum_docs")) /
              (col("npos").cast("double") / col("n"))).as("lift"))
      },
      Some(s"""WITH q AS (
           |  SELECT doc_id, ${Text.duckQualityScore("text")} AS score,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, pos,
           |    row_number() OVER (ORDER BY score ASC, doc_id ASC) AS rank,
           |    COUNT(*) OVER () AS n,
           |    CAST(SUM(pos) OVER () AS BIGINT) AS npos
           |  FROM q),
           |d AS (
           |  SELECT 10 - ((rank - 1) * 10 // n) AS decile, pos, n, npos FROM r),
           |g AS (
           |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(pos) AS BIGINT) AS n_pos, MAX(n) AS n, MAX(npos) AS npos
           |  FROM d GROUP BY 1),
           |c AS (
           |  SELECT decile, n_docs, n_pos,
           |    CAST(SUM(n_pos) OVER (ORDER BY decile ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cum_pos,
           |    CAST(SUM(n_docs) OVER (ORDER BY decile ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cum_docs,
           |    n, npos
           |  FROM g)
           |SELECT decile, n_docs, n_pos, cum_pos,
           |  CAST(cum_pos AS DOUBLE) / npos AS gain,
           |  (CAST(cum_pos AS DOUBLE) / cum_docs)
           |    / (CAST(npos AS DOUBLE) / n) AS lift
           |FROM c""".stripMargin)),

    // ISOTONIC (PAV) calibration of the quality score: the nondecreasing
    // bin→rate map that q251's reliability diagram only DESCRIBES — the fit
    // a curator actually deploys to turn raw scores into calibrated
    // probabilities. Computed via the exact minimax identity
    // iso(i) = max_{j<=i} min_{k>=i} pooledRate(j..k) (provably the PAV
    // solution) so the whole fit is bounded relational algebra: after the
    // corpus collapses to 20 bins, the triple frame is O(bins^3) integer
    // prefix-sum rows. Violations of monotonicity in the raw rates pool;
    // iso_rate is nondecreasing in bin by construction (spec-pinned).
    QueryDef(
      "q334_isotonic_calibration",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Stats.isotonicBins(docs, Text.qualityScore(col("text")),
          col("lang") === "en", bins = 20)
      },
      Some(s"""WITH q AS (
           |  SELECT ${Text.duckQualityScore("text")} AS s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
           |  FROM documents),
           |b AS (
           |  SELECT CAST(LEAST(FLOOR(s * 20), 19) AS INT) AS bin,
           |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS pos
           |  FROM q GROUP BY 1),
           |pref AS (
           |  SELECT bin, n, pos,
           |    SUM(n) OVER (ORDER BY bin
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
           |    SUM(pos) OVER (ORDER BY bin
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
           |  FROM b),
           |pairs AS (
           |  SELECT j.bin AS j, k.bin AS k,
           |    CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
           |      / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a
           |  FROM pref j JOIN pref k ON j.bin <= k.bin),
           |m AS (
           |  SELECT i.bin AS i, p.j, MIN(p.a) AS mja
           |  FROM pairs p JOIN b i ON p.j <= i.bin AND i.bin <= p.k
           |  GROUP BY 1, 2),
           |iso AS (SELECT i, MAX(mja) AS iso_rate FROM m GROUP BY 1)
           |SELECT b.bin, b.n AS n_docs, b.pos AS n_pos,
           |  CAST(b.pos AS DOUBLE) / b.n AS pos_rate, iso.iso_rate
           |FROM b JOIN iso ON iso.i = b.bin""".stripMargin)),

    // The COMPOSED INGEST-GATE funnel as ONE hash-checked row — quality →
    // near-dup → quantile drift over one batch: the quality and near-dup
    // columns are the metrics StreamOps.qualityGate and nearDupGate emit
    // through observe(), computed with those gates' own predicates, and
    // the drift columns are Stats.quantileDriftScores over the survivors.
    // The reference split (even doc_ids) plays the stored corpus — its
    // minhash band table is the near-dup gate's index and its exact
    // nearest-rank length quantiles are the drift thresholds (resolved
    // once on the driver, so they are frozen before the batch is scored).
    // The incoming batch is the odd half plus
    // planted near-copies of every 10th indexed doc (new ids, two trailing
    // noise tokens — the q208 probe recipe), so every stage observably
    // drops rows. Near-dup here is the EXACT band-collision form (the
    // stored keyset itself); the streaming gate's Bloom transport of that
    // keyset is spec-pinned separately (bloom FPs are the one divergence a
    // relational oracle cannot replay). Stages 1+2 fold in a single
    // aggregation; the drift row aggregates survivors only — the funnel
    // shape (n_rows ≥ nd_n_rows ≥ qd_n_rows) is checked by the oracle's
    // identical replay.
    QueryDef(
      "q395_gate_composition_funnel",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, dir, "documents")
        val ref = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val bands = graft.ops.MinHashIndex.bandTable(
          graft.ops.MinHashIndex.build(ref, col("doc_id"), col("text"), 3, 16), 4)
        val probes = ref.where(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(col("text"), lit(" zq1 zq2")).as("text"))
        val incoming = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
          .select(col("doc_id"), col("text"))
          .unionByName(probes)
        // stage-1 flags (the qualityGate predicates), evaluated ONCE — the
        // frame feeds the band probe and the final funnel aggregation
        val langOk = Text.langId(col("text")) === "en"
        val qOk = langOk && Text.qualityScore(col("text")) >= 0.5
        val flagged = incoming.select(col("doc_id"), col("text"),
          langOk.as("lang_ok"), qOk.as("q_ok")).localCheckpoint()
        // stage 2: per-row band signatures (the nearDupGate transport)
        // probed against the stored band table — exact keyset collision
        val hits = flagged.where(col("q_ok"))
          .select(col("doc_id"),
            posexplode(graft.ops.MinHashIndex.rowBandSigs(col("text"), 3, 16, 4))
              .as(Seq("band", "band_sig")))
          .where(col("band_sig").isNotNull)
          .join(bands.select(col("band"), col("band_sig")),
            Seq("band", "band_sig"), "left_semi")
          .select(col("doc_id")).distinct()
          .withColumn("nd_hit", lit(true))
        val probed = flagged.join(hits, Seq("doc_id"), "left")
          .localCheckpoint() // feeds the gate agg AND the survivor drift agg
        val gateAgg = probed.agg(
          count(lit(1)).as("n_rows"),
          count(when(!col("lang_ok"), 1)).as("n_lang_dropped"),
          count(when(col("lang_ok") && !col("q_ok"), 1)).as("n_quality_dropped"),
          count(when(col("q_ok"), 1)).as("nd_n_rows"),
          count(when(col("q_ok") && col("nd_hit"), 1)).as("n_neardup_dropped"))
        // stage-3 thresholds: exact nearest-rank p50/p90 of the reference
        // split's text length, on the value-alphabet frame (one row per
        // distinct length — the q389/q390 bounded-window note), resolved
        // as two driver-side doubles
        val counts = ref.select(length(col("text")).cast("double").as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("cnt"))
        val cum = counts
          .withColumn("cum", sum(col("cnt")).over(
            W.orderBy(col("x").asc)
              .rowsBetween(W.unboundedPreceding, W.currentRow)))
          .withColumn("n", sum(col("cnt")).over(W.partitionBy()))
        val nD = col("n").cast("double")
        val thrRow = cum.groupBy().agg(
          min(when(col("cum") >= ceil(lit(0.5) * nD), col("x"))).as("p50"),
          min(when(col("cum") >= ceil(lit(0.9) * nD), col("x"))).as("p90"))
          .head()
        val drift = Stats.quantileDriftScores(
          probed.where(col("q_ok") && col("nd_hit").isNull),
          length(col("text")),
          Seq(0.5 -> thrRow.getDouble(0), 0.9 -> thrRow.getDouble(1)))
          .withColumnRenamed("n_rows", "qd_n_rows")
        gateAgg.crossJoin(drift)
      },
      Some {
        val thrSql = """(
           |  WITH rc AS (
           |    SELECT CAST(length(text) AS DOUBLE) AS x, COUNT(*) AS cnt
           |    FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
           |  rw AS (
           |    SELECT x,
           |      CAST(SUM(cnt) OVER (ORDER BY x ASC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |        AS BIGINT) AS cum,
           |      CAST(SUM(cnt) OVER () AS BIGINT) AS n
           |    FROM rc)
           |  SELECT
           |    MIN(CASE WHEN cum >= CAST(CEIL(0.5 * CAST(n AS DOUBLE))
           |      AS BIGINT) THEN x END) AS thr_p50,
           |    MIN(CASE WHEN cum >= CAST(CEIL(0.9 * CAST(n AS DOUBLE))
           |      AS BIGINT) THEN x END) AS thr_p90
           |  FROM rw) t""".stripMargin
        val driftInner = Stats.duckQuantileDriftScores(
          liveSql = "(SELECT CAST(length(text) AS DOUBLE) AS v FROM surv) live",
          thrSql = thrSql,
          qs = Seq(0.5, 0.9))
        s"""WITH ref AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
           |incoming AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 2 <> 0
           |  UNION ALL
           |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
           |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 0),
           |flg AS (
           |  SELECT doc_id, text,
           |    (${Text.duckLangId("text")} = 'en') AS lang_ok,
           |    (${Text.duckLangId("text")} = 'en'
           |      AND ${Text.duckQualityScore("text")} >= 0.5) AS q_ok
           |  FROM incoming),
           |qual AS (SELECT doc_id, text FROM flg WHERE q_ok),
           |${DedupQueries.duckMshChain("ref", "i")},
           |${DedupQueries.duckMshChain("qual", "p")},
           |hits AS (
           |  SELECT DISTINCT p.doc_id
           |  FROM pbands p
           |  JOIN ibands i ON i.band = p.band AND i.band_sig = p.band_sig),
           |surv AS (
           |  SELECT doc_id, text FROM qual
           |  WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
           |gate AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           |    CAST(COUNT(CASE WHEN NOT lang_ok THEN 1 END) AS BIGINT)
           |      AS n_lang_dropped,
           |    CAST(COUNT(CASE WHEN lang_ok AND NOT q_ok THEN 1 END) AS BIGINT)
           |      AS n_quality_dropped,
           |    CAST(COUNT(CASE WHEN q_ok THEN 1 END) AS BIGINT) AS nd_n_rows,
           |    CAST(COUNT(CASE WHEN q_ok
           |      AND doc_id IN (SELECT doc_id FROM hits) THEN 1 END) AS BIGINT)
           |      AS n_neardup_dropped
           |  FROM flg),
           |drift AS (
           |  SELECT n_rows AS qd_n_rows, n_null,
           |    n_above_p50, z_p50, n_above_p90, z_p90
           |  FROM ($driftInner))
           |SELECT gate.*, drift.* FROM gate CROSS JOIN drift""".stripMargin
      }),

    // The STREAMING leg of the ANN-index lifecycle as a hash-checked row:
    // the 1/7 delta is ingested by the actual streaming path inside the
    // query (memoized once per JVM per corpus), a file source capped at one
    // file per trigger (so AvailableNow produces ≥2 real micro-batches)
    // through Pipelines.snapshotIngest, each batch encoded against the
    // FROZEN 6/7-trained model and published as one generation of the
    // cluster-partitioned codes snapshot. It serves top-k over that
    // snapshot, the function q399 and q420 run. Oracle: base-trained
    // full-candidate serve, the same SQL as q399/q420: the streaming
    // transport changes where the codes live, never what serves.
    QueryDef(
      "q400_ann_stream_union_serve",
      SimilarityQueries.annStreamSnapServe,
      Some(SimilarityQueries.duckSqrtnServeOracle(trainOnBase = true))),

    // LIFECYCLE CAPSTONE — the whole operational story of a production
    // vector index composed into ONE stored artifact and certified by ONE
    // hash: train-once on the 6/7 base (frozen model) and publish its codes
    // as a snapshot, ingest the 1/7 delta through an ACTUAL stream (≥2
    // micro-batches, one generation each), COMPACT the per-batch files,
    // DELETE the %11 right-to-be-forgotten set as a generation flip, and
    // serve top-k scan-only from what remains. Each leg is individually
    // hash-proved (q420 ingest + compaction, q413 delete, q393 serve); what
    // this row adds is their COMPOSITION — the oracle (base-trained model,
    // survivors-only candidates over the full corpus) would catch any
    // interaction bug between legs: a compaction that resurrects a deleted
    // vector, a delete that drops a streamed one, a batch the compaction
    // missed. The serve plan keeps the q393 production shape (PlanSpec:
    // scan-only + probed-cell DPP).
    QueryDef(
      "q403_ann_lifecycle_e2e",
      (s, dir) => SimilarityQueries.annSnapServe(s, dir,
        lifecycleIndexPath(s, dir)),
      Some(SimilarityQueries.duckSqrtnServeOracle(
        candFilter = "\n    AND b.vec_id % 11 <> 0", trainOnBase = true))),

    // CURATION CAPSTONE ON THE SNAPSHOT LAYER (round 18, VERDICT #8): the
    // full composed ingest funnel — mojibake repair → PII scrub → quality
    // gate → Bloom decontamination → Bloom near-dup gate
    // (StreamOps.curationIngest, gate order load-bearing) — driven over an
    // ACTUAL stream (2 micro-batches) into a SnapTables corpus table via
    // Pipelines.snapshotIngest: each batch's survivors publish as one
    // atomic exactly-once generation on top of the pre-seeded reference
    // corpus (gen 0). The incoming half plants every hazard the funnel
    // exists to catch: PII spans (%9==2), mojibake artifacts (%9==5), and
    // near-copies of indexed documents (the q208 probe recipe) — so every
    // stage observably drops or mutates rows. The query output is the
    // SERVED TABLE ITSELF (membership AND curated text), and the oracle
    // replays the entire funnel relationally — including BOTH Bloom
    // filters bit for bit (hash60 positions are plain arithmetic, so the
    // oracle reproduces even the false-positive drops exactly; the one
    // divergence q395 had to sidestep is closed here). Hash-match proves:
    // gate order, planted-hazard handling, Bloom transport, exactly-once
    // streamed publication, and the serve — one certificate for the whole
    // training-data front door.
    QueryDef(
      "q431_curation_snapshot_capstone",
      (s, dir) => {
        val p = curationSnapPath(s, dir)
        graft.ops.SnapTables.resolve(s, p, "pb")
          .select(col("doc_id"), col("text"))
      },
      Some(curationSnapOracle)),

    // MANIFEST ZONE MAPS (round 19) — manifest-level data skipping, the
    // Iceberg per-file-stats shape re-derived on the TSV manifest: the
    // table records per-file [min,max] of doc_id at every publish, and a
    // plain resolve filtered on doc_id reads only the files whose range can
    // match (the manifest index prunes by Spark's pushed data filters). Each
    // of 8 partitions holds two files with disjoint doc_id halves (publish
    // low, append high), so the low-half lookup scans half the files
    // (SnapTablesSpec pins that through the scan's numFiles; this leg
    // hash-certifies the answers served through the pruned plan).
    QueryDef(
      "q434_snapshot_zone_lookup",
      (s, dir) => {
        val p = zoneLookupPath(s, dir)
        val k = zoneLookupSplit(s, dir)
        graft.ops.SnapTables.resolve(s, p, "db")
          .where(col("doc_id") < k)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents
             |WHERE doc_id < (SELECT (max(doc_id) + 1) // 2 FROM documents)
             |GROUP BY lang""".stripMargin)),

    // SNAPSHOT ROLLBACK (round 19) — Iceberg's rollback_to_snapshot
    // re-derived on the manifest layer, the bad-publish undo that closes
    // the lifecycle verb matrix (publish/append/delete/compact/expire/
    // time-travel/ROLLBACK): the q434 table publishes its low half as gen
    // 0, appends the high half as gen 1, then ROLLS BACK to gen 0 —
    // published FORWARD as generation 2, whose manifest references exactly
    // gen 0's files (one manifest write, nothing copied, nothing deleted;
    // the zone stats ride along, and an appendBatch high-water mark would
    // too — SnapTablesSpec pins both and the expired-target refusal). The
    // serve over the CURRENT generation must equal the low half alone —
    // the appended generation invisible FORWARD, the exact inverse of
    // q417's time travel backward.
    QueryDef(
      "q436_snapshot_rollback",
      (s, dir) => {
        val p = zoneRollbackPath(s, dir)
        // deliberately NO doc_id filter: the aggregate covers every row the
        // rolled-back generation serves, so a rollback that failed to hide
        // the appended half would hash-mismatch instead of being filtered
        // back into agreement
        graft.ops.SnapTables.resolve(s, p, "db")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents
             |WHERE doc_id < (SELECT (max(doc_id) + 1) // 2 FROM documents)
             |GROUP BY lang""".stripMargin)),

    // INCREMENTAL READ (round 19) — Iceberg's append-only incremental scan
    // re-derived on the manifest chain: a consumer that has processed
    // generation F asks for exactly the rows generations (F, T] appended,
    // planned purely from manifests (the files T references that F does
    // not) and read as one explicit-list scan of ONLY the delta files.
    // SnapTables.appendedBetween REFUSES any range crossing a rewrite/
    // compaction/rollback (the file delta no longer equals the row delta —
    // a compaction's rewritten file would replay old rows as changes;
    // SnapTablesSpec pins the refusal both ways). The table here streams
    // documents in as thirds (gen 0 publish, gens 1 and 2 appends); the
    // query is the CONSUMER's catch-up from gen 0 — the upper two thirds,
    // never re-reading gen 0's files. At 100 TB this is the downstream-
    // training-shard refresh reading each ingested generation once instead
    // of re-scanning the accumulated corpus per refresh.
    QueryDef(
      "q437_snapshot_incremental_read",
      (s, dir) => {
        val p = incrReadPath(s, dir)
        graft.ops.SnapTables.appendedBetween(s, p, "db", 0, 2)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents
             |WHERE doc_id >= (SELECT (max(doc_id) + 1) // 3 FROM documents)
             |GROUP BY lang""".stripMargin))
  )

  /** Once-per-JVM q437 table: documents over 8 int hash partitions,
    * published as doc_id thirds — the low third gen 0, middle third
    * appended as gen 1, high third as gen 2 — a pure append chain whose
    * per-generation file deltas are what the incremental read serves.
    */
  private def incrReadPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("incrread", dir) { p =>
      val hi = Tables.load(s, dir, "documents").agg(max(col("doc_id")))
        .head.getLong(0) + 1
      val (t1, t2) = (hi / 3, 2 * hi / 3)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          pmod(col("doc_id"), lit(8)).cast("int").as("db"))
      graft.ops.SnapTables.publishInitial(s, p, "db",
        docs.where(col("doc_id") < t1), statsCol = Some("doc_id"))
      graft.ops.SnapTables.appendPartitions(s, p, "db",
        docs.where(col("doc_id") >= t1 && col("doc_id") < t2))
      graft.ops.SnapTables.appendPartitions(s, p, "db",
        docs.where(col("doc_id") >= t2))
      ()
    }

  /** Once-per-JVM q436 table: the q434 recipe (low half gen 0, high half
    * appended as gen 1) rolled back to gen 0 — published as gen 2. Its own
    * path: q434's shared table must keep serving the FULL corpus.
    */
  private def zoneRollbackPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("zonerollback", dir) { p =>
      val k = zoneLookupSplit(s, dir)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          pmod(col("doc_id"), lit(8)).cast("int").as("db"))
      graft.ops.SnapTables.publishInitial(s, p, "db",
        docs.where(col("doc_id") < k), statsCol = Some("doc_id"))
      graft.ops.SnapTables.appendPartitions(s, p, "db",
        docs.where(col("doc_id") >= k))
      graft.ops.SnapTables.rollback(s, p, "db", toGen = 0)
      ()
    }

  /** The q434 split point: the doc_id midpoint, the boundary between the
    * two files each partition holds. Computed from the table (one max agg)
    * so the query is scale-factor-free.
    */
  private def zoneLookupSplit(s: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    (Tables.load(s, dir, "documents").agg(max(col("doc_id")))
      .head.getLong(0) + 1) / 2

  /** Once-per-JVM q434 table: documents keyed by doc_id over 8 int hash
    * partitions, published with `statsCol=doc_id` as the LOW doc_id half
    * (gen 0) plus the HIGH half appended (gen 1) — every partition then
    * holds two files with disjoint key ranges, the exact layout zone maps
    * exist to prune.
    */
  private def zoneLookupPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("zonelookup", dir) { p =>
      val k = zoneLookupSplit(s, dir)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          pmod(col("doc_id"), lit(8)).cast("int").as("db"))
      graft.ops.SnapTables.publishInitial(s, p, "db",
        docs.where(col("doc_id") < k), statsCol = Some("doc_id"))
      graft.ops.SnapTables.appendPartitions(s, p, "db",
        docs.where(col("doc_id") >= k))
      ()
    }

  /** Planted-hazard strings for the q431 capstone (shared by the Spark
    * setup and the DuckDB oracle via [[graft.ops.Text.duckChr]]).
    */
  private lazy val PiiPlant = " contact bob@example.com from 10.1.2.3"
  // mojibake'd "café naïve" — all escapes, no raw supplement chars in
  // source (the NfcExpressionSpec round-8 lesson)
  private lazy val MojiPlant = " caf\u00c3\u00a9 na\u00c3\u00afve"

  /** Once-per-JVM q431 table: seed the reference corpus as generation 0,
    * then stream the planted incoming half through the full curation
    * funnel into generations 1..2 (one per micro-batch, exactly-once).
    * Deterministic end to end (planted hazards, hash-based gates, seeded
    * band table), so the memoization is correctness-neutral.
    */
  private def curationSnapPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("curasnap", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      val ref = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
      val evalSet = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id"), col("text"))
      val bands = graft.ops.MinHashIndex.bandTable(
        graft.ops.MinHashIndex.build(ref, col("doc_id"), col("text"), 3, 16), 4)
        .localCheckpoint()
      val incoming = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(9)) === 2,
            concat(col("text"), lit(PiiPlant)))
          .when(pmod(col("doc_id"), lit(9)) === 5,
            concat(col("text"), lit(MojiPlant)))
          .otherwise(col("text")).as("text"))
        .unionByName(ref.where(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(col("text"), lit(" zq1 zq2")).as("text")))
      def pbOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), col("text"))
          .withColumn("pb", pmod(col("doc_id"), lit(16)).cast("int"))
      graft.ops.SnapTables.publishInitial(s, p, "pb", pbOf(ref))
      val srcDir = graft.Scratch.dir("graft-curation-snap-src")
      incoming.repartition(2).write.mode("overwrite").parquet(srcDir)
      val q = graft.streaming.Pipelines.snapshotIngest(
        graft.streaming.StreamOps.curationIngest(
          s.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1).parquet(srcDir),
          "text", langs = Seq("en"), minQuality = 0.5,
          evalSet = Some(evalSet), evalN = 3, evalMinShared = 4,
          neardupBands = Some(bands),
          mhShingle = 3, mhHashes = 16, mhRowsPerBand = 4),
        p, "pb",
        checkpointPath = graft.Scratch.dir("graft-curation-snap-ckpt"),
        xform = pbOf)
      q.awaitTermination()
    }

  /** The q431 oracle: the funnel replayed relationally, Bloom filters
    * included — `evbits`/`refbits` are the exact bit sets the gates'
    * broadcast arrays hold (hash60 of 'bf<j>-<key>' mod 2^18), and a
    * probe hits only when ALL three of its positions are set, so the
    * oracle drops exactly the rows the engine drops, false positives and
    * all. The bit sets are FLAT (one DISTINCT h column, the per-key hash
    * index j folded away): the engine's filter is a single bit array
    * shared by all numHashes hash functions, so a probe's j=0 position is
    * satisfied by a bit ANY key's ANY hash set — keeping (j, h) pairs
    * under-replays exactly the cross-index collisions that appear once the
    * eval set is dense enough (caught at sf0.1: doc 4527's 4th decontam
    * hit was a j=0 probe landing on a bit set by some eval shingle's j=2
    * hash).
    */
  private lazy val curationSnapOracle: String = {
    val bits = 1 << 18
    def duckBfPos(key: String) =
      Hashing.duckHash60(s"('bf' || CAST(j AS VARCHAR) || '-' || $key)") + s" % $bits"
    s"""WITH js(j) AS (VALUES (0), (1), (2)),
       |ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
       |incoming AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 9 = 2 THEN text || ${Text.duckChr(PiiPlant)}
       |         WHEN doc_id % 9 = 5 THEN text || ${Text.duckChr(MojiPlant)}
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 2 <> 0
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
       |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 0),
       |cured AS (
       |  SELECT doc_id, ${Text.duckRedactPii(Text.duckFixMojibake("text"))} AS text
       |  FROM incoming),
       |qual AS (
       |  SELECT doc_id, text FROM cured
       |  WHERE ${Text.duckLangId("text")} = 'en'
       |    AND ${Text.duckQualityScore("text")} >= 0.5),
       |evsh AS (SELECT DISTINCT unnest(${Text.duckShingles("text", 3)}) AS sh FROM ev),
       |evbits AS (
       |  SELECT DISTINCT ${duckBfPos("sh")} AS h FROM evsh CROSS JOIN js),
       |qsh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(${Text.duckShingles("text", 3)}) AS sh FROM qual)),
       |qpos AS (
       |  SELECT doc_id, sh, j, ${duckBfPos("sh")} AS h FROM qsh CROSS JOIN js),
       |qmiss AS (
       |  SELECT DISTINCT q.doc_id, q.sh FROM qpos q
       |  WHERE NOT EXISTS (SELECT 1 FROM evbits b WHERE b.h = q.h)),
       |qhits AS (
       |  SELECT doc_id, COUNT(*) AS nh FROM qsh s
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM qmiss m WHERE m.doc_id = s.doc_id AND m.sh = s.sh)
       |  GROUP BY 1),
       |decon AS (
       |  SELECT q.doc_id, q.text FROM qual q
       |  LEFT JOIN qhits USING (doc_id) WHERE COALESCE(nh, 0) < 4),
       |${DedupQueries.duckMshChain("ref", "i")},
       |refkeys AS (
       |  SELECT DISTINCT CAST(band AS VARCHAR) || ':' || CAST(band_sig AS VARCHAR) AS k
       |  FROM ibands),
       |refbits AS (
       |  SELECT DISTINCT ${duckBfPos("k")} AS h FROM refkeys CROSS JOIN js),
       |${DedupQueries.duckMshChain("decon", "p")},
       |pkeys AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(band AS VARCHAR) || ':' || CAST(band_sig AS VARCHAR) AS k
       |  FROM pbands),
       |pmiss AS (
       |  SELECT DISTINCT pp.doc_id, pp.k FROM (
       |    SELECT doc_id, k, j, ${duckBfPos("k")} AS h FROM pkeys CROSS JOIN js) pp
       |  WHERE NOT EXISTS (SELECT 1 FROM refbits b WHERE b.h = pp.h)),
       |phit AS (
       |  SELECT DISTINCT pk.doc_id FROM pkeys pk
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM pmiss m WHERE m.doc_id = pk.doc_id AND m.k = pk.k))
       |SELECT doc_id, text FROM ref
       |UNION ALL
       |SELECT d.doc_id, d.text FROM decon d
       |WHERE NOT EXISTS (SELECT 1 FROM phit h WHERE h.doc_id = d.doc_id)""".stripMargin
  }

  /** The q403 snapshot index: the WHOLE lifecycle composed — q420's
    * streamed snapshot (frozen 6/7 base model, base codes as gen 0, the 1/7
    * delta streamed in as one generation per micro-batch, then compacted),
    * and the %11 removal set deleted from it as one more generation.
    */
  private def lifecycleIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("lifecycle", dir) { p =>
      SimilarityQueries.publishStreamedAnnSnap(s, dir, p)
      graft.ops.SnapTables.deleteByKey(s, s"$p/codes", "cluster", "vid",
        Tables.load(s, dir, "embeddings")
          .where(pmod(col("vec_id"), lit(11)) === 0)
          .select(col("vec_id").as("vid")))
      ()
    }
}
