package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Dedup, Hashing, Sampling, Text}
import org.apache.spark.sql.functions._

/** Deduplication extension queries over `documents`: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash — each oracle-checked against DuckDB via the shared
  * cross-engine hash (Hashing.hash60).
  */
object DedupQueries {

  /** DuckDB CTE: (id, sh) distinct word-3-gram shingle rows of documents. */
  private[queries] val duckShingleCte: String =
    """sh AS (
      |  SELECT doc_id AS id, unnest(shingles) AS sh FROM (
      |    SELECT doc_id,
      |      CASE WHEN len(toks) >= 3
      |           THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |                  i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
      |           ELSE [] END AS shingles
      |    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)))""".stripMargin

  /** DuckDB CTEs shared by the minhash oracles: base hash (one md5 fold per
    * shingle, reduced mod 2^30) and the 16-member arithmetic family minima —
    * the exact twin of `Dedup.minhashSignatures`.
    */
  private val duckMinhashCtes: String = {
    val as = (0 until 16).map(Hashing.familyA).mkString(", ")
    val bs = (0 until 16).map(Hashing.familyB).mkString(", ")
    s"""hb AS (
       |  SELECT id AS doc_id, ${Hashing.duckFoldHexCol("m")} % ${Hashing.FamilyBase} AS hb
       |  FROM (SELECT id, md5(sh) AS m FROM sh)),
       |mh AS (
       |  SELECT doc_id, seed,
       |    min((list_value($as)[seed + 1] * hb + list_value($bs)[seed + 1]) % ${Hashing.FamilyP}) AS mh
       |  FROM hb CROSS JOIN generate_series(0, 15) AS s(seed)
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB CTE chain `{pfx}sh → {pfx}hb → {pfx}mh → {pfx}bands` over an
    * arbitrary source relation — the parameterized twin of
    * [[duckShingleCte]] + [[duckMinhashCtes]] + the q53 band CTE, used by
    * the durable-minhash-table oracles that need the chain on BOTH the
    * corpus and a probe relation (q208/q210).
    */
  private[queries] def duckMshChain(src: String, pfx: String): String = {
    val as = (0 until 16).map(Hashing.familyA).mkString(", ")
    val bs = (0 until 16).map(Hashing.familyB).mkString(", ")
    s"""${pfx}sh AS (
       |  SELECT doc_id AS id, unnest(${Text.duckShingles("text", 3)}) AS sh
       |  FROM $src),
       |${pfx}hb AS (
       |  SELECT id AS doc_id, ${Hashing.duckFoldHexCol("m")} % ${Hashing.FamilyBase} AS hb
       |  FROM (SELECT id, md5(sh) AS m FROM ${pfx}sh)),
       |${pfx}mh AS (
       |  SELECT doc_id, seed,
       |    min((list_value($as)[seed + 1] * hb + list_value($bs)[seed + 1]) % ${Hashing.FamilyP}) AS mh
       |  FROM ${pfx}hb CROSS JOIN generate_series(0, 15) AS ${pfx}gs(seed)
       |  GROUP BY 1, 2),
       |${pfx}bands AS (
       |  SELECT doc_id, seed // 4 AS band,
       |    CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
       |  FROM ${pfx}mh GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB CTE chain `{pfx}toks → {pfx}votes → {pfx}sh(doc_id, simhash)`
    * over an arbitrary source relation — the parameterized q55 chain, used
    * by the durable-simhash-table oracles that need it on BOTH the corpus
    * and a probe relation (q213).
    */
  private def duckSimhashChain(src: String, pfx: String): String =
    s"""${pfx}toks AS (
       |  SELECT doc_id, ${Hashing.duckFoldHexCol("m")} AS th
       |  FROM (SELECT doc_id, md5(tok) AS m FROM
       |        (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM $src))),
       |${pfx}votes AS (
       |  SELECT doc_id, k,
       |    SUM(CASE WHEN (th // (CAST(1 AS BIGINT) << k)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM ${pfx}toks CROSS JOIN generate_series(0, 59) AS ${pfx}g(k)
       |  GROUP BY 1, 2),
       |${pfx}sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM ${pfx}votes GROUP BY 1)""".stripMargin

  /** DuckDB CTE chain ending in `jp(id_a, id_b)`: the q52 Jaccard near-dup
    * pairs (threshold 0.4, shingle-df cap 100) reduced to id pairs — the
    * shared input of the cluster-formation oracles (q83/q84).
    */
  private val duckJaccardPairCtes: String =
    s"""$duckShingleCte,
       |shc AS (
       |  SELECT id, sh FROM sh
       |  WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100)),
       |sizes AS (SELECT id, COUNT(*) AS sz FROM shc GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.id = id_a
       |  JOIN sizes sb ON sb.id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jp
       |  UNION
       |  SELECT id_b, id_a FROM jp),
       |reach(id, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |labels AS (
       |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** DuckDB CTE chain ending in `${p}wfp(doc_id, pos, h)`: standard-winnowed
    * (k = 3, w = 4) fingerprints of `src(doc_id, text)` — the exact twin of
    * `Dedup.winnowFingerprints`, prefix-parameterized so two winnowed sets
    * (index + probes) can coexist in one oracle. Shared by q164, q165,
    * q168, q169.
    */
  private def duckWinnowCtes(src: String, p: String): String =
    s"""${p}toks AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM $src),
       |${p}pos AS (
       |  SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_sh, t,
       |    unnest(range(1, len(t) - 1)) AS pos
       |  FROM ${p}toks WHERE len(t) >= 3),
       |${p}ph AS (
       |  SELECT doc_id, n_sh, pos, ${Hashing.duckFoldHexCol("m")} AS h
       |  FROM (SELECT doc_id, n_sh, pos,
       |          md5(array_to_string(list_slice(t, CAST(pos AS INTEGER),
       |            CAST(pos + 2 AS INTEGER)), ' ')) AS m
       |        FROM ${p}pos)),
       |${p}sel AS (
       |  SELECT doc_id, pos, n_sh,
       |    min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s
       |  FROM ${p}ph),
       |${p}wfp AS (
       |  SELECT DISTINCT doc_id, CAST(-(s.np) AS BIGINT) AS pos, s.h AS h
       |  FROM ${p}sel WHERE pos >= least(4, n_sh))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup audit: hash groups with representative + multiplicity.
    QueryDef(
      "q50_dedup_exact_groups",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.exactGroups(docs, col("text"), col("doc_id"))
      },
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS rep_id, COUNT(*) AS n_dups
           |FROM documents GROUP BY md5(text)""".stripMargin)),

    // Exact dedup surviving rows (deterministic min-id representative).
    QueryDef(
      "q51_dedup_exact_rows",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.exactByKey(docs, col("text"), col("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""SELECT doc_id, lang, source FROM (
           |  SELECT doc_id, lang, source, min(doc_id) OVER (PARTITION BY text) AS m
           |  FROM documents) WHERE doc_id = m""".stripMargin)),

    // N-gram Jaccard near-dup pairs (inverted-index join, threshold 0.4),
    // with the document-frequency cap engaged: shingles shared by more than
    // 100 docs are dropped before the join — the guard that stops common
    // shingles from piling O(df^2) pairs onto single keys at scale.
    QueryDef(
      "q52_ngram_jaccard_pairs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.4,
          maxShingleDf = Some(100))
      },
      Some(s"""WITH $duckShingleCte,
           |shc AS (
           |  SELECT id, sh FROM sh
           |  WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100)),
           |sizes AS (SELECT id, COUNT(*) AS sz FROM shc GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.id = id_a
           |JOIN sizes sb ON sb.id = id_b
           |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4""".stripMargin)),

    // MinHash LSH band signatures (16 hashes, 4 bands x 4 rows). One md5 per
    // shingle; the 16-member family is arithmetic (Hashing.familyHash), which
    // both engines reproduce from inlined constants.
    QueryDef(
      "q53_minhash_bands",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val sigs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16)
        Dedup.lshBands(sigs, 4)
      },
      Some(s"""WITH $duckShingleCte,
           |$duckMinhashCtes
           |SELECT doc_id, seed // 4 AS band,
           |  CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |FROM mh GROUP BY 1, 2""".stripMargin)),

    // MinHash LSH candidate pairs (band-signature collisions), with the
    // mega-bucket guard engaged: buckets holding more than 100 doc ids are
    // dropped whole before pair emission (boilerplate mega-clusters would
    // otherwise concentrate a quadratic pair explosion on single tasks).
    QueryDef(
      "q54_minhash_candidates",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val sigs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16)
        Dedup.lshCandidatePairs(Dedup.lshBands(sigs, 4), maxBucket = Some(100))
      },
      Some(s"""WITH $duckShingleCte,
           |$duckMinhashCtes,
           |bands AS (
           |  SELECT doc_id, seed // 4 AS band,
           |    CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |  FROM mh GROUP BY 1, 2),
           |ok_buckets AS (
           |  SELECT band, band_sig FROM bands GROUP BY 1, 2
           |  HAVING COUNT(*) BETWEEN 2 AND 100)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |FROM bands a
           |JOIN bands b
           |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
           |JOIN ok_buckets ob
           |  ON ob.band = a.band AND ob.band_sig = a.band_sig""".stripMargin)),

    // Levenshtein near-dup among distinct part names with lossless
    // length-band blocking (|len diff| <= lev) — fuzzy entity matching as an
    // equi-join instead of an all-pairs comparison.
    QueryDef(
      "q58_edit_distance_pairs",
      (s, dir) => {
        val part = Tables.load(s, dir, "part")
        Dedup.editDistancePairs(part, col("p_name"), maxDist = 2)
      },
      Some("""WITH n AS (SELECT DISTINCT p_name FROM part)
           |SELECT a.p_name AS name_a, b.p_name AS name_b,
           |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
           |FROM n a JOIN n b
           |  ON a.p_name < b.p_name
           |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
           |  AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin)),

    // MinHash Jaccard ESTIMATE on the q54 candidate pairs — the cheap
    // rank/filter stage between LSH candidates and exact verification:
    // score = fraction of agreeing signature components, k integer compares
    // per pair instead of a shingle re-join.
    QueryDef(
      "q86_minhash_jaccard_estimate",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val sigs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16)
        val cands = Dedup.lshCandidatePairs(Dedup.lshBands(sigs, 4), maxBucket = Some(100))
        Dedup.minhashJaccardEstimate(sigs, cands)
      },
      Some(s"""WITH $duckShingleCte,
           |$duckMinhashCtes,
           |bands AS (
           |  SELECT doc_id, seed // 4 AS band,
           |    CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |  FROM mh GROUP BY 1, 2),
           |ok_buckets AS (
           |  SELECT band, band_sig FROM bands GROUP BY 1, 2
           |  HAVING COUNT(*) BETWEEN 2 AND 100),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a
           |  JOIN bands b
           |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
           |  JOIN ok_buckets ob
           |    ON ob.band = a.band AND ob.band_sig = a.band_sig)
           |SELECT id_a, id_b,
           |  CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           |  COUNT(*) AS n_hashes,
           |  CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS est_jaccard
           |FROM cand
           |JOIN mh ma ON ma.doc_id = cand.id_a
           |JOIN mh mb ON mb.doc_id = cand.id_b AND mb.seed = ma.seed
           |GROUP BY 1, 2""".stripMargin)),

    // Near-dup CLUSTER formation: connected components (iterative hash-min
    // label propagation, O(diameter) rounds, no driver-side union-find) over
    // the q52 Jaccard candidate pairs — cluster_id = min doc id per
    // component. Oracle: DuckDB recursive-CTE transitive closure.
    QueryDef(
      "q83_neardup_clusters",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.4,
          maxShingleDf = Some(100))
        Dedup.connectedComponents(pairs, "id_a", "id_b")
      },
      Some(s"""WITH RECURSIVE $duckJaccardPairCtes
           |SELECT id, cluster_id FROM labels""".stripMargin)),

    // LEAKAGE-FREE train/val/test split: q46's hash split assigns each doc
    // independently, so a near-dup pair can straddle train and test and
    // quietly inflate every benchmark run on the corpus. Splitting on the
    // CLUSTER representative (q83's labels; singletons hash their own id)
    // makes straddling impossible by construction — SamplingSpec pins the
    // zero-straddle property; this query hash-pins the exact assignment.
    QueryDef(
      "q178_cluster_split",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.4,
          maxShingleDf = Some(100))
        val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
        graft.ops.Sampling.clusterSplit(docs, col("doc_id"), labels,
          trainPct = 80, valPct = 10)
      },
      Some(s"""WITH RECURSIVE $duckJaccardPairCtes,
           |rep AS (
           |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS rep_id
           |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
           |bkt AS (
           |  SELECT doc_id, rep_id,
           |    ${graft.ops.Sampling.duckHashBucket("rep_id")} AS bucket
           |  FROM rep)
           |SELECT doc_id, rep_id, bucket,
           |  CASE WHEN bucket < 80 THEN 'train'
           |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           |FROM bkt""".stripMargin)),

    // Pairs → clusters → SURVIVORS: the full dedup story composed — every
    // document survives except those labeled as a non-representative member
    // of a near-dup cluster (min-id survivor policy, matching exact dedup's).
    QueryDef(
      "q84_cluster_survivors",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.4,
          maxShingleDf = Some(100))
        val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
        Dedup.keepClusterRepresentative(docs, col("doc_id"), labels)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(s"""WITH RECURSIVE $duckJaccardPairCtes
           |SELECT doc_id, lang, source FROM documents d
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM labels l WHERE l.id = d.doc_id AND l.id <> l.cluster_id)""".stripMargin)),

    // INCREMENTAL cluster maintenance as a catalog row: the q52 pair set is
    // split deterministically into a base batch and a delta; base clusters
    // are re-encoded as min-preserving star edges and the delta merged in
    // (the daily-ingest path — rounds bounded by the delta, not the
    // corpus). The oracle is the FULL recursive-CTE closure over all
    // pairs, so hash-green IS the incremental == full-recompute proof at
    // catalog level (the property test's production twin).
    QueryDef(
      "q155_incremental_clusters",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.4,
          maxShingleDf = Some(100)).localCheckpoint()
        val base = pairs.where(pmod(col("id_a") + col("id_b"), lit(3)) =!= 0)
        val delta = pairs.where(pmod(col("id_a") + col("id_b"), lit(3)) === 0)
        val baseLabels = Dedup.connectedComponents(base, "id_a", "id_b")
        Dedup.connectedComponentsIncremental(baseLabels, delta, "id_a", "id_b")
      },
      Some(s"""WITH RECURSIVE $duckJaccardPairCtes
           |SELECT id, cluster_id FROM labels""".stripMargin)),

    // SimHash (60-bit majority-vote fingerprints).
    QueryDef(
      "q55_simhash",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.simhash(docs, col("doc_id"), col("text"))
      },
      Some(s"""WITH toks AS (
           |  SELECT doc_id, ${Hashing.duckFoldHexCol("m")} AS th
           |  FROM (SELECT doc_id, md5(tok) AS m FROM
           |        (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents))),
           |votes AS (
           |  SELECT doc_id, k,
           |    SUM(CASE WHEN (th // (CAST(1 AS BIGINT) << k)) % 2 = 1 THEN 1 ELSE -1 END) AS s
           |  FROM toks CROSS JOIN generate_series(0, 59) AS g(k)
           |  GROUP BY 1, 2)
           |SELECT doc_id,
           |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
           |FROM votes GROUP BY 1""".stripMargin)),

    // SimHash near-dup pairs within Hamming distance 3 — the blocked SCALE
    // path with the 6-block scheme (C(6,3)=20 combo keys of 3 intact 10-bit
    // blocks → 2^30 buckets; the pigeonhole keeps recall exact, so the plain
    // quadratic oracle still matches). In the bench set: this is the variant
    // a 100 TB run would use.
    QueryDef(
      "q56_simhash_pairs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val hashes = Dedup.simhash(docs, col("doc_id"), col("text"))
        Dedup.simhashNearDupBlocked(hashes, 3, numBlocks = 6)
      },
      Some(s"""WITH toks AS (
           |  SELECT doc_id, ${Hashing.duckFoldHexCol("m")} AS th
           |  FROM (SELECT doc_id, md5(tok) AS m FROM
           |        (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents))),
           |votes AS (
           |  SELECT doc_id, k,
           |    SUM(CASE WHEN (th // (CAST(1 AS BIGINT) << k)) % 2 = 1 THEN 1 ELSE -1 END) AS s
           |  FROM toks CROSS JOIN generate_series(0, 59) AS g(k)
           |  GROUP BY 1, 2),
           |sh AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
           |  FROM votes GROUP BY 1)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  bit_count(xor(a.simhash, b.simhash)) AS hamming
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)),

    // Asymmetric containment pairs: |A∩B| / min(|A|,|B|) over the same
    // df-capped shingle inverted index as q52 — catches subset-duplication
    // (a doc pasted inside a larger one) that symmetric Jaccard misses.
    QueryDef(
      "q109_containment_pairs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.containmentPairs(docs, col("doc_id"), col("text"), 3, 0.5,
          maxShingleDf = Some(100))
      },
      Some(s"""WITH $duckShingleCte,
           |shc AS (
           |  SELECT id, sh FROM sh
           |  WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100)),
           |sizes AS (SELECT id, COUNT(*) AS sz FROM shc GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           |  CAST(inter AS DOUBLE) / LEAST(sa.sz, sb.sz) AS containment
           |FROM inter
           |JOIN sizes sa ON sa.id = id_a
           |JOIN sizes sb ON sb.id = id_b
           |WHERE CAST(inter AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.5""".stripMargin)),

    // N-gram novelty: per-doc fraction of distinct 3-gram shingles first
    // seen (min doc id) in that doc — the marginal-contribution score for
    // corpus additions. Hash-only shuffles; one shared exchange feeds both
    // the first-occurrence election and the join back.
    QueryDef(
      "q124_ngram_novelty",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.ngramNovelty(docs, col("doc_id"), col("text"), 3)
      },
      Some(s"""WITH $duckShingleCte,
           |g AS (SELECT id, ${Hashing.duckFoldHexCol("m")} AS gh
           |      FROM (SELECT id, md5(sh) AS m FROM sh)),
           |fo AS (SELECT gh, MIN(id) AS first_id FROM g GROUP BY gh)
           |SELECT g.id AS doc_id, COUNT(*) AS n_shingles,
           |  CAST(SUM(CASE WHEN fo.first_id = g.id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           |  CAST(SUM(CASE WHEN fo.first_id = g.id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
           |FROM g JOIN fo USING (gh)
           |GROUP BY g.id""".stripMargin)),

    // Maximal duplicated substring spans (ExactSubstr dedup re-expressed
    // relationally): 5-token windows repeated verbatim anywhere in the
    // corpus, merged gaps-and-islands into maximal spans. The oracle
    // rebuilds the identical window hashes (md5 computed once per window in
    // a CTE) and the identical pos - row_number island keys.
    QueryDef(
      "q107_dup_spans",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.duplicatedSpans(docs, col("doc_id"), col("text"), n = 5)
      },
      Some(s"""WITH $duckDupSpanCtes
           |SELECT doc_id, span_start, span_len, span_text FROM sp""".stripMargin)),

    // The removal step of ExactSubstr dedup: every duplicated span survives
    // only at its globally-first occurrence (min (doc_id, span_start) per
    // exact span text, elected by one window over md5(span_text)); later
    // occurrences are cut token-wise. One row per input doc, cut or not.
    QueryDef(
      "q115_dedup_cut",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.cutDuplicatedSpans(docs, col("doc_id"), col("text"), n = 5)
      },
      Some(s"""WITH $duckDupSpanCtes,
           |ranked AS (
           |  SELECT doc_id, span_start, span_len,
           |    row_number() OVER (PARTITION BY md5(span_text)
           |      ORDER BY doc_id, span_start) AS rn
           |  FROM sp),
           |cuts AS (
           |  SELECT doc_id, span_start AS s, span_start + span_len - 1 AS e
           |  FROM ranked WHERE rn > 1),
           |wins AS (
           |  SELECT doc_id, span_start AS s, span_start + span_len - 1 AS e
           |  FROM ranked WHERE rn = 1),
           |kept AS (
           |  SELECT t.doc_id, pos, t.t[pos] AS tok
           |  FROM toks t, unnest(range(1, len(t.t) + 1)) AS tp(pos)
           |  WHERE EXISTS (SELECT 1 FROM wins w
           |    WHERE w.doc_id = t.doc_id AND pos >= w.s AND pos <= w.e)
           |    OR NOT EXISTS (SELECT 1 FROM cuts c
           |    WHERE c.doc_id = t.doc_id AND pos >= c.s AND pos <= c.e)),
           |keptagg AS (
           |  SELECT doc_id, COUNT(*) AS n_kept,
           |    array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
           |  FROM kept GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
           |  CAST(len(t.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           |  COALESCE(k.cleaned, '') AS cleaned_text
           |FROM toks t LEFT JOIN keptagg k USING (doc_id)""".stripMargin)),

    // Cross-SOURCE shingle-overlap (leakage-audit) matrix: containment of
    // every source pair's 3-gram shingle vocabularies, over hash60'd
    // shingles with the source-df cap ENGAGED at 15 (corpus-wide
    // boilerplate shingles carry no pair signal and would fan out as df²)
    // — the shard-level complement of q87's document-level
    // decontamination.
    QueryDef(
      "q133_source_overlap",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.sourceOverlapMatrix(docs, col("doc_id"), col("text"),
          col("source"), n = 3, maxSrcDf = Some(15))
      },
      Some {
        val h = Hashing.duckFoldHexCol("m")
        s"""WITH sr AS (
           |  SELECT source AS src, unnest(${graft.ops.Text.duckShingles("text", 3)}) AS sh
           |  FROM documents),
           |sh1 AS (
           |  SELECT DISTINCT src, $h AS hh
           |  FROM (SELECT src, md5(sh) AS m FROM sr)),
           |keep AS (
           |  SELECT hh FROM (SELECT hh, COUNT(*) AS df FROM sh1 GROUP BY 1)
           |  WHERE df <= 15),
           |shk AS (SELECT * FROM sh1 WHERE hh IN (SELECT hh FROM keep)),
           |sizes AS (SELECT src, COUNT(*) AS sz FROM shk GROUP BY 1),
           |p AS (
           |  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
           |  FROM shk a JOIN shk b ON a.hh = b.hh AND a.src < b.src
           |  GROUP BY 1, 2)
           |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
           |  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
           |  CAST(n_shared AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment_a,
           |  CAST(n_shared AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS containment_b
           |FROM p JOIN sizes sa ON sa.src = p.src_a
           |JOIN sizes sb ON sb.src = p.src_b""".stripMargin
      }),

    // SKETCHED shard-overlap audit: per-source THETA sketches of the kept
    // shingle sets, every pairwise intersection estimated from the STORED
    // sketch bytes alone — the set operation HLL (q125) cannot do, and the
    // 100 TB replacement for q133's df²-fan-out exact pair join. The q26/
    // q125 discipline makes it hash-checkable: rows carry exact counts
    // plus an in-engine within_bound verdict (union-scaled ~3σ theta
    // intersection bound), which the oracle reproduces as exact counts +
    // literal TRUE. Same df cap (15) as q133 so both audits see the same
    // kept sets.
    QueryDef(
      "q136_theta_source_overlap",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.thetaSourceOverlap(docs, col("doc_id"), col("text"),
          col("source"), n = 3, lgK = 12, maxSrcDf = Some(15))
      },
      Some {
        val h = Hashing.duckFoldHexCol("m")
        s"""WITH sr AS (
           |  SELECT source AS src, unnest(${graft.ops.Text.duckShingles("text", 3)}) AS sh
           |  FROM documents),
           |sh1 AS (
           |  SELECT DISTINCT src, $h AS hh
           |  FROM (SELECT src, md5(sh) AS m FROM sr)),
           |keep AS (
           |  SELECT hh FROM (SELECT hh, COUNT(*) AS df FROM sh1 GROUP BY 1)
           |  WHERE df <= 15),
           |shk AS (SELECT * FROM sh1 WHERE hh IN (SELECT hh FROM keep)),
           |sizes AS (SELECT src, COUNT(*) AS sz FROM shk GROUP BY 1),
           |p AS (
           |  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
           |  FROM shk a JOIN shk b ON a.hh = b.hh AND a.src < b.src
           |  GROUP BY 1, 2)
           |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
           |  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
           |  TRUE AS within_bound
           |FROM p JOIN sizes sa ON sa.src = p.src_a
           |JOIN sizes sb ON sb.src = p.src_b""".stripMargin
      }),

    // Per-source NOVELTY from stored theta sketches: |src \ union(others)|
    // via the AnotB set difference — the incremental-crawl audit ("does
    // this dump add anything?"). Union-of-others is a sketch-pair
    // re-aggregation over stored bytes (no corpus rescan); rows carry the
    // exact unique counts (corpus df == 1 per source) + the in-engine
    // 3σ verdict, which the oracle reproduces as exact + TRUE.
    QueryDef(
      "q143_theta_source_novelty",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.thetaSourceNovelty(docs, col("doc_id"), col("text"),
          col("source"), n = 3, lgK = 12, maxSrcDf = Some(15))
      },
      Some {
        val h = Hashing.duckFoldHexCol("m")
        s"""WITH sr AS (
           |  SELECT source AS src, unnest(${graft.ops.Text.duckShingles("text", 3)}) AS sh
           |  FROM documents),
           |sh1 AS (
           |  SELECT DISTINCT src, $h AS hh
           |  FROM (SELECT src, md5(sh) AS m FROM sr)),
           |keep AS (
           |  SELECT hh FROM (SELECT hh, COUNT(*) AS df FROM sh1 GROUP BY 1)
           |  WHERE df <= 15),
           |shk AS (SELECT * FROM sh1 WHERE hh IN (SELECT hh FROM keep)),
           |sizes AS (SELECT src, COUNT(*) AS sz FROM shk GROUP BY 1),
           |uniq AS (
           |  SELECT min(src) AS src, COUNT(*) AS df FROM shk GROUP BY hh HAVING COUNT(*) = 1),
           |nu AS (SELECT src, COUNT(*) AS n_unique FROM uniq GROUP BY 1)
           |SELECT s.src, CAST(s.sz AS BIGINT) AS sz,
           |  CAST(COALESCE(nu.n_unique, 0) AS BIGINT) AS n_unique,
           |  TRUE AS within_bound
           |FROM sizes s LEFT JOIN nu ON nu.src = s.src""".stripMargin
      }),

    // Standard winnowing (Schleimer/Wilkerson/Aiken 2003, the MOSS
    // fingerprinter; the paper's "robust" tie-break variant is NOT used):
    // each window of 4 consecutive 3-gram hashes selects its
    // minimum (rightmost on ties — the min-of-(h, -pos) struct carries the
    // tie-break inside the ordering, identically in both engines); short
    // documents select from the whole-document window. The oracle re-derives
    // every positioned hash and replays the identical struct-min window.
    QueryDef(
      "q164_winnow_fingerprints",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.winnowFingerprints(docs, col("doc_id"), col("text"), k = 3, w = 4)
      },
      Some(s"""WITH ${duckWinnowCtes("documents", "")}
           |SELECT doc_id, pos, h FROM wfp""".stripMargin)),

    // Near-dup pairs over the winnowed index: containment on selected
    // hashes. The index is the ~2/(w+1) winnowed fraction of the shingle
    // index while any shared run of >= w+k-1 tokens still collides (the
    // winnowing guarantee) — the cheap first-pass pair generator at corpus
    // scale. df cap 100 mirrored in the oracle.
    QueryDef(
      "q165_winnow_overlap_pairs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"),
          k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
      },
      Some(s"""WITH ${duckWinnowCtes("documents", "")},
           |fp0 AS (SELECT DISTINCT doc_id, h FROM wfp),
           |fp AS (
           |  SELECT doc_id, h FROM fp0
           |  WHERE h IN (SELECT h FROM fp0 GROUP BY h HAVING COUNT(*) <= 100)),
           |sizes AS (SELECT doc_id, COUNT(*) AS nfp FROM fp GROUP BY 1),
           |inter AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
           |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, inter, sa.nfp AS nfp_a, sb.nfp AS nfp_b,
           |  CAST(inter AS DOUBLE) / least(sa.nfp, sb.nfp) AS overlap
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = id_a
           |JOIN sizes sb ON sb.doc_id = id_b
           |WHERE CAST(inter AS DOUBLE) / least(sa.nfp, sb.nfp) >= 0.4""".stripMargin)),

    // Unicode-normalization-aware exact dedup: the corpus has no decomposed
    // spellings, so the QUERY plants them (the q135 planted-fixture
    // pattern) — every 20th document gains a composed copy (a -> U+00E1)
    // and a decomposed copy (a -> a+U+0301). Raw byte hashing splits those
    // copies; hashing nfc(text) merges them — n_raw_distinct counts the
    // byte forms each merged group contained. Both engines build the
    // identical corpus (chr() literals) and normalize with their native
    // NFC (graft.plans.NfcNormalize vs DuckDB nfc_normalize).
    QueryDef(
      "q166_nfc_dedup_groups",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.select(col("doc_id"), col("text"))
        val planted = docs.where(pmod(col("doc_id"), lit(20)) === 0)
        val comp = planted.select((col("doc_id") + lit(10000000L)).as("doc_id"),
          replace(col("text"), lit("a"), lit("\u00e1")).as("text"))
        val decomp = planted.select((col("doc_id") + lit(20000000L)).as("doc_id"),
          replace(col("text"), lit("a"), lit("a\u0301")).as("text"))
        Dedup.normalizedDedupGroups(
          base.union(comp).union(decomp), col("doc_id"), col("text"))
      },
      Some("""WITH all_docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000000, replace(text, 'a', chr(225))
           |  FROM documents WHERE doc_id % 20 = 0
           |  UNION ALL
           |  SELECT doc_id + 20000000, replace(text, 'a', 'a' || chr(769))
           |  FROM documents WHERE doc_id % 20 = 0)
           |SELECT md5(nfc_normalize(text)) AS norm_hash, MIN(doc_id) AS rep_id,
           |  COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_raw_distinct
           |FROM all_docs
           |GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin)),

    // NFC through the UNCHANGED near-dup machinery (the cjkSegment/q160 seam
    // discipline): composed vs decomposed spellings of the same word differ
    // in every byte-keyed shingle hash, so a decomposed near-copy of a
    // composed document loses every 'a'-word shingle match and can sail
    // under any Jaccard threshold — q166 fixed exact dedup only, leaving
    // winnowing/Jaccard/MinHash/SimHash normalization-blind. Shingling
    // Text.nfc(text) at the tokens() seam restores the match with zero new
    // shuffles (nfc is a per-row codegen expression on the pre-explode
    // scan). Fixture: composed originals vs decomposed copies extended by
    // three marker tokens, so the pair is NEAR (jaccard < 1), not exact;
    // the oracle normalizes with DuckDB's native nfc_normalize and replays
    // the q52 inverted-index chain.
    QueryDef(
      "q167_nfc_neardup_pairs",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(40)) === 0)
        val comp = base.select(col("doc_id"),
          replace(col("text"), lit("a"), lit("\u00e1")).as("text"))
        val decomp = base.select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(replace(col("text"), lit("a"), lit("a\u0301")),
            lit(" zq1 zq2 zq3")).as("text"))
        Dedup.ngramJaccardPairs(comp.unionByName(decomp),
          col("doc_id"), Text.nfc(col("text")), 3, 0.5)
      },
      Some(s"""WITH planted AS (
           |  SELECT doc_id, replace(text, 'a', chr(225)) AS text
           |  FROM documents WHERE doc_id % 40 = 0
           |  UNION ALL
           |  SELECT doc_id + 10000000 AS doc_id,
           |    replace(text, 'a', 'a' || chr(769)) || ' zq1 zq2 zq3' AS text
           |  FROM documents WHERE doc_id % 40 = 0),
           |sh AS (
           |  SELECT doc_id AS id,
           |    unnest(${Text.duckShingles("nfc_normalize(text)", 3)}) AS sh
           |  FROM planted),
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
           |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5""".stripMargin)),

    // DURABLE winnow fingerprint table, maintenance path (the q158
    // append==rebuild discipline): the table is built on the 6/7 base
    // corpus, the 1/7 delta is winnowed separately and appended — and
    // because winnowing is strictly per-document, the appended table must
    // equal a from-scratch rebuild of the union ROW FOR ROW. The oracle IS
    // the full rebuild (q164's chain over all documents): hash-match here
    // proves the daily-ingest path never drifts from recomputation.
    QueryDef(
      "q168_winnow_index_append",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        val fp = graft.ops.WinnowIndex.build(base, col("doc_id"), col("text"),
          k = 3, w = 4)
        graft.ops.WinnowIndex.append(fp, delta, col("doc_id"), col("text"),
          k = 3, w = 4)
      },
      Some(s"""WITH ${duckWinnowCtes("documents", "")}
           |SELECT doc_id, pos, h FROM wfp""".stripMargin)),

    // DURABLE winnow fingerprint table, serve path: probe documents (30-token
    // prefix truncations of every 25th doc — the q141 planted-truncation
    // pattern; any shared run of >= w+k-1 = 6 tokens still collides by the
    // winnowing guarantee) are winnowed and matched against the STORED
    // fingerprint table. The table side is never re-tokenized — its three
    // consumers (df cap, per-doc sizes, pair join) all read stored
    // fingerprint rows; corpus text is touched only at build. df cap 100
    // mirrored in the oracle on the INDEX side only (probe text never
    // shifts index statistics).
    QueryDef(
      "q169_winnow_index_serve",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val fp = graft.ops.WinnowIndex.build(docs, col("doc_id"), col("text"),
          k = 3, w = 4)
        val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat_ws(" ", slice(Text.tokens(col("text")), 1, 30)).as("text"))
        graft.ops.WinnowIndex.matches(fp, probes, col("doc_id"), col("text"),
          k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
      },
      Some(s"""WITH probes AS (
           |  SELECT doc_id + 10000000 AS doc_id,
           |    array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, 30), ' ') AS text
           |  FROM documents WHERE doc_id % 25 = 0),
           |${duckWinnowCtes("documents", "i")},
           |${duckWinnowCtes("probes", "p")},
           |ifp0 AS (SELECT DISTINCT doc_id, h FROM iwfp),
           |ifp AS (
           |  SELECT doc_id, h FROM ifp0
           |  WHERE h IN (SELECT h FROM ifp0 GROUP BY h HAVING COUNT(*) <= 100)),
           |isz AS (SELECT doc_id, COUNT(*) AS nfp_doc FROM ifp GROUP BY 1),
           |pfp AS (SELECT DISTINCT doc_id AS probe_id, h FROM pwfp),
           |psz AS (SELECT probe_id, COUNT(*) AS nfp_probe FROM pfp GROUP BY 1),
           |inter AS (
           |  SELECT p.probe_id, i.doc_id, COUNT(*) AS inter
           |  FROM pfp p JOIN ifp i ON p.h = i.h
           |  GROUP BY 1, 2)
           |SELECT probe_id, doc_id, inter, psz.nfp_probe, isz.nfp_doc,
           |  CAST(inter AS DOUBLE) / least(psz.nfp_probe, isz.nfp_doc) AS overlap
           |FROM inter
           |JOIN psz USING (probe_id)
           |JOIN isz USING (doc_id)
           |WHERE CAST(inter AS DOUBLE) / least(psz.nfp_probe, isz.nfp_doc) >= 0.4""".stripMargin)),

    // Winnow-index DF SIDE TABLE maintenance (the q144 moment-table
    // discipline applied to the serve statistics): the (h, df) table the
    // serve cap consumes is ADDITIVE under append — appended docs carry new
    // doc_ids, so the delta's own df table merges by summation, no corpus
    // rescan. Engine: dfTable(base fp) merged with dfTable(delta fp);
    // oracle: full recompute over the rebuilt fingerprint set. Hash-equal
    // proves the maintained statistic never drifts from recomputation.
    QueryDef(
      "q173_winnow_df_merge",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        graft.ops.WinnowIndex.mergeDfTables(
          graft.ops.WinnowIndex.dfTable(
            graft.ops.WinnowIndex.build(base, col("doc_id"), col("text"), k = 3, w = 4)),
          graft.ops.WinnowIndex.dfTable(
            Dedup.winnowFingerprints(delta, col("doc_id"), col("text"), k = 3, w = 4)))
      },
      Some(s"""WITH ${duckWinnowCtes("documents", "")},
           |fp0 AS (SELECT DISTINCT doc_id, h FROM wfp)
           |SELECT h, COUNT(*) AS df FROM fp0 GROUP BY 1""".stripMargin)),

    // Serve with STORED statistics: q169's plagiarism check with the df cap
    // fed from the maintained side table (base-df merged with delta-df)
    // instead of an in-plan corpus aggregation — the last corpus-wide
    // operation leaves the serve path. The oracle is exactly q169's: the
    // swap must be invisible in the results.
    QueryDef(
      "q174_winnow_serve_stats",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        val baseFp = graft.ops.WinnowIndex.build(base, col("doc_id"), col("text"),
          k = 3, w = 4)
        // the delta's fingerprints feed BOTH the append and the df-table
        // merge — winnow once, checkpoint, reuse (append == unionByName of
        // exactly these rows, the WinnowIndex.append definition)
        val deltaFp = Dedup.winnowFingerprints(delta, col("doc_id"), col("text"),
          k = 3, w = 4).localCheckpoint()
        val fp = baseFp.unionByName(deltaFp)
        val stats = graft.ops.WinnowIndex.mergeDfTables(
          graft.ops.WinnowIndex.dfTable(baseFp),
          graft.ops.WinnowIndex.dfTable(deltaFp))
        val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat_ws(" ", slice(Text.tokens(col("text")), 1, 30)).as("text"))
        graft.ops.WinnowIndex.matches(fp, probes, col("doc_id"), col("text"),
          k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100),
          storedDf = Some(stats))
      },
      Some(s"""WITH probes AS (
           |  SELECT doc_id + 10000000 AS doc_id,
           |    array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, 30), ' ') AS text
           |  FROM documents WHERE doc_id % 25 = 0),
           |${duckWinnowCtes("documents", "i")},
           |${duckWinnowCtes("probes", "p")},
           |ifp0 AS (SELECT DISTINCT doc_id, h FROM iwfp),
           |ifp AS (
           |  SELECT doc_id, h FROM ifp0
           |  WHERE h IN (SELECT h FROM ifp0 GROUP BY h HAVING COUNT(*) <= 100)),
           |isz AS (SELECT doc_id, COUNT(*) AS nfp_doc FROM ifp GROUP BY 1),
           |pfp AS (SELECT DISTINCT doc_id AS probe_id, h FROM pwfp),
           |psz AS (SELECT probe_id, COUNT(*) AS nfp_probe FROM pfp GROUP BY 1),
           |inter AS (
           |  SELECT p.probe_id, i.doc_id, COUNT(*) AS inter
           |  FROM pfp p JOIN ifp i ON p.h = i.h
           |  GROUP BY 1, 2)
           |SELECT probe_id, doc_id, inter, psz.nfp_probe, isz.nfp_doc,
           |  CAST(inter AS DOUBLE) / least(psz.nfp_probe, isz.nfp_doc) AS overlap
           |FROM inter
           |JOIN psz USING (probe_id)
           |JOIN isz USING (doc_id)
           |WHERE CAST(inter AS DOUBLE) / least(psz.nfp_probe, isz.nfp_doc) >= 0.4""".stripMargin)),

    // QUALITY-ranked survivor election: q84 keeps the min-id member of each
    // near-dup cluster — whichever duplicate was ingested first — but a
    // curator wants the CLEANEST copy. Same pairs → clusters chain; the
    // survivor is the member maximizing the q41 quality score (ties by min
    // id). Only cluster members enter the election window; the untouched
    // corpus passes through one anti-join. The oracle replays the
    // recursive-CTE closure and the same (quality DESC, id ASC) election —
    // quality is integer-derived ratio arithmetic, so the double compares
    // identically cross-engine.
    QueryDef(
      "q180_cluster_best_survivors",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.4,
          maxShingleDf = Some(100))
        val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
        Dedup.keepBestInCluster(docs, col("doc_id"), Text.qualityScore(col("text")), labels)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(s"""WITH RECURSIVE $duckJaccardPairCtes,
           |members AS (
           |  SELECT l.id, l.cluster_id, ${Text.duckQualityScore("d.text")} AS quality
           |  FROM labels l JOIN documents d ON d.doc_id = l.id),
           |winners AS (
           |  SELECT id FROM (
           |    SELECT id, row_number() OVER (
           |      PARTITION BY cluster_id ORDER BY quality DESC, id ASC) AS rn
           |    FROM members) WHERE rn = 1)
           |SELECT doc_id, lang, source FROM documents d
           |WHERE d.doc_id IN (SELECT id FROM winners)
           |   OR NOT EXISTS (SELECT 1 FROM labels l WHERE l.id = d.doc_id)""".stripMargin)),

    // CCNet-style PARAGRAPH dedup: the corpus' documents are single
    // paragraphs, so the query plants multi-paragraph pages — every 10th
    // document gains its successor's full text as a second
    // newline-separated paragraph. First occurrence per distinct paragraph
    // corpus-wide survives (min (doc_id, pos) — so the PLANTED copy inside
    // doc 10k beats doc 10k+1's own body, which comes back as the n_kept=0
    // empty-text edge case); documents are stitched back from surviving
    // paragraphs in original order. The granularity between document dedup
    // (q50) and span dedup (q115): cross-page boilerplate vanishes without
    // touching unique prose.
    QueryDef(
      "q181_paragraph_dedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val nxt = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
        val base = docs.select(col("doc_id"), col("text")).join(nxt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) === 0 && col("next_text").isNotNull,
              concat(col("text"), lit("\n"), col("next_text")))
              .otherwise(col("text")).as("text"))
        Dedup.paragraphDedup(base, col("doc_id"), col("text"))
      },
      Some("""WITH base AS (
           |  SELECT d.doc_id,
           |    CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL
           |         THEN d.text || chr(10) || n.text ELSE d.text END AS text
           |  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1),
           |px AS (
           |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS t FROM base)),
           |paras AS (
           |  SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
           |    t[CAST(p AS INTEGER)] AS para
           |  FROM px),
           |kept AS (
           |  SELECT doc_id, pos, para FROM (
           |    SELECT doc_id, pos, para, row_number() OVER (
           |      PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
           |    FROM paras) WHERE rn = 1),
           |reb AS (
           |  SELECT doc_id, COUNT(*) AS n_kept,
           |    string_agg(para, chr(10) ORDER BY pos) AS clean_text
           |  FROM kept GROUP BY doc_id)
           |SELECT b.doc_id,
           |  CAST(len(string_split(b.text, chr(10))) AS BIGINT) AS n_paras,
           |  COALESCE(r.n_kept, 0) AS n_kept,
           |  COALESCE(r.clean_text, '') AS clean_text
           |FROM base b LEFT JOIN reb r ON r.doc_id = b.doc_id""".stripMargin)),

    // LSH recall audit: exact Jaccard pairs (threshold 0.3 — ground truth)
    // LEFT JOIN the q54 MinHash+LSH candidate set, recall per
    // floor(jaccard*10) similarity band — the empirical S-curve of the
    // (16 sigs, 4 rows/band) config, read against the theoretical
    // 1-(1-j^4)^4 before committing the LSH path to a production dedup
    // run. Low bands SHOULD show recall ≪ 1 (that is the curve working);
    // bands at/above the 0.4 operating threshold should be near 1. The
    // corpus' organic near-dups are all jaccard ≈ 0.9+, so the query
    // PLANTS graded-similarity pairs (the q135/q166 discipline): every
    // 25th document gains a prefix-truncated copy keeping (doc_id%6+4)/10
    // of its tokens — pairs landing across bands 3..8, identical integer
    // truncation arithmetic in both engines.
    QueryDef(
      "q185_lsh_recall_audit",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = Text.tokens(col("text"))
        val nKeep = ((size(toks) * (pmod(col("doc_id"), lit(6)) + lit(4)))
          .cast("double") / lit(10.0))
        val copies = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1), floor(nKeep).cast("int"))).as("text"))
        val all = docs.select(col("doc_id"), col("text")).unionByName(copies)
        val exact = Dedup.ngramJaccardPairs(all, col("doc_id"), col("text"), 3, 0.3,
          maxShingleDf = Some(100))
        val sigs = Dedup.minhashSignatures(all, col("doc_id"), col("text"), 3, 16)
        val cand = Dedup.lshCandidatePairs(Dedup.lshBands(sigs, 4), maxBucket = Some(100))
        Dedup.lshRecallAudit(exact, cand)
      },
      Some(s"""WITH all_docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000000 AS doc_id,
           |    array_to_string(list_slice(toks, 1,
           |      CAST(floor(CAST(len(toks) * (doc_id % 6 + 4) AS DOUBLE) / 10.0) AS INTEGER)), ' ') AS text
           |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
           |        FROM documents WHERE doc_id % 25 = 0)),
           |sh AS (
           |  SELECT doc_id AS id, unnest(${Text.duckShingles("text", 3)}) AS sh
           |  FROM all_docs),
           |$duckMinhashCtes,
           |shc AS (
           |  SELECT id, sh FROM sh
           |  WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100)),
           |sizes AS (SELECT id, COUNT(*) AS sz FROM shc GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2),
           |ex AS (
           |  SELECT id_a, id_b,
           |    CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
           |  FROM inter
           |  JOIN sizes sa ON sa.id = id_a
           |  JOIN sizes sb ON sb.id = id_b
           |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3),
           |bands AS (
           |  SELECT doc_id, seed // 4 AS band,
           |    CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |  FROM mh GROUP BY 1, 2),
           |ok_buckets AS (
           |  SELECT band, band_sig FROM bands GROUP BY 1, 2
           |  HAVING COUNT(*) BETWEEN 2 AND 100),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a
           |  JOIN bands b
           |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
           |  JOIN ok_buckets ob
           |    ON ob.band = a.band AND ob.band_sig = a.band_sig),
           |j AS (
           |  SELECT e.jaccard,
           |    CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS found
           |  FROM ex e LEFT JOIN cand c
           |    ON c.id_a = e.id_a AND c.id_b = e.id_b)
           |SELECT CAST(floor(jaccard * 10) AS BIGINT) AS band,
           |  COUNT(*) AS n_pairs, CAST(SUM(found) AS BIGINT) AS n_found,
           |  CAST(SUM(found) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
           |FROM j GROUP BY 1""".stripMargin)),

    // DURABLE paragraph-hash table, maintenance path (the q168/q158
    // append==rebuild discipline): the table is built on the id-prefix of
    // the q181 planted multi-paragraph corpus (doc_id < 400), the suffix
    // appended as a daily-ingest delta — ids sort after the base, so the
    // append contract holds and the result must equal a from-scratch
    // first-occurrence election over the whole corpus ROW FOR ROW. The
    // oracle IS that full rebuild.
    QueryDef(
      "q190_para_index_append",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val nxt = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
        val corpus = docs.select(col("doc_id"), col("text")).join(nxt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) === 0 && col("next_text").isNotNull,
              concat(col("text"), lit("\n"), col("next_text")))
              .otherwise(col("text")).as("text"))
        val base = corpus.where(col("doc_id") < 400)
        val delta = corpus.where(col("doc_id") >= 400)
        graft.ops.ParaIndex.append(
          graft.ops.ParaIndex.build(base, col("doc_id"), col("text")),
          delta, col("doc_id"), col("text"))
      },
      Some(s"""WITH base AS (
           |  SELECT d.doc_id,
           |    CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL
           |         THEN d.text || chr(10) || n.text ELSE d.text END AS text
           |  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1),
           |px AS (
           |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS t FROM base)),
           |paras AS (
           |  SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
           |    t[CAST(p AS INTEGER)] AS para
           |  FROM px),
           |ph AS (
           |  SELECT doc_id, pos, ${Hashing.duckFoldHexCol("m")} AS h
           |  FROM (SELECT doc_id, pos, md5(para) AS m FROM paras)),
           |sel AS (
           |  SELECT h, doc_id, pos,
           |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           |  FROM ph)
           |SELECT h, doc_id, pos FROM sel WHERE rn = 1""".stripMargin)),

    // DURABLE paragraph-hash table, serve path: an ingest batch of probe
    // documents is scrubbed against the STORED table — each probe carries
    // one corpus paragraph (cut: table hit), one novel paragraph (kept),
    // and one batch-wide shared paragraph (kept exactly once — the
    // in-batch election). The table side contributes only its hash column;
    // probe text crosses the election window and the rebuild once each.
    QueryDef(
      "q191_para_index_scrub",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val tbl = graft.ops.ParaIndex.build(docs, col("doc_id"), col("text"))
        val probes = docs.where(pmod(col("doc_id"), lit(20)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(col("text"), lit("\nfresh content "),
              col("doc_id").cast("string"),
              lit("\nshared probe boilerplate")).as("text"))
        graft.ops.ParaIndex.scrub(tbl, probes, col("doc_id"), col("text"))
      },
      Some(s"""WITH tblh AS (
           |  SELECT DISTINCT ${Hashing.duckFoldHexCol("m")} AS h
           |  FROM (SELECT md5(text) AS m FROM documents)),
           |probes AS (
           |  SELECT doc_id + 10000000 AS doc_id,
           |    text || chr(10) || 'fresh content ' || doc_id
           |      || chr(10) || 'shared probe boilerplate' AS text
           |  FROM documents WHERE doc_id % 20 = 0),
           |px AS (
           |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS t FROM probes)),
           |paras AS (
           |  SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
           |    t[CAST(p AS INTEGER)] AS para
           |  FROM px),
           |ph AS (
           |  SELECT doc_id, pos, para, ${Hashing.duckFoldHexCol("m")} AS h
           |  FROM (SELECT doc_id, pos, para, md5(para) AS m FROM paras)),
           |novel AS (
           |  SELECT doc_id, pos, para, h FROM ph
           |  WHERE h NOT IN (SELECT h FROM tblh)),
           |kept AS (
           |  SELECT doc_id, pos, para FROM (
           |    SELECT doc_id, pos, para,
           |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           |    FROM novel) WHERE rn = 1),
           |reb AS (
           |  SELECT doc_id, COUNT(*) AS n_kept,
           |    string_agg(para, chr(10) ORDER BY pos) AS clean_text
           |  FROM kept GROUP BY doc_id)
           |SELECT p.doc_id,
           |  CAST(len(string_split(p.text, chr(10))) AS BIGINT) AS n_paras,
           |  COALESCE(r.n_kept, 0) AS n_kept,
           |  COALESCE(r.clean_text, '') AS clean_text
           |FROM probes p LEFT JOIN reb r ON r.doc_id = p.doc_id""".stripMargin)),

    // DURABLE minhash signature table, maintenance path (the q168
    // append==rebuild discipline applied to the LSH candidate generator):
    // the table is built on the 6/7 base corpus, the 1/7 delta is signed
    // separately and appended — and because minhash signatures are strictly
    // per-document, the band table derived from the appended signatures
    // must equal a from-scratch rebuild of the union ROW FOR ROW. The
    // oracle IS the full rebuild (q53's chain over all documents):
    // hash-match proves the daily-ingest path never drifts from
    // recomputation.
    QueryDef(
      "q207_minhash_index_append",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        val sigs = graft.ops.MinHashIndex.append(
          graft.ops.MinHashIndex.build(base, col("doc_id"), col("text"), 3, 16),
          delta, col("doc_id"), col("text"), 3, 16)
        graft.ops.MinHashIndex.bandTable(sigs, 4)
      },
      Some(s"""WITH $duckShingleCte,
           |$duckMinhashCtes
           |SELECT doc_id, seed // 4 AS band,
           |  CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |FROM mh GROUP BY 1, 2""".stripMargin)),

    // DURABLE minhash table, serve path: an ingest batch of probe documents
    // (near-identical copies of every 25th doc — two trailing noise tokens,
    // new ids) is checked against the STORED signature + band tables — the
    // incremental ingest near-dup gate. Candidates are band collisions
    // probe × table, scored by signature agreement (q86's estimator on the
    // probe × table slice); the table side is never re-tokenized, and the
    // q54 mega-bucket guard applies to TABLE bucket sizes only (probe text
    // never shifts index statistics — the q169 stance).
    QueryDef(
      "q208_minhash_index_serve",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val sigs = graft.ops.MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
        val bands = graft.ops.MinHashIndex.bandTable(sigs, 4)
        val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(col("text"), lit(" zq1 zq2")).as("text"))
        graft.ops.MinHashIndex.matches(bands, sigs, probes,
          col("doc_id"), col("text"), n = 3, numHashes = 16, rowsPerBand = 4,
          minEstimate = 0.75, maxBucket = Some(100))
      },
      Some(s"""WITH probes AS (
           |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
           |  FROM documents WHERE doc_id % 25 = 0),
           |${duckMshChain("documents", "i")},
           |${duckMshChain("probes", "p")},
           |ok AS (
           |  SELECT band, band_sig FROM ibands GROUP BY 1, 2
           |  HAVING COUNT(*) <= 100),
           |cand AS (
           |  SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS doc_id
           |  FROM pbands p
           |  JOIN ibands i ON i.band = p.band AND i.band_sig = p.band_sig
           |  JOIN ok ON ok.band = p.band AND ok.band_sig = p.band_sig)
           |SELECT cand.probe_id, cand.doc_id,
           |  CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           |  COUNT(*) AS n_hashes,
           |  CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS est_jaccard
           |FROM cand
           |JOIN pmh pm ON pm.doc_id = cand.probe_id
           |JOIN imh im ON im.doc_id = cand.doc_id AND im.seed = pm.seed
           |GROUP BY 1, 2
           |HAVING CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.75""".stripMargin)),

    // Minhash index DELETE — the right-to-be-forgotten path: signatures
    // and band keys are strictly per-document, so removing a doc is an
    // exact key-filter on the stored tables (the locality argument that
    // makes append exact makes delete exact; no neighbor re-signing, no
    // rebuild). The oracle serves the q208 probe set against an index
    // that NEVER SAW the removed docs — hash-match proves the filtered
    // table is indistinguishable from the never-indexed rebuild, bucket
    // guard included (the guard re-derives from post-delete occupancy).
    QueryDef(
      "q277_minhash_index_delete",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val removed = docs.where(pmod(col("doc_id"), lit(11)) === 0)
          .select(col("doc_id"))
        val sigs = graft.ops.MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
        val bands = graft.ops.MinHashIndex.bandTable(sigs, 4)
        val sigsKept = graft.ops.MinHashIndex.delete(sigs, removed)
        val bandsKept = graft.ops.MinHashIndex.delete(bands, removed)
        val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(col("text"), lit(" zq1 zq2")).as("text"))
        graft.ops.MinHashIndex.matches(bandsKept, sigsKept, probes,
          col("doc_id"), col("text"), n = 3, numHashes = 16, rowsPerBand = 4,
          minEstimate = 0.75, maxBucket = Some(100))
      },
      Some(s"""WITH kept AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
           |probes AS (
           |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
           |  FROM documents WHERE doc_id % 25 = 0),
           |${duckMshChain("kept", "i")},
           |${duckMshChain("probes", "p")},
           |ok AS (
           |  SELECT band, band_sig FROM ibands GROUP BY 1, 2
           |  HAVING COUNT(*) <= 100),
           |cand AS (
           |  SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS doc_id
           |  FROM pbands p
           |  JOIN ibands i ON i.band = p.band AND i.band_sig = p.band_sig
           |  JOIN ok ON ok.band = p.band AND ok.band_sig = p.band_sig)
           |SELECT cand.probe_id, cand.doc_id,
           |  CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           |  COUNT(*) AS n_hashes,
           |  CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS est_jaccard
           |FROM cand
           |JOIN pmh pm ON pm.doc_id = cand.probe_id
           |JOIN imh im ON im.doc_id = cand.doc_id AND im.seed = pm.seed
           |GROUP BY 1, 2
           |HAVING CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.75""".stripMargin)),

    // Minhash BUCKET-SIZE side table maintenance (the q173 df-merge
    // discipline): the (band, band_sig, df) table the serve-path mega-bucket
    // guard consumes is ADDITIVE under append — appended docs carry new
    // doc_ids, so the delta's own bucket table merges by summation, no
    // corpus rescan. Oracle: full recompute over the rebuilt band table.
    QueryDef(
      "q209_minhash_bucket_df_merge",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        graft.ops.MinHashIndex.mergeBucketDf(
          graft.ops.MinHashIndex.bucketDfTable(graft.ops.MinHashIndex.bandTable(
            graft.ops.MinHashIndex.build(base, col("doc_id"), col("text"), 3, 16), 4)),
          graft.ops.MinHashIndex.bucketDfTable(graft.ops.MinHashIndex.bandTable(
            Dedup.minhashSignatures(delta, col("doc_id"), col("text"), 3, 16), 4)))
      },
      Some(s"""WITH $duckShingleCte,
           |$duckMinhashCtes,
           |bands AS (
           |  SELECT doc_id, seed // 4 AS band,
           |    CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |  FROM mh GROUP BY 1, 2)
           |SELECT band, band_sig, COUNT(*) AS df
           |FROM bands GROUP BY 1, 2""".stripMargin)),

    // Serve with STORED statistics: q208's ingest gate with the mega-bucket
    // cap fed from the maintained side table (base bucket-df merged with
    // delta bucket-df) instead of an in-plan table aggregation — the last
    // table-wide operation leaves the serve plan. The oracle is exactly
    // q208's: the swap must be invisible in the results.
    QueryDef(
      "q210_minhash_serve_stats",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        val baseSigs = graft.ops.MinHashIndex.build(base, col("doc_id"), col("text"), 3, 16)
        val deltaSigs = Dedup.minhashSignatures(delta, col("doc_id"), col("text"), 3, 16)
        val sigs = graft.ops.MinHashIndex.append(baseSigs, delta, col("doc_id"), col("text"), 3, 16)
        val bands = graft.ops.MinHashIndex.bandTable(sigs, 4)
        val stats = graft.ops.MinHashIndex.mergeBucketDf(
          graft.ops.MinHashIndex.bucketDfTable(graft.ops.MinHashIndex.bandTable(baseSigs, 4)),
          graft.ops.MinHashIndex.bucketDfTable(graft.ops.MinHashIndex.bandTable(deltaSigs, 4)))
        val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(col("text"), lit(" zq1 zq2")).as("text"))
        graft.ops.MinHashIndex.matches(bands, sigs, probes,
          col("doc_id"), col("text"), n = 3, numHashes = 16, rowsPerBand = 4,
          minEstimate = 0.75, maxBucket = Some(100),
          storedBucketDf = Some(stats))
      },
      Some(s"""WITH probes AS (
           |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
           |  FROM documents WHERE doc_id % 25 = 0),
           |${duckMshChain("documents", "i")},
           |${duckMshChain("probes", "p")},
           |ok AS (
           |  SELECT band, band_sig FROM ibands GROUP BY 1, 2
           |  HAVING COUNT(*) <= 100),
           |cand AS (
           |  SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS doc_id
           |  FROM pbands p
           |  JOIN ibands i ON i.band = p.band AND i.band_sig = p.band_sig
           |  JOIN ok ON ok.band = p.band AND ok.band_sig = p.band_sig)
           |SELECT cand.probe_id, cand.doc_id,
           |  CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           |  COUNT(*) AS n_hashes,
           |  CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS est_jaccard
           |FROM cand
           |JOIN pmh pm ON pm.doc_id = cand.probe_id
           |JOIN imh im ON im.doc_id = cand.doc_id AND im.seed = pm.seed
           |GROUP BY 1, 2
           |HAVING CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.75""".stripMargin)),

    // Per-ROW minhash band signatures == the grouped q53 chain: the
    // streaming ingest near-dup gate (StreamOps.nearDupGate) cannot run the
    // grouped signature aggregation, so it evaluates shingles → minima →
    // band sums entirely inside each row's scope (pure codegen HOFs, no
    // shuffle). This query hash-proves that per-row path against the very
    // oracle that certifies the grouped path — the gate's probe keys are
    // exactly the stored table's keys. Docs below the shingle width yield
    // null signatures (filtered; the grouped path has no rows for them).
    QueryDef(
      "q211_rowwise_minhash_bands",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.select(col("doc_id"),
          posexplode(graft.ops.MinHashIndex.rowBandSigs(col("text"), 3, 16, 4))
            .as(Seq("band", "band_sig")))
          .where(col("band_sig").isNotNull)
      },
      Some(s"""WITH $duckShingleCte,
           |$duckMinhashCtes
           |SELECT doc_id, seed // 4 AS band,
           |  CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |FROM mh GROUP BY 1, 2""".stripMargin)),

    // DURABLE simhash fingerprint table, maintenance path: fingerprints are
    // a strictly per-document majority vote, so signing the 1/7 delta and
    // appending must equal a from-scratch rebuild ROW FOR ROW — the oracle
    // IS the full q55 chain over all documents (the q168/q207 discipline,
    // closing the durable-table family: every near-dup operator now has a
    // stored, incrementally-maintained index).
    QueryDef(
      "q212_simhash_index_append",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        graft.ops.SimHashIndex.append(
          graft.ops.SimHashIndex.build(base, col("doc_id"), col("text")),
          delta, col("doc_id"), col("text"))
      },
      Some(s"""WITH ${duckSimhashChain("documents", "")}
           |SELECT doc_id, simhash FROM sh""".stripMargin)),

    // DURABLE simhash table, serve path: an ingest batch of probes
    // (near-identical copies of every 25th doc — two trailing noise tokens,
    // new ids) is fingerprinted PER ROW (Dedup.simhash60, the stateless
    // native twin of the batch aggregation) and matched against the STORED
    // pigeonhole key table within Hamming 3. Blocking recall is exact by
    // the pigeonhole argument, so the oracle is the plain quadratic
    // Hamming join probe × corpus — the blocked path must lose nothing.
    QueryDef(
      "q213_simhash_index_serve",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val hashes = graft.ops.SimHashIndex.build(docs, col("doc_id"), col("text"))
        val keys = graft.ops.SimHashIndex.keyTable(hashes, maxHamming = 3, numBlocks = 6)
        val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(col("text"), lit(" zq1 zq2")).as("text"))
        graft.ops.SimHashIndex.matches(keys, probes, col("doc_id"), col("text"),
          maxHamming = 3, numBlocks = 6)
      },
      Some(s"""WITH probes AS (
           |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
           |  FROM documents WHERE doc_id % 25 = 0),
           |${duckSimhashChain("documents", "c")},
           |${duckSimhashChain("probes", "p")}
           |SELECT p.doc_id AS probe_id, c.doc_id AS doc_id,
           |  bit_count(xor(p.simhash, c.simhash)) AS hamming
           |FROM psh p JOIN csh c
           |  ON bit_count(xor(p.simhash, c.simhash)) <= 3""".stripMargin)),

    // PREFIX-FILTERING set-similarity join (the PPJoin candidate space):
    // EXACT Jaccard >= 0.6 pairs — near-copies planted as in q208 — from an
    // index holding only each document's rarest (1-t)|x|+1 shingles. The
    // oracle is the PLAIN full inverted-index join with no cap: prefix
    // filtering must lose nothing (the completeness lemma in the op's
    // scaladoc), it only shrinks the candidate space — the principled
    // df-cap with zero recall loss.
    QueryDef(
      "q223_jaccard_prefix_filter",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val copies = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(col("text"), lit(" zq1 zq2")).as("text"))
        Dedup.jaccardPairsPrefix(
          docs.select(col("doc_id"), col("text")).unionByName(copies),
          col("doc_id"), col("text"), 3, 0.6)
      },
      Some(s"""WITH planted AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
           |  FROM documents WHERE doc_id % 25 = 0),
           |psh AS (
           |  SELECT doc_id AS id, unnest(${Text.duckShingles("text", 3)}) AS sh
           |  FROM planted),
           |sizes AS (SELECT id, COUNT(*) AS sz FROM psh GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           |  FROM psh a JOIN psh b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.id = id_a
           |JOIN sizes sb ON sb.id = id_b
           |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6""".stripMargin)),

    // Content-defined chunk dedup: rolling-window cut points (hash of each
    // 8-char window, cut where ≡ 0 mod 64 — boundaries are a pure function
    // of LOCAL content, so an edit only re-chunks its neighborhood) and the
    // cross-document duplicate-chunk ledger a content-addressed store would
    // dedupe on. Cut detection is a per-row HOF chain, one hash per
    // position; only (md5, longs) rows shuffle. The oracle replays the
    // identical positions relationally (md5 computed once per position via
    // the fold-hex-col fast path).
    QueryDef(
      "q254_cdc_chunk_dedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.cdcDupReport(
          Dedup.cdcChunks(docs, col("doc_id"), col("text"), w = 8, mask = 64))
      },
      Some(s"""WITH d AS (
           |  SELECT doc_id, text, length(text) AS l FROM documents),
           |pos AS (
           |  SELECT doc_id, i, md5(substr(text, i, 8)) AS m
           |  FROM d, unnest(range(2, GREATEST(l - 6, 2))) AS r(i)),
           |cuts AS (
           |  SELECT doc_id, i FROM pos
           |  WHERE ${Hashing.duckFoldHexCol("m")} % 64 = 0),
           |starts AS (
           |  SELECT doc_id, 1 AS st FROM d
           |  UNION ALL SELECT doc_id, i FROM cuts),
           |spans AS (
           |  SELECT doc_id, st,
           |    LEAD(st) OVER (PARTITION BY doc_id ORDER BY st) - 1 AS en
           |  FROM starts),
           |chunks AS (
           |  SELECT sp.doc_id,
           |    CAST(COALESCE(sp.en, dd.l) - sp.st + 1 AS BIGINT) AS chunk_len,
           |    md5(substr(dd.text, sp.st, COALESCE(sp.en, dd.l) - sp.st + 1))
           |      AS chunk_md5
           |  FROM spans sp JOIN d dd USING (doc_id)),
           |rep AS (
           |  SELECT chunk_md5, CAST(COUNT(*) AS BIGINT) AS n_occ,
           |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |    CAST(MIN(chunk_len) AS BIGINT) AS chunk_len
           |  FROM chunks GROUP BY 1)
           |SELECT chunk_md5, n_occ, n_docs, chunk_len,
           |  (n_occ - 1) * chunk_len AS bytes_saved
           |FROM rep WHERE n_occ >= 2
           |ORDER BY n_occ DESC, chunk_md5 ASC
           |LIMIT 100""".stripMargin)),

    // Train/test SPLIT-LEAKAGE audit: near-dup candidate pairs that cross
    // the deterministic 80/10/10 split — the evaluation-integrity check
    // every benchmark should run (a test doc with a train-side near-dup
    // inflates every metric; exact-dup decontamination misses
    // paraphrases). The q54 pair frame joins the q46 split assignment on
    // bare ids and reduces to the split×split leakage matrix.
    QueryDef(
      "q285_split_leakage",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.lshCandidatePairs(
          Dedup.lshBands(
            Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16), 4),
          maxBucket = Some(100))
        val split = Sampling.withSplit(docs, col("doc_id"),
            trainPct = 80, valPct = 10)
          .select(col("doc_id"), col("split"))
        pairs
          .join(split.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
          .join(split.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
          .where(col("split_a") =!= col("split_b"))
          .groupBy(least(col("split_a"), col("split_b")).as("split_lo"),
            greatest(col("split_a"), col("split_b")).as("split_hi"))
          .agg(count(lit(1)).as("n_leaked_pairs"))
      },
      Some(s"""WITH $duckShingleCte,
           |$duckMinhashCtes,
           |bands AS (
           |  SELECT doc_id, seed // 4 AS band,
           |    CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |  FROM mh GROUP BY 1, 2),
           |ok_buckets AS (
           |  SELECT band, band_sig FROM bands GROUP BY 1, 2
           |  HAVING COUNT(*) BETWEEN 2 AND 100),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a
           |  JOIN bands b
           |    ON a.band = b.band AND a.band_sig = b.band_sig
           |      AND a.doc_id < b.doc_id
           |  JOIN ok_buckets ob
           |    ON ob.band = a.band AND ob.band_sig = a.band_sig),
           |sp AS (
           |  SELECT doc_id,
           |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM (SELECT doc_id, ${Sampling.duckHashBucket("doc_id")} AS b
           |        FROM documents))
           |SELECT LEAST(sa.split, sb.split) AS split_lo,
           |  GREATEST(sa.split, sb.split) AS split_hi,
           |  CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs
           |FROM pairs
           |JOIN sp sa ON sa.doc_id = pairs.id_a
           |JOIN sp sb ON sb.doc_id = pairs.id_b
           |WHERE sa.split <> sb.split
           |GROUP BY 1, 2""".stripMargin)),

    // Source-level BOILERPLATE detection: paragraphs repeated across ≥3
    // documents and ≥1% of a source's docs — the per-site template/nav/
    // footer profile a curator removes BEFORE near-dup detection (q181
    // cuts later copies corpus-wide; this names what is boilerplate per
    // source, with its penetration). Paragraph text reduces to md5 before
    // the (source, hash) aggregation; source doc counts broadcast.
    QueryDef(
      "q275_boilerplate_paragraphs",
      (s, dir) => {
        val raw = Tables.load(s, dir, "documents")
        // planted fixture: every 3rd doc carries its source's footer line —
        // the corpus ships single-line docs, so the per-source template is
        // what gives the detector real boilerplate to name (q214 stance)
        val docs = raw.select(col("source"), col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit("\nFOOTER-"), col("source")))
            .otherwise(col("text")).as("text"))
        val paras = docs.select(col("source"), col("doc_id"),
            explode(split(col("text"), "\n")).as("para"))
          .where(length(col("para")) > 0)
        val pf = paras.groupBy(col("source"), md5(col("para")).as("pmd5"))
          .agg(count_distinct(col("doc_id")).as("df"))
        val sd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        pf.join(broadcast(sd), "source")
          .where(col("df") >= 3 &&
            col("df").cast("double") / col("n_docs") >= 0.01)
          .select(col("source"), col("pmd5"), col("df"), col("n_docs"),
            (col("df").cast("double") / col("n_docs")).as("penetration"))
      },
      Some("""WITH pl AS (
           |  SELECT source, doc_id,
           |    CASE WHEN doc_id % 3 = 0
           |         THEN text || chr(10) || 'FOOTER-' || source
           |         ELSE text END AS text
           |  FROM documents),
           |paras AS (
           |  SELECT source, doc_id, unnest(string_split(text, chr(10))) AS para
           |  FROM pl),
           |pf AS (
           |  SELECT source, md5(para) AS pmd5,
           |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           |  FROM paras WHERE length(para) > 0 GROUP BY 1, 2),
           |sd AS (SELECT source, COUNT(*) AS n_docs FROM pl GROUP BY 1)
           |SELECT pf.source, pmd5, df, n_docs,
           |  CAST(df AS DOUBLE) / n_docs AS penetration
           |FROM pf JOIN sd ON sd.source = pf.source
           |WHERE df >= 3 AND CAST(df AS DOUBLE) / n_docs >= 0.01""".stripMargin)),

    // Near-dup DETECTOR AGREEMENT matrix: the ensemble audit between the
    // MinHash-LSH candidate pairs (q54, Jaccard-family recall) and the
    // blocked SimHash pairs (q56, Hamming-family recall) — the operator a
    // curator runs before trusting one detector alone, since the two
    // families miss DIFFERENT near-dups (token-set overlap vs weighted-
    // vector proximity). Both pair frames are already bucket-bounded; the
    // agreement join keys on bare id pairs and the matrix reduces to ≤ 3
    // rows. The oracle replays both chains side by side (simhash CTEs
    // renamed to avoid colliding with the shingle chain).
    QueryDef(
      "q264_detector_agreement",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val mh = Dedup.lshCandidatePairs(
          Dedup.lshBands(
            Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16), 4),
          maxBucket = Some(100))
          .select(col("id_a"), col("id_b"), lit(true).as("in_minhash"))
        val sh = Dedup.simhashNearDupBlocked(
          Dedup.simhash(docs, col("doc_id"), col("text")), 3, numBlocks = 6)
          .select(col("id_a"), col("id_b"), lit(true).as("in_simhash"))
        mh.join(sh, Seq("id_a", "id_b"), "full_outer")
          .select(coalesce(col("in_minhash"), lit(false)).as("in_minhash"),
            coalesce(col("in_simhash"), lit(false)).as("in_simhash"))
          .groupBy(col("in_minhash"), col("in_simhash"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"""WITH $duckShingleCte,
           |$duckMinhashCtes,
           |bands AS (
           |  SELECT doc_id, seed // 4 AS band,
           |    CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
           |  FROM mh GROUP BY 1, 2),
           |ok_buckets AS (
           |  SELECT band, band_sig FROM bands GROUP BY 1, 2
           |  HAVING COUNT(*) BETWEEN 2 AND 100),
           |mpairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a
           |  JOIN bands b
           |    ON a.band = b.band AND a.band_sig = b.band_sig
           |      AND a.doc_id < b.doc_id
           |  JOIN ok_buckets ob
           |    ON ob.band = a.band AND ob.band_sig = a.band_sig),
           |stoks AS (
           |  SELECT doc_id, ${Hashing.duckFoldHexCol("m")} AS th
           |  FROM (SELECT doc_id, md5(tok) AS m FROM
           |        (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents))),
           |svotes AS (
           |  SELECT doc_id, k,
           |    SUM(CASE WHEN (th // (CAST(1 AS BIGINT) << k)) % 2 = 1 THEN 1 ELSE -1 END) AS s
           |  FROM stoks CROSS JOIN generate_series(0, 59) AS g(k)
           |  GROUP BY 1, 2),
           |ssh AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
           |  FROM svotes GROUP BY 1),
           |spairs AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |agr AS (
           |  SELECT COALESCE(m.in_m, FALSE) AS in_minhash,
           |    COALESCE(sp.in_s, FALSE) AS in_simhash
           |  FROM (SELECT id_a, id_b, TRUE AS in_m FROM mpairs) m
           |  FULL OUTER JOIN (SELECT id_a, id_b, TRUE AS in_s FROM spairs) sp
           |    ON sp.id_a = m.id_a AND sp.id_b = m.id_b)
           |SELECT in_minhash, in_simhash, CAST(COUNT(*) AS BIGINT) AS n_pairs
           |FROM agr GROUP BY 1, 2""".stripMargin)),

    // MinHash BAND-DIAL tuning table: the SAME 16-hash signature frame
    // banded three ways (r = 2/4/8 rows per band) against the same exact
    // ground truth — the (bands × rows) S-curve a dedup operator reads
    // BEFORE freezing its layout (more bands = higher recall AND more
    // candidates; this emits both sides of that trade as measured numbers,
    // not theory). One signature pass and one exact-pairs pass, shared via
    // localCheckpoint across all three layouts; q185's planted prefix-copy
    // fixture guarantees true pairs at every SF.
    QueryDef(
      "q308_minhash_band_dial",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = Text.tokens(col("text"))
        val nKeep = ((size(toks) * (pmod(col("doc_id"), lit(6)) + lit(4)))
          .cast("double") / lit(10.0))
        val copies = docs.where(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1), floor(nKeep).cast("int"))).as("text"))
        val all = docs.select(col("doc_id"), col("text")).unionByName(copies)
        val exact = Dedup.ngramJaccardPairs(all, col("doc_id"), col("text"), 3,
            0.3, maxShingleDf = Some(100))
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val sigs = Dedup.minhashSignatures(all, col("doc_id"), col("text"), 3, 16)
          .localCheckpoint()
        Seq(2, 4, 8).map { r =>
          val cand = Dedup.lshCandidatePairs(Dedup.lshBands(sigs, r),
              maxBucket = Some(100))
            .select(col("id_a"), col("id_b")).localCheckpoint()
          exact.agg(count(lit(1)).as("n_exact"))
            .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
            .crossJoin(broadcast(
              exact.join(cand, Seq("id_a", "id_b"), "left_semi")
                .agg(count(lit(1)).as("n_hit"))))
            .select(lit(r).as("rows_per_band"), lit(16 / r).as("n_bands"),
              col("n_exact"), col("n_cand"), col("n_hit"),
              (col("n_hit").cast("double") / col("n_exact")).as("recall"))
        }.reduce(_ unionByName _)
      },
      Some {
        val layouts = Seq(2, 4, 8).map { r =>
          s"""bands$r AS (
             |  SELECT doc_id, seed // $r AS band,
             |    CAST(SUM((mh * ${Hashing.BandC1} + (seed + 1) * ${Hashing.BandC2}) % ${Hashing.FamilyP}) AS BIGINT) AS band_sig
             |  FROM mh GROUP BY 1, 2),
             |okb$r AS (
             |  SELECT band, band_sig FROM bands$r GROUP BY 1, 2
             |  HAVING COUNT(*) BETWEEN 2 AND 100),
             |cand$r AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands$r a
             |  JOIN bands$r b
             |    ON a.band = b.band AND a.band_sig = b.band_sig
             |    AND a.doc_id < b.doc_id
             |  JOIN okb$r ob
             |    ON ob.band = a.band AND ob.band_sig = a.band_sig)""".stripMargin
        }.mkString(",\n")
        val selects = Seq(2, 4, 8).map { r =>
          s"""SELECT $r AS rows_per_band, ${16 / r} AS n_bands,
             |  (SELECT COUNT(*) FROM ex) AS n_exact,
             |  (SELECT COUNT(*) FROM cand$r) AS n_cand,
             |  (SELECT COUNT(*) FROM ex e JOIN cand$r c
             |     ON c.id_a = e.id_a AND c.id_b = e.id_b) AS n_hit,
             |  CAST((SELECT COUNT(*) FROM ex e JOIN cand$r c
             |     ON c.id_a = e.id_a AND c.id_b = e.id_b) AS DOUBLE)
             |    / (SELECT COUNT(*) FROM ex) AS recall""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH all_docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000000 AS doc_id,
           |    array_to_string(list_slice(toks, 1,
           |      CAST(floor(CAST(len(toks) * (doc_id % 6 + 4) AS DOUBLE) / 10.0) AS INTEGER)), ' ') AS text
           |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
           |        FROM documents WHERE doc_id % 25 = 0)),
           |sh AS (
           |  SELECT doc_id AS id, unnest(${Text.duckShingles("text", 3)}) AS sh
           |  FROM all_docs),
           |$duckMinhashCtes,
           |shc AS (
           |  SELECT id, sh FROM sh
           |  WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100)),
           |sizes AS (SELECT id, COUNT(*) AS sz FROM shc GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2),
           |ex AS (
           |  SELECT id_a, id_b
           |  FROM inter
           |  JOIN sizes sa ON sa.id = id_a
           |  JOIN sizes sb ON sb.id = id_b
           |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3),
           |$layouts
           |$selects""".stripMargin
      }),

    // RECORD LINKAGE against a master registry with the native Jaro-Winkler
    // scorer: each part record is deterministically dirtied by its key
    // (variant 0 drops the last char, 1 swaps chars 2/3 — the classic typo,
    // 2 doubles the first char, 3 is untouched), then matched back to the
    // clean name vocabulary through blocking (same first char, |len diff|
    // <= 2) + best-JW election. The per-variant report reads match rate and
    // ACCURACY (did the elected master equal the true origin name).
    // Scale shape: JW is scored on DISTINCT (dirty, master) name pairs only
    // — the record table never enters the similarity join; the master
    // vocabulary broadcasts; per-variant rollups are map-side combinable.
    // At 100 TB the blocking key grows (first char × length band × df cap),
    // the topology doesn't.
    QueryDef(
      "q337_record_linkage",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
        val rec = p.select(col("p_partkey").as("key"), col("p_name").as("name"),
          pmod(col("p_partkey"), lit(4)).cast("int").as("variant"))
        val dirty = rec.withColumn("dirty",
          when(col("variant") === 0, expr("substring(name, 1, length(name) - 1)"))
            .when(col("variant") === 1, concat(expr("substring(name, 1, 1)"),
              expr("substring(name, 3, 1)"), expr("substring(name, 2, 1)"),
              expr("substring(name, 4)")))
            .when(col("variant") === 2, concat(expr("substring(name, 1, 1)"),
              col("name")))
            .otherwise(col("name")))
        val groups = dirty
          .groupBy(col("name"), col("variant"), col("dirty"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val master = p.select(col("p_name").as("master")).distinct()
        val cand = groups.join(broadcast(master),
            expr("substring(dirty, 1, 1)") === expr("substring(master, 1, 1)") &&
              abs(length(col("dirty")) - length(col("master"))) <= 2)
          .withColumn("jw", Text.jaroWinkler(col("dirty"), col("master")))
          .where(col("jw") >= 0.85)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("name"), col("variant"), col("dirty"))
          .orderBy(col("jw").desc, col("master").asc)
        val best = cand.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("name").as("bn"), col("variant").as("bv"),
            col("dirty").as("bd"), col("master"))
        groups.join(best,
            col("name") === col("bn") && col("variant") === col("bv") &&
              col("dirty") === col("bd"), "left_outer")
          .groupBy(col("variant"))
          .agg(sum(col("cnt")).as("n_records"),
            sum(when(col("master").isNotNull, col("cnt")).otherwise(0L))
              .as("n_matched"),
            sum(when(col("master") === col("name"), col("cnt")).otherwise(0L))
              .as("n_correct"))
          .select(col("variant"), col("n_records"), col("n_matched"),
            col("n_correct"),
            (col("n_matched").cast("double") / col("n_records")).as("match_rate"),
            (col("n_correct").cast("double") / col("n_records")).as("accuracy"))
      },
      Some("""WITH rec AS (
           |  SELECT p_partkey AS key, p_name AS name,
           |    CAST(p_partkey % 4 AS INT) AS variant
           |  FROM part),
           |dirty AS (
           |  SELECT name, variant,
           |    CASE variant
           |      WHEN 0 THEN substr(name, 1, length(name) - 1)
           |      WHEN 1 THEN substr(name, 1, 1) || substr(name, 3, 1)
           |        || substr(name, 2, 1) || substr(name, 4)
           |      WHEN 2 THEN substr(name, 1, 1) || name
           |      ELSE name END AS dirty
           |  FROM rec),
           |groups AS (
           |  SELECT name, variant, dirty, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM dirty GROUP BY 1, 2, 3),
           |master AS (SELECT DISTINCT p_name AS master FROM part),
           |cand AS (
           |  SELECT g.name, g.variant, g.dirty,
           |    m.master, jaro_winkler_similarity(g.dirty, m.master) AS jw
           |  FROM groups g JOIN master m
           |    ON substr(g.dirty, 1, 1) = substr(m.master, 1, 1)
           |    AND abs(length(g.dirty) - length(m.master)) <= 2
           |  WHERE jaro_winkler_similarity(g.dirty, m.master) >= 0.85),
           |best AS (
           |  SELECT name, variant, dirty, master,
           |    ROW_NUMBER() OVER (PARTITION BY name, variant, dirty
           |      ORDER BY jw DESC, master ASC) AS rn
           |  FROM cand),
           |linked AS (
           |  SELECT g.name, g.variant, g.cnt, b.master
           |  FROM groups g LEFT JOIN best b
           |    ON b.name = g.name AND b.variant = g.variant
           |    AND b.dirty = g.dirty AND b.rn = 1)
           |SELECT variant, CAST(SUM(cnt) AS BIGINT) AS n_records,
           |  CAST(SUM(CASE WHEN master IS NOT NULL THEN cnt ELSE 0 END)
           |    AS BIGINT) AS n_matched,
           |  CAST(SUM(CASE WHEN master = name THEN cnt ELSE 0 END)
           |    AS BIGINT) AS n_correct,
           |  CAST(SUM(CASE WHEN master IS NOT NULL THEN cnt ELSE 0 END)
           |    AS DOUBLE) / SUM(cnt) AS match_rate,
           |  CAST(SUM(CASE WHEN master = name THEN cnt ELSE 0 END)
           |    AS DOUBLE) / SUM(cnt) AS accuracy
           |FROM linked GROUP BY 1""".stripMargin)),

    // Winnow-index STORED delete — q169/q174's serve with the %11 removal
    // set rewritten out of the stored bytes: the fingerprint table deletes
    // by exact key filter, the df side table retracts by exact subtraction,
    // and the serve reads the rewritten tables alone, stored-df cap
    // included. Served through q412's snapshot delete. Oracle: the q169
    // chain over the kept corpus — hash-match proves the decremented
    // storage is indistinguishable from an index that never saw the
    // removed docs.
    QueryDef(
      "q404_winnow_stored_delete",
      winnowSnapDelete,
      Some(winnowSnapOracle("WHERE doc_id % 11 <> 0"))),

    // Minhash-index STORED delete — q277's semantics made true in the
    // BYTES: all three stored tables (sigs, bands, bucket-df by exact
    // decrement) drop the removed docs and the q208 probe set serves from
    // the rewritten tables, mega-bucket guard fed from the decremented side
    // table. Served through q421's snapshot delete. Same survivors-only
    // oracle as q277.
    QueryDef(
      "q405_minhash_stored_delete",
      minhashSnapDelete,
      Some(minhashSnapOracle(" WHERE doc_id % 11 <> 0"))),

    // Simhash-index STORED delete: the pigeonhole key table is strictly
    // per-document, so the delete is an exact key filter; the q213 probe
    // set served from the rewritten table must equal the quadratic Hamming
    // join against the KEPT corpus alone (deletion cannot break the
    // pigeonhole argument, it only shrinks the key table). Served through
    // q423's snapshot delete.
    QueryDef(
      "q406_simhash_stored_delete",
      simhashSnapDelete,
      Some(simhashSnapOracle(" WHERE doc_id % 11 <> 0"))),

    // Para-index STORED delete — the RE-ELECTION family, the one durable
    // table where a bare key filter is NOT survivors semantics: a stored
    // row is the corpus-wide FIRST occurrence of its paragraph, so removing
    // a winner must re-elect the minimal surviving occurrence (or drop the
    // hash if no survivor carries it). The corpus is the q190 planted
    // construction (every 10th doc carries its neighbor's text as a second
    // paragraph), so removed %11 winners genuinely orphan paragraphs that
    // surviving docs still hold. The query output is the REWRITTEN TABLE
    // ITSELF, served through q414's snapshot delete; the oracle is a
    // from-scratch first-occurrence election over the surviving corpus —
    // re-election == rebuild ROW FOR ROW.
    QueryDef(
      "q407_para_stored_delete",
      paraSnapDelete,
      Some(paraSurvivorsOracle)),

    // SNAPSHOT-ISOLATED delete — the winnow storage rewrite under the
    // SnapTables manifest layer: the delete appends survivor files for the
    // affected hb buckets only and atomically flips a generation pointer;
    // the superseded files stay on disk, so a reader resolved BEFORE the
    // flip keeps serving the old generation (SnapTablesSpec pins that, the
    // crash-orphan invisibility, and expiry). BOTH winnow tables ride the
    // layer: the fingerprint table deletes by snapshot key-filter and the
    // additive df side table retracts by snapshot decrement
    // (SnapTables.decrementCounts — pre-aggregation, unknown-key and
    // over-retraction guards). This query serves the q169 probe set from
    // the POST-FLIP generations, df cap fed from the decremented side
    // table; the oracle is the same survivors-only chain as q404 —
    // snapshot publication must be invisible in the answers.
    QueryDef(
      "q412_winnow_snapshot_delete",
      winnowSnapDelete,
      Some(winnowSnapOracle("WHERE doc_id % 11 <> 0"))),

    // SNAPSHOT re-election — the third and last rewrite verb on the
    // snapshot layer (q412 proved key-filter, its df side decrement; this
    // proves the ELECTED-table delete): the q407 planted corpus publishes
    // through SnapTables, ParaIndex.deleteSnapshot re-elects the removed
    // winners' paragraphs over the survivors and publishes the result as a
    // generation flip. Output is the POST-FLIP table itself; the oracle is
    // q407's from-scratch survivors election VERBATIM. The isolation here is semantically visible: a gen-0 reader still
    // scrubs the removed winners' paragraphs until it re-resolves.
    QueryDef(
      "q414_para_snapshot_delete",
      paraSnapDelete,
      Some(paraSurvivorsOracle)),

    // SNAPSHOT APPEND — the ingest verb that makes the manifest layer a
    // full lifecycle (q412/q413/q414 proved the three DELETE verbs): the
    // winnow table publishes a 6/7 base corpus as gen 0, the remaining 1/7
    // appends as gen 1 — delta-only I/O (new files union into the manifest;
    // nothing rewrites, however large the base), readers at gen 0 never see
    // the delta, and the fingerprints' per-document locality makes the
    // appended storage equal a full-corpus rebuild ROW FOR ROW. This leg
    // serves the q412 probe set from generation 1 EXPLICITLY (resolveAt —
    // stable however many generations later maintenance publishes); the
    // oracle is the full-corpus chain: append == rebuild through the
    // snapshot layer.
    QueryDef(
      "q415_winnow_snapshot_append",
      (s, dir) => {
        val p = winnowLifecyclePath(s, dir)
        winnowSnapServe(s, dir,
          graft.ops.SnapTables.resolveAt(s, p, "hb", 1))
      },
      Some(winnowSnapOracle(""))),

    // SNAPSHOT COMPACTION — the maintenance verb the append verb makes
    // necessary: each append accretes ~one file per touched partition, so
    // the lifecycle path folds its accreted partitions into ~one file each
    // (SnapTables.compactPartitions), published as gen 2 with byte-identical
    // logical content — single-file partitions carry their manifest entries
    // forward with ZERO I/O, gen-1 readers keep serving their files, and a
    // crash leaves gen 1 serving (SnapTablesSpec pins the file-count fold
    // and carry-forward). This leg serves the CURRENT generation after the
    // fold; the oracle is q415's verbatim — compaction must be invisible in
    // the answers.
    QueryDef(
      "q416_winnow_snapshot_compact",
      (s, dir) => {
        val p = winnowLifecyclePath(s, dir)
        winnowSnapServe(s, dir,
          graft.ops.SnapTables.resolve(s, p, "hb"))
      },
      Some(winnowSnapOracle(""))),

    // SNAPSHOT TIME TRAVEL — the read-side guarantee the generation chain
    // buys: generation 0 (the pre-append base corpus) stays serveable
    // until an explicit expire, so an audit can re-run any screen against
    // the exact index state a past decision used (the Iceberg
    // VERSION AS OF contract re-derived on plain parquet). This leg serves
    // the q412 probe set from resolveAt(gen 0) of the SAME stored path the
    // append and compaction later mutated; the oracle is the base-corpus
    // chain — two later generations must be invisible backwards.
    QueryDef(
      "q417_winnow_snapshot_timetravel",
      (s, dir) => {
        val p = winnowLifecyclePath(s, dir)
        winnowSnapServe(s, dir,
          graft.ops.SnapTables.resolveAt(s, p, "hb", 0))
      },
      Some(winnowSnapOracle("WHERE doc_id % 7 <> 3"))),

    // STREAMING ingest through the snapshot layer — the q415 append driven
    // by an ACTUAL stream (file source, one file per micro-batch,
    // AvailableNow ⇒ ≥2 real batches) via Pipelines.snapshotIngest: each
    // batch fingerprints its documents INSIDE foreachBatch (winnowing
    // windows over each doc's own k-grams — per-document, so per-batch
    // build == global build) and publishes one atomic generation
    // (SnapTables.appendBatch), with the manifest's #batch high-water mark
    // closing the one duplication window the checkpoint alone cannot
    // (SnapTablesSpec pins replay-no-op, reset refusal, and
    // restart-re-emits-nothing on a live stream). Readers never see a
    // half-written batch — they hold generation N until N+1's pointer
    // flips. Oracle: the full-corpus chain — streamed, generation-flipped
    // ingest must equal the one-shot rebuild.
    QueryDef(
      "q418_winnow_snapshot_stream_ingest",
      (s, dir) => {
        val p = winnowStreamSnapPath(s, dir)
        winnowSnapServe(s, dir,
          graft.ops.SnapTables.resolve(s, p, "hb"))
      },
      Some(winnowSnapOracle(""))),

    // SNAPSHOT LIFECYCLE CAPSTONE — every generation verb composed on ONE
    // table, the q403 discipline applied to the snapshot layer: publish the
    // 6/7 base, ingest the 1/7 remainder through the ACTUAL stream (two
    // generations via appendBatch's exactly-once commit), DELETE the %11
    // removal set (key-filter rewrite as a generation), COMPACT the
    // accreted partitions (content-invariant fold), then EXPIRE down to the
    // current generation — the step that reclaims every superseded byte and
    // proves the final manifest references no file the maintenance chain
    // lost. Each verb is individually hash-proved (q418/q412/q416); this
    // single hash certifies their INTERACTIONS (append surviving a delete,
    // compaction folding post-delete survivors, expiry not orphaning the
    // serve set). Oracle: the %11-survivors chain over the FULL corpus —
    // five generations of lifecycle must be invisible in the answers.
    QueryDef(
      "q419_winnow_snapshot_lifecycle",
      (s, dir) => {
        val p = winnowLifecycleE2ePath(s, dir)
        winnowSnapServe(s, dir,
          graft.ops.SnapTables.resolve(s, p, "hb"))
      },
      Some(winnowSnapOracle("WHERE doc_id % 11 <> 0"))),

    // MINHASH family on the SNAPSHOT layer: all THREE stored tables ride
    // the generation layer — sigs (db buckets) and bands (sb buckets)
    // delete by snapshot key-filter, the additive bucket-df side table
    // retracts by snapshot decrement — and the q405 probe set serves from
    // the post-flip generations, guard fed from the decremented side table.
    // Oracle: q405's survivors chain verbatim — generation publication must
    // be invisible in the answers.
    QueryDef(
      "q421_minhash_snapshot_delete",
      minhashSnapDelete,
      Some(minhashSnapOracle(" WHERE doc_id % 11 <> 0"))),

    // MINHASH snapshot APPEND — the ingest half: the 6/7 base publishes as
    // gen 0 of each table, the 1/7 remainder lands as delta-only appends
    // (sigs/bands: new files per touched bucket, nothing rewrites) and the
    // bucket-df side table merges by SnapTables.mergeCounts (union + sum
    // per key inside the touched buckets — the additive-merge law
    // published as a generation; a bare append would double-serve every
    // bucket the delta shares with the base). Per-doc locality makes the
    // appended storage equal a full-corpus rebuild; oracle: the full-corpus
    // chain.
    QueryDef(
      "q422_minhash_snapshot_append",
      (s, dir) => minhashSnapServe(s, dir, minhashSnapAddPath(s, dir)),
      Some(minhashSnapOracle(""))),

    // SIMHASH key table on the snapshot layer: the pigeonhole combo-key
    // table is strictly per-document, so the snapshot delete is an exact
    // key-filter published as a generation; the q406 probe set served from
    // the post-flip generation must equal the quadratic Hamming join on the
    // kept corpus.
    QueryDef(
      "q423_simhash_snapshot_delete",
      simhashSnapDelete,
      Some(simhashSnapOracle(" WHERE doc_id % 11 <> 0"))),

    // SIMHASH snapshot APPEND: 6/7 base publishes, the remainder's combo
    // keys land delta-only in their blk_val buckets; append == rebuild by
    // per-doc locality, through generation publication. Full-corpus oracle.
    QueryDef(
      "q424_simhash_snapshot_append",
      (s, dir) => simhashSnapServe(s, dir, simhashSnapAddPath(s, dir)),
      Some(simhashSnapOracle("")))
  )

  // ---------------------------------------------------------------------
  // Snapshot-layer setups for the minhash/simhash families (q405/q406,
  // q421–q424): build once per (tag, sfdir) into a scratch path through
  // SnapTables generations, serve scan-only afterwards (the
  // SimilarityQueries.memoPath discipline).
  // ---------------------------------------------------------------------

  private val SigB = graft.ops.MinHashIndex.DefaultSigBuckets

  private def mshDb = pmod(col("doc_id"), lit(SigB.toLong)).cast("int")
  private def mshSb = pmod(col("band_sig"), lit(SigB.toLong)).cast("int")

  /** Publish the three minhash snapshot tables from PREBUILT signature and
    * band frames (the q421 leg passes the full-corpus memoFrame builds;
    * the q422 leg builds its own 6/7-base frames).
    */
  private def publishMinhashSnap(s: org.apache.spark.sql.SparkSession,
      p: String, sigs: org.apache.spark.sql.DataFrame,
      bands: org.apache.spark.sql.DataFrame): Unit = {
    graft.ops.SnapTables.publishInitial(s, s"$p/sigs", "db",
      sigs.withColumn("db", mshDb))
    graft.ops.SnapTables.publishInitial(s, s"$p/bands", "sb",
      bands.withColumn("sb", mshSb))
    graft.ops.SnapTables.publishInitial(s, s"$p/bucketdf", "sb",
      graft.ops.MinHashIndex.bucketDfTable(bands).withColumn("sb", mshSb))
  }

  private def minhashSnapDelPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("minhashsnapdel", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      publishMinhashSnap(s, p, minhashSigsFull(s, dir),
        minhashBandsFull(s, dir))
      val removed = docs.where(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id"))
      // the decrement derives from the PRE-DELETE bands generation (every
      // band row is its doc's alone), then all three tables flip
      val dec = graft.ops.SnapTables.resolve(s, s"$p/bands", "sb")
        .join(removed, Seq("doc_id"), "left_semi")
        .groupBy(col("band"), col("band_sig")).agg(count(lit(1)).as("__dec"))
      graft.ops.SnapTables.decrementCounts(s, s"$p/bucketdf", "sb",
        Seq("band", "band_sig"), "df", dec)
      graft.ops.SnapTables.deleteByKey(s, s"$p/bands", "sb", "doc_id", removed)
      graft.ops.SnapTables.deleteByKey(s, s"$p/sigs", "db", "doc_id", removed)
      ()
    }

  private def minhashSnapAddPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("minhashsnapadd", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      val baseSigs = graft.ops.MinHashIndex.build(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 3),
        col("doc_id"), col("text"), 3, 16)
      publishMinhashSnap(s, p, baseSigs,
        graft.ops.MinHashIndex.bandTable(baseSigs, 4).localCheckpoint())
      val delta = docs.where(pmod(col("doc_id"), lit(7)) === 3)
      val dsigs = graft.ops.MinHashIndex.build(delta, col("doc_id"),
        col("text"), 3, 16)
      val dbands = graft.ops.MinHashIndex.bandTable(dsigs, 4).localCheckpoint()
      graft.ops.SnapTables.appendPartitions(s, s"$p/sigs", "db",
        dsigs.withColumn("db", mshDb))
      graft.ops.SnapTables.appendPartitions(s, s"$p/bands", "sb",
        dbands.withColumn("sb", mshSb))
      graft.ops.SnapTables.mergeCounts(s, s"$p/bucketdf", "sb",
        Seq("band", "band_sig"), "df",
        graft.ops.MinHashIndex.bucketDfTable(dbands).withColumn("sb", mshSb))
      ()
    }

  /** The q405/q421 serve: the q208 probe set against the %11-deleted
    * snapshot tables.
    */
  private def minhashSnapDelete(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    minhashSnapServe(s, dir, minhashSnapDelPath(s, dir))

  private def minhashSnapServe(s: org.apache.spark.sql.SparkSession,
      dir: String, p: String): org.apache.spark.sql.DataFrame = {
    val sigs = graft.ops.SnapTables.resolve(s, s"$p/sigs", "db")
    val bands = graft.ops.SnapTables.resolve(s, s"$p/bands", "sb")
    val bdf = graft.ops.SnapTables.resolve(s, s"$p/bucketdf", "sb")
      .select(col("band"), col("band_sig"), col("df"))
    val docs = Tables.load(s, dir, "documents")
    val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))
    graft.ops.MinHashIndex.matches(bands, sigs, probes,
      col("doc_id"), col("text"), n = 3, numHashes = 16, rowsPerBand = 4,
      minEstimate = 0.75, maxBucket = Some(100),
      storedBucketDf = Some(bdf))
  }

  private def minhashSnapOracle(keptFilter: String): String =
    s"""WITH kept AS (
       |  SELECT doc_id, text FROM documents$keptFilter),
       |probes AS (
       |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
       |  FROM documents WHERE doc_id % 25 = 0),
       |${duckMshChain("kept", "i")},
       |${duckMshChain("probes", "p")},
       |ok AS (
       |  SELECT band, band_sig FROM ibands GROUP BY 1, 2
       |  HAVING COUNT(*) <= 100),
       |cand AS (
       |  SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS doc_id
       |  FROM pbands p
       |  JOIN ibands i ON i.band = p.band AND i.band_sig = p.band_sig
       |  JOIN ok ON ok.band = p.band AND ok.band_sig = p.band_sig)
       |SELECT cand.probe_id, cand.doc_id,
       |  CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  COUNT(*) AS n_hashes,
       |  CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS est_jaccard
       |FROM cand
       |JOIN pmh pm ON pm.doc_id = cand.probe_id
       |JOIN imh im ON im.doc_id = cand.doc_id AND im.seed = pm.seed
       |GROUP BY 1, 2
       |HAVING CAST(SUM(CASE WHEN pm.mh = im.mh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.75""".stripMargin

  private val KeyB = graft.ops.SimHashIndex.DefaultKeyBuckets

  private def simhashKb = pmod(col("blk_val"), lit(KeyB.toLong)).cast("int")

  private def simhashSnapDelPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("simhashsnapdel", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      graft.ops.SnapTables.publishInitial(s, s"$p/keys", "kb",
        graft.ops.SimHashIndex.keyTable(
          graft.ops.Dedup.simhash(docs, col("doc_id"), col("text")),
          maxHamming = 3, numBlocks = 6).withColumn("kb", simhashKb))
      graft.ops.SnapTables.deleteByKey(s, s"$p/keys", "kb", "doc_id",
        docs.where(pmod(col("doc_id"), lit(11)) === 0).select(col("doc_id")))
      ()
    }

  private def simhashSnapAddPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("simhashsnapadd", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      graft.ops.SnapTables.publishInitial(s, s"$p/keys", "kb",
        graft.ops.SimHashIndex.keyTable(
          graft.ops.SimHashIndex.build(
            docs.where(pmod(col("doc_id"), lit(7)) =!= 3),
            col("doc_id"), col("text")),
          maxHamming = 3, numBlocks = 6).withColumn("kb", simhashKb))
      graft.ops.SnapTables.appendPartitions(s, s"$p/keys", "kb",
        graft.ops.SimHashIndex.keyTable(
          graft.ops.SimHashIndex.build(
            docs.where(pmod(col("doc_id"), lit(7)) === 3),
            col("doc_id"), col("text")),
          maxHamming = 3, numBlocks = 6).withColumn("kb", simhashKb))
      ()
    }

  /** The q406/q423 serve: the q213 probe set against the %11-deleted
    * snapshot key table.
    */
  private def simhashSnapDelete(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    simhashSnapServe(s, dir, simhashSnapDelPath(s, dir))

  private def simhashSnapServe(s: org.apache.spark.sql.SparkSession,
      dir: String, p: String): org.apache.spark.sql.DataFrame = {
    val keys = graft.ops.SnapTables.resolve(s, s"$p/keys", "kb")
    val docs = Tables.load(s, dir, "documents")
    val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))
    graft.ops.SimHashIndex.matches(keys, probes, col("doc_id"), col("text"),
      maxHamming = 3, numBlocks = 6)
  }

  private def simhashSnapOracle(keptFilter: String): String =
    s"""WITH kept AS (
       |  SELECT doc_id, text FROM documents$keptFilter),
       |probes AS (
       |  SELECT doc_id + 10000000 AS doc_id, text || ' zq1 zq2' AS text
       |  FROM documents WHERE doc_id % 25 = 0),
       |${duckSimhashChain("kept", "c")},
       |${duckSimhashChain("probes", "p")}
       |SELECT p.doc_id AS probe_id, c.doc_id AS doc_id,
       |  bit_count(xor(p.simhash, c.simhash)) AS hamming
       |FROM psh p JOIN csh c
       |  ON bit_count(xor(p.simhash, c.simhash)) <= 3""".stripMargin

  // ---------------------------------------------------------------------
  // Memoized snapshot setups for the winnow and para delete legs
  // (q404/q412, q407/q414): publish the full index ONCE per (tag, sfdir)
  // into a scratch path, delete the %11 removal set as a generation flip,
  // serve scan-only afterwards — the SimilarityQueries.memoPath discipline
  // (deterministic setups make the memoization correctness-neutral).
  //
  // SHARED BUILDS (guide §2.4): a frame that two publications read
  // materializes once per JVM via SimilarityQueries.memoFrame and is read
  // back scan-only — the full-corpus fingerprints (the winnow fp table and
  // its df side table), the minhash signatures (the sigs table and the
  // band table), and the 6/7-base fingerprints every winnow lifecycle leg
  // publishes — instead of re-tokenizing/re-hashing the corpus per read.
  // ---------------------------------------------------------------------

  private def winnowFpFull(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SimilarityQueries.memoFrame("winfpfull", dir, s) {
      graft.ops.Dedup.winnowFingerprints(Tables.load(s, dir, "documents"),
        col("doc_id"), col("text"), k = 3, w = 4)
    }

  private def minhashSigsFull(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SimilarityQueries.memoFrame("mhsigsfull", dir, s) {
      graft.ops.Dedup.minhashSignatures(Tables.load(s, dir, "documents"),
        col("doc_id"), col("text"), 3, 16)
    }

  private def minhashBandsFull(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SimilarityQueries.memoFrame("mhbandsfull", dir, s) {
      graft.ops.MinHashIndex.bandTable(minhashSigsFull(s, dir), 4)
    }

  private def winnowSnapshotPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("winnowsnap", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      graft.ops.SnapTables.publishInitial(s, s"$p/fp", "hb",
        winnowFpFull(s, dir).withColumn("hb", winnowHb(col("h"))))
      graft.ops.SnapTables.publishInitial(s, s"$p/df", "hb",
        graft.ops.WinnowIndex.dfTable(winnowFpFull(s, dir))
          .withColumn("hb", winnowHb(col("h"))))
      val removed = docs.where(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id"))
      // decrement derives from the PRE-DELETE fp generation (the removed
      // docs' own distinct-(doc, h) contributions), then both tables flip
      val dec = graft.ops.SnapTables.resolve(s, s"$p/fp", "hb")
        .join(removed, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("__dec"))
      graft.ops.SnapTables.decrementCounts(s, s"$p/df", "hb", Seq("h"), "df", dec)
      graft.ops.SnapTables.deleteByKey(s, s"$p/fp", "hb", "doc_id", removed)
      ()
    }

  /** The q404/q412 serve: the q169 probe set against the post-flip
    * fingerprint generation, df cap fed from the decremented side table.
    */
  private def winnowSnapDelete(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val p = winnowSnapshotPath(s, dir)
    val fp = graft.ops.SnapTables.resolve(s, s"$p/fp", "hb")
    val stats = graft.ops.SnapTables.resolve(s, s"$p/df", "hb")
      .select(col("h"), col("df"))
    val docs = Tables.load(s, dir, "documents")
    val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 1, 30)).as("text"))
    graft.ops.WinnowIndex.matches(fp, probes, col("doc_id"), col("text"),
      k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100),
      storedDf = Some(stats))
  }

  /** The paragraph-planted corpus the para delete legs (q407, q414) index
    * and delete from (every 10th doc carries its successor's text as a
    * second paragraph).
    */
  private def paraCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val nxt = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("next_text"))
    docs.select(col("doc_id"), col("text"))
      .join(nxt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0 && col("next_text").isNotNull,
          concat(col("text"), lit("\n"), col("next_text")))
          .otherwise(col("text")).as("text"))
  }

  private def paraSnapshotPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("parasnap", dir) { p =>
      val corpus = paraCorpus(s, dir)
      graft.ops.SnapTables.publishInitial(s, p, "hb",
        graft.ops.ParaIndex.build(corpus, col("doc_id"), col("text"))
          .withColumn("hb", pmod(col("h"),
            lit(graft.ops.ParaIndex.DefaultHashBuckets.toLong)).cast("int")))
      graft.ops.ParaIndex.deleteSnapshot(s, p,
        corpus.where(pmod(col("doc_id"), lit(11)) === 0).select(col("doc_id")),
        corpus.where(pmod(col("doc_id"), lit(11)) =!= 0),
        col("doc_id"), col("text"))
      ()
    }

  /** The q407/q414 oracle: a from-scratch first-occurrence election over
    * the surviving (%11-removed) planted paragraph corpus.
    */
  private def paraSurvivorsOracle: String =
    s"""WITH base AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL
       |         THEN d.text || chr(10) || n.text ELSE d.text END AS text
       |  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
       |  WHERE d.doc_id % 11 <> 0),
       |px AS (
       |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS t FROM base)),
       |paras AS (
       |  SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
       |    t[CAST(p AS INTEGER)] AS para
       |  FROM px),
       |ph AS (
       |  SELECT doc_id, pos, ${Hashing.duckFoldHexCol("m")} AS h
       |  FROM (SELECT doc_id, pos, md5(para) AS m FROM paras)),
       |sel AS (
       |  SELECT h, doc_id, pos,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM ph)
       |SELECT h, doc_id, pos FROM sel WHERE rn = 1""".stripMargin

  /** The q407/q414 output: the post-flip re-elected table itself. */
  private def paraSnapDelete(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.SnapTables.resolve(s, paraSnapshotPath(s, dir), "hb")
      .select(col("h"), col("doc_id"), col("pos"))

  /** The 6/7-base winnow fingerprint frame, with its `hb` partition, that
    * every lifecycle leg (q415–q417, q418, q419) publishes as generation 0
    * — one shared materialized build instead of three (memoFrame).
    */
  private def winnowFpBase(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SimilarityQueries.memoFrame("winfpbase", dir, s) {
      graft.ops.Dedup.winnowFingerprints(
        Tables.load(s, dir, "documents")
          .where(pmod(col("doc_id"), lit(7)) =!= 3),
        col("doc_id"), col("text"), k = 3, w = 4)
    }.withColumn("hb", winnowHb(col("h")))

  /** A delta's winnow fingerprints with their `hb` partition: what the
    * lifecycle legs append (q415–q417) or ingest per micro-batch (q418,
    * q419).
    */
  private def winnowFpOf(src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.ops.WinnowIndex.build(src, col("doc_id"), col("text"),
      k = 3, w = 4).withColumn("hb", winnowHb(col("h")))

  private def winnowHb(c: org.apache.spark.sql.Column) = pmod(c,
    lit(graft.ops.WinnowIndex.DefaultHashBuckets.toLong)).cast("int")

  /** The 1/7-delta source files the two streamed-ingest legs (q418, q419)
    * both drain — written once (memoPath); each leg keeps its own
    * checkpoint directory.
    */
  private def winnowStreamSrcDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("winnowsrc", dir) { p =>
      Tables.load(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id"), col("text"))
        .repartition(2).write.mode("overwrite").parquet(p)
    }

  /** The q415/q416/q417 lifecycle table: winnow fingerprints of the 6/7
    * base corpus published as gen 0, the 1/7 remainder APPENDED as gen 1
    * ([[graft.ops.SnapTables.appendPartitions]] — delta-only I/O), the
    * accreted partitions folded by [[graft.ops.SnapTables.compactPartitions]]
    * as gen 2. One deterministic setup, three serveable generations.
    */
  private def winnowLifecyclePath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("winnowlife", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      graft.ops.SnapTables.publishInitial(s, p, "hb", winnowFpBase(s, dir))
      graft.ops.SnapTables.appendPartitions(s, p, "hb",
        winnowFpOf(docs.where(pmod(col("doc_id"), lit(7)) === 3)))
      graft.ops.SnapTables.compactPartitions(s, p, "hb")
      ()
    }

  /** The q418 table: the same 6/7 base published as gen 0, the 1/7 delta
    * ingested through a REAL stream (2 source files → 2 micro-batches),
    * each batch fingerprinted in `foreachBatch` and published as one
    * generation by [[graft.streaming.Pipelines.snapshotIngest]].
    */
  private def winnowStreamSnapPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("winnowstreamsnap", dir) { p =>
      graft.ops.SnapTables.publishInitial(s, p, "hb", winnowFpBase(s, dir))
      val q = graft.streaming.Pipelines.snapshotIngest(
        s.readStream.schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(winnowStreamSrcDir(s, dir)),
        p, "hb",
        checkpointPath = graft.Scratch.dir("graft-winnow-snap-ckpt"),
        xform = winnowFpOf)
      q.awaitTermination()
    }

  /** The q419 table: every snapshot verb composed in lifecycle order —
    * publish (gen 0) → streamed ingest (gens 1..2, real micro-batches) →
    * key-filter delete of the %11 set (gen 3) → compaction (gen 4) →
    * expire to the current generation alone. Deterministic end to end, so
    * the memoization is correctness-neutral.
    */
  private def winnowLifecycleE2ePath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SimilarityQueries.memoPath("winnowlifee2e", dir) { p =>
      val docs = Tables.load(s, dir, "documents")
      graft.ops.SnapTables.publishInitial(s, p, "hb", winnowFpBase(s, dir))
      graft.streaming.Pipelines.snapshotIngest(
        s.readStream.schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(winnowStreamSrcDir(s, dir)),
        p, "hb",
        checkpointPath = graft.Scratch.dir("graft-winnow-life-ckpt"),
        xform = winnowFpOf).awaitTermination()
      graft.ops.SnapTables.deleteByKey(s, p, "hb", "doc_id",
        docs.where(pmod(col("doc_id"), lit(11)) === 0).select(col("doc_id")))
      graft.ops.SnapTables.compactPartitions(s, p, "hb")
      graft.ops.SnapTables.expire(s, p, "hb", keepGens = 1)
      ()
    }

  /** The shared q415/q416/q417 serve: the q412 probe set matched against
    * one resolved generation of the lifecycle table (in-plan df cap — the
    * side-table variant is q412's subject).
    */
  private def winnowSnapServe(s: org.apache.spark.sql.SparkSession,
      dir: String, fp: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 1, 30)).as("text"))
    graft.ops.WinnowIndex.matches(fp, probes, col("doc_id"), col("text"),
      k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
  }

  /** The q415/q416/q417 oracle: the full winnow match chain with the index
    * corpus restricted by `keptWhere` ("" = all documents) — q412's tail
    * with an in-oracle df cap.
    */
  private def winnowSnapOracle(keptWhere: String): String =
    s"""WITH kept AS (
       |  SELECT doc_id, text FROM documents $keptWhere),
       |probes AS (
       |  SELECT doc_id + 10000000 AS doc_id,
       |    array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, 30), ' ') AS text
       |  FROM documents WHERE doc_id % 25 = 0),
       |${duckWinnowCtes("kept", "i")},
       |${duckWinnowCtes("probes", "p")},
       |ifp0 AS (SELECT DISTINCT doc_id, h FROM iwfp),
       |ifp AS (
       |  SELECT doc_id, h FROM ifp0
       |  WHERE h IN (SELECT h FROM ifp0 GROUP BY h HAVING COUNT(*) <= 100)),
       |isz AS (SELECT doc_id, COUNT(*) AS nfp_doc FROM ifp GROUP BY 1),
       |pfp AS (SELECT DISTINCT doc_id AS probe_id, h FROM pwfp),
       |psz AS (SELECT probe_id, COUNT(*) AS nfp_probe FROM pfp GROUP BY 1),
       |inter AS (
       |  SELECT p.probe_id, i.doc_id, COUNT(*) AS inter
       |  FROM pfp p JOIN ifp i ON p.h = i.h
       |  GROUP BY 1, 2)
       |SELECT probe_id, doc_id, inter, psz.nfp_probe, isz.nfp_doc,
       |  CAST(inter AS DOUBLE) / least(psz.nfp_probe, isz.nfp_doc) AS overlap
       |FROM inter
       |JOIN psz USING (probe_id)
       |JOIN isz USING (doc_id)
       |WHERE CAST(inter AS DOUBLE) / least(psz.nfp_probe, isz.nfp_doc) >= 0.4""".stripMargin

  /** DuckDB CTE chain for duplicated-span detection over `documents`
    * (n = 5): tokenization `toks`, window hashes, corpus-duplicated marks,
    * gaps-and-islands merge, ending at `sp(doc_id, span_start, span_len,
    * span_text)`. Shared by q107 (span report) and q115 (removal).
    */
  private def duckDupSpanCtes: String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       |occ AS (
       |  SELECT doc_id, unnest(range(1, len(t) - 5 + 2)) AS pos, t
       |  FROM toks WHERE len(t) >= 5),
       |och AS (
       |  SELECT doc_id, pos,
       |    md5(array_to_string(list_slice(t, pos, pos + 4), ' ')) AS m
       |  FROM occ),
       |ghs AS (SELECT doc_id, pos, ${Hashing.duckFoldHexCol("m")} AS gh FROM och),
       |dup AS (SELECT gh FROM ghs GROUP BY gh HAVING COUNT(*) >= 2),
       |mk AS (SELECT g.doc_id, g.pos FROM ghs g JOIN dup USING (gh)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM mk),
       |spans AS (
       |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |    CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS span_len
       |  FROM isl GROUP BY doc_id, grp),
       |sp AS (
       |  SELECT s.doc_id, s.span_start, s.span_len,
       |    array_to_string(list_slice(t.t, CAST(s.span_start AS INTEGER),
       |      CAST(s.span_start + s.span_len - 1 AS INTEGER)), ' ') AS span_text
       |  FROM spans s JOIN toks t USING (doc_id))""".stripMargin
}
