package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Hashing, Num, Similarity}
import org.apache.spark.sql.functions._

/** Similarity-search extension queries over `embeddings` (ArrayType(Float)).
  *
  * Oracle note: DuckDB's native `list_dot_product` over DOUBLE[] is
  * bit-identical to the engine's sequential double fold (verified exhaustively
  * on testdata), so oracles use the fast native form.
  */
object SimilarityQueries {

  /** DuckDB CTE: embeddings with double-cast vector and norm. */
  private val duckEmb: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |      FROM embeddings)""".stripMargin

  /** DuckDB twin of `Similarity.lshBucket(v, table, numPlanes)`: bucket bit j
    * is sign(<v, plane_j>) with plane_j[d] = ±1 from hash60("pl-t-j-d")
    * parity — reproduced inline per plane.
    */
  private def duckBucketExpr(table: Int, numPlanes: Int): String = {
    val planeDot = (j: Int) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1), i -> v[i] * (CASE WHEN ${graft.ops.Hashing.duckHash60(s"('pl-$table-$j-' || CAST(i - 1 AS VARCHAR))")} % 2 = 1 THEN 1.0 ELSE -1.0 END))), (x, y) -> x + y)"""
    "CAST(" + (0 until numPlanes)
      .map(j => s"(CASE WHEN ${planeDot(j)} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)"
  }

  /** DuckDB list of all per-plane dots for one LSH table — the ranked-flip
    * input of the multi-probe oracle (same per-plane fold as
    * [[duckBucketExpr]], collected instead of sign-summed).
    */
  private def duckPlaneDots(table: Int, numPlanes: Int): String = {
    val planeDot = (j: Int) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1), i -> v[i] * (CASE WHEN ${graft.ops.Hashing.duckHash60(s"('pl-$table-$j-' || CAST(i - 1 AS VARCHAR))")} % 2 = 1 THEN 1.0 ELSE -1.0 END))), (x, y) -> x + y)"""
    "[" + (0 until numPlanes).map(planeDot).mkString(", ") + "]"
  }

  /** DuckDB CTEs shared by the IVF oracles: decimal-exact per-(label, dim)
    * centroids, ordered centroid arrays, L2² distances, and nearest-centroid
    * assignment — the twin of `Similarity.labelCentroidsFlat` /
    * `centroidArrays` / `ivfAssign` (64-dim embeddings).
    */
  private val duckIvfCtes: String =
    s"""cf AS (
       |  SELECT label AS clabel, i - 1 AS dim,
       |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
       |  GROUP BY 1, 2),
       |cent AS (SELECT clabel, list(c ORDER BY dim) AS carr FROM cf GROUP BY clabel),
       |dist AS (
       |  SELECT vec_id, clabel,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1),
       |      ivd -> (v[ivd] - carr[ivd]) * (v[ivd] - carr[ivd]))), (x, y) -> x + y) AS d2
       |  FROM e CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, clabel AS cluster, d2 FROM (
       |    SELECT vec_id, clabel, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |    FROM dist)
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB twin of `Similarity.kmeansCentroidsFlat` with the Lloyd loop
    * unrolled: seeds by salted hash, then per iteration an assignment
    * (row_number argmin — same (d2, clabel) tie-break as min_by) and a
    * decimal-exact (cluster, dim) recomputation. 64-dim embeddings.
    */
  private def duckKmeansCtes(k: Int, iters: Int, salt: String = "km",
      src: String = "e", prefix: String = "", dims: Int = 64): String = {
    val h = graft.ops.Hashing.duckHash60(s"('$salt-' || CAST(vec_id AS VARCHAR))")
    val l2 =
      """list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1),
        |      ivd -> (v[ivd] - carr[ivd]) * (v[ivd] - carr[ivd]))), (x, y) -> x + y)""".stripMargin
    val init =
      s"""${prefix}seeds AS (
         |  SELECT vec_id, v, row_number() OVER (ORDER BY h, vec_id) - 1 AS clabel
         |  FROM (SELECT vec_id, v, $h AS h FROM $src)
         |  ORDER BY h, vec_id LIMIT $k),
         |${prefix}cent0 AS (SELECT clabel, v AS carr FROM ${prefix}seeds)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""${prefix}dist$i AS (
         |  SELECT vec_id, clabel, $l2 AS d2
         |  FROM $src CROSS JOIN ${prefix}cent${i - 1}),
         |${prefix}assign$i AS (
         |  SELECT vec_id, clabel AS cluster FROM (
         |    SELECT vec_id, clabel,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
         |    FROM ${prefix}dist$i)
         |  WHERE rn = 1),
         |${prefix}cf$i AS (
         |  SELECT cluster AS clabel, di.i - 1 AS dim,
         |    CAST(SUM(CAST(v[di.i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
         |  FROM $src JOIN ${prefix}assign$i USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1, ${dims + 1})) AS i) di
         |  GROUP BY 1, 2),
         |${prefix}cent$i AS (SELECT clabel, list(c ORDER BY dim) AS carr FROM ${prefix}cf$i GROUP BY clabel)""".stripMargin
    }
    (init +: its).mkString(",\n")
  }

  /** DuckDB twin of the PQ stack (`Similarity.pqCodebooksFlatResidual` /
    * `pqEncode` over the rows of `src`): per-subspace sliced embeddings,
    * an unrolled deterministic k-means per subspace (salt `pq<sub>`), the
    * unified flat codebook `pqcb(sub, clabel, dim, c)`, the
    * per-(vector, subspace, codeword)
    * distance tables unified as `pqlut(vec_id, sub, code, d2)` (the ADC
    * lookup rows), and the codes `pqcodes(vec_id, sub, code)` (argmin per
    * subspace, ties -> lowest codeword).
    */
  private def duckPqCtes(m: Int, k: Int, iters: Int, dims: Int,
      src: String, trainSrc: Option[String] = None): String = {
    val sd = dims / m
    val perSub = (0 until m).map { sub =>
      val lo = sub * sd + 1
      val hi = sub * sd + sd
      // when trainSrc is set, the k-means trains on ITS slices while the
      // lut/codes below still encode every `src` row — the frozen-model
      // incremental-encode oracle (q158)
      val trainCte = trainSrc.map(t =>
        s"ts$sub AS (SELECT vec_id, v[$lo:$hi] AS v FROM $t),\n").getOrElse("")
      val kmSrc = if (trainSrc.isDefined) s"ts$sub" else s"es$sub"
      s"""es$sub AS (SELECT vec_id, v[$lo:$hi] AS v FROM $src),
         |$trainCte${duckKmeansCtes(k, iters, salt = s"pq$sub", src = kmSrc, prefix = s"pq${sub}_", dims = sd)},
         |pqd$sub AS (
         |  SELECT vec_id, clabel, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, len(v) + 1),
         |        ivd -> (v[ivd] - carr[ivd]) * (v[ivd] - carr[ivd]))), (x, y) -> x + y) AS d2
         |  FROM es$sub CROSS JOIN pq${sub}_cent$iters)""".stripMargin
    }
    val cb = (0 until m).map(s => s"SELECT $s AS sub, clabel, dim, c FROM pq${s}_cf$iters")
      .mkString(" UNION ALL ")
    val lut = (0 until m).map(s => s"SELECT vec_id, $s AS sub, clabel AS code, d2 FROM pqd$s")
      .mkString(" UNION ALL ")
    s"""${perSub.mkString(",\n")},
       |pqcb AS ($cb),
       |pqlut AS ($lut),
       |pqcodes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
       |    FROM pqlut)
       |  WHERE rn = 1)""".stripMargin
  }

  /** DuckDB twin of `Similarity.ivfResiduals` over the label-centroid coarse
    * quantizer: each vector minus its assigned cell's centroid. Requires
    * [[duckIvfCtes]] (`e`, `cent`, `assign`) in scope; feeds
    * [[duckPqCtes]] via `src = "rese"` for the residual-PQ oracles.
    */
  private val duckResidualCte: String =
    """rese AS (
      |  SELECT e.vec_id,
      |    list_transform(range(1, 65), rri -> e.v[rri] - cent.carr[rri]) AS v
      |  FROM e JOIN assign USING (vec_id) JOIN cent ON cent.clabel = assign.cluster)""".stripMargin

  /** DuckDB CTEs assigning every embedding to its nearest q67-trained
    * k-means centroid (`cent2` from [[duckKmeansCtes]](k=8, iters=2) must be
    * in scope): the twin of `Similarity.ivfAssign` over the trained
    * quantizer, ending in `ec(vec_id, v, nrm, cluster)`. Shared by the
    * learned-ANN (q68) and SemDeDup (q120/q121) oracles.
    */
  private val duckKmeansAssignCtes: String =
    """sdist AS (
      |  SELECT vec_id, clabel,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1),
      |      ivd -> (v[ivd] - carr[ivd]) * (v[ivd] - carr[ivd]))), (x, y) -> x + y) AS d2
      |  FROM e CROSS JOIN cent2),
      |sassign AS (
      |  SELECT vec_id, clabel AS cluster FROM (
      |    SELECT vec_id, clabel,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      |    FROM sdist)
      |  WHERE rn = 1),
      |ec AS (SELECT e.vec_id, e.v, e.nrm, sassign.cluster
      |       FROM e JOIN sassign USING (vec_id))""".stripMargin

  /** DuckDB twin of `Similarity.farthestPointSeeds` with the greedy loop
    * unrolled: hash-min seed, then per step a min-distance-to-chosen
    * aggregation and an argmax pick (max distance, ties -> lowest id).
    */
  private def duckFarthestCtes(k: Int): String = {
    val h = Hashing.duckHash60("('fp-' || CAST(vec_id AS VARCHAR))")
    val l2 =
      """list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1),
        |      fpd -> (v[fpd] - sv[fpd]) * (v[fpd] - sv[fpd]))), (x, y) -> x + y)""".stripMargin
    val init =
      s"""ch0 AS (
         |  SELECT 0 AS sid, vec_id, v
         |  FROM (SELECT vec_id, v, $h AS h FROM e ORDER BY h, vec_id LIMIT 1))""".stripMargin
    val its = (1 until k).map { i =>
      s"""mind$i AS (
         |  SELECT e.vec_id, min($l2) AS mind2
         |  FROM e CROSS JOIN (SELECT v AS sv FROM ch${i - 1}) s
         |  GROUP BY e.vec_id),
         |pick$i AS (SELECT vec_id FROM mind$i ORDER BY mind2 DESC, vec_id ASC LIMIT 1),
         |ch$i AS (
         |  SELECT * FROM ch${i - 1}
         |  UNION ALL
         |  SELECT $i AS sid, e.vec_id, e.v FROM e JOIN pick$i USING (vec_id))""".stripMargin
    }
    (init +: its).mkString(",\n")
  }

  /** Exact cosine top-3 CTE (`topf(query_id, neighbor_id)`) shared by the
    * graph queries (q148/q149). Declared before `defs` — Scala vals
    * initialize in declaration order.
    */
  private val duckTop3Cte: String =
    """topf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
      |    FROM e a JOIN e b ON a.vec_id <> b.vec_id)
      |  WHERE rank <= 3)""".stripMargin

  /** DuckDB CTE chain for the q138 cross-modal alignment score (the q57
    * vectorizer at dims=64 assembled into an ordered list, folded into a
    * zero-norm-safe cosine against the stored embedding), ending in
    * `scored(doc_id, cosine)`. Requires `e` (duckEmb) upstream. Shared
    * with the composed multimodal pipeline (q152).
    */
  private[queries] val duckAlignmentCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
       |contrib AS (
       |  SELECT doc_id, (h // 2) % 64 AS bucket,
       |    CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END AS s
       |  FROM (SELECT doc_id, ${Hashing.duckHash60("tok")} AS h FROM toks)),
       |w AS (SELECT doc_id, bucket, SUM(s) AS w FROM contrib GROUP BY 1, 2),
       |grid AS (
       |  SELECT d.doc_id, g.dim, CAST(COALESCE(w.w, 0) AS DOUBLE) AS val
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) g
       |  LEFT JOIN w ON w.doc_id = d.doc_id AND w.bucket = g.dim),
       |tv AS (
       |  SELECT doc_id, list(val ORDER BY dim) AS tvec FROM grid GROUP BY doc_id),
       |scored AS (
       |  SELECT t.doc_id,
       |    CASE WHEN sqrt(list_dot_product(t.tvec, t.tvec)) = 0 OR e.nrm = 0
       |         THEN 0.0
       |         ELSE list_dot_product(t.tvec, e.v)
       |              / (sqrt(list_dot_product(t.tvec, t.tvec)) * e.nrm) END AS cosine
       |  FROM tv t JOIN e ON e.vec_id = t.doc_id)""".stripMargin

  /** The embeddings CTE, exposed for cross-object oracle composition. */
  private[queries] val duckEmbCte: String = duckEmb

  val defs: Seq[QueryDef] = Seq(

    // Mutual-kNN graph edges: (a, b) iff each is in the other's exact
    // cosine top-3 — the symmetrization that prunes hub-induced one-way
    // links before community/centrality analysis. Brute-force base
    // quarantined from the bench like q61; at scale the ranked frame
    // comes from LSH/IVF.
    QueryDef(
      "q148_mutual_knn_edges",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        graft.ops.Graph.mutualEdges(topk)
      },
      Some(s"""WITH $duckEmb,
           |$duckTop3Cte
           |SELECT f.query_id AS id_a, f.neighbor_id AS id_b
           |FROM topf f
           |WHERE f.query_id < f.neighbor_id
           |  AND EXISTS (SELECT 1 FROM topf r
           |              WHERE r.query_id = f.neighbor_id
           |                AND r.neighbor_id = f.query_id)""".stripMargin),
      bench = false),

    // Triangle census + global clustering coefficient over the mutual-kNN
    // graph — the community-density read a curator takes before trusting
    // near-dup clusters (high clustering = tight communities, low = hub
    // artifacts). Engine side runs the DEGREE-ORIENTED count (wedges
    // enumerate at each triangle's lightest vertex — the Σ d⁺² / arboricity
    // bound that survives hubs at scale); the oracle counts the naive
    // a<b<c way — same census, so the single row hash-matches. Ground
    // truth edges are q148's quadratic exact kNN, hence bench=false.
    QueryDef(
      "q242_knn_triangles",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        graft.ops.Graph.triangleStats(graft.ops.Graph.mutualEdges(topk))
      },
      Some(s"""WITH $duckEmb,
           |$duckTop3Cte,
           |edges AS (
           |  SELECT f.query_id AS id_a, f.neighbor_id AS id_b
           |  FROM topf f
           |  WHERE f.query_id < f.neighbor_id
           |    AND EXISTS (SELECT 1 FROM topf r
           |                WHERE r.query_id = f.neighbor_id
           |                  AND r.neighbor_id = f.query_id)),
           |deg AS (
           |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
           |    SELECT id_a AS id FROM edges
           |    UNION ALL SELECT id_b FROM edges) GROUP BY 1),
           |tri AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
           |  FROM edges e1
           |  JOIN edges e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
           |  JOIN edges e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b),
           |wd AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
           |  FROM deg),
           |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
           |SELECT n_edges, n_wedges, n_triangles,
           |  CAST(n_triangles * 3 AS DOUBLE) / CAST(n_wedges AS DOUBLE)
           |    AS clustering
           |FROM ne CROSS JOIN wd CROSS JOIN tri""".stripMargin),
      bench = false),

    // 2-core of the mutual-kNN graph: the dense-cohesion filter that
    // strips tendrils (degree-1 chains) before community analysis —
    // survivors have ≥ 2 in-core neighbors. BOTH engines run the
    // identical 12-round bounded peel (engine rounds == oracle's unrolled
    // CTE rounds), so the hash-match is unconditional; at the catalog SFs
    // the peel reaches its fixpoint well inside 12 rounds (GraphSpec pins
    // convergence with closed-form planted graphs), making the residue
    // the true 2-core. Ground truth edges are q148's quadratic exact kNN,
    // hence bench=false.
    QueryDef(
      "q259_knn_kcore",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        graft.ops.Graph.kCore(graft.ops.Graph.mutualEdges(topk), k = 2,
          maxRounds = 12)
      },
      Some {
        val rounds = (1 to 12).map { r =>
          s"""d$r AS MATERIALIZED (
             |  SELECT id, COUNT(*) AS deg FROM (
             |    SELECT id_a AS id FROM e${r - 1}
             |    UNION ALL SELECT id_b FROM e${r - 1}) s$r GROUP BY 1),
             |a$r AS MATERIALIZED (SELECT id FROM d$r WHERE deg >= 2),
             |e$r AS MATERIALIZED (
             |  SELECT id_a, id_b FROM e${r - 1}
             |  WHERE id_a IN (SELECT id FROM a$r)
             |    AND id_b IN (SELECT id FROM a$r))""".stripMargin
        }.mkString(",\n")
        s"""WITH $duckEmb,
           |$duckTop3Cte,
           |e0 AS MATERIALIZED (
           |  SELECT f.query_id AS id_a, f.neighbor_id AS id_b
           |  FROM topf f
           |  WHERE f.query_id < f.neighbor_id
           |    AND EXISTS (SELECT 1 FROM topf r
           |                WHERE r.query_id = f.neighbor_id
           |                  AND r.neighbor_id = f.query_id)),
           |$rounds
           |SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
           |  SELECT id_a AS id FROM e12
           |  UNION ALL SELECT id_b FROM e12) fin GROUP BY 1""".stripMargin
      },
      bench = false),

    // LABEL-PROPAGATION communities on the mutual-kNN graph: 4 synchronous
    // sweeps, most-frequent-neighbor-label with MIN tie-break — the
    // community structure between q83's connected components (too coarse:
    // one bridge merges everything) and q259's k-core (no assignment for
    // the periphery). Engine rounds == oracle's unrolled CTE rounds, so
    // the hash-match is unconditional, converged or not. Ground truth
    // edges are q148's quadratic exact kNN, hence bench=false.
    QueryDef(
      "q307_label_propagation",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        graft.ops.Graph.labelPropagation(graft.ops.Graph.mutualEdges(topk),
          rounds = 4)
      },
      Some {
        val rounds = (1 to 4).map { r =>
          s"""c$r AS MATERIALIZED (
             |  SELECT adj.src, l.lbl, COUNT(*) AS c
             |  FROM adj JOIN l${r - 1} l ON l.id = adj.dst
             |  GROUP BY 1, 2),
             |l$r AS MATERIALIZED (
             |  SELECT src AS id, lbl FROM (
             |    SELECT src, lbl, row_number() OVER (PARTITION BY src
             |      ORDER BY c DESC, lbl ASC) AS rn
             |    FROM c$r) q$r WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $duckEmb,
           |$duckTop3Cte,
           |e0 AS MATERIALIZED (
           |  SELECT f.query_id AS id_a, f.neighbor_id AS id_b
           |  FROM topf f
           |  WHERE f.query_id < f.neighbor_id
           |    AND EXISTS (SELECT 1 FROM topf r
           |                WHERE r.query_id = f.neighbor_id
           |                  AND r.neighbor_id = f.query_id)),
           |adj AS MATERIALIZED (
           |  SELECT id_a AS src, id_b AS dst FROM e0
           |  UNION ALL SELECT id_b, id_a FROM e0),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM adj),
           |$rounds
           |SELECT id, lbl FROM l4""".stripMargin
      },
      bench = false),

    // MMR diversified re-ranking: relevance-ranked top-20 candidates per
    // probe, greedily re-cut to 5 that maximize wRel·rel − wDiv·max-sim-
    // to-selected — the context-window dedup every RAG stack runs between
    // retrieval and generation. Candidate lists and the per-query pair-sim
    // matrix are both bounded by the candidate cut (20² per probe), so the
    // sequential-in-k greedy costs k bounded joins, not corpus passes.
    // Probe side broadcast; bench=false (relevance ground truth is the
    // exact probe × corpus scan).
    QueryDef(
      "q317_mmr_rerank",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val probes = emb.where(pmod(col("vec_id"), lit(97)) === 0)
        val a = Similarity.withNorm(probes, col("vec_id"), col("embedding"))
          .select(col("vid").as("query_id"), col("vec").as("va"), col("nrm").as("na"))
        val b = Similarity.withNorm(emb, col("vec_id"), col("embedding"))
          .select(col("vid").as("neighbor_id"), col("vec").as("vb"), col("nrm").as("nb"))
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("neighbor_id").asc)
        val cand = b.crossJoin(broadcast(a))
          .where(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            (Num.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("rel"))
          .withColumn("rank", row_number().over(wq))
          .where(col("rank") <= 20).drop("rank")
          .localCheckpoint()
        val vecs = b.select(col("neighbor_id"), col("vb"), col("nb"))
        val c1 = cand.select(col("query_id"), col("neighbor_id").as("a"))
          .join(vecs.select(col("neighbor_id").as("a"), col("vb").as("v1"),
            col("nb").as("n1")), "a")
        val c2 = cand.select(col("query_id"), col("neighbor_id").as("b"))
          .join(vecs.select(col("neighbor_id").as("b"), col("vb").as("v2"),
            col("nb").as("n2")), "b")
        val psim = c1.join(c2, "query_id").where(col("a") =!= col("b"))
          .select(col("query_id"), col("a"), col("b"),
            (Num.dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("sim"))
          .localCheckpoint()
        Similarity.mmrRerank(cand, psim, k = 5, wRel = 0.7, wDiv = 0.3)
      },
      Some {
        val rounds = (2 to 5).map { r =>
          s"""sc$r AS (
             |  SELECT c.query_id, c.neighbor_id, c.rel, MAX(ps.sim) AS msim
             |  FROM cand c
             |  JOIN s${r - 1} sl ON sl.query_id = c.query_id
             |  JOIN psim ps ON ps.query_id = c.query_id
             |    AND ps.a = c.neighbor_id AND ps.b = sl.neighbor_id
             |  WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} x
             |    WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
             |  GROUP BY 1, 2, 3),
             |p$r AS (
             |  SELECT query_id, neighbor_id, $r AS round FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id
             |        ORDER BY 0.7 * rel - 0.3 * msim DESC, neighbor_id ASC) AS rn
             |    FROM sc$r) z$r WHERE rn = 1),
             |s$r AS (SELECT * FROM s${r - 1} UNION ALL SELECT * FROM p$r)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $duckEmb,
           |probes AS (SELECT * FROM e WHERE vec_id % 97 = 0),
           |cand AS (
           |  SELECT query_id, neighbor_id, rel FROM (
           |    SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      list_dot_product(p.v, b.v) / (p.nrm * b.nrm) AS rel,
           |      row_number() OVER (PARTITION BY p.vec_id
           |        ORDER BY list_dot_product(p.v, b.v) / (p.nrm * b.nrm) DESC,
           |          b.vec_id ASC) AS rank
           |    FROM probes p JOIN e b ON b.vec_id <> p.vec_id) rk
           |  WHERE rank <= 20),
           |psim AS (
           |  SELECT c1.query_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
           |    list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS sim
           |  FROM cand c1
           |  JOIN cand c2 ON c2.query_id = c1.query_id
           |    AND c2.neighbor_id <> c1.neighbor_id
           |  JOIN e ea ON ea.vec_id = c1.neighbor_id
           |  JOIN e eb ON eb.vec_id = c2.neighbor_id),
           |s1 AS (
           |  SELECT query_id, neighbor_id, 1 AS round FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY rel DESC, neighbor_id ASC) AS rn
           |    FROM cand) z1 WHERE rn = 1),
           |$rounds
           |SELECT query_id, neighbor_id, round FROM s5""".stripMargin
      },
      bench = false),

    // Newman MODULARITY of the q307 labeling: Q = Σ_c [L_c/m − (D_c/2m)²]
    // — the single number that says whether the LPA communities beat a
    // random cut of the same degree sequence (Q > 0.3 is conventionally
    // "real structure"). Exact integer edge/degree counts; the Q fold is
    // decimal-summed over the #communities-bounded frame. Ground truth
    // edges are the quadratic exact kNN, hence bench=false.
    QueryDef(
      "q312_community_modularity",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        val edges = graft.ops.Graph.mutualEdges(topk).localCheckpoint()
        val lab = graft.ops.Graph.labelPropagation(edges, rounds = 4)
          .localCheckpoint()
        val el = edges
          .join(lab.select(col("id").as("id_a"), col("lbl").as("la")), "id_a")
          .join(lab.select(col("id").as("id_b"), col("lbl").as("lb")), "id_b")
        val m = edges.agg(count(lit(1)).as("m"))
        val intra = el.where(col("la") === col("lb"))
          .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("lc"))
        val degs = edges
          .select(explode(array(col("id_a"), col("id_b"))).as("id"))
          .join(lab, "id")
          .groupBy(col("lbl")).agg(count(lit(1)).as("dc"))
        degs.join(intra, Seq("lbl"), "left_outer")
          .select(col("lbl"), coalesce(col("lc"), lit(0L)).as("lc"), col("dc"))
          .crossJoin(broadcast(m))
          .withColumn("q", col("lc").cast("double") / col("m")
            - pow(col("dc").cast("double") / (lit(2) * col("m")), 2))
          .agg(count(lit(1)).as("n_communities"), max(col("m")).as("n_edges"),
            Num.dsum38(col("q")).as("modularity"))
      },
      Some {
        val rounds = (1 to 4).map { r =>
          s"""c$r AS MATERIALIZED (
             |  SELECT adj.src, l.lbl, COUNT(*) AS c
             |  FROM adj JOIN l${r - 1} l ON l.id = adj.dst
             |  GROUP BY 1, 2),
             |l$r AS MATERIALIZED (
             |  SELECT src AS id, lbl FROM (
             |    SELECT src, lbl, row_number() OVER (PARTITION BY src
             |      ORDER BY c DESC, lbl ASC) AS rn
             |    FROM c$r) q$r WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $duckEmb,
           |$duckTop3Cte,
           |e0 AS MATERIALIZED (
           |  SELECT f.query_id AS id_a, f.neighbor_id AS id_b
           |  FROM topf f
           |  WHERE f.query_id < f.neighbor_id
           |    AND EXISTS (SELECT 1 FROM topf r
           |                WHERE r.query_id = f.neighbor_id
           |                  AND r.neighbor_id = f.query_id)),
           |adj AS MATERIALIZED (
           |  SELECT id_a AS src, id_b AS dst FROM e0
           |  UNION ALL SELECT id_b, id_a FROM e0),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM adj),
           |$rounds,
           |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
           |el AS (
           |  SELECT la.lbl AS la, lb.lbl AS lb
           |  FROM e0
           |  JOIN l4 la ON la.id = e0.id_a
           |  JOIN l4 lb ON lb.id = e0.id_b),
           |intra AS (
           |  SELECT la AS lbl, CAST(COUNT(*) AS BIGINT) AS lc
           |  FROM el WHERE la = lb GROUP BY 1),
           |degs AS (
           |  SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS dc
           |  FROM (SELECT id_a AS id FROM e0 UNION ALL SELECT id_b FROM e0) d
           |  JOIN l4 l ON l.id = d.id GROUP BY 1),
           |per AS (
           |  SELECT degs.lbl, COALESCE(intra.lc, 0) AS lc, degs.dc, m.m
           |  FROM degs LEFT JOIN intra ON intra.lbl = degs.lbl CROSS JOIN m),
           |qq AS (
           |  SELECT CAST(lc AS DOUBLE) / m
           |    - POWER(CAST(dc AS DOUBLE) / (2 * m), 2) AS q, m
           |  FROM per)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           |  MAX(m) AS n_edges,
           |  CAST(SUM(CAST(q AS DECIMAL(38,18))) AS DOUBLE) AS modularity
           |FROM qq""".stripMargin
      },
      bench = false),

    // RobustScaler model: per-dimension exact nearest-rank q25/median/q75
    // + IQR over the embedding corpus — the outlier-insensitive
    // normalization statistics, as a d-row model table a transform step
    // broadcasts. Exact per-dim rank windows (the q153 discipline); the
    // documented 100 TB drop-in is q260's stored-histogram quantiles.
    QueryDef(
      "q269_robust_scaler",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.robustScalerModel(emb, col("vec_id"), col("embedding"))
      },
      Some("""WITH f AS (
           |  SELECT vec_id, d - 1 AS dim, CAST(embedding[d] AS DOUBLE) AS v
           |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(d)),
           |rk AS (
           |  SELECT dim, v,
           |    row_number() OVER (PARTITION BY dim ORDER BY v ASC, vec_id ASC)
           |      AS rn,
           |    COUNT(*) OVER (PARTITION BY dim) AS n
           |  FROM f),
           |a AS (
           |  SELECT dim,
           |    MIN(CASE WHEN rn = FLOOR((n + 3) / 4.0) THEN v END) AS q1,
           |    MIN(CASE WHEN rn = FLOOR((n + 1) / 2.0) THEN v END) AS median,
           |    MIN(CASE WHEN rn = FLOOR((n * 3 + 3) / 4.0) THEN v END) AS q3
           |  FROM rk GROUP BY 1)
           |SELECT dim, q1, median, q3, q3 - q1 AS iqr FROM a""".stripMargin)),

    // Source-centroid cosine matrix: which sources cover the same content
    // in EMBEDDING space — the semantic complement of q133's lexical
    // shingle containment, and the mixture-design read before upweighting
    // a "new" source that is really a mirror. Decimal-exact per-dim means;
    // pairwise cosine over the #labels² centroid frame.
    QueryDef(
      "q270_source_centroid_cosine",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.sourceCentroidCosine(emb, col("embedding"), col("label"))
      },
      Some {
        val nn = s"${Num.duckNorm("a.c")} * ${Num.duckNorm("b.c")}"
        s"""WITH f AS (
           |  SELECT label AS src, d, CAST(embedding[d] AS DOUBLE) AS v
           |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(d)),
           |m AS (
           |  SELECT src, d, ${Num.duckDsum38("v")} / COUNT(*) AS m
           |  FROM f GROUP BY 1, 2),
           |c AS (SELECT src, list(m ORDER BY d) AS c FROM m GROUP BY 1)
           |SELECT a.src AS src_a, b.src AS src_b,
           |  CASE WHEN $nn = 0 THEN 0.0
           |       ELSE ${Num.duckDot("a.c", "b.c")} / ($nn) END AS cosine
           |FROM c a JOIN c b ON a.src < b.src""".stripMargin
      }),

    // RobustScaler TRANSFORM: vectors with any dimension more than 3×IQR
    // from its median, per the q269 model — the model-driven outlier flag
    // (robust twin of q114's PC1 outliers). The d-row model broadcasts;
    // zero-IQR dims are skipped as unable to witness.
    QueryDef(
      "q271_robust_outliers",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // plant corruption: every 97th vector gets +10 on dim (vec_id % 64)
        // — unit-scale synthetic embeddings have no natural 3×IQR outliers,
        // so the planted fixture is what proves the flag actually fires
        val planted = emb.select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(pmod(col("vec_id"), lit(97)) === 0 &&
              i === pmod(col("vec_id"), lit(64)).cast("int"),
              x + lit(10.0f)).otherwise(x)).as("embedding"))
        val model = Similarity.robustScalerModel(planted, col("vec_id"),
          col("embedding")).localCheckpoint()
        Similarity.robustOutliers(planted, col("vec_id"), col("embedding"), model)
      },
      Some("""WITH pl AS (
           |  SELECT vec_id,
           |    list_transform(embedding, (x, i) ->
           |      CASE WHEN vec_id % 97 = 0 AND i - 1 = vec_id % 64
           |           THEN x + CAST(10.0 AS FLOAT) ELSE x END) AS embedding
           |  FROM embeddings),
           |f AS (
           |  SELECT vec_id, d - 1 AS dim, CAST(embedding[d] AS DOUBLE) AS v
           |  FROM pl, unnest(range(1, len(embedding) + 1)) AS r(d)),
           |rk AS (
           |  SELECT dim, v, vec_id,
           |    row_number() OVER (PARTITION BY dim ORDER BY v ASC, vec_id ASC)
           |      AS rn,
           |    COUNT(*) OVER (PARTITION BY dim) AS n
           |  FROM f),
           |model AS (
           |  SELECT dim,
           |    MIN(CASE WHEN rn = FLOOR((n + 3) / 4.0) THEN v END) AS q1,
           |    MIN(CASE WHEN rn = FLOOR((n + 1) / 2.0) THEN v END) AS median,
           |    MIN(CASE WHEN rn = FLOOR((n * 3 + 3) / 4.0) THEN v END) AS q3
           |  FROM rk GROUP BY 1)
           |SELECT f.vec_id AS vid, COUNT(*) AS n_outlier_dims
           |FROM f JOIN model ON model.dim = f.dim
           |WHERE model.q3 - model.q1 > 0
           |  AND ABS(f.v - model.median) > 3.0 * (model.q3 - model.q1)
           |GROUP BY 1""".stripMargin)),

    // Centroid-silhouette audit of the q67 k-means quantizer: per cluster,
    // the mean (runner-up − own) / max margin — near-0 clusters sit on
    // boundaries and will leak neighbors under nprobe=1 (the k-dial
    // diagnostic a curator reads before freezing an IVF layout). Distance
    // rows carry (vid, clabel, d2) only; the rank window is per-vid over k
    // rows; per-cluster means fold decimal-exactly.
    QueryDef(
      "q265_kmeans_silhouette",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.kmeansCentroidsFlat(emb, col("vec_id"), col("embedding"),
            k = 8, iters = 2)))
        Similarity.centroidSilhouette(emb, col("vec_id"), col("embedding"), cents)
      },
      Some(s"""WITH $duckEmb,
           |${duckKmeansCtes(k = 8, iters = 2)},
           |sdist AS (
           |  SELECT vec_id, clabel,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1),
           |      ivd -> (v[ivd] - carr[ivd]) * (v[ivd] - carr[ivd]))), (x, y) -> x + y) AS d2
           |  FROM e CROSS JOIN cent2),
           |two AS (
           |  SELECT vec_id, clabel, d2,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY d2 ASC, clabel ASC) AS rn
           |  FROM sdist),
           |per AS (
           |  SELECT vec_id,
           |    MIN(CASE WHEN rn = 1 THEN clabel END) AS cluster,
           |    MIN(CASE WHEN rn = 1 THEN d2 END) AS a2,
           |    MIN(CASE WHEN rn = 2 THEN d2 END) AS b2
           |  FROM two WHERE rn <= 2 GROUP BY 1),
           |sil AS (
           |  SELECT cluster,
           |    CASE WHEN GREATEST(sqrt(a2), sqrt(b2)) = 0 THEN 0.0
           |         ELSE (sqrt(b2) - sqrt(a2)) / GREATEST(sqrt(a2), sqrt(b2))
           |    END AS sil
           |  FROM per)
           |SELECT cluster, COUNT(*) AS n,
           |  ${Num.duckDsum38("sil")} / COUNT(*) AS mean_sil
           |FROM sil GROUP BY 1""".stripMargin)),

    // PageRank centrality over the mutual-kNN graph: 10 damped iterations
    // with decimal-exact mass gathering and uniform dangling-mass
    // redistribution — the importance score a curator uses to pick cluster
    // REPRESENTATIVES (vs min-id) and rank near-dup communities. The
    // oracle unrolls all 10 iterations with the identical casts (the q112
    // power-iteration discipline applied to a graph).
    QueryDef(
      "q149_knn_pagerank",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        val mutual = graft.ops.Graph.mutualEdges(topk).localCheckpoint()
        val edges = mutual.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(mutual.select(col("id_b").as("src"), col("id_a").as("dst")))
        graft.ops.Graph.pageRank(
            emb.select(col("vec_id").as("id")), edges, iters = 10)
          .withColumnRenamed("id", "vec_id")
      },
      Some {
        val its = (1 to 10).map { i =>
          s"""g$i AS MATERIALIZED (
             |  SELECT ed.dst,
             |    SUM(CAST(r.pr / CAST(dg.deg AS DOUBLE) AS DECIMAL(38,18))) AS s
             |  FROM ed JOIN dg ON dg.src = ed.src
             |  JOIN r${i - 1} r ON r.id = ed.src GROUP BY 1),
             |dm$i AS MATERIALIZED (
             |  SELECT COALESCE(SUM(CAST(r.pr AS DECIMAL(38,18))),
             |    CAST(0 AS DECIMAL(38,18))) AS dm
             |  FROM r${i - 1} r WHERE r.id NOT IN (SELECT src FROM dg)),
             |r$i AS MATERIALIZED (
             |  SELECT n.id,
             |    ((1.0 - 0.85) / CAST(nn AS DOUBLE))
             |      + 0.85 * (COALESCE(CAST(g.s AS DOUBLE), 0.0)
             |                + CAST(d.dm AS DOUBLE) / CAST(nn AS DOUBLE)) AS pr
             |  FROM (SELECT id FROM r0) n
             |  LEFT JOIN g$i g ON g.dst = n.id
             |  CROSS JOIN dm$i d CROSS JOIN nnc)""".stripMargin
        }.mkString(",\n")
        s"""WITH $duckEmb,
           |$duckTop3Cte,
           |mk AS MATERIALIZED (
           |  SELECT f.query_id AS id_a, f.neighbor_id AS id_b
           |  FROM topf f
           |  WHERE f.query_id < f.neighbor_id
           |    AND EXISTS (SELECT 1 FROM topf r
           |                WHERE r.query_id = f.neighbor_id
           |                  AND r.neighbor_id = f.query_id)),
           |ed AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM mk
           |       UNION ALL SELECT id_b, id_a FROM mk),
           |dg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM ed GROUP BY 1),
           |nnc AS (SELECT COUNT(*) AS nn FROM e),
           |r0 AS MATERIALIZED (SELECT vec_id AS id, 1.0 / CAST(nn AS DOUBLE) AS pr
           |       FROM e CROSS JOIN nnc),
           |$its
           |SELECT id AS vec_id, pr FROM r10""".stripMargin
      },
      bench = false),

    // Deterministic farthest-point (k-center greedy) seeding for the IVF
    // quantizer — the no-RNG kmeans++-style initializer, hash-verified
    // against the unrolled DuckDB greedy.
    QueryDef(
      "q69_farthest_seeds",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.farthestPointSeeds(emb, col("vec_id"), col("embedding"), 4)
          .select(col("sid"), col("vid").as("vec_id"))
      },
      Some(s"""WITH $duckEmb,
           |${duckFarthestCtes(4)}
           |SELECT sid, vec_id FROM ch3""".stripMargin)),

    // k-center CORESET: the 4 greedy farthest-point centers with basin
    // weights and decimal-exact quantization cost — the embedding-coverage
    // selection summary (k representatives with multiplicities). Oracle
    // extends the unrolled greedy with an argmin assignment (ties -> lowest
    // sid, the ivfAssign rule) and the q60 decimal-sum discipline.
    QueryDef(
      "q137_kcenter_coreset",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.kcenterCoreset(emb, col("vec_id"), col("embedding"), 4)
      },
      Some {
        val l2 = """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list_transform(range(1, len(e.v) + 1),
          |      kcd -> (e.v[kcd] - ch.v[kcd]) * (e.v[kcd] - ch.v[kcd]))),
          |    (x, y) -> x + y)""".stripMargin
        s"""WITH $duckEmb,
           |${duckFarthestCtes(4)},
           |sd AS (
           |  SELECT e.vec_id, ch.sid, $l2 AS d2
           |  FROM e CROSS JOIN ch3 ch),
           |asg AS (
           |  SELECT vec_id, sid, d2 FROM (
           |    SELECT vec_id, sid, d2,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, sid) AS rn
           |    FROM sd)
           |  WHERE rn = 1)
           |SELECT a.sid, ch.vec_id AS seed_id,
           |  CAST(COUNT(*) AS BIGINT) AS weight,
           |  CAST(SUM(CAST(a.d2 AS DECIMAL(38,18))) AS DOUBLE) AS cost
           |FROM asg a JOIN ch3 ch ON ch.sid = a.sid
           |GROUP BY 1, 2""".stripMargin
      }),

    // Cross-modal alignment scoring (the LAION-style pair filter): cosine
    // between the 64-dim hashing-trick text vector of each document and
    // its paired stored embedding (doc_id == vec_id), with an aligned
    // verdict at cos >= 0. The oracle rebuilds the q57 vectorizer grid at
    // dims=64, assembles the ordered list, and folds the same cosine.
    QueryDef(
      "q138_crossmodal_alignment",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.crossModalAlignment(docs, col("doc_id"), col("text"),
          emb, col("vec_id"), col("embedding"), dims = 64, minCos = 0.0)
      },
      Some(s"""WITH $duckEmb,
           |$duckAlignmentCtes
           |SELECT doc_id, cosine, cosine >= 0.0 AS aligned FROM scored""".stripMargin)),

    // Matryoshka-style truncation eval (the MRL question: how much ANN
    // quality survives using only the first 32 of 64 dims?): per-query
    // overlap between the exact top-3 under the full vectors and under the
    // 32-dim prefixes. Quadratic baselines — quarantined from the bench
    // like q61; at scale the truncated side would be the IVF/PQ index and
    // this query is its acceptance gate.
    QueryDef(
      "q147_matryoshka_recall",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val full = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        val truncated = Similarity.bruteForceTopK(
          emb.select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding")),
          col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        val overlap = full.join(truncated, Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
        emb.select(col("vec_id").as("query_id"))
          .join(overlap, Seq("query_id"), "left_outer")
          .select(col("query_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            (coalesce(col("n_overlap"), lit(0L)).cast("double") / lit(3.0)).as("recall"))
      },
      Some(s"""WITH $duckEmb,
           |et AS (
           |  SELECT vec_id, list_slice(v, 1, 32) AS v,
           |    sqrt(list_dot_product(list_slice(v, 1, 32), list_slice(v, 1, 32))) AS nrm
           |  FROM e),
           |topf AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY a.vec_id
           |        ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
           |    FROM e a JOIN e b ON a.vec_id <> b.vec_id)
           |  WHERE rank <= 3),
           |topt AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY a.vec_id
           |        ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
           |    FROM et a JOIN et b ON a.vec_id <> b.vec_id)
           |  WHERE rank <= 3),
           |ov AS (
           |  SELECT f.query_id, COUNT(*) AS n_overlap
           |  FROM topf f JOIN topt t ON t.query_id = f.query_id
           |    AND t.neighbor_id = f.neighbor_id
           |  GROUP BY 1)
           |SELECT e.vec_id AS query_id,
           |  CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           |  CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / 3.0 AS recall
           |FROM e LEFT JOIN ov ON ov.query_id = e.vec_id""".stripMargin),
      bench = false),

    // Per-vector L2 norm + per-label aggregate (warm-up / plumbing check).
    QueryDef(
      "q60_embedding_norms",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        emb.groupBy(col("label"))
          .agg(
            count(lit(1)).as("n"),
            Num.dsum(Num.norm(col("embedding")), 9).as("sum_norm"))
      },
      Some(s"""WITH $duckEmb
           |SELECT label, COUNT(*) AS n,
           |  CAST(SUM(CAST(e.nrm AS DECIMAL(18,9))) AS DOUBLE) AS sum_norm
           |FROM e JOIN embeddings USING (vec_id)
           |GROUP BY label""".stripMargin)),

    // Exact brute-force cosine top-5 neighbors per vector (the ANN baseline).
    QueryDef(
      "q61_cosine_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 5)
      },
      Some(s"""WITH $duckEmb
           |SELECT query_id, neighbor_id, cosine, rank FROM (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
           |  FROM e a JOIN e b ON a.vec_id <> b.vec_id)
           |WHERE rank <= 5""".stripMargin),
      bench = false),

    // Embedding-cosine near-dup pairs (threshold tuned to testdata's cosine
    // distribution: max ~0.51, p99 ~0.29).
    QueryDef(
      "q62_cosine_neardup",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.cosineNearDupPairs(emb, col("vec_id"), col("embedding"), 0.4)
      },
      Some(s"""WITH $duckEmb
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
           |FROM e a JOIN e b ON a.vec_id < b.vec_id
           |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4""".stripMargin),
      bench = false),

    // LSH-bucketed approximate top-5 (single table, 8 signed-random planes) —
    // the scale path: candidate generation is an equi-join on bucket ids.
    QueryDef(
      "q63_ann_lsh_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.lshTopK(emb, col("vec_id"), col("embedding"), 5, numPlanes = 8,
          numDims = 64)
      },
      Some(
        s"""WITH $duckEmb,
           |buckets AS (SELECT vec_id, v, nrm, ${duckBucketExpr(0, 8)} AS bucket FROM e)
           |SELECT query_id, neighbor_id, cosine, rank FROM (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
           |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
           |WHERE rank <= 5""".stripMargin)),

    // MULTI-PROBE LSH: each query additionally probes the 2 buckets reached
    // by flipping its smallest-|margin| plane bits (the boundaries a true
    // neighbor most plausibly sits across) — one table's index, 3 probes'
    // recall. The index side stays one bucket per vector, so pairs are
    // unique without dedup; the oracle ranks the identical flips from the
    // identical per-plane dot list.
    QueryDef(
      "q104_ann_lsh_multiprobe",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.lshMultiProbeTopK(emb, col("vec_id"), col("embedding"), 5,
          numPlanes = 8, numDims = 64, numProbes = 2)
      },
      Some(
        s"""WITH $duckEmb,
           |qb AS (
           |  SELECT vec_id, v, nrm, ${duckBucketExpr(0, 8)} AS bucket,
           |    ${duckPlaneDots(0, 8)} AS dots
           |  FROM e),
           |probes AS (
           |  SELECT vec_id, v, nrm, unnest(list_concat([bucket],
           |    list_transform(
           |      list_slice(list_sort(list_transform(range(0, 8),
           |        pj -> {'m': abs(dots[pj + 1]), 'j': pj})), 1, 2),
           |      s -> xor(bucket, CAST(1 AS BIGINT) << s.j)))) AS bucket
           |  FROM qb)
           |SELECT query_id, neighbor_id, cosine, rank FROM (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
           |  FROM probes a JOIN qb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
           |WHERE rank <= 5""".stripMargin)),

    // IVF coarse-quantizer assignment: per-label decimal-exact centroids,
    // every vector assigned to its nearest centroid by L2 (ties -> lowest
    // label). The n×k distance rows carry ids+distances only.
    QueryDef(
      "q65_ivf_assign",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label")))
        Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), cents)
          .withColumnRenamed("vid", "vec_id")
      },
      Some(s"""WITH $duckEmb,
           |$duckIvfCtes
           |SELECT vec_id, cluster, d2 FROM assign""".stripMargin)),

    // IVF approximate top-3 (nprobe=1): exact cosine within the assigned
    // cluster — the second ANN scale path beside LSH (q63).
    QueryDef(
      "q66_ivf_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
        Similarity.ivfTopK(emb, col("vec_id"), col("embedding"), 3, cents)
      },
      Some(s"""WITH $duckEmb,
           |$duckIvfCtes,
           |ec AS (SELECT e.vec_id, e.v, e.nrm, assign.cluster
           |       FROM e JOIN assign USING (vec_id))
           |SELECT query_id, neighbor_id, cosine, rank FROM (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
           |  FROM ec a JOIN ec b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id)
           |WHERE rank <= 3""".stripMargin)),

    // IVF top-3 with nprobe=2 — the recall dial: each query probes its TWO
    // nearest clusters (window-ranked probe branch of ivfTopK), widening the
    // candidate set; posting lists stay nprobe-independent. Oracle ranks the
    // probe clusters per query in SQL with the same (d2, clabel) tie-break.
    QueryDef(
      "q85_ivf_topk_nprobe2",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
        Similarity.ivfTopK(emb, col("vec_id"), col("embedding"), 3, cents, nprobe = 2)
      },
      Some(s"""WITH $duckEmb,
           |$duckIvfCtes,
           |probes AS (
           |  SELECT vec_id, clabel AS cluster FROM (
           |    SELECT vec_id, clabel,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
           |    FROM dist)
           |  WHERE rn <= 2),
           |ec AS (SELECT e.vec_id, e.v, e.nrm, assign.cluster
           |       FROM e JOIN assign USING (vec_id)),
           |pq AS (SELECT e.vec_id, e.v, e.nrm, probes.cluster
           |       FROM e JOIN probes USING (vec_id))
           |SELECT query_id, neighbor_id, cosine, rank FROM (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
           |  FROM pq a JOIN ec b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id)
           |WHERE rank <= 3""".stripMargin)),

    // RESIDUAL product-quantization codebooks (IVFADC): 8 subspaces × 16
    // codewords, an independent deterministic k-means per 8-dim slice of
    // the COARSE-QUANTIZER RESIDUALS (v − centroid(cell)) — residuals
    // concentrate around 0, so the codeword budget models within-cell
    // displacement instead of re-encoding cell positions. Hash-verified
    // against 8 unrolled per-subspace k-means twins over the residual CTE.
    QueryDef(
      "q93_pq_codebooks",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
        Similarity.pqCodebooksFlatResidual(emb, col("vec_id"), col("embedding"),
          coarse, dims = 64, m = 8, k = 16, iters = 1)
      },
      Some(s"""WITH $duckEmb,
           |$duckIvfCtes,
           |$duckResidualCte,
           |${duckPqCtes(m = 8, k = 16, iters = 1, dims = 64, src = "rese")}
           |SELECT sub, clabel, dim, c FROM pqcb""".stripMargin)),

    // Residual-PQ encoding: every vector's residual (w.r.t. its own coarse
    // cell) as 8 codeword ids (nearest codebook entry per subspace, ties ->
    // lowest codeword) — 8 small ints standing in for 64 floats.
    QueryDef(
      "q94_pq_codes",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
        val cb = Similarity.pqCodebooksFlatResidual(emb, col("vec_id"), col("embedding"),
          coarse, dims = 64, m = 8, k = 16, iters = 1).localCheckpoint()
        Similarity.pqEncodeResidual(emb, col("vec_id"), col("embedding"), coarse, cb,
          dims = 64, m = 8)
          .withColumnRenamed("vid", "vec_id")
      },
      Some(s"""WITH $duckEmb,
           |$duckIvfCtes,
           |$duckResidualCte,
           |${duckPqCtes(m = 8, k = 16, iters = 1, dims = 64, src = "rese")}
           |SELECT vec_id, sub, code FROM pqcodes""".stripMargin)),

    // IVF-PQ top-3 (IVFADC): coarse quantizer prunes to the query's cell,
    // ADC ranks candidates from their 8-byte RESIDUAL codes via the
    // per-(query, cell) m×k lookup table — candidate vectors are never
    // touched. Subspace distances are pivoted and added in fixed order, so
    // the oracle reproduces the ADC total bit for bit. (At nprobe=1 the
    // probed cell is the query's own, so the own-residual LUT rows apply.)
    QueryDef(
      "q95_ivfpq_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
        val cb = Similarity.pqCodebooksFlatResidual(emb, col("vec_id"), col("embedding"),
          coarse, dims = 64, m = 8, k = 16, iters = 1).localCheckpoint()
        Similarity.ivfPqTopK(emb, col("vec_id"), col("embedding"), 3, coarse, cb,
          dims = 64, m = 8)
      },
      Some {
        val pivots = (0 until 8).map(i =>
          s"SUM(CASE WHEN pc.sub = $i THEN l.d2 ELSE CAST(0.0 AS DOUBLE) END) AS d_$i")
          .mkString(",\n           |      ")
        val score = (0 until 8).map(i => s"d_$i").reduce((a, x) => s"($a + $x)")
        s"""WITH $duckEmb,
           |$duckIvfCtes,
           |$duckResidualCte,
           |${duckPqCtes(m = 8, k = 16, iters = 1, dims = 64, src = "rese")},
           |pairsubs AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      $pivots
           |  FROM assign a
           |  JOIN assign b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
           |  JOIN pqcodes pc ON pc.vec_id = b.vec_id
           |  JOIN pqlut l ON l.vec_id = a.vec_id AND l.sub = pc.sub AND l.code = pc.code
           |  GROUP BY 1, 2)
           |SELECT query_id, neighbor_id, adc, rank FROM (
           |  SELECT query_id, neighbor_id, $score AS adc,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY $score ASC, neighbor_id ASC) AS rank
           |  FROM pairsubs)
           |WHERE rank <= 3""".stripMargin
      }),

    // IVF-PQ with nprobe=2: the recall dial on the full index — each query
    // searches its TWO nearest cells, with a cell-specific residual lookup
    // table per probe (the query residual depends on the probed cell; this
    // is what separates IVFADC from single-cell ADC). Pairs stay unique
    // (each neighbor lives in one cell), so no dedup is needed.
    QueryDef(
      "q99_ivfpq_topk_nprobe2",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
        val cb = Similarity.pqCodebooksFlatResidual(emb, col("vec_id"), col("embedding"),
          coarse, dims = 64, m = 8, k = 16, iters = 1).localCheckpoint()
        Similarity.ivfPqTopK(emb, col("vec_id"), col("embedding"), 3, coarse, cb,
          dims = 64, m = 8, nprobe = 2)
      },
      Some {
        val sd = 8
        val qlutUnion = (0 until 8).map { s =>
          val lo = s * sd + 1
          val hi = s * sd + sd
          s"""SELECT vec_id, cluster, $s AS sub, clabel AS code,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $sd + 1),
             |      qld -> (sv[qld] - carr[qld]) * (sv[qld] - carr[qld]))), (x, y) -> x + y) AS d2
             |  FROM (SELECT vec_id, cluster, v[$lo:$hi] AS sv FROM qres) CROSS JOIN pq${s}_cent1""".stripMargin
        }.mkString("\n  UNION ALL\n  ")
        val pivots = (0 until 8).map(i =>
          s"SUM(CASE WHEN pc.sub = $i THEN l.d2 ELSE CAST(0.0 AS DOUBLE) END) AS d_$i")
          .mkString(",\n           |      ")
        val score = (0 until 8).map(i => s"d_$i").reduce((a, x) => s"($a + $x)")
        s"""WITH $duckEmb,
           |$duckIvfCtes,
           |$duckResidualCte,
           |${duckPqCtes(m = 8, k = 16, iters = 1, dims = 64, src = "rese")},
           |probes AS (
           |  SELECT vec_id, clabel AS cluster FROM (
           |    SELECT vec_id, clabel,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
           |    FROM dist)
           |  WHERE rn <= 2),
           |qres AS (
           |  SELECT p.vec_id, p.cluster,
           |    list_transform(range(1, 65), qri -> e.v[qri] - cent.carr[qri]) AS v
           |  FROM probes p JOIN e ON e.vec_id = p.vec_id
           |  JOIN cent ON cent.clabel = p.cluster),
           |qlut AS (
           |  $qlutUnion),
           |pairsubs AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      $pivots
           |  FROM probes a
           |  JOIN assign b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
           |  JOIN pqcodes pc ON pc.vec_id = b.vec_id
           |  JOIN qlut l ON l.vec_id = a.vec_id AND l.cluster = a.cluster
           |    AND l.sub = pc.sub AND l.code = pc.code
           |  GROUP BY 1, 2)
           |SELECT query_id, neighbor_id, adc, rank FROM (
           |  SELECT query_id, neighbor_id, $score AS adc,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY $score ASC, neighbor_id ASC) AS rank
           |  FROM pairsubs)
           |WHERE rank <= 3""".stripMargin
      }),

    // k-means training for the IVF quantizer: hash-seeded init, 2 Lloyd
    // iterations, decimal-exact centroid recomputation — the full iterative
    // algorithm hash-verified against an unrolled DuckDB twin.
    QueryDef(
      "q67_kmeans_centroids",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.kmeansCentroidsFlat(emb, col("vec_id"), col("embedding"), k = 8, iters = 2)
      },
      Some(s"""WITH $duckEmb,
           |${duckKmeansCtes(k = 8, iters = 2)}
           |SELECT clabel, dim, c FROM cf2""".stripMargin)),

    // End-to-end learned ANN: the k-means-trained quantizer (q67) chained
    // into the IVF search (q66's shape) — index training and search verified
    // as one composition.
    QueryDef(
      "q68_kmeans_ivf_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.kmeansCentroidsFlat(emb, col("vec_id"), col("embedding"), k = 8, iters = 2)))
        Similarity.ivfTopK(emb, col("vec_id"), col("embedding"), 3, cents)
      },
      Some(s"""WITH $duckEmb,
           |${duckKmeansCtes(k = 8, iters = 2)},
           |sdist AS (
           |  SELECT vec_id, clabel,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1),
           |      ivd -> (v[ivd] - carr[ivd]) * (v[ivd] - carr[ivd]))), (x, y) -> x + y) AS d2
           |  FROM e CROSS JOIN cent2),
           |sassign AS (
           |  SELECT vec_id, clabel AS cluster FROM (
           |    SELECT vec_id, clabel,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
           |    FROM sdist)
           |  WHERE rn = 1),
           |ec AS (SELECT e.vec_id, e.v, e.nrm, sassign.cluster
           |       FROM e JOIN sassign USING (vec_id))
           |SELECT query_id, neighbor_id, cosine, rank FROM (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rank
           |  FROM ec a JOIN ec b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id)
           |WHERE rank <= 3""".stripMargin)),

    // SemDeDup candidate pairs: k-means-clustered embedding space, cosine
    // compared WITHIN clusters only (the cluster structure bounds the pair
    // space — arXiv:2303.09540's trick). Same 0.4 threshold as the q62
    // all-pairs baseline, so the rows are exactly the near-dup pairs whose
    // endpoints the quantizer co-located.
    QueryDef(
      "q120_semdedup_pairs",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.semDedupPairs(emb, col("vec_id"), col("embedding"),
          k = 8, iters = 2, threshold = 0.4)
      },
      Some(s"""WITH $duckEmb,
           |${duckKmeansCtes(k = 8, iters = 2)},
           |$duckKmeansAssignCtes
           |SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
           |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
           |FROM ec a JOIN ec b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4""".stripMargin)),

    // SemDeDup survivors: pairs → connected components → min-id
    // representative — embedding-space dedup composed end to end (train,
    // assign, pair, cluster, elect) and hash-verified against a recursive-CTE
    // transitive closure stacked on the unrolled k-means oracle.
    QueryDef(
      "q121_semdedup_survivors",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.semDedupSurvivors(emb, col("vec_id"), col("embedding"),
          k = 8, iters = 2, threshold = 0.4)
          .select(col("vec_id"), col("label"))
      },
      Some(s"""WITH RECURSIVE $duckEmb,
           |${duckKmeansCtes(k = 8, iters = 2)},
           |$duckKmeansAssignCtes,
           |jp AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM ec a JOIN ec b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM jp
           |  UNION
           |  SELECT id_b, id_a FROM jp),
           |reach(id, r) AS (
           |  SELECT src, dst FROM edges
           |  UNION
           |  SELECT reach.id, e2.dst FROM reach JOIN edges e2 ON e2.src = reach.r),
           |labels AS (
           |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
           |SELECT em.vec_id, em.label FROM embeddings em
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM labels l WHERE l.id = em.vec_id AND l.id <> l.cluster_id)""".stripMargin)),

    // Scalable cosine near-dup: LSH candidate generation (2 tables x 6
    // planes) + exact cosine verify — the scale-safe counterpart of q62's
    // all-pairs baseline. Candidate dedup on bare id pairs.
    QueryDef(
      "q64_cosine_neardup_lsh",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.cosineNearDupBucketed(emb, col("vec_id"), col("embedding"), 0.4,
          numPlanes = 6, numDims = 64, numTables = 2)
      },
      Some(
        s"""WITH $duckEmb,
           |buckets AS (
           |  SELECT vec_id, v, nrm, 0 AS tbl, ${duckBucketExpr(0, 6)} AS bucket FROM e
           |  UNION ALL
           |  SELECT vec_id, v, nrm, 1 AS tbl, ${duckBucketExpr(1, 6)} AS bucket FROM e),
           |cands AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM buckets a JOIN buckets b
           |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
           |SELECT id_a, id_b, list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS cosine
           |FROM cands
           |JOIN e ea ON ea.vec_id = id_a
           |JOIN e eb ON eb.vec_id = id_b
           |WHERE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) >= 0.4""".stripMargin)),

    // SEMANTIC decontamination across the train/eval split — the
    // embedding-space member of the decontamination family (q87 exact
    // shingles, q105 Bloom, q177 span cut are lexical): every train vector
    // within cosine 0.4 of ANY eval vector (vec_id % 50) is flagged with
    // its hit count and worst similarity. Candidates are the q64
    // multi-table buckets CROSS-side; the benchmark-sized eval split
    // broadcasts twice (bucket table + vectors) so the train corpus never
    // shuffles.
    QueryDef(
      "q245_semantic_decontam",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.semanticDecontam(
          emb.where(pmod(col("vec_id"), lit(50)) =!= 0),
          emb.where(pmod(col("vec_id"), lit(50)) === 0),
          col("vec_id"), col("embedding"), 0.4,
          numPlanes = 6, numDims = 64, numTables = 2)
      },
      Some(
        s"""WITH $duckEmb,
           |tr AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
           |ev AS (SELECT * FROM e WHERE vec_id % 50 = 0),
           |tb AS (
           |  SELECT vec_id, 0 AS tbl, ${duckBucketExpr(0, 6)} AS bucket FROM tr
           |  UNION ALL
           |  SELECT vec_id, 1 AS tbl, ${duckBucketExpr(1, 6)} AS bucket FROM tr),
           |eb AS (
           |  SELECT vec_id, 0 AS tbl, ${duckBucketExpr(0, 6)} AS bucket FROM ev
           |  UNION ALL
           |  SELECT vec_id, 1 AS tbl, ${duckBucketExpr(1, 6)} AS bucket FROM ev),
           |cands AS (
           |  SELECT DISTINCT t.vec_id AS train_id, v.vec_id AS eval_id
           |  FROM tb t JOIN eb v ON t.tbl = v.tbl AND t.bucket = v.bucket)
           |SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           |  MAX(list_dot_product(ta.v, ea.v) / (ta.nrm * ea.nrm)) AS max_cosine
           |FROM cands
           |JOIN tr ta ON ta.vec_id = train_id
           |JOIN ev ea ON ea.vec_id = eval_id
           |WHERE list_dot_product(ta.v, ea.v) / (ta.nrm * ea.nrm) >= 0.4
           |GROUP BY 1""".stripMargin)),

    // Distributed PCA: one-pass decimal-exact covariance (upper-triangle
    // product rows, map-side partials) + 10 power-iteration steps on the
    // d-bounded matrix, every double sum an order-fixed fold. The oracle
    // unrolls all 10 matvec/normalize steps as CTE pairs (the k-means/BPE
    // unrolling discipline) and reproduces the result bit for bit — no
    // convergence assumption anywhere.
    QueryDef(
      "q112_pca_power",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.pcaPowerIteration(emb, col("vec_id"), col("embedding"),
          dims = 64, iters = 10)
      },
      Some(
        s"""WITH $duckPcaCtes,
           |yf AS (
           |  SELECT c.j, ${duckFold("c.c * v.vv", "c.k")} AS y
           |  FROM cov c JOIN v10 v ON v.j = c.k GROUP BY c.j),
           |eig AS (
           |  SELECT ${duckFold("v.vv * y.y", "v.j")} AS eigval
           |  FROM v10 v JOIN yf y ON y.j = v.j),
           |tr AS (SELECT ${duckFold("c", "j")} AS tr FROM cov WHERE j = k)
           |SELECT CAST(m.j AS BIGINT) AS dim, m.mu AS mean, v.vv AS pc1,
           |  e2.eigval AS eigval, e2.eigval / t2.tr AS explained_frac
           |FROM mu m JOIN v10 v ON v.j = m.j CROSS JOIN eig e2 CROSS JOIN tr t2""".stripMargin)),

    // PC1 projection outliers: every embedding projected onto the trained
    // first principal component (dim-ascending fold), top 25 by absolute
    // deviation from the decimal-exact mean projection — embedding drift /
    // anomaly surfacing, and the per-vector consumer of q112's model.
    QueryDef(
      "q114_pca_outliers",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.pcaOutliers(emb, col("vec_id"), col("embedding"),
          dims = 64, iters = 10, k = 25)
      },
      Some(
        s"""WITH $duckPcaProjCtes,
           |mp AS (SELECT ${Num.duckDsum38("proj")} / COUNT(*) AS mean_proj FROM proj)
           |SELECT vec_id, proj, abs(proj - mean_proj) AS dev
           |FROM proj CROSS JOIN mp
           |ORDER BY dev DESC, vec_id LIMIT 25""".stripMargin)),

    // Per-label drift of the PC1 projection (ANOVA decomposition): group
    // means, deviation from the global mean, and within-group variance —
    // every moment a decimal-exact sum, reusing the unrolled PCA chain.
    QueryDef(
      "q116_pca_label_drift",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.pc1GroupDrift(emb, col("vec_id"), col("embedding"),
          col("label"), dims = 64, iters = 10)
      },
      Some(
        s"""WITH $duckPcaProjCtes,
           |lab AS (
           |  SELECT p.vec_id, e2.label AS grp, p.proj
           |  FROM proj p JOIN embeddings e2 USING (vec_id)),
           |lm AS (
           |  SELECT grp, COUNT(*) AS n,
           |    ${Num.duckDsum38("proj")} / COUNT(*) AS mean_proj
           |  FROM lab GROUP BY 1),
           |gm AS (SELECT ${Num.duckDsum38("proj")} / COUNT(*) AS g FROM lab),
           |wv AS (
           |  SELECT a.grp,
           |    ${Num.duckDsum38("(a.proj - m.mean_proj) * (a.proj - m.mean_proj)")}
           |      / COUNT(*) AS within_var
           |  FROM lab a JOIN lm m USING (grp) GROUP BY a.grp)
           |SELECT m.grp, m.n, m.mean_proj, m.mean_proj - g.g AS dev_from_global,
           |  w.within_var
           |FROM lm m JOIN wv w USING (grp) CROSS JOIN gm g""".stripMargin)),

    // Top-2 PCA by Hotelling deflation: pc1 as q112, then the identical
    // 10-step iteration on C - lambda1*v1*v1' (20 unrolled CTE triples
    // total, second chain prefixed w). eigval2 = Rayleigh on the deflated
    // matrix — both engines by construction.
    QueryDef(
      "q118_pca_top2",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.pcaTop2(emb, col("vec_id"), col("embedding"),
          dims = 64, iters = 10)
      },
      Some(
        s"""WITH $duckPcaCtes,
           |yf1 AS (
           |  SELECT c.j, ${duckFold("c.c * v.vv", "c.k")} AS y
           |  FROM cov c JOIN v10 v ON v.j = c.k GROUP BY c.j),
           |eig1 AS MATERIALIZED (
           |  SELECT ${duckFold("v.vv * y.y", "v.j")} AS eigval
           |  FROM v10 v JOIN yf1 y ON y.j = v.j),
           |cov2 AS MATERIALIZED (
           |  SELECT c.j, c.k, c.c - e2.eigval * a.vv * b.vv AS c
           |  FROM cov c JOIN v10 a ON a.j = c.j JOIN v10 b ON b.j = c.k
           |  CROSS JOIN eig1 e2),
           |${duckUniformV("wv0")},
           |${duckPowerSteps("cov2", "w")},
           |yf2 AS (
           |  SELECT c.j, ${duckFold("c.c * v.vv", "c.k")} AS y
           |  FROM cov2 c JOIN wv10 v ON v.j = c.k GROUP BY c.j),
           |eig2 AS MATERIALIZED (
           |  SELECT ${duckFold("v.vv * y.y", "v.j")} AS eigval2
           |  FROM wv10 v JOIN yf2 y ON y.j = v.j),
           |tr AS (SELECT ${duckFold("c", "j")} AS tr FROM cov WHERE j = k)
           |SELECT CAST(m.j AS BIGINT) AS dim, m.mu AS mean,
           |  p1.vv AS pc1, p2.vv AS pc2,
           |  e1.eigval AS eigval1, e2.eigval2 AS eigval2,
           |  e1.eigval / t2.tr AS explained_frac1,
           |  e2.eigval2 / t2.tr AS explained_frac2
           |FROM mu m JOIN v10 p1 ON p1.j = m.j JOIN wv10 p2 ON p2.j = m.j
           |CROSS JOIN eig1 e1 CROSS JOIN eig2 e2 CROSS JOIN tr t2""".stripMargin)),

    // Whitened 2-D coordinates: both top-2 projections centered on the mean
    // projection and scaled 1/sqrt(lambda) — unit-variance axes for drift
    // dashboards / Mahalanobis-style rules. One broadcast model row; the
    // oracle replays the identical dim-ascending folds.
    QueryDef(
      "q119_pca_whiten",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.pcaWhiten2(emb, col("vec_id"), col("embedding"),
          dims = 64, iters = 10)
      },
      Some {
        def dot(a: String, b: String) =
          s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |    list_transform(range(1, 65),
             |      wi -> CAST($a[wi] AS DOUBLE) * $b[wi])), (fa, fb) -> fa + fb)""".stripMargin
        s"""WITH $duckPcaCtes,
           |yf1 AS (
           |  SELECT c.j, ${duckFold("c.c * v.vv", "c.k")} AS y
           |  FROM cov c JOIN v10 v ON v.j = c.k GROUP BY c.j),
           |eig1 AS MATERIALIZED (
           |  SELECT ${duckFold("v.vv * y.y", "v.j")} AS eigval
           |  FROM v10 v JOIN yf1 y ON y.j = v.j),
           |cov2 AS MATERIALIZED (
           |  SELECT c.j, c.k, c.c - e2.eigval * a.vv * b.vv AS c
           |  FROM cov c JOIN v10 a ON a.j = c.j JOIN v10 b ON b.j = c.k
           |  CROSS JOIN eig1 e2),
           |${duckUniformV("wv0")},
           |${duckPowerSteps("cov2", "w")},
           |yf2 AS (
           |  SELECT c.j, ${duckFold("c.c * v.vv", "c.k")} AS y
           |  FROM cov2 c JOIN wv10 v ON v.j = c.k GROUP BY c.j),
           |eig2 AS MATERIALIZED (
           |  SELECT ${duckFold("v.vv * y.y", "v.j")} AS eigval2
           |  FROM wv10 v JOIN yf2 y ON y.j = v.j),
           |pcA AS MATERIALIZED (SELECT list(vv ORDER BY j) AS pc1 FROM v10),
           |pcB AS MATERIALIZED (SELECT list(vv ORDER BY j) AS pc2 FROM wv10),
           |mm AS MATERIALIZED (SELECT list(mu ORDER BY j) AS ms FROM mu),
           |mp AS MATERIALIZED (
           |  SELECT ${dot("ms", "pc1")} AS mp1, ${dot("ms", "pc2")} AS mp2
           |  FROM mm CROSS JOIN pcA CROSS JOIN pcB)
           |SELECT e3.vec_id,
           |  (${dot("e3.embedding", "pc1")} - mp.mp1) / sqrt(e1.eigval) AS w1,
           |  (${dot("e3.embedding", "pc2")} - mp.mp2) / sqrt(e2.eigval2) AS w2
           |FROM embeddings e3 CROSS JOIN pcA CROSS JOIN pcB CROSS JOIN mp
           |CROSS JOIN eig1 e1 CROSS JOIN eig2 e2""".stripMargin
      }),

    // SQ8 scalar quantization codes + midpoint dequantization: the
    // codebook-free member of the quantization family (model = 2·64
    // doubles). One row per (vector, dimension) — the oracle re-derives
    // the per-dimension [min, max] ranges and every code.
    QueryDef(
      "q131_sq8_codes",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val stats = Similarity.sq8Stats(emb, col("embedding")).localCheckpoint()
        Similarity.sq8Encode(emb, col("vec_id"), col("embedding"), stats)
          .select(col("vid").as("vec_id"), posexplode(col("codes")).as(Seq("d", "code")))
          .crossJoin(broadcast(stats))
          .select(col("vec_id"), col("d").cast("long").as("d"), col("code"),
            ((col("code").cast("double") + lit(0.5)) *
              element_at(col("spans"), col("d") + lit(1)) / lit(256.0) +
              element_at(col("mins"), col("d") + lit(1))).as("deq"))
      },
      Some(s"""WITH $duckSq8Ctes,
           |c AS (
           |  SELECT vec_id, i - 1 AS d,
           |    CASE WHEN spans[i] > 0.0
           |      THEN LEAST(255, CAST(floor((v[i] - mins[i]) / spans[i] * 256.0) AS BIGINT))
           |      ELSE 0 END AS code
           |  FROM e CROSS JOIN st, unnest(range(1, 65)) AS u(i))
           |SELECT vec_id, CAST(d AS BIGINT) AS d, code,
           |  (CAST(code AS DOUBLE) + 0.5) * spans[CAST(d + 1 AS INTEGER)] / 256.0
           |    + mins[CAST(d + 1 AS INTEGER)] AS deq
           |FROM c CROSS JOIN st""".stripMargin)),

    // LSH-bucketed ANN top-5 under asymmetric SQ8 distance: candidate
    // generation is q63's hyperplane bucket join, but the index side of
    // the join carries only 8-bit codes — raw vectors ride exclusively
    // with queries. Integer codes make the ADC distance deterministic, so
    // the full ranking hash-matches.
    QueryDef(
      "q132_sq8_ann_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.sq8LshTopK(emb, col("vec_id"), col("embedding"), 5,
          numPlanes = 8, numDims = 64)
      },
      Some(s"""WITH $duckSq8Ctes,
           |codes AS (
           |  SELECT vec_id, list_transform(range(1, 65), ci ->
           |    CASE WHEN spans[ci] > 0.0
           |      THEN LEAST(255, CAST(floor((v[ci] - mins[ci]) / spans[ci] * 256.0) AS BIGINT))
           |      ELSE 0 END) AS codes
           |  FROM e CROSS JOIN st),
           |b AS (SELECT vec_id, v, ${duckBucketExpr(0, 8)} AS bucket FROM e),
           |pairs AS (
           |  SELECT a.vec_id AS query_id, nb.vec_id AS neighbor_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list_transform(range(1, 65), di ->
           |        a.v[di] - ((CAST(c.codes[di] AS DOUBLE) + 0.5) * st.spans[di] / 256.0
           |          + st.mins[di])), dx -> dx * dx)), (x, y) -> x + y) AS adc_dist
           |  FROM b a JOIN b nb ON a.bucket = nb.bucket AND a.vec_id <> nb.vec_id
           |  JOIN codes c ON c.vec_id = nb.vec_id
           |  CROSS JOIN st)
           |SELECT query_id, neighbor_id, adc_dist, rank FROM (
           |  SELECT query_id, neighbor_id, adc_dist,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
           |  FROM pairs)
           |WHERE rank <= 5""".stripMargin)),

    // Search from a PERSISTED index (index-as-table): the IVF-PQ model
    // (centroids, residual codebooks, posting-list codes) is built ONCE and
    // materialized as stored tables; a 10% query subset then searches top-3
    // at nprobe=2 from the stored tables alone — no corpus assignment, no
    // encoding, no training anywhere in the serve plan (PlanSpec pins the
    // scan-only shape). Same ADC semantics as q99, so the oracle is q99's
    // chain with the probe side restricted to the query subset.
    QueryDef(
      "q157_ivfpq_index_search",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
        val idx = graft.ops.AnnIndex.build(emb, col("vec_id"), col("embedding"),
          coarse, dims = 64, m = 8, k = 16, iters = 1)
        val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
        graft.ops.AnnIndex.search(queries, col("vec_id"), col("embedding"), 3,
          idx, nprobe = 2)
      },
      Some {
        val sd = 8
        val qlutUnion = (0 until 8).map { s =>
          val lo = s * sd + 1
          val hi = s * sd + sd
          s"""SELECT vec_id, cluster, $s AS sub, clabel AS code,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $sd + 1),
             |      qld -> (sv[qld] - carr[qld]) * (sv[qld] - carr[qld]))), (x, y) -> x + y) AS d2
             |  FROM (SELECT vec_id, cluster, v[$lo:$hi] AS sv FROM qres) CROSS JOIN pq${s}_cent1""".stripMargin
        }.mkString("\n  UNION ALL\n  ")
        val pivots = (0 until 8).map(i =>
          s"SUM(CASE WHEN pc.sub = $i THEN l.d2 ELSE CAST(0.0 AS DOUBLE) END) AS d_$i")
          .mkString(",\n           |      ")
        val score = (0 until 8).map(i => s"d_$i").reduce((a, x) => s"($a + $x)")
        s"""WITH $duckEmb,
           |$duckIvfCtes,
           |$duckResidualCte,
           |${duckPqCtes(m = 8, k = 16, iters = 1, dims = 64, src = "rese")},
           |probes AS (
           |  SELECT vec_id, clabel AS cluster FROM (
           |    SELECT vec_id, clabel,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
           |    FROM dist WHERE vec_id % 10 = 0)
           |  WHERE rn <= 2),
           |qres AS (
           |  SELECT p.vec_id, p.cluster,
           |    list_transform(range(1, 65), qri -> e.v[qri] - cent.carr[qri]) AS v
           |  FROM probes p JOIN e ON e.vec_id = p.vec_id
           |  JOIN cent ON cent.clabel = p.cluster),
           |qlut AS (
           |  $qlutUnion),
           |pairsubs AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      $pivots
           |  FROM probes a
           |  JOIN assign b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
           |  JOIN pqcodes pc ON pc.vec_id = b.vec_id
           |  JOIN qlut l ON l.vec_id = a.vec_id AND l.cluster = a.cluster
           |    AND l.sub = pc.sub AND l.code = pc.code
           |  GROUP BY 1, 2)
           |SELECT query_id, neighbor_id, adc, rank FROM (
           |  SELECT query_id, neighbor_id, $score AS adc,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY $score ASC, neighbor_id ASC) AS rank
           |  FROM pairsubs)
           |WHERE rank <= 3""".stripMargin
      }),

    // INCREMENTAL index maintenance, hash-proved (the q155 discipline
    // applied to the ANN stack): the index is built on the 6/7 base corpus,
    // the 1/7 delta is encoded against the FROZEN model and appended, and
    // the appended posting lists must equal a full re-encode of the union
    // under the same base-trained model — which is exactly what the oracle
    // computes (train on base slices, encode everything). Per-row
    // deterministic encoding is what makes append == rebuild hold exactly;
    // this query is the cross-engine proof that the daily-ingest path
    // never drifts from a from-scratch encode.
    QueryDef(
      "q158_ivfpq_incremental_append",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
        val delta = emb.where(pmod(col("vec_id"), lit(7)) === 0)
        val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(base, col("embedding"), col("label"))))
        val idx = graft.ops.AnnIndex.build(base, col("vec_id"), col("embedding"),
          coarse, dims = 64, m = 8, k = 16, iters = 1)
        val appended = graft.ops.AnnIndex.append(idx,
          graft.ops.AnnIndex.encode(delta, col("vec_id"), col("embedding"), idx))
        appended.codes.select(col("vid").as("vec_id"), col("cluster"),
          posexplode(col("codes")).as(Seq("sub", "code")))
      },
      Some(s"""WITH $duckEmb,
           |bcf AS (
           |  SELECT label AS clabel, i - 1 AS dim,
           |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
           |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
           |  WHERE vec_id % 7 <> 0
           |  GROUP BY 1, 2),
           |bcent AS (SELECT clabel, list(c ORDER BY dim) AS carr FROM bcf GROUP BY clabel),
           |bdist AS (
           |  SELECT vec_id, clabel,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(v) + 1),
           |      ivd -> (v[ivd] - carr[ivd]) * (v[ivd] - carr[ivd]))), (x, y) -> x + y) AS d2
           |  FROM e CROSS JOIN bcent),
           |bassign AS (
           |  SELECT vec_id, clabel AS cluster FROM (
           |    SELECT vec_id, clabel,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
           |    FROM bdist)
           |  WHERE rn = 1),
           |brall AS (
           |  SELECT e.vec_id,
           |    list_transform(range(1, 65), rri -> e.v[rri] - bcent.carr[rri]) AS v
           |  FROM e JOIN bassign USING (vec_id)
           |  JOIN bcent ON bcent.clabel = bassign.cluster),
           |brbase AS (SELECT * FROM brall WHERE vec_id % 7 <> 0),
           |${duckPqCtes(m = 8, k = 16, iters = 1, dims = 64,
                src = "brall", trainSrc = Some("brbase"))}
           |SELECT pc.vec_id, b.cluster, pc.sub, pc.code
           |FROM pqcodes pc JOIN bassign b USING (vec_id)""".stripMargin)),

    // Binary (1-bit) quantization codes: each 64-dim vector packs to 64
    // BITS (two 32-bit words in non-negative longs), bit d set iff the
    // coordinate exceeds the corpus per-dimension mean — the 16-byte
    // serving representation that completes the quantization matrix
    // (fp32 q61, SQ8 q131, PQ q94, binary here). The oracle re-derives the
    // decimal-exact mean thresholds and every packed word.
    QueryDef(
      "q226_bq_codes",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val thr = graft.ops.BinaryQuant.thresholds(emb, col("embedding"))
          .localCheckpoint()
        graft.ops.BinaryQuant.encode(emb, col("vec_id"), col("embedding"), thr)
          .select(col("vid").as("vec_id"), col("lo"), col("hi"),
            (bit_count(col("lo")) + bit_count(col("hi"))).cast("long").as("nbits"))
      },
      Some(s"""WITH $duckBqCtes
           |SELECT vec_id, lo, hi,
           |  CAST(bit_count(lo) + bit_count(hi) AS BIGINT) AS nbits
           |FROM bqc""".stripMargin)),

    // Three-stage binary-quantized serving funnel: LSH buckets generate
    // candidates (the q63 join), the 16-byte codes SCREEN them with integer
    // Hamming distance (XOR+popcount — the index side of the join never
    // carries floats), and only the top-20 screen survivors fetch raw
    // vectors for the exact L2 rerank to top-5. Integer screen + ordered
    // double fold + neighbor_id ties make the full two-rank chain
    // engine-exact.
    QueryDef(
      "q227_bq_rerank_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        graft.ops.BinaryQuant.lshHammingRerankTopK(emb, col("vec_id"),
          col("embedding"), k = 5, screenR = 20, numPlanes = 8, numDims = 64)
      },
      Some(duckBqFunnelOracle())),

    // Recall audit of the q227 funnel against the EXACT L2 top-5 (the q185
    // discipline applied to the binary-quantized path), run at BOTH ends
    // of the bucket-granularity dial: numPlanes=8 (q227's config — 2^8
    // buckets, tight candidate sets, recall visibly sacrificed) and
    // numPlanes=4 (2^4 buckets — wider candidates, recall recovered at
    // screen cost). Per config, a histogram of queries by how many true
    // top-5 neighbors the three-stage funnel returned — losses attribute
    // to the LSH candidate stage and the Hamming screen COMPOSED, exactly
    // as serving composes them; reading the two rows against each other is
    // how a curator picks the operating point. Ground truth is the
    // quadratic brute force, so the query is quarantined from the bench
    // set like every other exact-baseline oracle.
    QueryDef(
      "q233_bq_recall_audit",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        def audit(planes: Int) =
          graft.ops.BinaryQuant.recallAudit(emb, col("vec_id"),
            col("embedding"), k = 5, screenR = 20, numPlanes = planes,
            numDims = 64)
            .select(lit(planes.toLong).as("num_planes"), col("n_hits"),
              col("n_queries"))
        audit(4).unionByName(audit(8))
          .orderBy(col("num_planes").asc, col("n_hits").asc)
      },
      Some(Seq(4, 8).map(p =>
        s"""SELECT CAST($p AS BIGINT) AS num_planes, n_hits, n_queries
           |FROM (${duckBqRecallChain(p)}) pl$p""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY num_planes, n_hits")),
      bench = false),

    // DURABLE binary-code table, maintenance path (the q212/q158 frozen-
    // model discipline applied to BQ): thresholds train ONCE on the 6/7
    // id-prefix and freeze; the unseen delta encodes per row against the
    // FROZEN thresholds and appends — which must equal coding the union in
    // one pass ROW FOR ROW, because the encode is strictly per-row (no
    // corpus statistics touched after training). The oracle codes every
    // vector against base-trained means.
    QueryDef(
      "q246_bq_index_append",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
        val delta = emb.where(pmod(col("vec_id"), lit(7)) === 0)
        val thr = graft.ops.BinaryQuant.thresholds(base, col("embedding"))
          .localCheckpoint()
        graft.ops.BinaryQuant.encode(base, col("vec_id"), col("embedding"), thr)
          .unionByName(graft.ops.BinaryQuant.encode(delta, col("vec_id"),
            col("embedding"), thr))
          .select(col("vid").as("vec_id"), col("lo"), col("hi"))
      },
      Some(s"""WITH ${duckBqCtesFrom(
             "(SELECT * FROM embeddings WHERE vec_id % 7 <> 0) bqb")}
           |SELECT vec_id, lo, hi FROM bqc""".stripMargin)),

    // PERSISTED binary-quant index, serve leg — q227's funnel with the
    // model + code tables institutionalized as storage (the q393 discipline
    // applied to the 16-byte representation): thresholds stored as the
    // one-row frozen model, (vid, bucket, lo, hi) stored partitioned by the
    // bucket hash so probe batches prune the 28-byte/row code scan;
    // candidates and the Hamming screen read the STORED rows only, raw
    // vectors fetched from the source table for exactly the screen
    // survivors. Same oracle as q227 — where the tables live must not
    // change what serves.
    QueryDef(
      "q410_bq_persisted_serve",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        graft.ops.BinaryQuant.serveStored(s, bqIndexPath(s, dir),
          emb, col("vec_id"), col("embedding"),
          emb, col("vec_id"), col("embedding"),
          k = 5, screenR = 20, numPlanes = 8)
      },
      Some(duckBqFunnelOracle())),

    // PERSISTED binary-quant index, frozen-model append leg — q246's
    // append==rebuild law proved THROUGH STORAGE and the full serve funnel
    // (the q394 discipline): thresholds train on the 6/7 base and persist
    // frozen; the 1/7 delta encodes per row against the RE-READ stored
    // model and its code rows land in their bucket partitions; the funnel
    // over the appended table must equal the oracle's one-pass base-trained
    // coding of the union — including every Hamming screen and rerank
    // decision downstream of the codes. Served through q433's snapshot
    // append, the one append path the index keeps.
    QueryDef(
      "q411_bq_persisted_append_serve",
      bqSnapAppend,
      Some(duckBqFunnelOracle(
        "(SELECT * FROM embeddings WHERE vec_id % 7 <> 0) bqb"))),

    // BINARY-QUANT index on the SNAPSHOT layer, delete leg (round 18 —
    // completing the family sweep q421–q430 started: q410's persisted
    // index was the last durable table publishing in-place): the code
    // table (vid, bucket, lo, hi) is strictly per-vector, so the %11
    // removal is a snapshot key-filter on the bb buckets; the frozen
    // one-row thresholds model is NOT snapshotted (it never mutates —
    // deletion must not retrain, the q398 stance). The full-corpus probe
    // set serves through the post-flip generation: no removed vector may
    // appear as a neighbor, and every Hamming/rerank decision must equal
    // the oracle funnel whose index side excludes the removal set.
    QueryDef(
      "q432_bq_snapshot_delete",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val p = bqSnapDelPath(s, dir)
        graft.ops.BinaryQuant.serveFrames(s,
          graft.ops.BinaryQuant.readThresholds(s, p),
          graft.ops.SnapTables.resolve(s, s"$p/index", "bb"),
          emb, col("vec_id"), col("embedding"),
          emb, col("vec_id"), col("embedding"),
          k = 5, screenR = 20, numPlanes = 8)
      },
      Some(duckBqFunnelOracle(nbFilter = " WHERE vec_id % 11 <> 0"))),

    // BINARY-QUANT snapshot APPEND — the frozen-model append published
    // as a generation: thresholds train on the 6/7 base and persist; the
    // delta encodes per row against the RE-READ stored model and lands
    // delta-only in its bb buckets via SnapTables.appendPartitions. The
    // funnel over the appended generation must equal the oracle's one-pass
    // base-trained coding of the union (q246's law through storage; q411
    // runs this same function).
    QueryDef(
      "q433_bq_snapshot_append",
      bqSnapAppend,
      Some(duckBqFunnelOracle(
        "(SELECT * FROM embeddings WHERE vec_id % 7 <> 0) bqb"))),

    // PQ CODEBOOK DIAL at the persisted lifecycle (round 19) — the
    // round-18 clustered-geometry table (BASELINE.md) measured pqK as the
    // FIRST-ORDER recall lever (16→64 = 2.7× at 25 cells, +57% at √N)
    // while the persisted lifecycle ran a fixed 8×16; this leg runs the
    // q393 serve discipline unchanged (stored tables only: scan-only plan,
    // no training lineage, same √N 22-cell quantizer, nprobe=2) over an
    // index persisted at pqK=64 — 4× the LUT rows per (query, cell), same
    // posting-list join shape, codes still m=8 small ints per vector. The
    // stored params table carries the shape, so build/persist/serve needed
    // no new plumbing — only the sizing decision. Oracle: the q391 chain
    // with 64-codeword PQ training.
    QueryDef(
      "q435_ivfpq_pqk64_serve",
      (s, dir) => {
        val idx = graft.ops.AnnIndex.read(s, sqrtnK64IndexPath(s, dir))
        val queries = Tables.load(s, dir, "embeddings")
          .where(pmod(col("vec_id"), lit(10)) === 0)
        graft.ops.AnnIndex.search(queries, col("vec_id"), col("embedding"), 3,
          idx, nprobe = 2)
      },
      Some(duckSqrtnServeOracle(pqK = 64))),

    // DAVIES-BOULDIN cluster-quality index over the given labels — the
    // centroid-based partner of q265's silhouette: per cluster, the mean
    // member→centroid distance s_i (cohesion); per cluster pair, the ratio
    // (s_i + s_j) / ||c_i − c_j|| (separation); D_i = worst ratio against
    // any other cluster; the index = mean D_i (LOWER is better). Unlike
    // silhouette it never looks at member pairs, so the corpus-sized work
    // is ONE member→own-centroid distance pass (native l2sq codegen fold);
    // everything after runs on the k-row centroid frame (k=10), broadcast
    // and crossJoined at constant size. Means fold decimal-exactly; sqrt
    // and the ratio are IEEE-identical cross-engine.
    QueryDef(
      "q338_davies_bouldin",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
        val si = emb.select(col("label").as("clabel"), col("embedding").as("v"))
          .join(broadcast(cents), "clabel")
          .select(col("clabel"), sqrt(Similarity.l2sq(col("v"), col("carr"))).as("dd"))
          .groupBy(col("clabel"))
          .agg(count(lit(1)).as("n"),
            (Num.dsum38(col("dd")) / count(lit(1))).as("s"))
          .join(cents, "clabel")
          .localCheckpoint()
        val a = si.select(col("clabel").as("i"), col("n"), col("s").as("si"),
          col("carr").as("ci"))
        val b = si.select(col("clabel").as("j"), col("s").as("sj"),
          col("carr").as("cj"))
        val ratios = a.join(broadcast(b), col("i") =!= col("j"))
          .select(col("i"), col("n"), col("si"),
            ((col("si") + col("sj")) /
              sqrt(Similarity.l2sq(col("ci"), col("cj")))).as("rij"))
        val di = ratios.groupBy(col("i"), col("n"), col("si"))
          .agg(max(col("rij")).as("d_i"))
        val idx = di.agg((Num.dsum38(col("d_i")) / count(lit(1))).as("db_index"))
        di.crossJoin(broadcast(idx))
          .select(col("i").as("cluster"), col("n"), col("si").as("mean_dist"),
            col("d_i").as("worst_ratio"), col("db_index"))
      },
      Some(s"""WITH $duckEmb,
           |$duckIvfCtes,
           |own AS (
           |  SELECT em.label AS clabel, sqrt(d.d2) AS dd
           |  FROM dist d JOIN embeddings em
           |    ON em.vec_id = d.vec_id AND em.label = d.clabel),
           |si AS (
           |  SELECT clabel, CAST(COUNT(*) AS BIGINT) AS n,
           |    ${Num.duckDsum38("dd")} / COUNT(*) AS s
           |  FROM own GROUP BY 1),
           |md AS (
           |  SELECT a.clabel AS i, b.clabel AS j,
           |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list_zip(a.carr, b.carr),
           |        dbi -> (dbi[1] - dbi[2]) * (dbi[1] - dbi[2]))),
           |      (x, y) -> x + y)) AS m
           |  FROM cent a JOIN cent b ON a.clabel <> b.clabel),
           |r AS (
           |  SELECT md.i, sa.n, sa.s AS si, MAX((sa.s + sb.s) / md.m) AS d_i
           |  FROM md JOIN si sa ON sa.clabel = md.i
           |          JOIN si sb ON sb.clabel = md.j
           |  GROUP BY 1, 2, 3),
           |idx AS (SELECT ${Num.duckDsum38("d_i")} / COUNT(*) AS db_index FROM r)
           |SELECT r.i AS cluster, r.n, r.si AS mean_dist,
           |  r.d_i AS worst_ratio, idx.db_index
           |FROM r CROSS JOIN idx""".stripMargin)),

    // CALINSKI-HARABASZ index (variance-ratio criterion): the third
    // cluster-quality lens beside silhouette (q265, per-point) and
    // Davies-Bouldin (q338, worst-pair) — CH is the global
    // between/within variance ratio, the one that rewards well-separated
    // AND tight clusterings symmetrically. B = Σ n_k·‖c_k − g‖²,
    // W = Σᵢ ‖xᵢ − c_label(i)‖², CH = (B/(k−1))/(W/(n−k)). ONE corpus pass
    // (the own-centroid distances through broadcast centroids — q338's
    // shape); the global mean derives from the WEIGHTED centroids (a k-row
    // frame), never a second corpus scan. All folds decimal(38,18).
    QueryDef(
      "q355_calinski_harabasz",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.calinskiHarabasz(emb, col("embedding"), col("label"))
      },
      Some(s"""WITH $duckEmb,
           |$duckIvfCtes,
           |own AS (
           |  SELECT em.label AS clabel, d.d2
           |  FROM dist d JOIN embeddings em
           |    ON em.vec_id = d.vec_id AND em.label = d.clabel),
           |wk AS (
           |  SELECT clabel, CAST(COUNT(*) AS BIGINT) AS n,
           |    ${Num.duckDsum38("d2")} AS w_k
           |  FROM own GROUP BY 1),
           |wc AS (
           |  SELECT wk.clabel, wk.n, wk.w_k, cent.carr
           |  FROM wk JOIN cent ON cent.clabel = wk.clabel),
           |gm AS (
           |  SELECT list(g ORDER BY dim) AS garr FROM (
           |    SELECT dim,
           |      ${Num.duckDsum38("cd * CAST(n AS DOUBLE)")} /
           |        CAST(SUM(n) AS DOUBLE) AS g
           |    FROM (SELECT n, i - 1 AS dim, carr[i] AS cd
           |          FROM wc, unnest(range(1, len(carr) + 1)) AS r(i))
           |    GROUP BY 1)),
           |pc AS (
           |  SELECT wc.clabel AS cluster, wc.n, wc.w_k,
           |    CAST(wc.n AS DOUBLE) * list_reduce(
           |      list_prepend(CAST(0.0 AS DOUBLE),
           |        list_transform(list_zip(wc.carr, gm.garr),
           |          chd -> (chd[1] - chd[2]) * (chd[1] - chd[2]))),
           |      (x, y) -> x + y) AS b_k
           |  FROM wc CROSS JOIN gm),
           |tot AS (
           |  SELECT ${Num.duckDsum38("b_k")} AS b, ${Num.duckDsum38("w_k")} AS w,
           |    CAST(SUM(n) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS k
           |  FROM pc)
           |SELECT pc.cluster, pc.n, pc.w_k, pc.b_k,
           |  (tot.b / CAST(tot.k - 1 AS DOUBLE)) /
           |    (tot.w / CAST(tot.n_total - tot.k AS DOUBLE)) AS ch_index
           |FROM pc CROSS JOIN tot""".stripMargin)),

    // PARTICIPATION RATIO: intrinsic dimensionality of the embedding cloud
    // from trace/Frobenius identities alone — no eigensolve (see the
    // operator scaladoc). The anisotropy audit run BEFORE trusting cosine
    // similarity at corpus scale: a dim_fraction near 1/d means every
    // cosine is dominated by one direction and the ANN index family
    // (q60–q69, q157) is ranking noise.
    QueryDef(
      "q356_participation_ratio",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.participationRatio(emb, col("vec_id"), col("embedding"), 64)
      },
      Some(s"""WITH e AS (SELECT embedding AS v FROM embeddings),
           |tri AS (
           |  SELECT j, k,
           |    ${Num.duckDsum38("CAST(v[j] AS DOUBLE) * CAST(v[k] AS DOUBLE)")} AS s,
           |    COUNT(*) AS cnt
           |  FROM e, unnest(range(1, 65)) AS tj(j), unnest(range(1, 65)) AS tk(k)
           |  WHERE k >= j GROUP BY 1, 2),
           |mu AS (
           |  SELECT j, ${Num.duckDsum38("CAST(v[j] AS DOUBLE)")} / COUNT(*) AS mu
           |  FROM e, unnest(range(1, 65)) AS tj(j) GROUP BY 1),
           |covu AS (
           |  SELECT t.j, t.k, t.s / t.cnt - mj.mu * mk.mu AS c
           |  FROM tri t JOIN mu mj ON mj.j = t.j JOIN mu mk ON mk.j = t.k),
           |cov AS (SELECT j, k, c FROM covu
           |        UNION ALL SELECT k AS j, j AS k, c FROM covu WHERE j <> k),
           |tr AS (SELECT ${Num.duckDsum38("c")} AS trace FROM cov WHERE j = k),
           |fr AS (SELECT ${Num.duckDsum38("c * c")} AS frob2 FROM cov)
           |SELECT tr.trace, fr.frob2,
           |  tr.trace * tr.trace / fr.frob2 AS participation_ratio,
           |  tr.trace * tr.trace / fr.frob2 / 64.0 AS dim_fraction
           |FROM tr CROSS JOIN fr""".stripMargin)),

    // ADAMIC-ADAR link prediction over the mutual-kNN graph: top-20
    // non-adjacent pairs by Σ 1/ln(deg) over common neighbors — "which
    // near-dup clusters are one edge away from merging". Engine runs the
    // degree-bounded wedge enumeration + LeftAnti exclusion (Graph
    // scaladoc); the oracle replays it the naive relational way. Ground
    // truth edges are q148's quadratic exact kNN, hence bench=false.
    QueryDef(
      "q357_knn_adamic_adar",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        graft.ops.Graph.adamicAdar(graft.ops.Graph.mutualEdges(topk), k = 20)
      },
      Some(s"""WITH $duckEmb,
           |$duckTop3Cte,
           |edges AS (
           |  SELECT f.query_id AS id_a, f.neighbor_id AS id_b
           |  FROM topf f
           |  WHERE f.query_id < f.neighbor_id
           |    AND EXISTS (SELECT 1 FROM topf r
           |                WHERE r.query_id = f.neighbor_id
           |                  AND r.neighbor_id = f.query_id)),
           |adj AS (
           |  SELECT id_a AS id, id_b AS nbr FROM edges
           |  UNION ALL SELECT id_b, id_a FROM edges),
           |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
           |cand AS (
           |  SELECT w1.nbr AS a, w1.id AS z, w2.nbr AS b
           |  FROM adj w1 JOIN adj w2 ON w2.id = w1.id AND w1.nbr < w2.nbr),
           |scored AS (
           |  SELECT a, b,
           |    ${Num.duckDsum38("1.0 / ln(CAST(deg AS DOUBLE))")} AS aa_score,
           |    CAST(COUNT(*) AS BIGINT) AS n_common
           |  FROM cand JOIN deg ON deg.id = cand.z
           |  GROUP BY 1, 2)
           |SELECT a AS id_a, b AS id_b, aa_score, n_common
           |FROM scored
           |WHERE NOT EXISTS (SELECT 1 FROM edges
           |  WHERE id_a = scored.a AND id_b = scored.b)
           |ORDER BY aa_score DESC, id_a ASC, id_b ASC
           |LIMIT 20""".stripMargin),
      bench = false),

    // LOCAL clustering coefficient per node of the mutual-kNN graph — the
    // per-node refinement of q242's single global coefficient: which
    // vectors sit in tight near-dup communities (lcc → 1) vs hub spokes
    // (lcc → 0). Engine: degree-oriented triangle enumeration exploded to
    // members; oracle: naive a<b<c census. bench=false (exact-kNN truth).
    QueryDef(
      "q358_knn_local_clustering",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 3)
          .select(col("query_id"), col("neighbor_id"))
        graft.ops.Graph.localClustering(graft.ops.Graph.mutualEdges(topk))
      },
      Some(s"""WITH $duckEmb,
           |$duckTop3Cte,
           |edges AS (
           |  SELECT f.query_id AS id_a, f.neighbor_id AS id_b
           |  FROM topf f
           |  WHERE f.query_id < f.neighbor_id
           |    AND EXISTS (SELECT 1 FROM topf r
           |                WHERE r.query_id = f.neighbor_id
           |                  AND r.neighbor_id = f.query_id)),
           |deg AS (
           |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
           |    SELECT id_a AS id FROM edges
           |    UNION ALL SELECT id_b FROM edges) GROUP BY 1),
           |tris AS (
           |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
           |  FROM edges e1
           |  JOIN edges e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
           |  JOIN edges e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b),
           |tn AS (
           |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
           |    SELECT unnest([a, b, c]) AS id FROM tris) GROUP BY 1)
           |SELECT deg.id, deg.deg,
           |  COALESCE(tn.n_triangles, 0) AS n_triangles,
           |  CAST(COALESCE(tn.n_triangles, 0) * 2 AS DOUBLE) /
           |    CAST(deg.deg * (deg.deg - 1) AS DOUBLE) AS lcc
           |FROM deg LEFT OUTER JOIN tn ON tn.id = deg.id
           |WHERE deg.deg >= 2""".stripMargin),
      bench = false),

    // DBSCAN over the embedding set — the density clustering that needs no
    // k: core points have ≥ minPts neighbors within ε (self included),
    // clusters are connected components of the core-core ε-graph (the q83
    // machinery), borders attach to their MINIMUM-labeled core neighbor
    // (classic DBSCAN is scan-order-dependent for borders; the min-label
    // rule determinizes it identically in both engines), the rest is
    // noise. ε² = 1.33 / minPts = 4 sit below the percolation threshold on
    // this corpus (measured: 1.45 merges 482 cores into ONE component;
    // 1.33 keeps ~99 cores over ~89 core edges — a real multi-cluster
    // structure with all three roles populated). The all-pairs
    // distance frame is the exact-truth oracle discipline → bench=false;
    // at scale the neighbor frame comes from the LSH/IVF bucket joins.
    QueryDef(
      "q366_dbscan_embeddings",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val eps2 = 1.33
        val minPts = 4
        val v = emb.select(col("vec_id"), col("embedding"))
        val d2 = aggregate(
          zip_with(col("va"), col("vb"), (x, y) =>
            (x.cast("double") - y.cast("double")) *
              (x.cast("double") - y.cast("double"))),
          lit(0.0), (acc, t) => acc + t)
        val neigh = v.select(col("vec_id").as("id_a"), col("embedding").as("va"))
          .join(v.select(col("vec_id").as("id_b"), col("embedding").as("vb")),
            col("id_a") < col("id_b"))
          .where(d2 <= lit(eps2))
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
        val sym = neigh.unionByName(
          neigh.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        // left_outer keeps isolated points (0 matches → deg 1, the self
        // neighbor): |N_eps(v)| = 1 + matched rows, DBSCAN's self-inclusive
        // count
        val deg = v.select(col("vec_id").as("id"))
          .join(sym.select(col("id_a").as("id"), col("id_b").as("nb")),
            Seq("id"), "left_outer")
          .groupBy(col("id"))
          .agg((count(col("nb")) + lit(1L)).as("deg"))
        val core = deg.where(col("deg") >= minPts).select(col("id"))
          .localCheckpoint()
        val coreEdges = neigh
          .join(core.select(col("id").as("id_a")), "id_a", "left_semi")
          .join(core.select(col("id").as("id_b")), "id_b", "left_semi")
        val labels = graft.ops.Dedup.connectedComponents(coreEdges, "id_a", "id_b")
        val coreOut = core
          .join(labels, Seq("id"), "left_outer")
          .select(col("id").as("vec_id"), lit("core").as("role"),
            coalesce(col("cluster_id"), col("id")).as("cluster"))
          .localCheckpoint()
        val borderOut = sym
          .join(core.select(col("id").as("id_b")), "id_b", "left_semi")
          .join(core.select(col("id").as("id_a")), "id_a", "left_anti")
          .join(coreOut.select(col("vec_id").as("id_b"),
            col("cluster").as("c")), "id_b")
          .groupBy(col("id_a"))
          .agg(min(col("c")).as("cluster"))
          .select(col("id_a").as("vec_id"), lit("border").as("role"),
            col("cluster"))
        val noiseOut = v.select(col("vec_id"))
          .join(coreOut.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .join(borderOut.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .select(col("vec_id"), lit("noise").as("role"),
            lit(null).cast("long").as("cluster"))
        coreOut.unionByName(borderOut).unionByName(noiseOut)
      },
      Some(s"""WITH RECURSIVE $duckEmb,
           |dpair AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM e a JOIN e b ON a.vec_id < b.vec_id
           |  WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list_zip(a.v, b.v),
           |        dbv -> (dbv[1] - dbv[2]) * (dbv[1] - dbv[2]))),
           |      (x, y) -> x + y) <= 1.33),
           |sym AS (
           |  SELECT id_a, id_b FROM dpair
           |  UNION ALL SELECT id_b, id_a FROM dpair),
           |deg AS (
           |  SELECT e.vec_id AS id,
           |    CAST(1 + COUNT(sym.id_b) AS BIGINT) AS deg
           |  FROM e LEFT OUTER JOIN sym ON sym.id_a = e.vec_id
           |  GROUP BY 1),
           |core AS (SELECT id FROM deg WHERE deg >= 4),
           |ce AS (
           |  SELECT id_a, id_b FROM dpair
           |  WHERE id_a IN (SELECT id FROM core)
           |    AND id_b IN (SELECT id FROM core)),
           |cedges AS (
           |  SELECT id_a AS src, id_b AS dst FROM ce
           |  UNION SELECT id_b, id_a FROM ce),
           |reach(id, r) AS (
           |  SELECT src, dst FROM cedges
           |  UNION
           |  SELECT reach.id, e2.dst FROM reach JOIN cedges e2 ON e2.src = reach.r),
           |clabels AS (
           |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
           |coreout AS (
           |  SELECT core.id AS vec_id, 'core' AS role,
           |    COALESCE(clabels.cluster_id, core.id) AS cluster
           |  FROM core LEFT OUTER JOIN clabels ON clabels.id = core.id),
           |borderout AS (
           |  SELECT s.id_a AS vec_id, 'border' AS role, MIN(co.cluster) AS cluster
           |  FROM sym s
           |  JOIN coreout co ON co.vec_id = s.id_b
           |  WHERE s.id_a NOT IN (SELECT id FROM core)
           |  GROUP BY 1),
           |noiseout AS (
           |  SELECT e.vec_id, 'noise' AS role, CAST(NULL AS BIGINT) AS cluster
           |  FROM e
           |  WHERE e.vec_id NOT IN (SELECT vec_id FROM coreout)
           |    AND e.vec_id NOT IN (SELECT vec_id FROM borderout))
           |SELECT * FROM coreout
           |UNION ALL SELECT * FROM borderout
           |UNION ALL SELECT * FROM noiseout""".stripMargin),
      bench = false),

    // K-MEANS ELBOW curve: total inertia (Σ min-centroid d²) after the
    // SAME deterministic 2-iteration Lloyd training at k ∈ {2, 4, 8} — the
    // "choose k" audit that precedes every quality index the catalog
    // already has for a GIVEN labeling (silhouette q265, Davies-Bouldin
    // q338, Calinski-Harabasz q355). Each training is the q68 machinery
    // verbatim (salted-hash seeds, min_by assignment, decimal centroid
    // recompute); inertia folds decimal(38,18) over per-vector min d².
    // Scale: per k, two Lloyd passes + one assignment pass, centroids
    // always broadcast — n·k distance rows, never n².
    QueryDef(
      "q369_kmeans_elbow",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Seq(2, 4, 8).map { k =>
          val cent = Similarity.materializeCentroids(Similarity.centroidArrays(
            Similarity.kmeansCentroidsFlat(emb, col("vec_id"), col("embedding"),
              k, iters = 2)))
          Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), cent)
            .agg(Num.dsum38(col("d2")).as("inertia"),
              count(lit(1)).as("n_vectors"))
            .select(lit(k).as("k"), col("inertia"), col("n_vectors"))
        }.reduce(_.unionByName(_))
      },
      Some {
        // list_zip keeps the lambda body capture-free (only its own
        // parameter) — the duckUnigramCtes misaligned-capture hazard
        // never applies — while preserving the engine's sequential fold.
        val l2 =
          """list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(v, carr),
            |      ivd -> (ivd[1] - ivd[2]) * (ivd[1] - ivd[2]))), (x, y) -> x + y)""".stripMargin
        val arms = Seq(2, 4, 8).map { k =>
          s"""ine$k AS (
             |  SELECT $k AS k, ${Num.duckDsum38("mind2")} AS inertia,
             |    CAST(COUNT(*) AS BIGINT) AS n_vectors
             |  FROM (
             |    SELECT vec_id, MIN(d2) AS mind2 FROM (
             |      SELECT vec_id, clabel, $l2 AS d2
             |      FROM e CROSS JOIN el${k}_cent2)
             |    GROUP BY 1))""".stripMargin
        }.mkString(",\n")
        s"""WITH $duckEmb,
           |${duckKmeansCtes(k = 2, iters = 2, prefix = "el2_")},
           |${duckKmeansCtes(k = 4, iters = 2, prefix = "el4_")},
           |${duckKmeansCtes(k = 8, iters = 2, prefix = "el8_")},
           |$arms
           |SELECT * FROM ine2
           |UNION ALL SELECT * FROM ine4
           |UNION ALL SELECT * FROM ine8""".stripMargin
      }),

    // IVF-PQ at the PRODUCTION coarse-quantizer sizing — ~√N k-means cells
    // (22 ≈ √500 at the correctness scale) instead of q157's 10-cell label
    // alphabet. Cell count is THE 100 TB lever for this family: per-probe
    // posting lists stay ~N/cells, so ADC candidate volume grows with √N,
    // not linearly (BASELINE.md's round-13 scale-curve section measures the
    // effect: serve 8.54 s → 4.18 s at the 10× shard, candidate volume
    // ÷14, build-time parameter only). Same frozen-model ADC serve
    // semantics as q157; the oracle swaps the label-centroid coarse CTEs
    // for the unrolled 2-iteration k-means quantizer (the q68 machinery)
    // and replays the identical residual-PQ + probe + LUT chain.
    QueryDef(
      "q391_ivfpq_sqrtn_serve",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
          Similarity.kmeansCentroidsFlat(emb, col("vec_id"), col("embedding"),
            k = 22, iters = 2)))
        val idx = graft.ops.AnnIndex.build(emb, col("vec_id"), col("embedding"),
          coarse, dims = 64, m = 8, k = 16, iters = 1)
        val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
        graft.ops.AnnIndex.search(queries, col("vec_id"), col("embedding"), 3,
          idx, nprobe = 2)
      },
      Some(duckSqrtnServeOracle())),

    // q391 at the PRODUCTION LIFECYCLE: the √N-cell quantizer, residual
    // codebooks and cluster-partitioned posting lists are built and
    // PERSISTED once per corpus (memoized per sfDir within the JVM — the
    // "train once" half of a vector-search deployment), and the query
    // itself only READS the stored tables and serves: its plan is parquet
    // scans + the ADC chain, with ZERO k-means or encoding lineage
    // (PlanSpec pins the scan-only shape at this sizing). This separates
    // q391's in-plan quantizer training (~4.3 s of its warm time) from the
    // serve path the √N sizing exists to speed up; identical output, so
    // the oracle is q391's verbatim.
    QueryDef(
      "q393_ivfpq_persisted_sqrtn",
      (s, dir) => {
        val idx = graft.ops.AnnIndex.read(s, sqrtnIndexPath(s, dir))
        val queries = Tables.load(s, dir, "embeddings")
          .where(pmod(col("vec_id"), lit(10)) === 0)
        graft.ops.AnnIndex.search(queries, col("vec_id"), col("embedding"), 3,
          idx, nprobe = 2)
      },
      Some(duckSqrtnServeOracle())),

    // INCREMENTAL maintenance of the PERSISTED √N index (the q158
    // append==rebuild proof re-run at the production sizing AND through the
    // storage round trip): the index is built on the 6/7 base corpus at the
    // k=22 k-means quantizer, written to parquet, RE-READ (so the delta
    // encodes against the stored model bytes, not in-memory lineage), the
    // 1/7 delta is encoded against that frozen model and appended — and the
    // appended posting lists must equal a from-scratch re-encode of the
    // union under the same base-trained model, which is what the oracle
    // computes (k-means + PQ codebooks trained on base slices, every vector
    // encoded). Hash-match proves the stored-model daily-ingest path never
    // drifts from recomputation at the √N sizing.
    QueryDef(
      "q394_ivfpq_persisted_append",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val delta = emb.where(pmod(col("vec_id"), lit(7)) === 0)
        val idx = graft.ops.AnnIndex.read(s, sqrtnBaseIndexPath(s, dir))
        val appended = graft.ops.AnnIndex.append(idx,
          graft.ops.AnnIndex.encode(delta, col("vec_id"), col("embedding"), idx))
        appended.codes.select(col("vid").as("vec_id"), col("cluster"),
          posexplode(col("codes")).as(Seq("sub", "code")))
      },
      Some(s"""WITH $duckEmb,
           |eb AS (SELECT vec_id, v, nrm FROM e WHERE vec_id % 7 <> 0),
           |${duckKmeansCtes(k = 22, iters = 2, src = "eb")},
           |$duckKmeansAssignCtes,
           |resall AS (
           |  SELECT e.vec_id,
           |    list_transform(range(1, 65), rri -> e.v[rri] - c.carr[rri]) AS v
           |  FROM e JOIN sassign USING (vec_id)
           |  JOIN cent2 c ON c.clabel = sassign.cluster),
           |resbase AS (SELECT * FROM resall WHERE vec_id % 7 <> 0),
           |${duckPqCtes(m = 8, k = 16, iters = 1, dims = 64,
                src = "resall", trainSrc = Some("resbase"))}
           |SELECT pc.vec_id, b.cluster, pc.sub, pc.code
           |FROM pqcodes pc JOIN sassign b USING (vec_id)""".stripMargin)),

    // ANN index DELETE — the right-to-be-forgotten path closing the
    // lifecycle matrix for the persisted IVF-PQ family (build q393, append
    // q394, delete HERE; the q277 minhash-delete discipline): posting-list
    // rows are strictly per-vector, so removal is an exact key filter, and
    // a post-delete serve must never surface a removed vector — ranks
    // re-close over the survivors exactly as if the candidates had never
    // been in the table. The oracle replays the q391/q393 serve chain with
    // the CANDIDATE side filtered to survivors; the coarse/PQ model stays
    // frozen on BOTH sides (deleting a vector's rows does not untrain its
    // statistical contribution — that is a retrain, by design and by
    // document). Removed ids may still arrive as QUERIES (the probe side is
    // whatever arrives); only the index side forgets.
    QueryDef(
      "q396_ivfpq_index_delete",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val removed = emb.where(pmod(col("vec_id"), lit(11)) === 0)
          .select(col("vec_id").as("vid"))
        val idx = graft.ops.AnnIndex.delete(
          graft.ops.AnnIndex.read(s, sqrtnIndexPath(s, dir)), removed)
        val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
        graft.ops.AnnIndex.search(queries, col("vec_id"), col("embedding"), 3,
          idx, nprobe = 2)
      },
      Some(duckSqrtnServeOracle("\n    AND b.vec_id % 11 <> 0"))),

    // PQ RECONSTRUCTION-ERROR audit — the DECODE direction (every other ANN
    // query evaluates distances in code space; this measures what the
    // compression lost, per vector, from the STORED √N-index tables alone):
    // err = Σ_sub ‖residual slice − chosen codeword‖², the metric an index
    // operator trends across append cycles to decide when the frozen model
    // is due a retrain. The oracle replays the q391 training chain and
    // reads each vector's chosen (sub, code) distance out of the SAME
    // per-(vector, subspace, codeword) LUT the encoder argmins over —
    // reconstruction error IS the encoder's own objective at its argmin,
    // so the audit equals the training-time quantization loss exactly;
    // per-vector totals fold in fixed sub order on both engines.
    QueryDef(
      "q397_ivfpq_reconstruction_error",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val idx = graft.ops.AnnIndex.read(s, sqrtnIndexPath(s, dir))
        graft.ops.AnnIndex.reconstructionError(emb, col("vec_id"),
            col("embedding"), idx)
          .select(col("vid").as("vec_id"), col("cluster"), col("err"))
      },
      Some {
        val pivots = (0 until 8).map(i =>
          s"SUM(CASE WHEN sub = $i THEN d2 ELSE CAST(0.0 AS DOUBLE) END) AS d_$i")
          .mkString(",\n           |    ")
        val tot = (0 until 8).map(i => s"d_$i").reduce((a, x) => s"($a + $x)")
        s"""WITH $duckEmb,
           |${duckKmeansCtes(k = 22, iters = 2)},
           |$duckKmeansAssignCtes,
           |rese AS (
           |  SELECT e.vec_id,
           |    list_transform(range(1, 65), rri -> e.v[rri] - cent2.carr[rri]) AS v
           |  FROM e JOIN sassign USING (vec_id)
           |  JOIN cent2 ON cent2.clabel = sassign.cluster),
           |${duckPqCtes(m = 8, k = 16, iters = 1, dims = 64, src = "rese")},
           |chosen AS (
           |  SELECT pl.vec_id, pl.sub, pl.d2
           |  FROM pqlut pl JOIN pqcodes pc
           |    ON pc.vec_id = pl.vec_id AND pc.sub = pl.sub AND pc.code = pl.code),
           |perr AS (
           |  SELECT vec_id,
           |    $pivots
           |  FROM chosen GROUP BY 1)
           |SELECT p.vec_id, s.cluster, ($tot) AS err
           |FROM perr p JOIN sassign s ON s.vec_id = p.vec_id""".stripMargin
      }),

    // STORED delete — q396's semantics made true in the BYTES: q396
    // anti-joins the in-memory codes frame (the stored parquet still holds
    // every removed vector's rows — a right-to-be-forgotten deployment
    // cannot stop there); this leg rewrites the cluster partitions holding
    // removals (I/O bounded by those cells, never the corpus) and serves
    // from the rewritten tables alone: scan-only plan, ranks re-closed over
    // the survivors. Served through q413's snapshot delete. Same
    // survivors-only oracle as q396. AnnIndexSpec additionally asserts the
    // removed vids leave every parquet file once the old generation
    // expires, and unaffected partitions keep their original files.
    QueryDef(
      "q398_ivfpq_stored_delete",
      annSnapDelete,
      Some(duckSqrtnServeOracle("\n    AND b.vec_id % 11 <> 0"))),

    // SNAPSHOT-isolated ANN delete — the storage-truth delete under the
    // SnapTables manifest layer, carrying the FLAGSHIP family's posting
    // lists into the serve-during-rewrite guarantee: the delete appends
    // survivor files for the affected cluster partitions only and
    // atomically flips the generation pointer, so a serve resolved before
    // the maintenance window keeps its answer set while this query serves
    // the post-flip generation (SnapTablesSpec pins the isolation; the
    // model tables — centroids/codebooks — are immutable and need no
    // generations). Same survivors-only oracle as q396/q398: WHERE the
    // rewrite publishes must be invisible in WHAT serves.
    QueryDef(
      "q413_ivfpq_snapshot_delete",
      annSnapDelete,
      Some(duckSqrtnServeOracle("\n    AND b.vec_id % 11 <> 0"))),

    // SNAPSHOT STREAMED INGEST for the flagship family, the engine's one
    // streaming ingest path for the IVF-PQ index (q399 and q400 serve the
    // same table): each micro-batch's frozen-model encode publishes
    // DIRECTLY into the cluster-partitioned codes snapshot as one atomic
    // generation (Pipelines.snapshotIngest → SnapTables.appendBatch), so
    // the serve is always ONE resolve() over the cluster layout: no
    // stored ∪ delta union, no partition-pruning loss on a delta side, no
    // compaction PREREQUISITE for a correct serve
    // (SnapTables.compactPartitions folds the per-batch file accretion
    // afterwards as a content-invariant generation), and a reader holds
    // its generation through every batch.
    // Exactly-once rides the manifest's #batch high-water mark
    // (SnapTablesSpec). Oracle: the base-trained full-candidate chain —
    // streamed snapshot ingest must equal the batch rebuild through the
    // whole probe + LUT + ADC funnel.
    QueryDef(
      "q420_ann_snapshot_stream_ingest",
      annStreamSnapServe,
      Some(duckSqrtnServeOracle(trainOnBase = true))),

    // COMPACTED serve — the streaming-maintenance follow-through: a
    // streamed ingest accretes small per-batch files, and the compacted
    // table must serve the q393 scan-only + DPP shape over the WHOLE corpus
    // (PlanSpec pins it). Model trained on the 6/7 base (q394's split);
    // delta = the 1/7 ingest, encoded frozen over two micro-batches, then
    // compacted. Served through q420's streamed snapshot ingest, which
    // compacts with SnapTables.compactPartitions. Oracle: the q391 serve
    // chain with base-trained model over full candidates, identical to
    // q400's and q420's: compacting the streamed files must not change
    // what serves.
    QueryDef(
      "q399_ivfpq_compacted_serve",
      annStreamSnapServe,
      Some(duckSqrtnServeOracle(trainOnBase = true))),

    // RETRAIN TRIGGER — the operational decision q397's metric exists for:
    // under a FROZEN base-trained model (6/7 split), drifted ingest encodes
    // with growing reconstruction error; this audits the compacted index
    // (base + frozen-encoded delta in one stored table — q420's streamed
    // snapshot, the table q399 serves), splits the per-vector errors into
    // base/delta cohorts, and emits per-cohort
    // coverage (n_indexed vs n_audited — the audit silently EXCLUDES
    // corrupt-coded vectors, so shrinkage is itself a signal) plus exact
    // nearest-rank p50/p90 error quantiles (the q153 recipe per cohort) and
    // the verdict: retrain_due ⇔ the cohort's median error exceeds the base
    // cohort's p90 — the q390/q263 gate pattern applied to index health.
    // Scale: the q397 decode pass + one cohort-keyed rank window over
    // per-vector scalars; the verdict bound is a 1-row broadcast.
    QueryDef(
      "q401_ivfpq_retrain_trigger",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val emb = Tables.load(s, dir, "embeddings")
        val idx = annSnapIndex(s, annStreamSnapPath(s, dir))
        val cohortOf = (vid: org.apache.spark.sql.Column) =>
          when(pmod(vid, lit(7)) === 0, lit("delta")).otherwise(lit("base"))
        val ranked = graft.ops.AnnIndex
          .reconstructionError(emb, col("vec_id"), col("embedding"), idx)
          .withColumn("cohort", cohortOf(col("vid")))
          .withColumn("rnk", row_number().over(
            W.partitionBy(col("cohort")).orderBy(col("err").asc, col("vid").asc)))
          .withColumn("n", count(lit(1)).over(W.partitionBy(col("cohort"))))
        val perCohort = ranked.groupBy(col("cohort")).agg(
          max(col("n")).as("n_audited"),
          // nearest-rank ceil via the portable add-99 form (q153)
          min(when(col("rnk") === expr("(50 * n + 99) div 100"), col("err")))
            .as("p50_err"),
          min(when(col("rnk") === expr("(90 * n + 99) div 100"), col("err")))
            .as("p90_err"))
        val indexed = idx.codes
          .groupBy(cohortOf(col("vid")).as("cohort"))
          .agg(count(lit(1)).as("n_indexed"))
        val bound = perCohort.where(col("cohort") === "base")
          .select(col("p90_err").as("base_p90"))
        perCohort.join(indexed, "cohort")
          .crossJoin(broadcast(bound))
          .select(col("cohort"), col("n_indexed"), col("n_audited"),
            col("p50_err"), col("p90_err"),
            (col("p50_err") > col("base_p90")).as("retrain_due"))
      },
      Some {
        val pivots = (0 until 8).map(i =>
          s"SUM(CASE WHEN sub = $i THEN d2 ELSE CAST(0.0 AS DOUBLE) END) AS d_$i")
          .mkString(",\n           |    ")
        val tot = (0 until 8).map(i => s"d_$i").reduce((a, x) => s"($a + $x)")
        s"""WITH ${duckSqrtnTrainCtes(trainOnBase = true)},
           |chosen AS (
           |  SELECT pl.vec_id, pl.sub, pl.d2
           |  FROM pqlut pl JOIN pqcodes pc
           |    ON pc.vec_id = pl.vec_id AND pc.sub = pl.sub AND pc.code = pl.code),
           |perr AS (
           |  SELECT vec_id,
           |    $pivots
           |  FROM chosen GROUP BY 1),
           |errs AS (
           |  SELECT vec_id, ($tot) AS err,
           |    CASE WHEN vec_id % 7 = 0 THEN 'delta' ELSE 'base' END AS cohort
           |  FROM perr),
           |ranked AS (
           |  SELECT cohort, err,
           |    row_number() OVER (PARTITION BY cohort ORDER BY err, vec_id) AS rnk,
           |    COUNT(*) OVER (PARTITION BY cohort) AS n
           |  FROM errs),
           |perc AS (
           |  SELECT cohort, CAST(MAX(n) AS BIGINT) AS n_audited,
           |    MIN(CASE WHEN rnk = (50 * n + 99) // 100 THEN err END) AS p50_err,
           |    MIN(CASE WHEN rnk = (90 * n + 99) // 100 THEN err END) AS p90_err
           |  FROM ranked GROUP BY 1),
           |idxn AS (
           |  SELECT CASE WHEN vec_id % 7 = 0 THEN 'delta' ELSE 'base' END AS cohort,
           |    CAST(COUNT(*) AS BIGINT) AS n_indexed
           |  FROM errs GROUP BY 1),
           |bb AS (SELECT p90_err AS base_p90 FROM perc WHERE cohort = 'base')
           |SELECT perc.cohort, n_indexed, n_audited, p50_err, p90_err,
           |  (p50_err > base_p90) AS retrain_due
           |FROM perc JOIN idxn USING (cohort) CROSS JOIN bb""".stripMargin
      }),

    // NPROBE-RECALL audit from the STORED index — the q233 (binary-quant
    // recall) discipline applied to the persisted √N IVF-PQ family: serve
    // top-3 at nprobe ∈ {1, 2, 4} from the stored tables alone and score
    // each arm against the exact-L2 top-3 truth set. This is the dial an
    // index operator reads before fixing a serving nprobe: recall is
    // monotone in probes (CatalogSpec asserts it on this row) while serve
    // cost grows linearly with candidate volume, and the answer comes from
    // the STORED model — no retraining to evaluate a config. The exact
    // side is the quadratic truth oracle, so the row is quarantined
    // bench=false (the q61/q147 stance); the scalable members are the
    // serve arms themselves (q393). Engine and oracle compute the same
    // sequential L2² folds, so hit sets match bit-exactly.
    QueryDef(
      "q402_ivfpq_nprobe_recall",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val emb = Tables.load(s, dir, "embeddings")
        val idx = graft.ops.AnnIndex.read(s, sqrtnIndexPath(s, dir))
        val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
        val nQ = queries.count() // 1-row bounded transfer (the q395 recipe)
        // exact-L2 top-3 truth set (self-excluded), shared by all arms
        val exact = queries
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
          .join(emb.select(col("vec_id").as("neighbor_id"),
            transform(col("embedding"), x => x.cast("double")).as("nv")),
            col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            Similarity.l2sq(col("qv"), col("nv")).as("d2"))
          .withColumn("rk", row_number().over(W.partitionBy(col("query_id"))
            .orderBy(col("d2").asc, col("neighbor_id").asc)))
          .where(col("rk") <= 3)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint()
        Seq(1, 2, 4).map { np =>
          graft.ops.AnnIndex.search(queries, col("vec_id"), col("embedding"),
              3, idx, nprobe = np)
            .select(col("query_id"), col("neighbor_id"))
            .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).as("n_hits"))
            .select(lit(np).as("nprobe"), lit(nQ).as("n_queries"),
              col("n_hits"),
              (col("n_hits").cast("double") / (lit(3.0) * lit(nQ.toDouble)))
                .as("recall"))
        }.reduce(_.unionByName(_))
      },
      Some {
        val arms = Seq(1, 2, 4)
          .map(np => duckServeArmCtes(np, k = 3, pfx = s"p${np}_"))
          .mkString(",\n")
        val recalls = Seq(1, 2, 4).map(np =>
          s"""SELECT $np AS nprobe, (SELECT n FROM nq) AS n_queries,
             |  CAST(COUNT(*) AS BIGINT) AS n_hits,
             |  CAST(COUNT(*) AS DOUBLE) / (3.0 * (SELECT n FROM nq)) AS recall
             |FROM p${np}_topk t
             |JOIN ex ON ex.query_id = t.query_id
             |  AND ex.neighbor_id = t.neighbor_id""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH ${duckSqrtnTrainCtes(trainOnBase = false)},
           |$arms,
           |ex AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
           |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |          list_transform(list_zip(a.v, b.v),
           |            exp -> (exp[1] - exp[2]) * (exp[1] - exp[2]))),
           |          (x, y) -> x + y) ASC, b.vec_id ASC) AS rk
           |    FROM e a JOIN e b ON a.vec_id % 10 = 0 AND b.vec_id <> a.vec_id)
           |  WHERE rk <= 3),
           |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e WHERE vec_id % 10 = 0)
           |$recalls""".stripMargin
      },
      bench = false)
  )

  /** Once-per-JVM persisted IVF-PQ index per (tag, sfDir): build + write on
    * first access, scan-only reads afterwards — the production "train once,
    * store, serve many" lifecycle made literal in the harness (warm bench
    * runs of q393 measure the SERVE path; only the cold run pays training).
    * Deterministic builds make the memoization correctness-neutral; the
    * tables live under the [[graft.Scratch]] root (deleted at JVM exit).
    */
  private val persistedIdxPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // per-key setup locks: a parallel harness (Verify's round-18 worker
  // pool) must not run the SAME expensive setup twice concurrently.
  // Nested setups (deleted→full, lifecycle→base) always nest onto a
  // DIFFERENT key and the nesting relation is a DAG, so per-key monitors
  // cannot deadlock; same-key recursion does not occur by construction.
  private val setupLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Once-per-JVM memoized scratch path per (tag, sfDir): `setup` runs on
    * first access only (build+write an index, run a maintenance stream,
    * compact — whatever the tag's lifecycle leg is), scan-only reads
    * afterwards. Deterministic setups make the memoization
    * correctness-neutral.
    */
  private[queries] def memoPath(tag: String, dir: String)(
      setup: String => Unit): String = {
    val key = s"$tag|$dir"
    val cur = persistedIdxPaths.get(key)
    if (cur != null) return cur
    // setup runs under a PER-KEY monitor, NOT map-level computeIfAbsent:
    // setups nest (annsnap→full, annstreamsnap/lifecycle→base index), and
    // ConcurrentHashMap.computeIfAbsent forbids recursive updates of the
    // same map (IllegalStateException when the nested key lands in the
    // in-progress bin). The per-key lock keeps Verify's parallel workers
    // from running one expensive setup twice; the second-check inside the
    // monitor makes the loser reuse the winner's path.
    setupLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = persistedIdxPaths.get(key)
      if (again != null) return again
      val p = graft.Scratch.dir(s"graft-ivfpq-$tag")
      setup(p)
      persistedIdxPaths.put(key, p)
      p
    }
  }

  /** Once-per-JVM memoized SHARED build frame: when a frame is read more
    * than once by setup legs (the stored and snapshot BQ legs encode the
    * same corpus; the winnow fingerprints feed both the fp table and its df
    * side table), `build` materializes to scratch parquet on first access
    * and every consumer reads it back scan-only — the corpus is
    * tokenized/hashed once per JVM instead of once per leg (optimization
    * guide §2.4: remove duplicated passes), and the consumers' downstream
    * plans shrink to parquet scans. Same determinism contract as
    * [[memoPath]]; on disk (never a cached RDD), so the bench's
    * inter-query block-manager sweep cannot invalidate it.
    */
  private[queries] def memoFrame(tag: String, dir: String,
      s: org.apache.spark.sql.SparkSession)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    s.read.parquet(memoPath(s"frame-$tag", dir) { p =>
      build.write.mode("overwrite").parquet(p)
    })

  private def persistedIndexPath(tag: String, dir: String)(
      build: => graft.ops.IvfPqIndex): String =
    memoPath(tag, dir)(p => graft.ops.AnnIndex.write(build, p))

  // Shared BQ master build (memoFrame): the stored serve (q410) and the
  // snapshot delete (q432) encode the same corpus against the same
  // full-corpus thresholds — encode once per JVM, publish twice.

  private def bqThrFull(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    memoFrame("bqthrfull", dir, s) {
      graft.ops.BinaryQuant.thresholds(
        Tables.load(s, dir, "embeddings"), col("embedding"))
    }

  private def bqRowsFull(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    memoFrame("bqrowsfull", dir, s) {
      graft.ops.BinaryQuant.indexRows(Tables.load(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), bqThrFull(s, dir), numPlanes = 8)
    }

  /** The q410 stored BQ index: full-corpus thresholds + codes at q227's
    * sizing (numPlanes = 8), persisted — from the shared master build.
    */
  private def bqIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    memoPath("bqfull", dir) { p =>
      graft.ops.BinaryQuant.writeFrames(bqThrFull(s, dir),
        bqRowsFull(s, dir), p)
    }

  /** q432: full-corpus BQ index published through SnapTables, %11 removal
    * as a snapshot key-filter; the frozen thresholds stay plain parquet
    * (never mutated — deletion must not retrain). Same shared master
    * build as q410.
    */
  private def bqSnapDelPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    memoPath("bqsnapdel", dir) { p =>
      val emb = Tables.load(s, dir, "embeddings")
      bqThrFull(s, dir).write.mode("overwrite").parquet(s"$p/thr")
      graft.ops.SnapTables.publishInitial(s, s"$p/index", "bb",
        bqRowsFull(s, dir))
      graft.ops.SnapTables.deleteByKey(s, s"$p/index", "bb", "vid",
        emb.where(pmod(col("vec_id"), lit(11)) === 0)
          .select(col("vec_id").as("vid")))
      ()
    }

  /** q411/q433: thresholds trained on the 6/7 base and stored frozen; the
    * base index, coded against the RE-READ stored model, published as
    * gen 0, and the 1/7 delta coded the same way and appended as gen 1.
    */
  private def bqSnapAddPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    memoPath("bqsnapadd", dir) { p =>
      val emb = Tables.load(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(7)) === 0
      graft.ops.BinaryQuant.thresholds(emb.where(!isDelta), col("embedding"))
        .write.mode("overwrite").parquet(s"$p/thr")
      def rows(part: org.apache.spark.sql.DataFrame) =
        graft.ops.BinaryQuant.indexRows(part, col("vec_id"), col("embedding"),
          graft.ops.BinaryQuant.readThresholds(s, p), numPlanes = 8)
      graft.ops.SnapTables.publishInitial(s, s"$p/index", "bb",
        rows(emb.where(!isDelta)))
      graft.ops.SnapTables.appendPartitions(s, s"$p/index", "bb",
        rows(emb.where(isDelta)))
      ()
    }

  /** The q227 funnel served from the q433 snapshot (q411 and q433). */
  private def bqSnapAppend(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val p = bqSnapAddPath(s, dir)
    graft.ops.BinaryQuant.serveFrames(s,
      graft.ops.BinaryQuant.readThresholds(s, p),
      graft.ops.SnapTables.resolve(s, s"$p/index", "bb"),
      emb, col("vec_id"), col("embedding"),
      emb, col("vec_id"), col("embedding"),
      k = 5, screenR = 20, numPlanes = 8)
  }

  /** The full-corpus √N-cell (k=22, iters=2) coarse quantizer the q393 and
    * q435 persisted indexes both train — byte-identical between them (same
    * corpus, same sizing, deterministic k-means), so it is one shared
    * materialized build (memoFrame): the two-iteration corpus k-means runs
    * once per JVM instead of once per index.
    */
  private def annCoarseFull(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    memoFrame("anncoarsefull", dir, s) {
      Similarity.materializeCentroids(Similarity.centroidArrays(
        Similarity.kmeansCentroidsFlat(Tables.load(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), k = 22, iters = 2)))
    }

  /** The q393 stored index: full corpus, √N-cell (k=22) k-means coarse
    * quantizer — q391's exact model, persisted.
    */
  private def sqrtnIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    persistedIndexPath("full", dir) {
      graft.ops.AnnIndex.build(Tables.load(s, dir, "embeddings"),
        col("vec_id"), col("embedding"),
        annCoarseFull(s, dir), dims = 64, m = 8, k = 16, iters = 1)
    }

  /** The q435 stored index: the q393 corpus and quantizer with the PQ
    * codebooks trained at 64 codewords per subspace — the recall dial's
    * persisted arm. Shares the coarse quantizer build with q393's setup.
    */
  private def sqrtnK64IndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    persistedIndexPath("fullk64", dir) {
      graft.ops.AnnIndex.build(Tables.load(s, dir, "embeddings"),
        col("vec_id"), col("embedding"),
        annCoarseFull(s, dir), dims = 64, m = 8, k = 64, iters = 1)
    }

  /** The q394 stored index: trained and encoded on the 6/7 base corpus only
    * (vec_id % 7 != 0) at the same √N sizing — the frozen model the delta
    * ingest encodes against.
    */
  private def sqrtnBaseIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    persistedIndexPath("base", dir) {
      val emb = Tables.load(s, dir, "embeddings")
      val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
      val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
        Similarity.kmeansCentroidsFlat(base, col("vec_id"), col("embedding"),
          k = 22, iters = 2)))
      graft.ops.AnnIndex.build(base, col("vec_id"), col("embedding"),
        coarse, dims = 64, m = 8, k = 16, iters = 1)
    }

  /** The q398/q413 snapshot index: the q391 model tables copied as-is
    * (immutable under delete), the codes table PUBLISHED through the
    * [[graft.ops.SnapTables]] manifest layer, and the %11 removal rewritten
    * as a snapshot-isolated generation flip.
    */
  private def snapshotIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    memoPath("annsnap", dir) { p =>
      val idx = graft.ops.AnnIndex.read(s, sqrtnIndexPath(s, dir))
      idx.centroids.write.mode("overwrite").parquet(s"$p/centroids")
      idx.codebooks.write.mode("overwrite").parquet(s"$p/codebooks")
      graft.ops.SnapTables.publishInitial(s, s"$p/codes", "cluster", idx.codes)
      graft.ops.SnapTables.deleteByKey(s, s"$p/codes", "cluster", "vid",
        Tables.load(s, dir, "embeddings")
          .where(pmod(col("vec_id"), lit(11)) === 0)
          .select(col("vec_id").as("vid")))
      ()
    }

  /** The q399/q400/q401/q420 snapshot index. */
  private def annStreamSnapPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    memoPath("annstreamsnap", dir)(publishStreamedAnnSnap(s, dir, _))

  /** Publish the streamed-ingest ANN snapshot under `p`: the FROZEN
    * 6/7-trained model tables cloned as-is, the base codes published as
    * gen 0 of a cluster-partitioned snapshot, the 1/7 delta streamed
    * through [[graft.streaming.Pipelines.snapshotIngest]] (2 source files →
    * 2 real micro-batches, each encoded frozen inside `foreachBatch` and
    * published as one generation), then the per-batch file accretion
    * folded by [[graft.ops.SnapTables.compactPartitions]]. Shared by the
    * q399/q400/q401/q420 table and the q403 lifecycle table, which deletes
    * on top of it.
    */
  private[queries] def publishStreamedAnnSnap(
      s: org.apache.spark.sql.SparkSession, dir: String, p: String): Unit = {
    val base = graft.ops.AnnIndex.read(s, sqrtnBaseIndexPath(s, dir))
    base.centroids.write.mode("overwrite").parquet(s"$p/centroids")
    base.codebooks.write.mode("overwrite").parquet(s"$p/codebooks")
    graft.ops.SnapTables.publishInitial(s, s"$p/codes", "cluster", base.codes)
    val srcDir = graft.Scratch.dir("graft-ann-snap-src")
    Tables.load(s, dir, "embeddings")
      .where(pmod(col("vec_id"), lit(7)) === 0)
      .select(col("vec_id"), col("embedding"))
      .repartition(2).write.mode("overwrite").parquet(srcDir)
    // the model rides FROZEN in the foreachBatch closure, so a mid-stream
    // retrain is structurally impossible (retrain = a new build and a new
    // stream); codes=null: encode never touches them
    val frozen = base.copy(codes = null)
    graft.streaming.Pipelines.snapshotIngest(
      s.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      s"$p/codes", "cluster",
      checkpointPath = graft.Scratch.dir("graft-ann-snap-ckpt"),
      xform = b => graft.ops.AnnIndex.encode(b, col("vec_id"),
        col("embedding"), frozen))
      .awaitTermination()
    graft.ops.SnapTables.compactPartitions(s, s"$p/codes", "cluster")
  }

  /** An [[graft.ops.IvfPqIndex]] over a snapshot-published index at `p`:
    * the model tables as plain parquet (immutable), the codes as the
    * current generation of the cluster-partitioned snapshot.
    */
  private def annSnapIndex(s: org.apache.spark.sql.SparkSession,
      p: String): graft.ops.IvfPqIndex =
    graft.ops.IvfPqIndex(
      centroids = s.read.parquet(s"$p/centroids"),
      codebooks = s.read.parquet(s"$p/codebooks"),
      codes = graft.ops.SnapTables.resolve(s, s"$p/codes", "cluster")
        .select(col("vid"), col("cluster"), col("codes")),
      dims = 64, m = 8, codewords = 16)

  /** The √N serve (every 10th vector probes for its top-3 at nprobe = 2)
    * over the snapshot-published index at `p`.
    */
  private[queries] def annSnapServe(s: org.apache.spark.sql.SparkSession,
      dir: String, p: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    graft.ops.AnnIndex.search(queries, col("vec_id"), col("embedding"), 3,
      annSnapIndex(s, p), nprobe = 2)
  }

  private def annSnapDelete(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    annSnapServe(s, dir, snapshotIndexPath(s, dir))

  private[queries] def annStreamSnapServe(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    annSnapServe(s, dir, annStreamSnapPath(s, dir))

  /** The shared √N serve oracle: unrolled k=22/2-iteration k-means
    * coarse quantizer, residual PQ, probe + LUT + ADC chain — identical
    * math for the in-plan build (q391) and the persisted serve (q393),
    * because the stored tables ARE the build's outputs. `candFilter` is an
    * extra predicate on the candidate (posting-list) side — the delete
    * legs' survivors-only replay (q396, q398, q413, q403). `trainOnBase`
    * selects the frozen-model training split of the streamed-ingest legs
    * (q399, q400, q420, q403), which all serve a snapshot fed by
    * [[graft.streaming.Pipelines.snapshotIngest]].
    */
  private[queries] def duckSqrtnServeOracle(candFilter: String = "",
      trainOnBase: Boolean = false, pqK: Int = 16): String =
    s"""WITH ${duckSqrtnTrainCtes(trainOnBase, pqK)},
       |${duckServeArmCtes(nprobe = 2, k = 3, pfx = "", candFilter)}
       |SELECT query_id, neighbor_id, adc, rank FROM topk""".stripMargin

  /** The shared TRAINING half of the √N serve oracles: double-cast vectors,
    * the k=22/2-iteration k-means quantizer, assignment of EVERY vector
    * (`sassign`/`sdist`), residuals, and the residual-PQ tables
    * (`pqcodes`/`pqlut`/`pq<sub>_cent1`). trainOnBase: the frozen-model
    * lifecycle legs (q399, q400, q420 streamed snapshot serve, q403)
    * train quantizer and codebooks on the 6/7 base split ONLY (q394's
    * recipe) while assignment/encoding/serving still cover every vector —
    * the oracle twin of "stored base index + ingested delta".
    */
  private def duckSqrtnTrainCtes(trainOnBase: Boolean,
      pqK: Int = 16): String = {
    val trainCtes =
      if (trainOnBase)
        s"""eb AS (SELECT vec_id, v, nrm FROM e WHERE vec_id % 7 <> 0),
           |${duckKmeansCtes(k = 22, iters = 2, src = "eb")}""".stripMargin
      else duckKmeansCtes(k = 22, iters = 2)
    val pqCtes =
      if (trainOnBase)
        s"""resbase AS (SELECT * FROM rese WHERE vec_id % 7 <> 0),
           |${duckPqCtes(m = 8, k = pqK, iters = 1, dims = 64, src = "rese",
              trainSrc = Some("resbase"))}""".stripMargin
      else duckPqCtes(m = 8, k = pqK, iters = 1, dims = 64, src = "rese")
    s"""$duckEmb,
       |$trainCtes,
       |$duckKmeansAssignCtes,
       |rese AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, 65), rri -> e.v[rri] - cent2.carr[rri]) AS v
       |  FROM e JOIN sassign USING (vec_id)
       |  JOIN cent2 ON cent2.clabel = sassign.cluster),
       |$pqCtes""".stripMargin
  }

  /** One ADC serve arm over [[duckSqrtnTrainCtes]]: probe the `nprobe`
    * nearest cells per %10 query, build the per-(query, cell) LUT, pivot
    * per-pair subspace distances in fixed order, cut at rank <= `k`. Every
    * CTE name carries `pfx` so several arms coexist in ONE statement (the
    * q402 nprobe-recall audit); ends in
    * `${pfx}topk(query_id, neighbor_id, adc, rank)`.
    */
  private def duckServeArmCtes(nprobe: Int, k: Int, pfx: String,
      candFilter: String = ""): String = {
    val sd = 8
    val qlutUnion = (0 until 8).map { s =>
      val lo = s * sd + 1
      val hi = s * sd + sd
      s"""SELECT vec_id, cluster, $s AS sub, clabel AS code,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $sd + 1),
         |      qld -> (sv[qld] - carr[qld]) * (sv[qld] - carr[qld]))), (x, y) -> x + y) AS d2
         |  FROM (SELECT vec_id, cluster, v[$lo:$hi] AS sv FROM ${pfx}qres) CROSS JOIN pq${s}_cent1""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val pivots = (0 until 8).map(i =>
      s"SUM(CASE WHEN pc.sub = $i THEN l.d2 ELSE CAST(0.0 AS DOUBLE) END) AS d_$i")
      .mkString(",\n           |      ")
    val score = (0 until 8).map(i => s"d_$i").reduce((a, x) => s"($a + $x)")
    s"""${pfx}probes AS (
       |  SELECT vec_id, clabel AS cluster FROM (
       |    SELECT vec_id, clabel,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |    FROM sdist WHERE vec_id % 10 = 0)
       |  WHERE rn <= $nprobe),
       |${pfx}qres AS (
       |  SELECT p.vec_id, p.cluster,
       |    list_transform(range(1, 65), qri -> e.v[qri] - c.carr[qri]) AS v
       |  FROM ${pfx}probes p JOIN e ON e.vec_id = p.vec_id
       |  JOIN cent2 c ON c.clabel = p.cluster),
       |${pfx}qlut AS (
       |  $qlutUnion),
       |${pfx}pairsubs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      $pivots
       |  FROM ${pfx}probes a
       |  JOIN sassign b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id$candFilter
       |  JOIN pqcodes pc ON pc.vec_id = b.vec_id
       |  JOIN ${pfx}qlut l ON l.vec_id = a.vec_id AND l.cluster = a.cluster
       |    AND l.sub = pc.sub AND l.code = pc.code
       |  GROUP BY 1, 2),
       |${pfx}topk AS (
       |  SELECT query_id, neighbor_id, adc, rank FROM (
       |    SELECT query_id, neighbor_id, $score AS adc,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY $score ASC, neighbor_id ASC) AS rank
       |    FROM ${pfx}pairsubs)
       |  WHERE rank <= $k)""".stripMargin
  }

  /** One complete DuckDB statement (own WITH chain) replaying the q227
    * funnel at `planes` hyperplanes and histogramming its recall against
    * the exact L2 top-5 — the per-config unit of the q233 UNION.
    */
  private def duckBqRecallChain(planes: Int): String =
    s"""WITH $duckBqCtes,
       |b AS (SELECT vec_id, v, ${duckBucketExpr(0, planes)} AS bucket FROM e),
       |cand AS (
       |  SELECT a.vec_id AS query_id, nb.vec_id AS neighbor_id,
       |    bit_count(xor(qc.lo, nc.lo)) + bit_count(xor(qc.hi, nc.hi)) AS hamming
       |  FROM b a JOIN b nb ON a.bucket = nb.bucket AND a.vec_id <> nb.vec_id
       |  JOIN bqc qc ON qc.vec_id = a.vec_id
       |  JOIN bqc nc ON nc.vec_id = nb.vec_id),
       |scr AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming ASC, neighbor_id ASC) AS hrank
       |  FROM cand),
       |rr AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65),
       |      bqi -> (qv.v[bqi] - nv.v[bqi]) * (qv.v[bqi] - nv.v[bqi]))),
       |      (x, y) -> x + y) AS l2_dist
       |  FROM scr s
       |  JOIN e qv ON qv.vec_id = s.query_id
       |  JOIN e nv ON nv.vec_id = s.neighbor_id
       |  WHERE s.hrank <= 20),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY l2_dist ASC, neighbor_id ASC) AS rank
       |    FROM rr)
       |  WHERE rank <= 5),
       |ex AS (
       |  SELECT a.vec_id AS query_id, nb.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65),
       |        bqe -> (a.v[bqe] - nb.v[bqe]) * (a.v[bqe] - nb.v[bqe]))),
       |        (x, y) -> x + y) ASC, nb.vec_id ASC) AS rk
       |  FROM e a JOIN e nb ON a.vec_id <> nb.vec_id),
       |hits AS (
       |  SELECT x.query_id,
       |    CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits
       |  FROM (SELECT query_id, neighbor_id FROM ex WHERE rk <= 5) x
       |  LEFT JOIN approx ap
       |    ON ap.query_id = x.query_id AND ap.neighbor_id = x.neighbor_id
       |  GROUP BY 1)
       |SELECT n_hits, CAST(COUNT(*) AS BIGINT) AS n_queries
       |FROM hits GROUP BY 1""".stripMargin

  /** DuckDB CTEs shared by the binary-quantization oracles: double-cast
    * vectors `e`, per-dimension decimal-exact mean thresholds `mus` (one
    * list row), and packed codes `bqc(vec_id, lo, hi)` — each word a static
    * sum of 32 literal-weighted sign tests, the twin of
    * `BinaryQuant.encode`.
    */
  private def duckBqCtes: String = duckBqCtesFrom("embeddings")

  /** The complete three-stage BQ funnel oracle (LSH candidates → Hamming
    * screen top-20 → exact-L2 rerank top-5), thresholds trained on
    * `musSrc` — ONE chain serving q227 (in-plan, full-corpus model), q410
    * (the same model persisted and served from storage — where the tables
    * live must not change what serves) and q411 (frozen base-trained model,
    * delta appended into the stored bytes).
    */
  /** `nbFilter` restricts the INDEX side of the funnel (candidates and
    * codes) while probes stay the full corpus — the snapshot-delete leg's
    * semantics (q432: the %11 removal left the stored index, so no removed
    * vector may ever appear as a neighbor).
    */
  private def duckBqFunnelOracle(musSrc: String = "embeddings",
      nbFilter: String = ""): String =
    s"""WITH ${duckBqCtesFrom(musSrc)},
       |b AS (SELECT vec_id, v, ${duckBucketExpr(0, 8)} AS bucket FROM e),
       |nbs AS (SELECT * FROM b$nbFilter),
       |cand AS (
       |  SELECT a.vec_id AS query_id, nb.vec_id AS neighbor_id,
       |    CAST(bit_count(xor(qc.lo, nc.lo))
       |      + bit_count(xor(qc.hi, nc.hi)) AS INTEGER) AS hamming
       |  FROM b a JOIN nbs nb ON a.bucket = nb.bucket AND a.vec_id <> nb.vec_id
       |  JOIN bqc qc ON qc.vec_id = a.vec_id
       |  JOIN bqc nc ON nc.vec_id = nb.vec_id),
       |scr AS (
       |  SELECT query_id, neighbor_id, hamming,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming ASC, neighbor_id ASC) AS hrank
       |  FROM cand),
       |rr AS (
       |  SELECT s.query_id, s.neighbor_id, s.hamming,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65),
       |      bqi -> (qv.v[bqi] - nv.v[bqi]) * (qv.v[bqi] - nv.v[bqi]))),
       |      (x, y) -> x + y) AS l2_dist
       |  FROM scr s
       |  JOIN e qv ON qv.vec_id = s.query_id
       |  JOIN e nv ON nv.vec_id = s.neighbor_id
       |  WHERE s.hrank <= 20)
       |SELECT query_id, neighbor_id, hamming, l2_dist, rank FROM (
       |  SELECT query_id, neighbor_id, hamming, l2_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY l2_dist ASC, neighbor_id ASC) AS rank
       |  FROM rr)
       |WHERE rank <= 5""".stripMargin

  /** Same chain with the mean thresholds trained on `musSrc` only — the
    * frozen-model variant (q246 trains on the id-prefix, codes everything).
    */
  private def duckBqCtesFrom(musSrc: String): String = {
    def word(base: Int) = (0 until 32)
      .map(d => s"(CASE WHEN v[${base + d + 1}] > mus[${base + d + 1}] THEN ${1L << d} ELSE 0 END)")
      .mkString(" + ")
    s"""$duckEmb,
       |muf AS (
       |  SELECT i - 1 AS dim,
       |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
       |      / COUNT(*) AS mu
       |  FROM $musSrc CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
       |  GROUP BY 1),
       |mus AS (SELECT list(mu ORDER BY dim) AS mus FROM muf),
       |bqc AS (
       |  SELECT vec_id, CAST(${word(0)} AS BIGINT) AS lo,
       |    CAST(${word(32)} AS BIGINT) AS hi
       |  FROM e CROSS JOIN mus)""".stripMargin
  }

  /** DuckDB CTEs shared by the SQ8 oracles: double-cast vectors and the
    * per-dimension (mins, spans) quantization ranges as one row.
    */
  private def duckSq8Ctes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |st AS (
      |  SELECT list(mn ORDER BY d) AS mins, list(mx - mn ORDER BY d) AS spans
      |  FROM (SELECT d, MIN(x) AS mn, MAX(x) AS mx
      |        FROM (SELECT i - 1 AS d, v[i] AS x
      |              FROM e, unnest(range(1, 65)) AS u(i))
      |        GROUP BY d))""".stripMargin

  /** [[duckPcaCtes]] extended with the pc1 array and per-vector projections
    * (dim-ascending folds) — shared by q114 (outliers) and q116 (drift).
    */
  private def duckPcaProjCtes: String =
    s"""$duckPcaCtes,
       |pc AS MATERIALIZED (SELECT list(vv ORDER BY j) AS pc FROM v10),
       |proj AS MATERIALIZED (
       |  SELECT vec_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(1, 65),
       |      pi -> CAST(embedding[pi] AS DOUBLE) * pc[pi])),
       |    (fa, fb) -> fa + fb) AS proj
       |  FROM embeddings CROSS JOIN pc)""".stripMargin

  /** Order-fixed double-fold fragment (sum of `expr` in `order` order). */
  private def duckFold(expr: String, order: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list($expr ORDER BY $order)), (fa, fb) -> fa + fb)"

  /** DuckDB CTE chain for the PCA model over `embeddings`: decimal-exact
    * covariance `cov`, per-dim means `mu`, and 10 power-iteration steps
    * ending at `v10`. AS MATERIALIZED is load-bearing: each v_t references
    * y_t twice, so DuckDB's default CTE inlining would expand the chain
    * exponentially (thousands of parquet re-scans → fd exhaustion). Shared
    * by q112 (model output) and q114 (projection outliers).
    */
  /** 10 unrolled power-iteration CTE triples over covariance CTE `cov`,
    * names prefixed `p` (chain start: `${p}v0`) — lets the deflated second
    * chain coexist with the first.
    */
  private def duckPowerSteps(cov: String, p: String): String =
    (1 to 10).map { t =>
      s"""${p}y$t AS MATERIALIZED (
         |  SELECT c.j, ${duckFold("c.c * v.vv", "c.k")} AS y
         |  FROM $cov c JOIN ${p}v${t - 1} v ON v.j = c.k GROUP BY c.j),
         |${p}n$t AS MATERIALIZED (SELECT sqrt(${duckFold("y * y", "j")}) AS nrm FROM ${p}y$t),
         |${p}v$t AS MATERIALIZED (SELECT j, y / nrm AS vv FROM ${p}y$t CROSS JOIN ${p}n$t)""".stripMargin
    }.mkString(",\n")

  /** Uniform 1/√d start vector CTE. */
  private def duckUniformV(name: String): String =
    s"""$name AS MATERIALIZED (SELECT unnest(range(1, 65)) AS j,
       |       CAST(1 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE)) AS vv)""".stripMargin

  private def duckPcaCtes: String = {
    val steps = duckPowerSteps("cov", "")
    s"""e AS MATERIALIZED (SELECT embedding AS v FROM embeddings),
       |tri AS (
       |  SELECT j, k,
       |    ${Num.duckDsum38("CAST(v[j] AS DOUBLE) * CAST(v[k] AS DOUBLE)")} AS s,
       |    COUNT(*) AS cnt
       |  FROM e, unnest(range(1, 65)) AS tj(j), unnest(range(1, 65)) AS tk(k)
       |  WHERE k >= j GROUP BY 1, 2),
       |mu AS (
       |  SELECT j, ${Num.duckDsum38("CAST(v[j] AS DOUBLE)")} / COUNT(*) AS mu
       |  FROM e, unnest(range(1, 65)) AS tj(j) GROUP BY 1),
       |covu AS (
       |  SELECT t.j, t.k, t.s / t.cnt - mj.mu * mk.mu AS c
       |  FROM tri t JOIN mu mj ON mj.j = t.j JOIN mu mk ON mk.j = t.k),
       |cov AS MATERIALIZED (SELECT j, k, c FROM covu
       |        UNION ALL SELECT k AS j, j AS k, c FROM covu WHERE j <> k),
       |v0 AS MATERIALIZED (SELECT unnest(range(1, 65)) AS j,
       |       CAST(1 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE)) AS vv),
       |$steps""".stripMargin
  }
}
