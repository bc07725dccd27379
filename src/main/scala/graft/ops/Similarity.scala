package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two paths:
  *  - brute-force cosine top-k: exact, O(n^2) — the correctness baseline,
  *    oracle-checked at small scale;
  *  - random-hyperplane LSH buckets: the scale path — candidate generation is
  *    an equi-join on bucket keys, so cost tracks bucket occupancy instead of
  *    n^2. Multiple tables (bands of planes) trade recall for cost.
  *
  * All dot products are sequential double left-folds (Num.dot) so results are
  * bit-identical to the DuckDB oracle.
  */
object Similarity {

  /** cosine(a, b) with precomputed norms. */
  private def cosine(dp: Column, na: Column, nb: Column): Column = dp / (na * nb)

  /** (id, vec, norm) helper projection. */
  def withNorm(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("vid"), vec.as("vec"), Num.norm(vec).as("nrm"))

  /** Exact top-k cosine neighbors per vector (excluding self).
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k, ties broken by
    * neighbor id.
    */
  def bruteForceTopK(df: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    val a = withNorm(df, id, vec)
      .select(col("vid").as("query_id"), col("vec").as("va"), col("nrm").as("na"))
    val b = withNorm(df, id, vec)
      .select(col("vid").as("neighbor_id"), col("vec").as("vb"), col("nrm").as("nb"))
    val pairs = a.crossJoin(b)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** All pairs with cosine >= threshold (embedding near-dup detection),
    * id_a < id_b.
    */
  def cosineNearDupPairs(df: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val a = withNorm(df, id, vec)
      .select(col("vid").as("id_a"), col("vec").as("va"), col("nrm").as("na"))
    val b = withNorm(df, id, vec)
      .select(col("vid").as("id_b"), col("vec").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Deterministic ±1 hyperplane component for (table, plane, dim) — parity
    * of the cross-engine hash of "pl-table-plane-dim", so the DuckDB oracle
    * can reproduce buckets (SimilarityQueries.duckBucketExpr computes the
    * same md5 parity in SQL).
    */
  def planeSign(table: Int, plane: Int, dim: Int): Double =
    if (Hashing.hash60JVM(s"pl-$table-$plane-$dim") % 2 == 1) 1.0 else -1.0

  /** Signed-random-projection bucket id for one table: bit j of the bucket is
    * sign(<vec, plane_j>) where plane components are deterministic ±1.
    *
    * The plane vectors depend only on (table, plane, dim) — they are
    * evaluated ONCE on the driver ([[planeSign]]) and embedded in the native
    * expression (graft.plans.SignedProjectionBucket), which computes ALL
    * plane dots in one pass over the vector; [[lshBucketComposed]] is the
    * built-in HOF twin (numPlanes interpreted folds) kept for the
    * equivalence test. Per-plane accumulation order is unchanged —
    * bit-identical to the oracle. Length mismatch throws (a zip_with would
    * silently null-pad and zero every bit).
    */
  def lshBucket(vec: Column, table: Int, numPlanes: Int, numDims: Int): Column = {
    val signs = Array.tabulate(numPlanes * numDims)(
      i => planeSign(table, i / numDims, i % numDims))
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.SignedProjectionBucket(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec),
        signs, numPlanes, numDims))
  }

  /** The same bucket id from Spark built-ins only (interpreted HOFs). */
  private[graft] def lshBucketComposed(vec: Column, table: Int, numPlanes: Int, numDims: Int): Column = {
    val bits = (0 until numPlanes).map { j =>
      val plane = Array.tabulate(numDims)(d => planeSign(table, j, d))
      val dot = aggregate(
        zip_with(vec, lit(plane), (x, p) => x.cast("double") * p),
        lit(0.0), (acc, v) => acc + v)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }
    when(size(vec) === numDims, bits.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"lshBucket: expected $numDims-dim vector, got "),
        size(vec).cast("string"))))
  }

  /** MULTI-PROBE LSH top-k (Lv et al., "Multi-Probe LSH"): beside its own
    * bucket, each QUERY also probes the `numProbes` buckets obtained by
    * flipping the sign bit of the planes it is CLOSEST to (smallest |dot| —
    * the boundaries a true neighbor most plausibly sits across; ties →
    * lowest plane index). The recall dial orthogonal to `numTables`: more
    * recall from ONE table's index at probe-time cost, instead of building
    * and storing extra tables — the same trade `nprobe` makes for IVF.
    *
    * The index side keeps exactly one bucket per vector, so a (query,
    * neighbor) pair meets at most once (probed buckets are distinct) — no
    * candidate dedup. Per-plane dots are computed once per query row and
    * ranked with array functions; shuffles carry (bucket, id, vec) rows
    * exactly like [[lshTopK]]'s single-table path, amplified ×(numProbes+1)
    * on the query side only.
    */
  def lshMultiProbeTopK(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      numPlanes: Int,
      numDims: Int,
      numProbes: Int): DataFrame = {
    require(numProbes >= 0 && numProbes < numPlanes,
      "probe between 0 and numPlanes-1 extra buckets")
    val base = withNorm(df, id, vec)
    val dots = array((0 until numPlanes).map { j =>
      val plane = Array.tabulate(numDims)(d => planeSign(0, j, d))
      aggregate(zip_with(col("vec"), lit(plane), (x, p) => x.cast("double") * p),
        lit(0.0), (acc, v) => acc + v)
    }: _*)
    val withB = base.select(col("vid"), col("vec"), col("nrm"),
      lshBucket(col("vec"), 0, numPlanes, numDims).as("bucket"), dots.as("dots"))
    val probeBuckets = expr(
      s"""concat(array(bucket),
         |  transform(
         |    slice(array_sort(transform(sequence(0, ${numPlanes - 1}),
         |      pj -> struct(abs(element_at(dots, pj + 1)) AS m, pj AS pj))),
         |      1, $numProbes),
         |    s -> bucket ^ shiftleft(CAST(1 AS BIGINT), s.pj)))""".stripMargin)
    val a = withB
      .select(col("vid").as("query_id"), col("vec").as("va"), col("nrm").as("na"),
        explode(probeBuckets).as("bucket"))
    val b = withB.select(col("bucket"),
      col("vid").as("neighbor_id"), col("vec").as("vb"), col("nrm").as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    a.join(b, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** (vid, tbl, bucket) id-only bucket assignments for `numTables` tables —
    * the candidate-generation backbone shared by [[lshTopK]] and
    * [[cosineNearDupBucketed]]. Ids only: vectors never ride the candidate
    * shuffle.
    */
  private def bucketIds(base: DataFrame, numPlanes: Int, numTables: Int, numDims: Int): DataFrame =
    (0 until numTables).map { t =>
      base.select(col("vid"), lit(t).as("tbl"),
        lshBucket(col("vec"), t, numPlanes, numDims).as("bucket"))
    }.reduce(_ unionByName _)

  /** LSH-bucketed approximate top-k: exact cosine ranking within each
    * single-table bucket. `numTables` > 1 unions tables and dedups candidates
    * before ranking (higher recall, same join shape).
    *
    * Shuffle discipline: with one table the bucket join carries the vectors
    * directly (each pair appears once — no dedup needed). With multiple
    * tables, candidates are deduped as bare (query_id, neighbor_id) pairs —
    * a few bytes per row — and the vectors are joined back afterwards;
    * a distinct keyed on full embedding arrays would shuffle the corpus.
    */
  def lshTopK(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      numPlanes: Int,
      numDims: Int,
      numTables: Int = 1): DataFrame = {
    val base = withNorm(df, id, vec)
    val scored =
      if (numTables == 1) {
        val buckets = base.select(col("vid"), col("vec"), col("nrm"),
          lshBucket(col("vec"), 0, numPlanes, numDims).as("bucket"))
        val a = buckets.select(col("bucket"),
          col("vid").as("query_id"), col("vec").as("va"), col("nrm").as("na"))
        val b = buckets.select(col("bucket"),
          col("vid").as("neighbor_id"), col("vec").as("vb"), col("nrm").as("nb"))
        a.join(b, Seq("bucket"))
          .where(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      } else {
        val buckets = bucketIds(base, numPlanes, numTables, numDims)
        val cands = buckets.select(col("tbl"), col("bucket"), col("vid").as("query_id"))
          .join(buckets.select(col("tbl"), col("bucket"), col("vid").as("neighbor_id")),
            Seq("tbl", "bucket"))
          .where(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"))
          .distinct()
        cands
          .join(base.select(col("vid").as("query_id"), col("vec").as("va"), col("nrm").as("na")), "query_id")
          .join(base.select(col("vid").as("neighbor_id"), col("vec").as("vb"), col("nrm").as("nb")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"),
            cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  // -------------------------------------------------------------------------
  // IVF (inverted-file) ANN: coarse quantizer + per-cluster exact search —
  // the second scale path beside LSH. The quantizer here is the per-label
  // centroid set (k = label cardinality); swapping in k-means centroids
  // changes only the `centroids` input, not the search.
  // -------------------------------------------------------------------------

  /** Exact per-(label, dim) centroid components: decimal-exact mean so both
    * engines agree bit-for-bit (Num.dsum discipline). Output: (clabel, dim, c).
    */
  def labelCentroidsFlat(df: DataFrame, vec: Column, label: Column): DataFrame =
    df.select(label.as("clabel"), posexplode(vec).as(Seq("dim", "vd")))
      .groupBy(col("clabel"), col("dim"))
      // float -> double -> decimal: both engines must take the same widening
      // path (a direct float->decimal cast rounds differently in Spark).
      .agg((Num.dsum(col("vd").cast("double"), 9) / count(lit(1))).as("c"))

  /** Assemble flat centroid rows into ordered arrays: (clabel, carr). */
  def centroidArrays(flat: DataFrame): DataFrame =
    flat.groupBy(col("clabel"))
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("carr"))

  /** Sequential L2² fold between a float vector and a double centroid array.
    * Native codegen expression (graft.plans.L2Sq) — this runs on the n×k
    * vector-to-centroid distance rows, the hottest IVF expression;
    * [[l2sqComposed]] is the HOF twin kept for the equivalence test.
    */
  private[graft] def l2sq(vec: Column, carr: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.L2Sq(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(carr)))

  /** The same fold from Spark built-ins only (interpreted HOFs). */
  private[graft] def l2sqComposed(vec: Column, carr: Column): Column =
    aggregate(
      zip_with(vec, carr, (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, v) => acc + v)

  /** Assign every vector to its nearest centroid (L2², ties -> lowest label).
    * Shuffle discipline: the n×k distance rows carry only (vid, clabel, d2) —
    * never the vectors — and min_by aggregates with map-side combine, so the
    * exchange sees ~n rows. Output: (vid, cluster, d2).
    */
  /** RobustScaler model for an embedding column: per-dimension exact
    * nearest-rank q25/median/q75 and the IQR — the outlier-insensitive
    * normalization statistics (min/max scaling breaks on one corrupt
    * vector; mean/std on heavy tails). Output is the d-row MODEL table
    * (dim, q1, median, q3, iqr) a transform step broadcasts.
    *
    * Shape: one posexplode (n×d narrow rows) + dim-keyed rank windows —
    * EXACT, the q153 discipline applied per dimension. At 100 TB a
    * dim-keyed window funnels corpus/d rows through single tasks; the
    * documented drop-in there is [[HistIndex]] quantiles per dim (q260's
    * stored counters, one bin-width of error) — at catalog scale exact is
    * right and hash-checkable.
    */
  def robustScalerModel(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val flat = df.select(id.as("vid"), posexplode(vec).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"), col("vid"))
    val w = W.partitionBy(col("dim")).orderBy(col("v").asc, col("vid").asc)
    val wn = W.partitionBy(col("dim"))
    flat.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("dim"))
      .agg(
        min(when(col("rn") === floor((col("n") + lit(3)) / lit(4.0)), col("v")))
          .as("q1"),
        min(when(col("rn") === floor((col("n") + lit(1)) / lit(2.0)), col("v")))
          .as("median"),
        min(when(col("rn") === floor((col("n") * 3 + lit(3)) / lit(4.0)), col("v")))
          .as("q3"))
      .select(col("dim"), col("q1"), col("median"), col("q3"),
        (col("q3") - col("q1")).as("iqr"))
  }

  /** Apply a [[robustScalerModel]]: per vector, the count of dimensions
    * whose value sits more than `k`×IQR from that dimension's median —
    * the model-driven outlier flag (the robust twin of q114's PC1
    * outliers). Zero-IQR dimensions (constant at the quartiles) can't
    * witness an outlier and are skipped. The d-row model broadcasts; only
    * vectors with at least one outlier dimension are reported.
    *
    * Output: (vec_id, n_outlier_dims).
    */
  def robustOutliers(df: DataFrame, id: Column, vec: Column, model: DataFrame,
      k: Double = 3.0): DataFrame = {
    val flat = df.select(id.as("vid"), posexplode(vec).as(Seq("dim", "v")))
      .select(col("vid"), col("dim"), col("v").cast("double").as("v"))
    flat.join(broadcast(model.select(col("dim"), col("median"), col("iqr"))), "dim")
      .where(col("iqr") > 0.0 &&
        abs(col("v") - col("median")) > lit(k) * col("iqr"))
      .groupBy(col("vid"))
      .agg(count(lit(1)).as("n_outlier_dims"))
  }

  /** Source-centroid cosine matrix: the embedding-space answer to "which
    * sources cover the same content" (the semantic complement of q133's
    * lexical shingle containment) — per-group mean vectors from
    * decimal-exact per-dim sums, then pairwise cosine over the #groups²
    * tiny centroid frame (the welchPairs pairing discipline). Zero-norm
    * centroids score 0, not NaN.
    */
  def sourceCentroidCosine(df: DataFrame, vec: Column, group: Column): DataFrame = {
    val flat = df.select(group.as("src"), posexplode(vec).as(Seq("dim", "v")))
    val means = flat.groupBy(col("src"), col("dim"))
      .agg((Num.dsum38(col("v").cast("double")) / count(lit(1))).as("m"))
    val cents = means.groupBy(col("src"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m")).as("c"))
      .localCheckpoint()
    val a = cents.select(col("src").as("src_a"), col("c").as("ca"))
    val b = cents.select(col("src").as("src_b"), col("c").as("cb"))
    val nn = Num.norm(col("ca")) * Num.norm(col("cb"))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        when(nn === 0.0, lit(0.0))
          .otherwise(Num.dot(col("ca"), col("cb")) / nn).as("cosine"))
  }

  /** Centroid-silhouette audit of a trained quantizer — the clustering-
    * quality read before trusting an IVF layout: per vector, a = distance
    * to its own (nearest) centroid, b = distance to the runner-up, and
    * silhouette = (b − a) / max(a, b) ∈ [0, 1] here since a ≤ b by
    * construction (near 0 ⇒ the vector sits on a cluster boundary and
    * nprobe=1 search will miss its neighbors; the k-dial diagnostic).
    *
    * Shape: the n×k distance rows carry (vid, clabel, d2) only — never
    * vectors (centroids broadcast); the rank window is per-vid over k rows.
    * Per-cluster means fold decimal-exactly. Output: (cluster, n,
    * mean_sil).
    */
  def centroidSilhouette(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d = df.select(id.as("vid"), vec.as("vec"))
      .crossJoin(broadcast(centroids))
      .select(col("vid"), col("clabel"), l2sq(col("vec"), col("carr")).as("d2"))
    val w = W.partitionBy(col("vid")).orderBy(col("d2").asc, col("clabel").asc)
    val per = d.withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
      .groupBy(col("vid"))
      .agg(min(when(col("rn") === 1, col("clabel"))).as("cluster"),
        min(when(col("rn") === 1, col("d2"))).as("a2"),
        min(when(col("rn") === 2, col("d2"))).as("b2"))
    val sa = sqrt(col("a2"))
    val sb = sqrt(col("b2"))
    val sil = when(greatest(sa, sb) === 0.0, lit(0.0))
      .otherwise((sb - sa) / greatest(sa, sb))
    per.select(col("cluster"), sil.as("sil"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        (Num.dsum38(col("sil")) / count(lit(1))).as("mean_sil"))
  }

  def ivfAssign(df: DataFrame, id: Column, vec: Column, centroids: DataFrame): DataFrame =
    df.select(id.as("vid"), vec.as("vec"))
      .crossJoin(broadcast(centroids))
      .select(col("vid"), col("clabel"), l2sq(col("vec"), col("carr")).as("d2"))
      .groupBy(col("vid"))
      .agg(
        min_by(col("clabel"), struct(col("d2"), col("clabel"))).as("cluster"),
        min(col("d2")).as("d2"))

  /** Deterministic k-means training for the IVF coarse quantizer: seeds are
    * the k vectors with the smallest salted id hash (reproducible on any
    * partitioning — no RNG), then `iters` Lloyd iterations with decimal-exact
    * centroid recomputation (Num.dsum discipline), so every iteration — and
    * therefore the final quantizer — is bit-identical across engines and
    * cluster sizes. Empty clusters drop out (k shrinks), mirrored exactly by
    * the oracle. Output: flat (clabel, dim, c) of the final iteration; feed
    * through [[centroidArrays]] into [[ivfAssign]]/[[ivfTopK]].
    *
    * Scale shape per iteration: one broadcast of k centroid arrays, one
    * min_by assignment (ids only through the shuffle), one (cluster, dim)
    * aggregation — no driver-side data, no collects.
    */
  def kmeansCentroidsFlat(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      iters: Int,
      salt: String = "km"): DataFrame = {
    require(iters >= 1, "at least one Lloyd iteration")
    val spark = df.sparkSession
    import spark.implicits._
    val h = Hashing.hash60(concat(lit(salt + "-"), id.cast("string")))
    // Seed labeling: the k rows are already globally ordered by (h, vid), so
    // labels are their positions. Collecting k seed vectors is the same
    // bounded model-parameter transfer as materializeCentroids — and avoids
    // a partition-less row_number window (single-partition WindowExec) that
    // a plan audit would rightly flag even though it only ever sees k rows.
    val seedRows = df
      .select(id.cast("long").as("vid"),
        transform(vec, x => x.cast("double")).as("carr"), h.as("h"))
      .orderBy(col("h").asc, col("vid").asc)
      .limit(k)
      .collect()
    var cent = seedRows.zipWithIndex.map { case (r, i) =>
      (i, r.getSeq[Double](1))
    }.toSeq.toDF("clabel", "carr")
    var flat: DataFrame = null
    for (_ <- 1 to iters) {
      val assign = ivfAssign(df, id, vec, cent).select(col("vid"), col("cluster"))
      flat = df.select(id.as("vid"), posexplode(vec).as(Seq("dim", "vd")))
        .join(assign, "vid")
        .groupBy(col("cluster").as("clabel"), col("dim"))
        .agg((Num.dsum(col("vd").cast("double"), 9) / count(lit(1))).as("c"))
      cent = centroidArrays(flat)
    }
    flat
  }

  /** Deterministic farthest-point (k-center greedy) seed selection — the
    * "kmeans++ without the dice" initializer: seed 0 is the vector with the
    * smallest salted id hash (the same no-RNG discipline as
    * [[kmeansCentroidsFlat]]), then each further seed is the vector with the
    * MAXIMUM distance to its nearest already-chosen seed (ties → lowest id).
    * Farthest-point gives the classic 2-approximation to the k-center
    * objective and spreads IVF cells better than pure hash seeding on
    * clustered corpora.
    *
    * Scale shape per step: broadcast of <= k chosen seed vectors (model
    * parameters, like the LSH planes), one min-distance aggregation over the
    * corpus (ids + one double through the shuffle), one global argmax.
    * Each chosen seed is materialized ([[materializeCentroids]]) so iteration
    * i+1 does not re-execute iteration i's lineage — k-1 bounded collects at
    * build time, the train/search break every index build has.
    *
    * Output: (sid, vid, v) — seed order, source vector id, double vector.
    */
  def farthestPointSeeds(df: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    require(k >= 1, "need at least one seed")
    val base = df.select(id.as("vid"), transform(vec, x => x.cast("double")).as("v"))
    val h = Hashing.hash60(concat(lit("fp-"), col("vid").cast("string")))
    var chosen = materializeCentroids(
      base.withColumn("h", h)
        .orderBy(col("h").asc, col("vid").asc).limit(1)
        .select(lit(0).as("sid"), col("vid"), col("v")))
    for (i <- 1 until k) {
      val picked = base
        .crossJoin(broadcast(chosen.select(col("v").as("sv"))))
        .select(col("vid"), l2sq(col("v"), col("sv")).as("d2"))
        .groupBy(col("vid")).agg(min(col("d2")).as("mind2"))
        // max distance, ties -> lowest id ((mind2, -vid) lexicographic max)
        .agg(max_by(col("vid"), struct(col("mind2"), -col("vid"))).as("vid"))
      chosen = chosen.unionByName(materializeCentroids(
        picked.join(base, "vid").select(lit(i).as("sid"), col("vid"), col("v"))))
    }
    chosen
  }

  /** k-center CORESET selection over an embedding column — the
    * embedding-coverage data-selection step: pick the k greedy farthest-point
    * centers (Gonzalez's 2-approximation to the k-center objective, the
    * deterministic [[farthestPointSeeds]]), assign every vector to its
    * nearest center, and weight each center by its basin — (sid, seed_id,
    * weight, cost) where weight = |basin| (the importance weight a
    * weighted trainer or [[graft.ops.Sampling]] quota consumes) and cost =
    * Σ d² over the basin (the quantization cost that tells a curator how
    * well k centers cover the collection; re-run with larger k until it
    * flattens). Unlike [[semDedupPairs]] (which REMOVES redundant points),
    * a coreset KEEPS k representatives with multiplicities — the classic
    * small-summary form for clustering/selection downstream.
    *
    * Scale shape: seeding is k bounded corpus passes (broadcast chosen
    * centers, ids+one double through each shuffle); assignment broadcasts
    * the final k×d seed table once (n×k distance rows carry ids+distances
    * only, map-side min_by combine); the per-center aggregation is k rows.
    * Cost sums are decimal-exact (Num.dsum38) so the output is
    * bit-reproducible under any partitioning.
    */
  def kcenterCoreset(df: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    val seeds = farthestPointSeeds(df, id, vec, k)
    val cents = seeds.select(col("sid").as("clabel"), col("v").as("carr"))
    ivfAssign(df, id, vec, cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("weight"), Num.dsum38(col("d2")).as("cost"))
      .join(broadcast(seeds.select(col("sid"), col("vid").as("seed_id"))),
        col("cluster") === col("sid"))
      .select(col("sid"), col("seed_id"), col("weight"), col("cost"))
  }

  /** Cross-modal ALIGNMENT scoring — the LAION-style curation step for
    * paired multimodal data: every (document, embedding) pair joined on id
    * gets the cosine between a text-derived vector (the deterministic
    * hashing-trick vectorizer, [[graft.ops.Text.hashingTrickEmbedding]],
    * standing in for the text tower of a dual encoder) and the stored
    * embedding column (the image/audio tower's output), plus an `aligned`
    * verdict at `minCos` — the filter that drops mismatched caption/asset
    * pairs before training. With a real dual encoder the text vector comes
    * from the model instead; every Spark-side shape (id-equi join, fold
    * cosine, verdict column) is identical.
    *
    * Scale shape: both towers' vectors are per-row derivations (the text
    * side aggregates token rows map-side); the join is a plain id
    * equi-join — ids+vectors cross the exchange once, no pair fan-out.
    * Zero-norm text vectors (all buckets cancelled) score 0, not NaN, so
    * the verdict stays a real boolean (the q106 lesson).
    */
  def crossModalAlignment(
      docs: DataFrame,
      id: Column,
      text: Column,
      emb: DataFrame,
      vid: Column,
      vec: Column,
      dims: Int,
      minCos: Double): DataFrame = {
    val tv = Text.hashingTrickEmbedding(docs, id, text, dims)
      .select(col("doc_id"), col("vec").as("tvec"))
    val ev = emb.select(vid.as("doc_id"), vec.as("evec"))
    val nt = Num.norm(col("tvec"))
    val ne = Num.norm(col("evec"))
    val cos = when(nt === 0.0 || ne === 0.0, lit(0.0))
      .otherwise(Num.dot(col("tvec"), col("evec")) / (nt * ne))
    tv.join(ev, "doc_id")
      .select(col("doc_id"), cos.as("cosine"),
        (cos >= lit(minCos)).as("aligned"))
  }

  /** Materialize a trained quantizer: collects the k×d centroid table (a
    * model parameter of bounded size — k rows regardless of corpus scale,
    * like the LSH plane constants) and re-creates it as a literal frame.
    * Without this, every consumer of the centroids DataFrame re-executes the
    * full training lineage — the search self-join would run the Lloyd
    * iterations once per join side. This is the train-then-search break every
    * IVF deployment has; it is NOT a data-scale collect.
    */
  def materializeCentroids(centroids: DataFrame): DataFrame = {
    val spark = centroids.sparkSession
    val rows = java.util.Arrays.asList(centroids.collect(): _*)
    spark.createDataFrame(rows, centroids.schema)
  }

  /** IVF approximate top-k: probe the query's `nprobe` nearest clusters,
    * exact cosine ranking against the vectors ASSIGNED to those clusters.
    * `nprobe` == 1 keeps everything in min_by aggregations; larger values use
    * a (vid, clabel, d2)-only ranking window. A (query, neighbor) pair can
    * appear at most once (each neighbor lives in exactly one cluster), so no
    * candidate dedup is needed at any nprobe.
    *
    * The assignment feeds BOTH join sides (probe side and posting-list side);
    * Catalyst does not reuse a duplicated subplan (only identical exchanges),
    * so without a break the n×k distance computation would execute twice per
    * run (the round-2 q68 finding). `localCheckpoint` materializes the tiny
    * (vid, cluster) frame once, distributed across executors — no driver
    * collect, content deterministic.
    */
  def ivfTopK(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      centroids: DataFrame,
      nprobe: Int = 1): DataFrame = {
    val base = withNorm(df, id, vec)
    val assign = ivfAssign(df, id, vec, centroids).select(col("vid"), col("cluster"))
      .localCheckpoint()
    val probes =
      if (nprobe == 1) assign
      else {
        val scoredC = df.select(id.as("vid"), vec.as("vec"))
          .crossJoin(broadcast(centroids))
          .select(col("vid"), col("clabel"), l2sq(col("vec"), col("carr")).as("d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vid")).orderBy(col("d2").asc, col("clabel").asc)
        scoredC.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= nprobe)
          .select(col("vid"), col("clabel").as("cluster"))
      }
    val a = probes.join(base, "vid")
      .select(col("cluster"), col("vid").as("query_id"), col("vec").as("va"), col("nrm").as("na"))
    val b = assign.join(base, "vid")
      .select(col("cluster"), col("vid").as("neighbor_id"), col("vec").as("vb"), col("nrm").as("nb"))
    val scored = a.join(b, Seq("cluster"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540 §3):
    * semantic near-duplicates found by clustering the embedding space with
    * the deterministic k-means quantizer ([[kmeansCentroidsFlat]]) and
    * comparing cosine similarity ONLY within each cluster — the cluster
    * structure is what bounds the otherwise-quadratic pair space (the
    * paper's core trick: cross-cluster pairs are assumed non-duplicates).
    * Output: (cluster, id_a, id_b, cosine) for within-cluster pairs with
    * cosine >= `threshold`, id_a < id_b.
    *
    * Scale shape: training is the audited k-means dataflow; assignment rows
    * carry (vid, cluster) only and are localCheckpoint'd once because they
    * feed BOTH pair sides (the ivfTopK lesson — Catalyst re-executes
    * duplicated subplans). Pair formation is an equi-join on the cluster
    * key, so cost tracks sum(cluster_size²); k is the knob that holds
    * per-cluster occupancy flat as the corpus grows (the paper runs
    * k = 11k clusters on LAION-440M).
    */
  def semDedupPairs(df: DataFrame, id: Column, vec: Column, k: Int,
      iters: Int, threshold: Double): DataFrame = {
    val cents = materializeCentroids(centroidArrays(
      kmeansCentroidsFlat(df, id, vec, k, iters)))
    val assign = ivfAssign(df, id, vec, cents).select(col("vid"), col("cluster"))
      .localCheckpoint()
    val base = withNorm(df, id, vec)
    val a = assign.join(base, "vid")
      .select(col("cluster"), col("vid").as("id_a"), col("vec").as("va"), col("nrm").as("na"))
    val b = assign.join(base, "vid")
      .select(col("cluster"), col("vid").as("id_b"), col("vec").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup survivors: [[semDedupPairs]] → connected components →
    * min-id representative per semantic cluster (the same survivor policy
    * as exact and Jaccard dedup, replacing the paper's keep-one-random) —
    * the full embedding-space dedup story composed end to end from audited
    * pieces. Output: the input rows minus non-representative members.
    */
  def semDedupSurvivors(df: DataFrame, id: Column, vec: Column, k: Int,
      iters: Int, threshold: Double): DataFrame = {
    val pairs = semDedupPairs(df, id, vec, k, iters, threshold)
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    Dedup.keepClusterRepresentative(df, id, labels)
  }

  /** (vid, sub, subv) rows: every vector exploded into its m subvector
    * slices — ONE pass over the corpus feeds all subspaces at once (the
    * batched-multi-k-means layout; a per-subspace loop would scan the
    * corpus m times and pay m× the job overhead).
    */
  private def pqSubRows(df: DataFrame, id: Column, vec: Column,
      dims: Int, m: Int): DataFrame = {
    val sd = dims / m
    df.select(id.as("vid"),
      posexplode(array((0 until m).map(s => slice(vec, s * sd + 1, sd)): _*))
        .as(Seq("sub", "subv")))
  }

  /** (sub, clabel, carr) centroid arrays from a flat PQ codebook frame —
    * the per-subspace twin of [[centroidArrays]].
    */
  private[graft] def pqCentArrays(codebooks: DataFrame): DataFrame =
    codebooks.groupBy(col("sub"), col("clabel"))
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("carr"))

  /** (vid, cluster, rv): every vector's coarse-quantizer cluster and its
    * RESIDUAL rv = v − centroid(cluster) — the input of residual product
    * quantization (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", IVFADC): residuals concentrate around 0 regardless of where
    * each coarse cell sits, so the m·k codeword budget models the
    * within-cell displacement instead of re-spending resolution on the cell
    * positions the coarse quantizer already encodes.
    *
    * Scale shape: one assignment pass (ids through the shuffle) + one
    * broadcast centroid join; the residual is a per-row projection.
    */
  def ivfResiduals(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame): DataFrame =
    ivfAssign(df, id, vec, centroids).select(col("vid"), col("cluster"))
      .join(df.select(id.as("vid"), vec.as("vec")), "vid")
      .join(broadcast(centroids.select(col("clabel").as("cluster"), col("carr"))), "cluster")
      .select(col("vid"), col("cluster"),
        zip_with(col("vec"), col("carr"), (x, c) => x.cast("double") - c).as("rv"))

  /** RESIDUAL-PQ codebooks: product quantization trained on
    * coarse-quantizer residuals instead of raw subvectors (see
    * [[ivfResiduals]]) — the production IVFADC layout, lifting recall at
    * the same m·k budget. The `dims`-dim residual space splits into `m`
    * equal subspaces, each with an independent deterministic k-means (k
    * codewords, salted seeds `pq<sub>-<id>`, same Lloyd machinery and
    * decimal-exact recomputation as [[kmeansCentroidsFlat]]). All m
    * trainings run as ONE batched dataflow over the (vid, sub, subv)
    * explode: per-subspace seed ranking is a windowed top-k on the sub key
    * (WindowGroupLimit prunes map-side), each Lloyd iteration is one
    * broadcast join + one min_by assignment + one (sub, cluster, dim)
    * aggregation for every subspace together. Output: flat
    * (sub, clabel, dim, c) — m·k·(dims/m) doubles of model parameters: the
    * memory-compression half of a billion-vector index (a code is m small
    * ints instead of dims floats — 8 bytes vs 256 here).
    */
  def pqCodebooksFlatResidual(df: DataFrame, id: Column, vec: Column,
      coarseCentroids: DataFrame, dims: Int, m: Int, k: Int, iters: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val res = ivfResiduals(df, id, vec, coarseCentroids)
    pqTrainFromSubRows(pqSubRows(res, col("vid"), col("rv"), dims, m), k, iters)
  }

  /** RESIDUAL-PQ encoding: each vector's residual (w.r.t. its OWN coarse
    * cluster) as m codeword ids — pair with [[pqCodebooksFlatResidual]].
    */
  def pqEncodeResidual(df: DataFrame, id: Column, vec: Column,
      coarseCentroids: DataFrame, codebooks: DataFrame, dims: Int, m: Int): DataFrame = {
    val res = ivfResiduals(df, id, vec, coarseCentroids)
    pqEncode(res, col("vid"), col("rv"), codebooks, dims, m)
  }

  /** The batched m-subspace Lloyd trainer over pre-built (vid, sub, subv)
    * rows — shared by the raw and residual codebook builders.
    */
  private def pqTrainFromSubRows(rows0: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, "at least one Lloyd iteration")
    // consumed iters+1 times (seed ranking + every Lloyd assignment);
    // without the break each consumer replays the caller's residual/
    // subvector lineage — for the residual builders that is a full coarse
    // assignment pass per iteration
    val rows = rows0.localCheckpoint()
    val h = Hashing.hash60(concat(
      lit("pq"), col("sub").cast("string"), lit("-"), col("vid").cast("string")))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub")).orderBy(h.asc, col("vid").asc)
    var cent = rows
      .withColumn("rn", row_number().over(ws))
      .where(col("rn") <= k)
      .select(col("sub"), (col("rn") - 1).as("clabel"),
        transform(col("subv"), x => x.cast("double")).as("carr"))
      .localCheckpoint()
    var flat: DataFrame = null
    for (_ <- 1 to iters) {
      val assign = rows.join(broadcast(cent), "sub")
        .select(col("vid"), col("sub"), col("subv"), col("clabel"),
          l2sq(col("subv"), col("carr")).as("d2"))
        .groupBy(col("vid"), col("sub"))
        .agg(
          min_by(col("clabel"), struct(col("d2"), col("clabel"))).as("cluster"),
          first(col("subv")).as("subv")) // constant within the group
      flat = assign
        .select(col("sub"), col("cluster"), posexplode(col("subv")).as(Seq("dim", "vd")))
        .groupBy(col("sub"), col("cluster"), col("dim"))
        .agg((Num.dsum(col("vd").cast("double"), 9) / count(lit(1))).as("c"))
        .select(col("sub"), col("cluster").as("clabel"), col("dim"), col("c"))
        .localCheckpoint()
      cent = pqCentArrays(flat)
    }
    flat
  }

  /** PQ encoding: each vector becomes m codeword ids — per subspace, the
    * nearest codebook centroid (ties -> lowest codeword), all subspaces in
    * one batched broadcast join + min_by pass. Output: (vid, sub, code).
    * Pass a MATERIALIZED codebooks frame (localCheckpoint): it is bounded
    * model parameters, and the break is the train/search split every index
    * build has.
    */
  def pqEncode(df: DataFrame, id: Column, vec: Column,
      codebooks: DataFrame, dims: Int, m: Int): DataFrame =
    pqSubRows(df, id, vec, dims, m).join(broadcast(pqCentArrays(codebooks)), "sub")
      .select(col("vid"), col("sub"), col("clabel"),
        l2sq(col("subv"), col("carr")).as("d2"))
      .groupBy(col("vid"), col("sub"))
      .agg(min_by(col("clabel"), struct(col("d2"), col("clabel"))).as("code"))
      .select(col("vid"), col("sub"), col("code"))

  /** IVF-PQ approximate top-k — the full billion-vector architecture
    * (IVFADC, Jégou et al.): an IVF coarse quantizer prunes the search to
    * the query's `nprobe` nearest clusters, and within them candidates are
    * ranked by ASYMMETRIC DISTANCE COMPUTATION over RESIDUALS:
    * adc(q, x | cell) = Σ_sub l2sq(r(q, cell)_sub, codeword(r(x)_sub)),
    * with r(v) = v − coarse_centroid — the query side stays exact, the
    * candidate side is its m-byte residual code, so ranking touches no
    * candidate vectors at all (the point of PQ: the scan reads codes; the
    * lookup table has m·k entries per probed cell). Residual encoding
    * concentrates the codebooks around 0, lifting recall at the same m·k
    * budget; the price is one LUT per (query, probed cell) instead of per
    * query, because the query residual depends on the cell — the standard
    * IVFADC trade.
    *
    * `codebooks` must come from [[pqCodebooksFlatResidual]] trained with
    * the SAME `coarseCentroids`.
    *
    * Determinism: the ADC total is the fixed-order sum of the m per-
    * subspace lookups (subspace 0 first — the BM25 fixed-order discipline),
    * computed as a single per-row expression over each neighbor's code
    * array and the probe's lookup array — never a float `sum()`
    * aggregation — so it is bit-identical on any partitioning and in the
    * oracle (whose pivoted-column formulation adds the same values in the
    * same order).
    *
    * Per-pair cost is m array lookups + m-1 adds in one projection: the
    * candidate pair stream never passes through a per-(pair, subspace)
    * aggregation, so the only exchanges are the two id joins (codes to
    * neighbors, LUTs to probes) and the final top-k window
    * (WindowGroupLimit-pruned). A (query, neighbor) pair appears at most
    * once at any nprobe — each neighbor lives in exactly one cell and
    * probed cells are distinct — so no candidate dedup is needed.
    *
    * Output: (query_id, neighbor_id, adc, rank), rank by (adc asc,
    * neighbor_id asc), rank <= k.
    */
  def ivfPqTopK(df: DataFrame, id: Column, vec: Column, k: Int,
      coarseCentroids: DataFrame, codebooks: DataFrame,
      dims: Int, m: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "probe at least one cell")
    // derived, not a parameter: a mismatched codeword count would collide
    // LUT keys across subspaces (sub*cw+code) and fail far from the cause.
    // One bounded job over the checkpointed model-parameter frame.
    val codewords = codebooks.agg(max(col("clabel"))).head().getInt(0) + 1
    val sd = dims / m
    val base = df.select(id.as("vid"), transform(vec, x => x.cast("double")).as("v"))
    val centByCluster =
      broadcast(coarseCentroids.select(col("clabel").as("cluster"), col("carr")))
    // ONE n×k distance pass serves both the assignment (rank 1 — identical
    // tie-break to ivfAssign's min_by (d2, clabel)) and the probe list
    // (rank <= nprobe); the checkpointed ranked frame feeds all consumers
    // (the q68 lesson). At nprobe == 1 the ranked frame IS the assignment.
    val scoredC = df.select(id.as("vid"), vec.as("vec"))
      .crossJoin(broadcast(coarseCentroids))
      .select(col("vid"), col("clabel"), l2sq(col("vec"), col("carr")).as("d2"))
    // nprobe == 1: the probe list IS the assignment — a min_by aggregation
    // (identical (d2, clabel) tie-break) partial-aggregates map-side, so the
    // exchange carries one row per vector instead of the n×cells distance
    // rows a ranking window would shuffle and sort. nprobe > 1 keeps the
    // window (WindowGroupLimit prunes it map-side).
    val ranked =
      if (nprobe == 1)
        scoredC.groupBy(col("vid"))
          .agg(min_by(col("clabel"), struct(col("d2"), col("clabel"))).as("cluster"))
          .select(col("vid"), col("cluster"), lit(1).as("rnk"))
          .localCheckpoint()
      else {
        val wp = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vid")).orderBy(col("d2").asc, col("clabel").asc)
        scoredC.withColumn("rnk", row_number().over(wp))
          .where(col("rnk") <= nprobe)
          .select(col("vid"), col("clabel").as("cluster"), col("rnk"))
          .localCheckpoint()
      }
    val assign = ranked.where(col("rnk") === 1).select(col("vid"), col("cluster"))
    val probes = ranked.select(col("vid"), col("cluster"))
    // neighbor codes: residual w.r.t. the OWN cell, m codeword ids
    val res = assign.join(base, "vid").join(centByCluster, "cluster")
      .select(col("vid"), zip_with(col("v"), col("carr"), (x, c) => x - c).as("rv"))
    val codes = pqEncode(res, col("vid"), col("rv"), codebooks, dims, m)
    // per-(query, probed cell) ADC lookup table: the query's residual in
    // THAT cell against every codeword — |Q|·nprobe·m·k rows of
    // (qid, cluster, sub, code, d2), broadcast-joined from the m·k-row
    // codeword table, all subspaces in one batched pass
    val cw = pqCentArrays(codebooks)
      .select(col("sub"), col("clabel").as("code"), col("carr"))
    val qSub = probes.join(base, "vid").join(centByCluster, "cluster")
      .select(col("vid"), col("cluster"),
        zip_with(col("v"), col("carr"), (x, c) => x - c).as("rv"))
      .select(col("vid"), col("cluster"),
        posexplode(array((0 until m).map(s => slice(col("rv"), s * sd + 1, sd)): _*))
          .as(Seq("sub", "subv")))
    val lut = qSub.join(broadcast(cw), "sub")
      .select(col("vid").as("qid"), col("cluster"), col("sub"), col("code"),
        l2sq(col("subv"), col("carr")).as("d2"))
    // one row per vector: the code ARRAY (position = subspace; every vector
    // has all m subspaces) and per (query, cell) the LUT as a DENSE array
    // indexed sub*codewords+code — built through a map (gap-safe if a
    // codeword ever drops out as an empty k-means cluster; a dropped
    // codeword is never referenced by any code, so its null slot is never
    // read) and densified ONCE per (query, cell), because element_at on a
    // Catalyst map is a linear scan while the array lookup in the per-pair
    // hot loop is O(1)
    val codeArr = codes.groupBy(col("vid"))
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
    val lutArr = lut.groupBy(col("qid"), col("cluster"))
      .agg(map_from_entries(collect_list(struct(
        col("sub") * codewords + col("code"), col("d2")))).as("lutm"))
      .select(col("qid"), col("cluster"),
        transform(sequence(lit(0), lit(m * codewords - 1)),
          i => element_at(col("lutm"), i.cast("int"))).as("lutm"))
    // attach the LUT to the probe side and the codes to the posting-list
    // side BEFORE the cell join (the q66 a/b shape): the pair stream is
    // born with everything the ADC needs and flows join -> project ->
    // WindowGroupLimit in one stage — no per-pair re-shuffle
    // SALTED cell join (guide §2.5, the giant-tenant fix): keyed on the
    // cell id alone, the ADC candidate scan's parallelism is bounded by the
    // CELL COUNT — ~10 cells serialize a billion-pair scan onto ~10 tasks
    // no matter how many cores exist (and AQE, sizing by the join's small
    // INPUT bytes, coalesces the row-exploding join further). Salting the
    // posting-list side by a deterministic neighbor hash and fanning the
    // (bounded, |Q|·nprobe per cell) LUT side across the salts keys the
    // join on (cluster, salt): same pairs exactly once — every neighbor
    // carries one salt and the LUT side holds all salts — with the scan
    // spread over cells × salts tasks. Salt width follows the session's
    // shuffle parallelism, not a constant.
    // parallelism/4 (the AnnIndex.search sizing): the LUT side duplicates
    // ×saltN, and any realistic cell count ≥ 4 keeps cells×S at or above
    // the session's parallelism at a quarter of the LUT fan
    val saltN = (df.sparkSession.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism) / 4).max(1)
    val aSide = lutArr
      .select(col("cluster"), col("qid").as("query_id"), col("lutm"),
        explode(sequence(lit(0), lit(saltN - 1))).as("__salt"))
    val bSide = assign.join(codeArr, "vid")
      .select(col("cluster"), col("vid").as("neighbor_id"), col("codes"),
        pmod(xxhash64(col("vid")), lit(saltN.toLong)).cast("int").as("__salt"))
    val adc = (0 until m).map(i =>
      element_at(col("lutm"),
        lit(i * codewords) + element_at(col("codes"), i + 1) + lit(1)))
      .reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    aSide.join(bSide, Seq("cluster", "__salt"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
  }

  /** Scalable embedding near-dup: LSH-bucketed candidate generation + exact
    * cosine verification — the scale-safe twin of [[cosineNearDupPairs]]
    * (which stays as the quadratic oracle baseline, same relationship as
    * simhashPairs / simhashNearDupBlocked). Multiple tables raise recall;
    * candidate dedup happens on bare id pairs before vectors are re-joined.
    */
  /** Distributed PCA (first principal component) by covariance + power
    * iteration — the embedding-analytics op behind drift detection,
    * whitening, and OPQ-style rotations.
    *
    * Phase 1, corpus-sized: the d×d covariance C = E[xxᵀ] − μμᵀ in ONE pass.
    * Each vector explodes to its d(d+1)/2 upper-triangle products — exactly
    * the d²N/2 multiply-adds covariance costs on any engine — and partial
    * aggregation collapses every partition to ≤ d(d+1)/2 rows BEFORE the
    * shuffle, so the exchange carries (j, k, partial-sum) triples per
    * partition, not per row. Products sum as `decimal(38,18)` (exact,
    * associative — the [[Num.dsum]] discipline) so the result is
    * bit-identical on any partitioning and in DuckDB.
    *
    * Phase 2, d-bounded: `iters` power-iteration steps v ← C·v / ‖C·v‖ ON
    * THE DRIVER. The d×d covariance is a bounded model-parameter transfer
    * (d² doubles — 32 KB at d = 64 — the k-means-seed doctrine of the
    * collect() sites below), and iterating it as chained Spark jobs paid
    * ~4 scheduler round-trips per step on 64-row frames for zero
    * distribution benefit; the driver loop replays the EXACT order-fixed
    * arithmetic of the former distributed steps (index-ascending left
    * folds from 0.0, one decimal→double cast per cell — [[pcaCollectCov]]),
    * so every intermediate and the result are bit-identical, the unrolled
    * DuckDB oracles keep matching, and the result stays deterministic
    * whether or not the iteration has converged. Start vector: uniform
    * 1/√d.
    *
    * Output: one row per dimension (1-based `dim`), with `mean`, `pc1`
    * (unit-norm), and the Rayleigh quotient `eigval` = vᵀCv plus
    * `explained_frac` = eigval / trace(C) replicated on every row.
    */
  def pcaPowerIteration(
      df: DataFrame,
      id: Column,
      vec: Column,
      dims: Int,
      iters: Int): DataFrame = {
    val (mu, cov) = pcaCovariance(df, id, vec, dims)
    val c = pcaCollectCov(cov, dims)
    val v = pcaIterateLocal(c, dims, iters)
    val e1 = pcaRayleighLocal(c, v, dims)
    val tr = pcaTraceLocal(c, dims)
    val vdf = df.sparkSession.createDataFrame(
      (1 to dims).map(j => (j.toLong, v(j - 1)))).toDF("j", "vv")
    mu.join(vdf, "j")
      .select(col("j").as("dim"), col("mu").as("mean"), col("vv").as("pc1"),
        lit(e1).as("eigval"), lit(e1 / tr).as("explained_frac"))
  }

  /** Top-2 PCA by DEFLATION: pc1 as in [[pcaPowerIteration]], then the same
    * power iteration on C₂ = C − λ₁·v₁v₁ᵀ (Hotelling deflation — the
    * dominant direction of the deflated matrix is the second eigenvector).
    * `eigval2` is the Rayleigh quotient ON C₂ (identical in both engines by
    * construction; equals v₂ᵀCv₂ up to the convergence residual). Output
    * adds (pc2, eigval2, explained_frac2); pc2 ⟂ pc1 up to the iteration
    * residual (asserted ≤ 1e-6 in the spec on a planted spectrum).
    */
  def pcaTop2(
      df: DataFrame,
      id: Column,
      vec: Column,
      dims: Int,
      iters: Int): DataFrame = {
    val (mu, cov) = pcaCovariance(df, id, vec, dims)
    val c1 = pcaCollectCov(cov, dims)
    val v1 = pcaIterateLocal(c1, dims, iters)
    val e1 = pcaRayleighLocal(c1, v1, dims)
    // Hotelling deflation C₂ = C − λ₁·v₁v₁ᵀ — same left-assoc products as
    // the former Spark expression (c − (eigval·v_j)·v_k), cell for cell
    val c2 = pcaDeflateLocal(c1, v1, e1, dims)
    val v2 = pcaIterateLocal(c2, dims, iters)
    val e2 = pcaRayleighLocal(c2, v2, dims)
    val tr = pcaTraceLocal(c1, dims)
    val vdf = df.sparkSession.createDataFrame(
      (1 to dims).map(j => (j.toLong, v1(j - 1), v2(j - 1))))
      .toDF("j", "pc1", "pc2")
    mu.join(vdf, "j")
      .select(col("j").as("dim"), col("mu").as("mean"),
        col("pc1"), col("pc2"),
        lit(e1).as("eigval1"), lit(e2).as("eigval2"),
        lit(e1 / tr).as("explained_frac1"),
        lit(e2 / tr).as("explained_frac2"))
  }

  /** Whitened 2-D embedding coordinates: every vector projected onto the
    * top-2 components ([[pcaTop2]]), centered on the mean projection
    * (μ·v_k, an order-fixed d-element fold) and scaled by 1/√λ_k — the
    * standardized (unit-variance-per-axis) coordinates a drift dashboard
    * or a Mahalanobis-style outlier rule consumes. Output: (vec_id, w1,
    * w2). The whole model travels as ONE broadcast row (two d-arrays, two
    * scalars); the per-vector work is two zip_with folds — no shuffle
    * beyond the model training itself.
    */
  def pcaWhiten2(
      df: DataFrame,
      id: Column,
      vec: Column,
      dims: Int,
      iters: Int): DataFrame = {
    def arrOf(field: String) =
      transform(sort_array(collect_list(struct(col("dim"), col(field).as("t")))),
        x => x.getField("t"))
    def fold2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x)
    val model = pcaTop2(df, id, vec, dims, iters)
      .agg(arrOf("pc1").as("p1"), arrOf("pc2").as("p2"), arrOf("mean").as("ms"),
        max(col("eigval1")).as("e1"), max(col("eigval2")).as("e2"))
      .select(col("p1"), col("p2"), col("e1"), col("e2"),
        fold2(col("ms"), col("p1")).as("mp1"),
        fold2(col("ms"), col("p2")).as("mp2"))
    Dedup.spreadBy(df, id).select(id.as("vec_id"), vec.as("v"))
      .crossJoin(broadcast(model))
      .select(col("vec_id"),
        ((fold2(col("v"), col("p1")) - col("mp1")) / sqrt(col("e1"))).as("w1"),
        ((fold2(col("v"), col("p2")) - col("mp2")) / sqrt(col("e2"))).as("w2"))
  }

  /** Collect the mirrored d×d covariance to a dense row-major driver array —
    * a BOUNDED MODEL-PARAMETER TRANSFER (d² doubles, 32 KB at d = 64; the
    * k-means-seed/collect() doctrine documented at the top of this file).
    * Each cell takes exactly ONE decimal→double cast — the same cast the
    * former distributed matvec/trace/deflation applied per term — so every
    * driver-side fold below consumes the identical IEEE values the Spark
    * expressions did, and the unrolled DuckDB oracles keep hash-matching.
    */
  private def pcaCollectCov(cov: DataFrame, dims: Int): Array[Double] = {
    val dense = new Array[Double](dims * dims)
    cov.select(col("j").cast("int"), col("k").cast("int"),
        col("c").cast("double"))
      .collect()
      .foreach(r => dense((r.getInt(0) - 1) * dims + (r.getInt(1) - 1)) =
        r.getDouble(2))
    dense
  }

  /** y = C·v — each component the k-ascending left fold from 0.0 (the
    * former `sort_array(collect_list) → aggregate` discipline, verbatim).
    */
  private def pcaMatvecLocal(
      c: Array[Double], v: Array[Double], dims: Int): Array[Double] = {
    val y = new Array[Double](dims)
    var j = 0
    while (j < dims) {
      var acc = 0.0
      var k = 0
      while (k < dims) { acc = acc + c(j * dims + k) * v(k); k += 1 }
      y(j) = acc
      j += 1
    }
    y
  }

  /** `iters` power-iteration steps from the uniform 1/√d start; the norm is
    * the j-ascending fold of y², then one sqrt — the former distributed
    * step's exact rounding at every iteration.
    */
  private def pcaIterateLocal(
      c: Array[Double], dims: Int, iters: Int): Array[Double] = {
    require(iters >= 1, "need iters >= 1")
    var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    for (_ <- 1 to iters) {
      val y = pcaMatvecLocal(c, v, dims)
      var n2 = 0.0
      var j = 0
      while (j < dims) { n2 = n2 + y(j) * y(j); j += 1 }
      val nrm = math.sqrt(n2)
      v = y.map(_ / nrm)
    }
    v
  }

  /** Rayleigh quotient vᵀCv (j-ascending fold over v·(C·v)). */
  private def pcaRayleighLocal(
      c: Array[Double], v: Array[Double], dims: Int): Double = {
    val y = pcaMatvecLocal(c, v, dims)
    var acc = 0.0
    var j = 0
    while (j < dims) { acc = acc + v(j) * y(j); j += 1 }
    acc
  }

  /** trace(C) — j-ascending fold over the diagonal. */
  private def pcaTraceLocal(c: Array[Double], dims: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < dims) { acc = acc + c(j * dims + j); j += 1 }
    acc
  }

  /** Hotelling deflation C − λ·vvᵀ, cell for cell in the former Spark
    * expression's association order: c − ((λ · v_j) · v_k).
    */
  private def pcaDeflateLocal(
      c: Array[Double], v: Array[Double], e: Double, dims: Int): Array[Double] = {
    val out = new Array[Double](dims * dims)
    var j = 0
    while (j < dims) {
      var k = 0
      while (k < dims) {
        out(j * dims + k) = c(j * dims + k) - e * v(j) * v(k)
        k += 1
      }
      j += 1
    }
    out
  }

  /** One-pass decimal-exact covariance: (per-dim means `mu(j, mu)`,
    * mirrored covariance `cov(j, k, c)`, localCheckpoint'd for its many
    * consumers).
    */
  private def pcaCovariance(
      df: DataFrame, id: Column, vec: Column, dims: Int): (DataFrame, DataFrame) = {
    require(dims >= 1, "need dims >= 1")
    val base = Dedup.spreadBy(df, id).select(vec.as("v"))
    // ONE corpus pass: upper-triangle products PLUS a k=0 row per dim
    // carrying the raw coordinate (the mean terms ride the same explode and
    // the same aggregation — a separate mu aggregation would re-scan the
    // corpus). Struct-free flat-d²-array variant measured ~25% SLOWER — it
    // computes and explodes the discarded lower triangle too.
    val grouped = base
      .select(explode(flatten(transform(sequence(lit(1), lit(dims)), j =>
        concat(
          array(struct(j.cast("long").as("j"), lit(0L).as("k"),
            element_at(col("v"), j).cast("double").as("p"))),
          transform(sequence(j, lit(dims)), k =>
            struct(j.cast("long").as("j"), k.cast("long").as("k"),
              (element_at(col("v"), j).cast("double") *
                element_at(col("v"), k).cast("double")).as("p"))))))).as("e"))
      .groupBy(col("e.j").as("j"), col("e.k").as("k"))
      .agg(Num.dsum38(col("e.p")).as("s"), count(lit(1)).as("cnt"))
      .localCheckpoint() // its two consumers must not re-run the corpus scan
    val tri = grouped.where(col("k") > 0)
    val mu = grouped.where(col("k") === 0)
      .select(col("j"), (col("s") / col("cnt")).as("mu"))
    val covUpper = tri
      .join(mu.select(col("j"), col("mu").as("mu_j")), "j")
      .join(mu.select(col("j").as("k"), col("mu").as("mu_k")), "k")
      .select(col("j"), col("k"),
        (col("s") / col("cnt") - col("mu_j") * col("mu_k")).as("c"))
    val cov = covUpper
      .unionByName(covUpper.where(col("j") =!= col("k"))
        .select(col("k").as("j"), col("j").as("k"), col("c")))
      .localCheckpoint() // consumed by every iteration + trace + Rayleigh
    (mu, cov)
  }

  /** Calinski-Harabasz variance-ratio index of a labeled embedding set:
    * B = Σ_k n_k·‖c_k − g‖², W = Σ_i ‖x_i − c_label(i)‖²,
    * CH = (B/(k−1))/(W/(n−k)). One corpus pass (own-centroid distances via
    * broadcast centroids); the global mean g derives from the WEIGHTED
    * centroids — a k-row frame, never a second corpus scan. All folds
    * decimal(38,18). Returns one row per cluster: (cluster, n, w_k, b_k,
    * ch_index), ch_index repeated (the q338 presentation discipline).
    */
  def calinskiHarabasz(df: DataFrame, vec: Column, label: Column): DataFrame = {
    val cents = materializeCentroids(centroidArrays(
      labelCentroidsFlat(df, vec, label)))
    val within = df
      .select(label.as("clabel"), vec.as("v"))
      .join(broadcast(cents), "clabel")
      .groupBy(col("clabel"))
      .agg(count(lit(1)).as("n"),
        Num.dsum38(l2sq(col("v"), col("carr"))).as("w_k"))
      .join(cents, "clabel")
      .localCheckpoint()
    val gm = within
      .select(col("n"), posexplode(col("carr")).as(Seq("dim", "cd")))
      .groupBy(col("dim"))
      .agg((Num.dsum38(col("cd") * col("n").cast("double")) /
        sum(col("n")).cast("double")).as("g"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("g")))),
        x => x.getField("g")).as("garr"))
    val perCluster = within.crossJoin(broadcast(gm))
      .select(col("clabel").as("cluster"), col("n"), col("w_k"),
        (col("n").cast("double") *
          l2sqComposed(col("carr"), col("garr"))).as("b_k"))
      .localCheckpoint()
    val tot = perCluster.agg(
      Num.dsum38(col("b_k")).as("b"), Num.dsum38(col("w_k")).as("w"),
      sum(col("n")).as("n_total"), count(lit(1)).as("k"))
    perCluster.crossJoin(broadcast(tot))
      .select(col("cluster"), col("n"), col("w_k"), col("b_k"),
        ((col("b") / (col("k") - 1).cast("double")) /
          (col("w") / (col("n_total") - col("k")).cast("double")))
          .as("ch_index"))
  }

  /** Participation ratio of the covariance spectrum — the intrinsic
    * dimensionality of the embedding cloud WITHOUT an eigendecomposition:
    * PR = (Σλ)²/Σλ² = tr(C)²/‖C‖²_F, since tr(C) = Σλ and the squared
    * Frobenius norm of a symmetric matrix is Σλ². PR = d for isotropic
    * clouds, → 1 when one direction dominates (embeddings collapsing to a
    * line — the anisotropy failure mode PR catches long before a top-k
    * eigensolve would). `dim_fraction` = PR/d is the scale-free readout.
    *
    * Exactness: reuses the one-pass decimal covariance (pcaCovariance);
    * trace and Frobenius fold decimal(38,18) over the d²-bounded cov frame,
    * so both scalars — and the two final divisions — are partition-order
    * deterministic and replay identically in DuckDB.
    *
    * Scale: ONE corpus pass (the covariance explode); everything after is
    * d²-row arithmetic.
    */
  def participationRatio(df: DataFrame, id: Column, vec: Column,
      dims: Int): DataFrame = {
    val (_, cov) = pcaCovariance(df, id, vec, dims)
    val tr = cov.where(col("j") === col("k"))
      .agg(Num.dsum38(col("c")).as("trace"))
    val fr = cov.agg(Num.dsum38(col("c") * col("c")).as("frob2"))
    tr.crossJoin(broadcast(fr))
      .select(col("trace"), col("frob2"),
        (col("trace") * col("trace") / col("frob2")).as("participation_ratio"),
        (col("trace") * col("trace") / col("frob2") / lit(dims.toDouble))
          .as("dim_fraction"))
  }

  /** (vec_id, proj): every vector's dim-ascending-fold dot product with the
    * trained first principal component (broadcast as one d-element array).
    */
  def pc1Projections(
      df: DataFrame,
      id: Column,
      vec: Column,
      dims: Int,
      iters: Int): DataFrame = {
    val pca = pcaPowerIteration(df, id, vec, dims, iters)
    val pc = pca
      .agg(sort_array(collect_list(struct(col("dim"), col("pc1")))).as("arr"))
      .select(transform(col("arr"), x => x.getField("pc1")).as("pc"))
    Dedup.spreadBy(df, id).select(id.as("vec_id"), vec.as("v"))
      .crossJoin(broadcast(pc))
      .select(col("vec_id"),
        aggregate(zip_with(col("v"), col("pc"), (a, b) => a.cast("double") * b),
          lit(0.0), (acc, x) => acc + x).as("proj"))
  }

  /** PC1 projection outliers — the per-vector consumer of
    * [[pcaPowerIteration]]: project every embedding onto the first
    * principal component and keep the k vectors farthest from the mean
    * projection — embedding drift / anomaly surfacing. The mean projection
    * is a [[Num.dsum38]] scalar; the global top-k compiles to
    * TakeOrderedAndProject (map-side pruned, never a single-partition
    * window). Output: (vec_id, proj, dev), top k by (dev DESC, vec_id).
    */
  def pcaOutliers(
      df: DataFrame,
      id: Column,
      vec: Column,
      dims: Int,
      iters: Int,
      k: Int): DataFrame = {
    val proj = pc1Projections(df, id, vec, dims, iters)
    val mp = proj.agg((Num.dsum38(col("proj")) / count(lit(1))).as("mean_proj"))
    proj.crossJoin(broadcast(mp))
      .select(col("vec_id"), col("proj"),
        abs(col("proj") - col("mean_proj")).as("dev"))
      .orderBy(col("dev").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-group drift of the PC1 projection — the ANOVA decomposition a
    * pipeline runs to ask "do my sources/labels separate along the dominant
    * embedding direction, and how tight is each group?": per group n, mean
    * projection, deviation from the global mean (between-group signal) and
    * within-group variance (spread). Every moment is a [[Num.dsum38]]
    * decimal-exact sum, so the doubles hash-match the oracle; shuffles
    * carry (group, proj) pairs only.
    */
  def pc1GroupDrift(
      df: DataFrame,
      id: Column,
      vec: Column,
      group: Column,
      dims: Int,
      iters: Int): DataFrame = {
    val proj = pc1Projections(df, id, vec, dims, iters)
      .join(df.select(id.as("vec_id"), group.as("grp")), "vec_id")
    val lm = proj.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), (Num.dsum38(col("proj")) / count(lit(1))).as("mean_proj"))
    val gm = proj.agg((Num.dsum38(col("proj")) / count(lit(1))).as("g"))
    val wv = proj.join(lm.select(col("grp"), col("mean_proj")), "grp")
      .groupBy(col("grp"))
      .agg((Num.dsum38((col("proj") - col("mean_proj")) *
        (col("proj") - col("mean_proj"))) / count(lit(1))).as("within_var"))
    lm.join(wv, "grp").crossJoin(broadcast(gm))
      .select(col("grp"), col("n"), col("mean_proj"),
        (col("mean_proj") - col("g")).as("dev_from_global"), col("within_var"))
  }

  def cosineNearDupBucketed(
      df: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double,
      numPlanes: Int,
      numDims: Int,
      numTables: Int): DataFrame = {
    val base = withNorm(df, id, vec)
    val buckets = bucketIds(base, numPlanes, numTables, numDims)
    val cands = buckets.select(col("tbl"), col("bucket"), col("vid").as("id_a"))
      .join(buckets.select(col("tbl"), col("bucket"), col("vid").as("id_b")),
        Seq("tbl", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cands
      .join(base.select(col("vid").as("id_a"), col("vec").as("va"), col("nrm").as("na")), "id_a")
      .join(base.select(col("vid").as("id_b"), col("vec").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cosine", cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Cross-split SEMANTIC decontamination — the embedding-space member of
    * the decontamination family (exact shingles q87, Bloom q105, span cut
    * q177 are lexical; SemDeDup q120 is within-corpus): flag every TRAIN
    * vector whose cosine to ANY eval vector reaches `threshold`, with hit
    * count and worst similarity. Candidates come from the q64 multi-table
    * hyperplane buckets, but CROSS-side: the eval split is benchmark-sized
    * (≪ corpus), so its bucket table and vectors both broadcast — the
    * train corpus never shuffles, exactly like the lexical decontamination
    * paths. Output: (train_id, n_eval_hits, max_cosine).
    */
  def semanticDecontam(
      train: DataFrame,
      eval: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double,
      numPlanes: Int,
      numDims: Int,
      numTables: Int): DataFrame = {
    val tr = withNorm(train, id, vec)
    val ev = withNorm(eval, id, vec)
    val cands = bucketIds(tr, numPlanes, numTables, numDims)
      .select(col("tbl"), col("bucket"), col("vid").as("train_id"))
      .join(broadcast(bucketIds(ev, numPlanes, numTables, numDims)
        .select(col("tbl"), col("bucket"), col("vid").as("eval_id"))),
        Seq("tbl", "bucket"))
      .select(col("train_id"), col("eval_id"))
      .distinct()
    cands
      .join(tr.select(col("vid").as("train_id"), col("vec").as("va"),
        col("nrm").as("na")), "train_id")
      .join(broadcast(ev.select(col("vid").as("eval_id"), col("vec").as("vb"),
        col("nrm").as("nb"))), "eval_id")
      .withColumn("cosine",
        cosine(Num.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cosine")).as("max_cosine"))
  }

  // -------------------------------------------------------------------------
  // SQ8 scalar quantization — the third member of the quantization family
  // beside raw vectors (q61-q68) and product quantization (q93-q95/q99):
  // each dimension is quantized independently into an 8-bit code against
  // per-dimension corpus [min, max] ranges. Unlike PQ there is no trained
  // codebook — the "model" is 2·d doubles — so encoding is a pure
  // per-row expression and the index rebuilds in one aggregation pass.
  // Asymmetric distance (ADC) compares the EXACT query vector against
  // midpoint-dequantized candidate codes (Jégou et al. 2011 §II.C: keeping
  // the query exact costs nothing and halves the quantization error).
  // -------------------------------------------------------------------------

  /** Per-dimension corpus quantization ranges as ONE broadcastable row:
    * (mins, spans) double arrays, dimension-ordered. min/max over doubles
    * are exact selections (no accumulation), so the stats — and everything
    * derived from them — are bit-reproducible under any partitioning.
    */
  def sq8Stats(df: DataFrame, vec: Column): DataFrame =
    df.select(posexplode(vec.cast("array<double>")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(sort_array(collect_list(struct(col("d"), col("mn"), col("mx")))).as("a"))
      .select(
        transform(col("a"), s => s.getField("mn")).as("mins"),
        transform(col("a"), s => s.getField("mx") - s.getField("mn")).as("spans"))

  /** Attach the 8-bit code array: code_d = min(255, ⌊(x_d − mn_d)/span_d ·
    * 256⌋), with constant dimensions (span 0) coding to 0. Output:
    * (vid, codes). Pure per-row arithmetic over the broadcast 1-row stats —
    * at 100 TB the candidate side of every downstream join carries these
    * d small ints, never the d floats they summarize.
    */
  def sq8Encode(df: DataFrame, id: Column, vec: Column, stats: DataFrame): DataFrame =
    df.select(id.as("vid"), vec.cast("array<double>").as("xd"))
      .crossJoin(broadcast(stats))
      .select(col("vid"),
        zip_with(
          zip_with(col("xd"), col("mins"), (x, mn) => x - mn), col("spans"),
          (d, s) => when(s > lit(0.0),
            least(lit(255L), floor(d / s * lit(256.0)).cast("long")))
            .otherwise(lit(0L))).as("codes"))

  /** Asymmetric SQ8 distance: ‖q − dequant(codes)‖² with midpoint
    * dequantization deq_d = (code_d + 0.5)·span_d/256 + mn_d, folded in
    * dimension order (bit-identical to the oracle's list_reduce).
    */
  private def sq8AdcDist(qd: Column, codes: Column, mins: Column, spans: Column): Column = {
    val deq = zip_with(
      zip_with(codes, spans, (c, s) => (c.cast("double") + lit(0.5)) * s / lit(256.0)),
      mins, (t, mn) => t + mn)
    val diff = zip_with(qd, deq, (a, b) => a - b)
    aggregate(transform(diff, x => x * x), lit(0.0), (a, x) => a + x)
  }

  /** LSH-bucketed approximate top-k under SQ8 ADC distance — the scalable
    * composition: candidate generation is the q63 single-table hyperplane
    * bucket join, but the INDEX side of the join carries only (vid, bucket,
    * codes); raw vectors ride exclusively with queries. Output:
    * (query_id, neighbor_id, adc_dist, rank), rank by (adc_dist asc,
    * neighbor_id asc) — integer codes make the distance deterministic, so
    * the ranking is engine-exact.
    *
    * Scale shape: one aggregation pass for stats (1 row, broadcast +
    * localCheckpoint'd — encode and ADC both consume it), one per-row
    * encode, one bucket equi-join whose fan-out is bucket occupancy (the
    * q63 guarantee), WindowGroupLimit caps the per-query shuffle at O(k).
    */
  def sq8LshTopK(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      numPlanes: Int,
      numDims: Int): DataFrame = {
    val stats = sq8Stats(df, vec).localCheckpoint()
    val base = df.select(id.as("vid"), vec.cast("array<double>").as("xd"))
    val bucketed = base.withColumn("bucket",
      lshBucket(col("xd"), table = 0, numPlanes = numPlanes, numDims = numDims))
    val index = bucketed.select(col("vid"), col("bucket"))
      .join(sq8Encode(df, id, vec, stats), "vid")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    bucketed.select(col("vid").as("query_id"), col("xd"), col("bucket"))
      .join(index.select(col("vid").as("neighbor_id"), col("bucket"), col("codes")),
        Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("neighbor_id"),
        sq8AdcDist(col("xd"), col("codes"), col("mins"), col("spans")).as("adc_dist"))
      .withColumn("rank", row_number().over(win))
      .where(col("rank") <= k)
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein '98) —
    * the diversified top-k every RAG stack wants: greedily pick the
    * candidate maximizing wRel·rel − wDiv·max_{s∈selected} sim(c, s), so
    * near-duplicate hits stop crowding the context window. The greedy is
    * inherently sequential in k, so the k rounds UNROLL (the q297/q259
    * discipline — engine rounds == oracle CTE rounds, hash-match
    * unconditional); each round is one anti join + one bounded join
    * against the already-selected set + one per-query argmax window.
    *
    * Inputs: `cand` (query_id, neighbor_id, rel) — per-query candidate
    * lists already cut to a bounded size; `psim` (query_id, a, b, sim) —
    * candidate-pair similarities (per-query candidates², bounded by the
    * candidate cut, NOT the corpus). Weights are passed separately
    * (wDiv = 0.3, not 1−0.7) so both engines evaluate the identical
    * double literals. Ties break by neighbor_id. Output: (query_id,
    * neighbor_id, round), round 1..k.
    */
  def mmrRerank(cand: DataFrame, psim: DataFrame, k: Int,
      wRel: Double, wDiv: Double): DataFrame = {
    require(k >= 1, "need at least one MMR round")
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    var sel = cand.withColumn("score", col("rel"))
      .withColumn("rn", row_number().over(W))
      .where(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("round"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val pick = cand
        .join(sel.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(psim.select(col("query_id"), col("a").as("neighbor_id"),
          col("b"), col("sim")), Seq("query_id", "neighbor_id"))
        .join(sel.select(col("query_id"), col("neighbor_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("neighbor_id"), col("rel"))
        .agg(max(col("sim")).as("msim"))
        .withColumn("score", lit(wRel) * col("rel") - lit(wDiv) * col("msim"))
        .withColumn("rn", row_number().over(W))
        .where(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), lit(r).as("round"))
      sel = sel.unionByName(pick).localCheckpoint()
    }
    sel
  }
}
