package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted IVF-PQ (IVFADC) index as three tables — the model state a
  * production vector-search deployment stores ONCE and serves from, instead
  * of retraining inside every query (the q93–q99 queries train in-plan; this
  * is their materialized twin, the same table-ification the sketch/moment
  * tables apply to distinct-count state):
  *
  *  - `centroids` (clabel INT, carr ARRAY&lt;DOUBLE&gt;): the coarse
  *    quantizer — k rows of model parameters.
  *  - `codebooks` (sub INT, clabel INT, dim INT, c DOUBLE): the flat
  *    residual PQ codebooks — m·k·(dims/m) doubles.
  *  - `codes` (vid, cluster INT, codes ARRAY&lt;INT&gt;): the encoded corpus,
  *    one row per vector — the ONLY corpus-scale table, m small ints per
  *    row (the 32× memory compression that makes a billion-vector index
  *    fit), stored pre-grouped in posting-list shape (cluster attached,
  *    code array ordered by subspace) so search joins it directly with no
  *    per-query aggregation.
  *
  * All three frames are materialized (localCheckpoint at build, parquet via
  * [[AnnIndex.write]]) — a search plan over them contains NO training
  * lineage (PlanSpec pins this).
  */
final case class IvfPqIndex(
    centroids: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    dims: Int,
    m: Int,
    codewords: Int)

/** Build / persist / incrementally maintain / search the [[IvfPqIndex]].
  *
  * The reference has no ANN surface at all (its whole pipeline is
  * `app/process_articles.py:53-91`); this is the builder's-brief extension:
  * embedding similarity search with the index lifecycle a 100 TB corpus
  * needs — train once on a base corpus, store the model as tables, encode
  * each day's new vectors against the FROZEN model ([[encode]] +
  * [[append]]: per-row, deterministic, so append == full re-encode exactly
  * — q158 hash-proves it), and serve top-k from the stored tables alone
  * ([[search]], q157).
  */
object AnnIndex {

  /** Train + encode an IVF-PQ index over `df`: residual PQ codebooks
    * (salted deterministic k-means, [[Similarity.pqCodebooksFlatResidual]])
    * against the given coarse quantizer, then the full corpus encoded with
    * the frozen model. The centroid/codebook frames are bounded model
    * parameters; `codes` is one (id, cluster, m ints) row per vector.
    */
  def build(
      df: DataFrame,
      id: Column,
      vec: Column,
      coarseCentroids: DataFrame,
      dims: Int,
      m: Int,
      k: Int,
      iters: Int): IvfPqIndex = {
    val cents = coarseCentroids.select(col("clabel"), col("carr")).localCheckpoint()
    val cb = Similarity
      .pqCodebooksFlatResidual(df, id, vec, cents, dims, m, k, iters)
      .localCheckpoint()
    // derived, not a parameter (the ivfPqTopK discipline): a mismatched
    // codeword count would collide densified LUT slots far from the cause.
    // Read the max as nullable: an empty input frame must fail HERE with a
    // clear message, not as an opaque NPE (and never as a codes=null index).
    val maxLabel = cb.agg(max(col("clabel"))).head()
    require(!maxLabel.isNullAt(0),
      "AnnIndex.build: input frame produced no codebooks (empty corpus?) — cannot derive codeword count")
    val codewords = maxLabel.getInt(0) + 1
    val idx = IvfPqIndex(cents, cb, codes = null, dims, m, codewords)
    idx.copy(codes = encode(df, id, vec, idx).localCheckpoint())
  }

  /** Encode vectors against the FROZEN model — the incremental-maintenance
    * path (no training anywhere in this dataflow): assign to the stored
    * coarse centroids, residual-encode against the stored codebooks, emit
    * posting-list rows (vid, cluster, codes). Deterministic per row, so
    * encoding a delta and appending equals re-encoding the union (q158).
    *
    * Scale shape: one broadcast-centroid assignment pass (ids through the
    * checkpoint), one broadcast-codebook min_by pass; shuffles carry
    * (vid, sub, code) ints only.
    */
  def encode(df: DataFrame, id: Column, vec: Column, idx: IvfPqIndex): DataFrame = {
    // the tiny (vid, cluster) frame feeds both the residual join and the
    // final posting-list join — break it once (the q68 lesson)
    val assign = Similarity.ivfAssign(df, id, vec, idx.centroids)
      .select(col("vid"), col("cluster"))
      .localCheckpoint()
    val res = assign
      .join(df.select(id.as("vid"), vec.as("vec")), "vid")
      .join(broadcast(idx.centroids.select(col("clabel").as("cluster"), col("carr"))), "cluster")
      .select(col("vid"),
        zip_with(col("vec"), col("carr"), (x, c) => x.cast("double") - c).as("rv"))
    val codes = Similarity.pqEncode(res, col("vid"), col("rv"), idx.codebooks, idx.dims, idx.m)
    val codeArr = codes.groupBy(col("vid"))
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
    assign.join(codeArr, "vid").select(col("vid"), col("cluster"), col("codes"))
  }

  /** Append freshly-encoded rows ([[encode]] output) to the stored posting
    * lists — the daily-ingest maintenance step. Model tables are untouched
    * (that is the point of a frozen index; retrain = a new [[build]]).
    *
    * UPSERT at read: the stored side is anti-joined by the delta's vids
    * before the union, so a RE-ingested vector (present in both stored base
    * and delta — possibly in a different cell after an embedding update)
    * serves exactly once, from its delta row, and the stored ∪ delta serve
    * (q158, q394) is correct with no fold step in between. The delta is the
    * small side (one ingest cycle), so the anti join broadcasts under AQE;
    * for a fresh-ids-only delta the anti join removes nothing and the
    * result is the plain union (q394's append == re-encode hash proof is
    * unchanged).
    */
  def append(idx: IvfPqIndex, newCodes: DataFrame): IvfPqIndex =
    idx.copy(codes = idx.codes
      .join(newCodes.select(col("vid")), Seq("vid"), "left_anti")
      .unionByName(newCodes))

  /** Delete vectors from the stored posting lists — the right-to-be-
    * forgotten path of the q277/q278/q282 family applied to the ANN stack:
    * a codes row is strictly per-vector (vid, cluster, m ints — nothing in
    * it derives from any other vector), so deletion is an exact key filter
    * and a subsequent [[search]] can never return a removed vector
    * (q396 hash-proves the post-delete serve against a candidate-filtered
    * relational replay). The MODEL tables stay FROZEN: the trained
    * centroids/codebooks retain the deleted vectors' statistical
    * contribution — same caveat class as [[ParaIndex]]'s election tables;
    * removing the training influence entirely means a retrain ([[build]]).
    * Scale shape: an id-only anti join against the posting lists (the
    * removed-id set broadcasts in the common case). This filters the
    * in-memory frame only; the delete that is true in the stored bytes is
    * [[SnapTables.deleteByKey]] on the snapshot-published codes table
    * (q398/q413, and q403 after a streamed ingest).
    */
  def delete(idx: IvfPqIndex, removedIds: DataFrame): IvfPqIndex =
    idx.copy(codes = idx.codes
      .join(removedIds.select(col("vid")), Seq("vid"), "left_anti"))

  /** Per-vector PQ quantization error from the STORED tables — the DECODE
    * direction no other query exercises (search evaluates distances in code
    * space; this reconstructs and measures what the compression lost):
    * err(v) = Σ_sub ‖residual_slice(v, sub) − codeword(sub, codes[sub])‖²,
    * i.e. the squared L2 between each vector and its implied reconstruction
    * (coarse centroid + per-subspace codewords). This is THE index-quality
    * metric an operator trends after append cycles: a frozen model encodes
    * drifted new vectors with growing error, and the audit says WHEN the
    * retrain (a new [[build]]) is due — before recall falls, not after.
    *
    * Scale shape: one broadcast-centroid + broadcast-codebook pass over the
    * posting lists joined to their vectors; the per-subspace errors pivot
    * and fold in FIXED sub order (the [[search]] ADC discipline), so every
    * err is bit-reproducible cross-engine (q397). Output: (vid, cluster,
    * err) — one row per indexed vector.
    *
    * Coverage contract: `df` must carry DISTINCT ids. The `n_subs === m`
    * guard that excludes corrupt-coded vectors (deliberately — a partial
    * reconstruction UNDERREPORTS error) also drops any vid duplicated in
    * `df` (n_subs doubles) and, via the inner join, any indexed vid absent
    * from `df` — all silently. An operator trending this metric should
    * therefore compare audited rows against `idx.codes` rows: shrinkage is
    * the corruption signal (q401 surfaces exactly that as per-cohort
    * n_indexed vs n_audited).
    */
  def reconstructionError(
      df: DataFrame,
      id: Column,
      vec: Column,
      idx: IvfPqIndex): DataFrame = {
    val m = idx.m
    val sd = idx.dims / m
    val cent = broadcast(idx.centroids
      .select(col("clabel").as("cluster"), col("carr")))
    val cw = Similarity.pqCentArrays(idx.codebooks)
      .select(col("sub"), col("clabel").as("code"), col("carr").as("cbarr"))
    // same malformed-row guard as search: a short code array cannot be a
    // meaningful reconstruction either
    val rows = idx.codes
      .where(size(col("codes")) === m)
      .join(df.select(id.as("vid"), vec.as("vec")), "vid")
      .join(cent, "cluster")
      .select(col("vid"), col("cluster"),
        zip_with(col("vec"), col("carr"), (x, c) => x.cast("double") - c).as("rv"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val subErr = rows.join(broadcast(cw), Seq("sub", "code"))
      .select(col("vid"), col("cluster"), col("sub"),
        Similarity.l2sq(
          slice(col("rv"), col("sub") * lit(sd) + lit(1), lit(sd)),
          col("cbarr")).as("d2"))
    // pivot-then-ordered-add (the q157/q391 oracle's own shape): SUM is
    // order-free because each pivot sums one real value and zeros
    val pivots = (0 until m).map(i =>
      sum(when(col("sub") === i, col("d2")).otherwise(lit(0.0))).as(s"d_$i"))
    val tot = (0 until m).map(i => col(s"d_$i")).reduce(_ + _)
    subErr.groupBy(col("vid"), col("cluster"))
      .agg(count(lit(1)).as("n_subs"), pivots: _*)
      // an out-of-range code value (bad write / manual edit) joins no
      // codebook row, and a zero-filled pivot would then UNDERREPORT the
      // error — the inversion of the audit's purpose. Exclude the vector
      // entirely, the same stance as search's short-array guard: a partial
      // reconstruction error is worse than none.
      .where(col("n_subs") === m)
      .select(col("vid"), col("cluster"), tot.as("err"))
  }

  /** Persist the index as parquet tables. `codes` is written partitioned by
    * `cluster` — the on-disk posting-list layout: a selective serve path
    * reading `nprobe` cells touches only those partitions (partition
    * pruning), never the full corpus directory.
    */
  def write(idx: IvfPqIndex, path: String): Unit = {
    idx.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    idx.codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
    idx.codes
      .repartition(col("cluster")) // file count scales with cells, not × tasks
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/codes")
    val spark = idx.centroids.sparkSession
    import spark.implicits._
    Seq((idx.dims, idx.m, idx.codewords)).toDF("dims", "m", "codewords")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load a stored index. The returned frames carry ONLY parquet-scan
    * lineage — a search over them cannot re-run training even by accident.
    */
  def read(spark: SparkSession, path: String): IvfPqIndex = {
    val p = spark.read.parquet(s"$path/params").head()
    IvfPqIndex(
      centroids = spark.read.parquet(s"$path/centroids"),
      codebooks = spark.read.parquet(s"$path/codebooks"),
      codes = spark.read.parquet(s"$path/codes")
        .select(col("vid"), col("cluster"), col("codes")),
      dims = p.getAs[Int]("dims"),
      m = p.getAs[Int]("m"),
      codewords = p.getAs[Int]("codewords"))
  }

  /** IVF-PQ top-k from the STORED tables alone — the serve path. Identical
    * ADC semantics to [[Similarity.ivfPqTopK]] (per-(query, probed cell)
    * residual LUT densified once, fixed-order per-pair fold, rank by
    * (adc asc, neighbor_id asc)), but the candidate side is the stored
    * posting-list table: no corpus assignment, no encoding, no training —
    * the query-side work is |Q|·k_coarse distances + |Q|·nprobe·m·k LUT
    * rows, and the one corpus-scale operation is the cluster-keyed
    * posting-list join feeding a WindowGroupLimit top-k.
    *
    * Output: (query_id, neighbor_id, adc, rank), rank <= k; self-pairs
    * excluded (a query that lives in the corpus never reports itself).
    */
  def search(
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      idx: IvfPqIndex,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "probe at least one cell")
    val m = idx.m
    val sd = idx.dims / m
    val codewords = idx.codewords
    val centByCluster =
      broadcast(idx.centroids.select(col("clabel").as("cluster"), col("carr")))
    val qbase = queries.select(id.as("vid"),
      transform(vec, x => x.cast("double")).as("v"))
    val scoredC = queries.select(id.as("vid"), vec.as("vec"))
      .crossJoin(broadcast(idx.centroids))
      .select(col("vid"), col("clabel"), Similarity.l2sq(col("vec"), col("carr")).as("d2"))
    // nprobe == 1: min_by aggregation (identical (d2, clabel) tie-break)
    // partial-aggregates map-side — one row per query crosses the exchange
    // instead of |Q|·cells distance rows through a ranking window
    val probes =
      if (nprobe == 1)
        scoredC.groupBy(col("vid"))
          .agg(min_by(col("clabel"), struct(col("d2"), col("clabel"))).as("cluster"))
      else {
        val wp = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vid")).orderBy(col("d2").asc, col("clabel").asc)
        scoredC.withColumn("rnk", row_number().over(wp))
          .where(col("rnk") <= nprobe)
          .select(col("vid"), col("clabel").as("cluster"))
      }
    // query residual per probed cell -> m subvector slices -> LUT vs the
    // stored codebooks, densified to an O(1)-lookup array per (query, cell)
    val qSub = probes.join(qbase, "vid").join(centByCluster, "cluster")
      .select(col("vid"), col("cluster"),
        zip_with(col("v"), col("carr"), (x, c) => x - c).as("rv"))
      .select(col("vid"), col("cluster"),
        posexplode(array((0 until m).map(s => slice(col("rv"), s * sd + 1, sd)): _*))
          .as(Seq("sub", "subv")))
    val cw = Similarity.pqCentArrays(idx.codebooks)
      .select(col("sub"), col("clabel").as("code"), col("carr"))
    val lut = qSub.join(broadcast(cw), "sub")
      .select(col("vid").as("qid"), col("cluster"), col("sub"), col("code"),
        Similarity.l2sq(col("subv"), col("carr")).as("d2"))
    val lutArr = lut.groupBy(col("qid"), col("cluster"))
      .agg(map_from_entries(collect_list(struct(
        col("sub") * codewords + col("code"), col("d2")))).as("lutm"))
      .select(col("qid"), col("cluster"),
        transform(sequence(lit(0), lit(m * codewords - 1)),
          i => element_at(col("lutm"), i.cast("int"))).as("lutm"))
    // SALTED cell join (the Similarity.ivfPqTopK discipline, guide §2.5):
    // keyed on the cell id alone, the stored-posting-list scan's
    // parallelism is bounded by the CELL COUNT regardless of cluster size;
    // salting the (cheap, m-byte-code) posting side by a deterministic
    // neighbor hash and fanning the bounded LUT side across the salts
    // spreads the scan over cells × salts tasks. Same pairs exactly once.
    // salt width = parallelism/4: the LUT side duplicates ×saltN (m·k
    // doubles per row — 4 KB at pqK=64), so the width buys scan parallelism
    // at LUT-shuffle cost; any realistic index has ≥4 cells, so cells×S
    // still covers the session's full parallelism at a quarter of the fan
    val saltN = (queries.sparkSession.conf
      .getOption("spark.sql.shuffle.partitions")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(queries.sparkSession.sparkContext.defaultParallelism) / 4).max(1)
    val aSide = lutArr.select(col("cluster"), col("qid").as("query_id"), col("lutm"),
      explode(sequence(lit(0), lit(saltN - 1))).as("__salt"))
    // a stored code array shorter than m (a bad write / manual edit) would make
    // element_at return NULL, the ADC sum NULL, and — since ascending sorts
    // nulls FIRST — put the corrupted row at rank 1; exclude it from the
    // candidate set instead (it cannot be a correct answer either way)
    val bSide = idx.codes
      .where(size(col("codes")) === m)
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
}
