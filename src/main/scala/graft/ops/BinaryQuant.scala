package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary (1-bit) embedding quantization — the smallest member of the
  * quantization family (fp32 → q61, SQ8 → q131/q132, PQ → q93–q95, binary →
  * here): each 64-dim float vector compresses to 64 BITS (two 32-bit words
  * in non-negative longs), bit d set iff the coordinate exceeds the corpus
  * per-dimension mean. Mean thresholding keeps each bit ~balanced, which
  * maximizes the information the Hamming distance carries (the classic
  * "zero-mean the data, then take signs" construction; reference behavior
  * generalized from the embedding pipeline the reference feeds its
  * downstream index from — app/process_articles.py:63-86 ships raw
  * features; this is the 16-byte serving representation of the same
  * column).
  *
  * Serving shape (the production three-stage funnel, mirrored from the SQ8
  * path q132): LSH buckets generate candidates, the 16-byte codes screen
  * them with integer Hamming distance (XOR + popcount — no floats touched),
  * and only the screen's survivors fetch raw vectors for the exact L2
  * rerank. At 100 TB the index side of the candidate join carries
  * (vid, bucket, lo, hi) — 28 bytes/vector — the full-precision vectors are
  * touched for exactly `screenR` rows per query, and every distance in the
  * screen is integer arithmetic, so the whole ranking is engine-exact.
  *
  * Determinism: thresholds are decimal-exact means (Num.dsum discipline);
  * codes are integer; Hamming is integer; the rerank L2 is the dimension-
  * ordered double fold both engines share. Ties break by neighbor_id at
  * both ranks.
  */
object BinaryQuant {

  /** Dimensionality this packer supports (two 32-bit words). */
  val Dims = 64

  /** Per-dimension corpus mean thresholds as ONE broadcastable row:
    * (mus: array&lt;double&gt;), dimension-ordered. Decimal-exact sum then a
    * single double division — bit-identical to the oracle's
    * `CAST(SUM(DECIMAL) AS DOUBLE) / COUNT(*)`.
    */
  def thresholds(df: DataFrame, vec: Column): DataFrame =
    df.select(posexplode(vec).as(Seq("dim", "vd")))
      .groupBy(col("dim"))
      .agg((Num.dsum(col("vd").cast("double"), 9) / count(lit(1))).as("mu"))
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("mu")))),
        x => x.getField("mu")).as("mus"))

  /** One packed 32-bit word (as a non-negative long): bit d set iff
    * vec[base+d] &gt; mus[base+d]. A static sum of 32 literal-weighted
    * comparisons — pure whole-stage-codegen arithmetic, no shifts by
    * column, no sign-bit hazards (max value 2³²−1).
    */
  private def packWord(vec: Column, mus: Column, base: Int): Column =
    (0 until 32).map { d =>
      when(element_at(vec, base + d + 1).cast("double") >
        element_at(mus, base + d + 1), lit(1L << d)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Attach the packed code words: (vid, lo, hi) with lo = bits 0..31 and
    * hi = bits 32..63. Per-row arithmetic over the broadcast 1-row
    * thresholds — the encode never shuffles.
    */
  def encode(df: DataFrame, id: Column, vec: Column, thr: DataFrame): DataFrame = {
    // a thresholds row built from an empty/truncated corpus would make every
    // element_at NULL and silently code everything as 0 — fail loudly
    // instead (the lshBucketComposed length-check discipline; the guard
    // wraps ONE word so the codegen tree isn't replicated per bit)
    val loGuarded = when(size(col("mus")) === Dims,
      packWord(col("xv"), col("mus"), 0))
      .otherwise(raise_error(concat(
        lit(s"BinaryQuant.encode: expected $Dims thresholds, got "),
        size(col("mus")).cast("string"))))
    df.select(id.as("vid"), vec.as("xv"))
      .crossJoin(broadcast(thr))
      .select(col("vid"),
        loGuarded.as("lo"),
        packWord(col("xv"), col("mus"), 32).as("hi"))
  }

  /** Integer Hamming distance between two packed codes. */
  def hamming(loA: Column, hiA: Column, loB: Column, hiB: Column): Column =
    bit_count(loA.bitwiseXOR(loB)) + bit_count(hiA.bitwiseXOR(hiB))

  /** Bucket-partition fan-out of the stored code index. */
  val IndexBuckets = 64

  /** Persist the frozen model + bucketed code index under `path` — the
    * durable form of the q227 funnel's index side (the AnnIndex.write
    * discipline applied to the 16-byte representation), over prebuilt
    * thresholds and [[indexRows]] output (q410 passes its shared
    * full-corpus build):
    *
    *  - `path/thr`: the ONE-ROW thresholds frame — the frozen model. Like
    *    the PQ codebooks it is bounded by dimensionality, not corpus size;
    *  - `path/index`: (vid, bucket, lo, hi) partitioned by
    *    `bb = bucket mod IndexBuckets`, so a small probe batch's bucket
    *    keys dynamic-partition-prune the code scan — the posting-list
    *    layout with 28-byte rows.
    *
    * Raw vectors deliberately do NOT persist here: the funnel touches them
    * for exactly `screenR` rows per query at rerank, fetched from the
    * source table ([[serveStored]]'s `vectors` argument) — duplicating a
    * 100 TB float column into the index would defeat the representation.
    * A table that must change after publication (delete, frozen-model
    * append) publishes `path/index` through [[SnapTables]] instead and
    * serves via [[serveFrames]] (q432/q433).
    */
  def writeFrames(thr: DataFrame, rows: DataFrame, path: String): Unit = {
    thr.write.mode("overwrite").parquet(s"$path/thr")
    rows
      .repartition(col("bb")) // file count scales with fan-out, not × tasks
      .write.mode("overwrite").partitionBy("bb").parquet(s"$path/index")
  }

  /** The stored-index row shape — (vid, bucket, lo, hi, bb) against a
    * (frozen) thresholds frame. One definition shared by [[writeFrames]]
    * and the snapshot publishers (q432/q433, whose append encodes the
    * delta against the re-read stored model), so the code/bucket
    * arithmetic cannot drift between publication paths.
    */
  def indexRows(df: DataFrame, id: Column, vec: Column, thr: DataFrame,
      numPlanes: Int, numDims: Int = Dims): DataFrame = {
    require(numDims == Dims, s"packer is $Dims-dim, got $numDims")
    val bucketed = df.select(id.as("vid"), vec.cast("array<double>").as("xd"))
      .select(col("vid"), Similarity.lshBucket(col("xd"), table = 0,
        numPlanes = numPlanes, numDims = numDims).as("bucket"))
    encode(df, id, vec, thr).join(bucketed, "vid")
      .select(col("vid"), col("bucket"), col("lo"), col("hi"))
      .withColumn("bb", pmod(col("bucket"), lit(IndexBuckets.toLong)).cast("int"))
  }

  /** Load the stored one-row thresholds frame (scan-only lineage). */
  def readThresholds(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/thr")

  /** The [[lshHammingRerankTopK]] funnel served FROM the stored tables —
    * the production read side: probes arrive as raw vectors, encode per row
    * against the stored thresholds (broadcast one-row model) and bucket
    * with the same hyperplanes; candidates and the Hamming screen read ONLY
    * the stored 28-byte index rows (a column-pruned parquet scan whose `bb`
    * partitions prune against the probe buckets); raw vectors are fetched
    * from the SOURCE table `vectors` for exactly the screen survivors. The
    * probe side broadcasts (an ingest batch / review set — the q169/q208
    * serve stance; the q410 catalog leg drives the whole corpus through
    * it only because its oracle is the q227 all-pairs funnel).
    */
  def serveStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      probes: DataFrame,
      id: Column,
      vec: Column,
      vectors: DataFrame,
      vecId: Column,
      vecVec: Column,
      k: Int,
      screenR: Int,
      numPlanes: Int,
      numDims: Int = Dims): DataFrame = {
    // plain scan, no checkpoint: a checkpointed 1-row model would plant an
    // ExistingRDD in what must stay a scan-only serve plan (the q393
    // PlanSpec discipline); the raw index read keeps the stored bb
    // partition column visible to pruning
    serveFrames(spark, readThresholds(spark, path),
      spark.read.parquet(s"$path/index"),
      probes, id, vec, vectors, vecId, vecVec, k, screenR, numPlanes, numDims)
  }

  /** [[serveStored]] over ALREADY-RESOLVED frames — the seam the snapshot
    * legs (q411/q432/q433) serve through: `index` is any
    * (vid, bucket, lo, hi, bb) frame (a raw directory read, or a [[SnapTables.resolve]]d
    * manifest file list, which keeps `bb` because resolve sets basePath),
    * `thr` the one-row frozen model. Same funnel, same plan shape —
    * where the rows come from must not change what serves.
    */
  def serveFrames(
      spark: org.apache.spark.sql.SparkSession,
      thr: DataFrame,
      index: DataFrame,
      probes: DataFrame,
      id: Column,
      vec: Column,
      vectors: DataFrame,
      vecId: Column,
      vecVec: Column,
      k: Int,
      screenR: Int,
      numPlanes: Int,
      numDims: Int = Dims): DataFrame = {
    require(numDims == Dims, s"packer is $Dims-dim, got $numDims")
    val pv = probes.select(id.as("query_id"), vec.cast("array<double>").as("q_v"))
    val qside = pv
      .select(col("query_id"), Similarity.lshBucket(col("q_v"), table = 0,
        numPlanes = numPlanes, numDims = numDims).as("bucket"))
      .join(encode(probes, id, vec, thr)
        .select(col("vid").as("query_id"),
          col("lo").as("q_lo"), col("hi").as("q_hi")), "query_id")
      .withColumn("bb", pmod(col("bucket"), lit(IndexBuckets.toLong)).cast("int"))
    val iside = index
      .select(col("bb"), col("bucket"), col("vid").as("neighbor_id"),
        col("lo"), col("hi"))
    val hWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val screened = broadcast(qside)
      .join(iside, Seq("bb", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hamming(col("q_lo"), col("q_hi"), col("lo"), col("hi")).as("hamming"))
      .withColumn("hrank", row_number().over(hWin))
      .where(col("hrank") <= screenR)
    val rWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("neighbor_id").asc)
    screened
      .join(pv, "query_id")
      .join(vectors.select(vecId.as("neighbor_id"),
        vecVec.cast("array<double>").as("n_v")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        aggregate(
          zip_with(col("q_v"), col("n_v"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v).as("l2_dist"))
      .withColumn("rank", row_number().over(rWin))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("l2_dist"), col("rank"))
  }

  /** LSH-bucketed top-k with binary-code Hamming screening and exact L2
    * rerank — the three-stage serve funnel:
    *
    *  1. candidates: the q63 single-table hyperplane bucket equi-join; the
    *     index side carries only (vid, bucket, lo, hi);
    *  2. screen: per query keep the `screenR` candidates with the smallest
    *     Hamming distance (XOR+popcount on the 16-byte codes; ties →
    *     lowest neighbor_id) — WindowGroupLimit caps the shuffle at
    *     O(screenR) rows per query;
    *  3. rerank: ONLY the survivors fetch their raw vectors (an id
    *     equi-join against the vector table) and rank by the exact
    *     dimension-ordered L2² fold (ties → lowest neighbor_id).
    *
    * Output: (query_id, neighbor_id, hamming, l2_dist, rank), rank ≤ k.
    */
  def lshHammingRerankTopK(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      screenR: Int,
      numPlanes: Int,
      numDims: Int): DataFrame = {
    require(numDims == Dims, s"packer is $Dims-dim, got $numDims")
    val thr = thresholds(df, vec).localCheckpoint()
    val base = df.select(id.as("vid"), vec.cast("array<double>").as("xd"))
    val bucketed = base.withColumn("bucket",
      Similarity.lshBucket(col("xd"), table = 0, numPlanes = numPlanes,
        numDims = numDims))
    val codes = encode(df, id, vec, thr)
    val index = bucketed.select(col("vid"), col("bucket")).join(codes, "vid")

    val hWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val screened = bucketed
      .select(col("vid").as("query_id"), col("bucket"))
      .join(codes.select(col("vid").as("query_id"),
        col("lo").as("q_lo"), col("hi").as("q_hi")), "query_id")
      .join(index.select(col("vid").as("neighbor_id"), col("bucket"),
        col("lo"), col("hi")), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hamming(col("q_lo"), col("q_hi"), col("lo"), col("hi")).as("hamming"))
      .withColumn("hrank", row_number().over(hWin))
      .where(col("hrank") <= screenR)

    val rWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("neighbor_id").asc)
    screened
      .join(base.select(col("vid").as("query_id"), col("xd").as("q_v")), "query_id")
      .join(base.select(col("vid").as("neighbor_id"), col("xd").as("n_v")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        aggregate(
          zip_with(col("q_v"), col("n_v"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v).as("l2_dist"))
      .withColumn("rank", row_number().over(rWin))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("l2_dist"), col("rank"))
  }

  /** Recall audit of the [[lshHammingRerankTopK]] funnel against the EXACT
    * L2 top-k (brute force — the quadratic ground truth, quarantined from
    * the bench set like every other exact-baseline oracle): per query,
    * count how many of the true top-k the funnel returned, then histogram
    * queries by hit count. The table a curator reads before committing the
    * binary-screen path to a production retrieval run — recall lost here is
    * recall lost to EITHER the LSH candidate stage or the Hamming screen,
    * and the audit sees their composition, exactly as serving would.
    * Output: (n_hits 0..k, n_queries).
    */
  def recallAudit(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      screenR: Int,
      numPlanes: Int,
      numDims: Int): DataFrame = {
    val approx = lshHammingRerankTopK(df, id, vec, k, screenR, numPlanes,
        numDims)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("found"))
    val base = df.select(id.as("vid"), vec.cast("array<double>").as("xd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("neighbor_id").asc)
    val exact = base.select(col("vid").as("query_id"), col("xd").as("q_v"))
      .crossJoin(base.select(col("vid").as("neighbor_id"), col("xd").as("n_v")))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(
          zip_with(col("q_v"), col("n_v"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v).as("l2_dist"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    exact
      .join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("found"), lit(0))).cast("long").as("n_hits"))
      .groupBy(col("n_hits"))
      .agg(count(lit(1)).as("n_queries"))
      .orderBy(col("n_hits").asc)
  }
}
