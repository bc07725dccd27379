package graft

import org.apache.spark.sql.functions._

/** One-off scale-curve shard generator: replicate the sf0.1
  * documents/embeddings tables N× with deterministic per-replica salting,
  * so the headline LLM-pipeline families can be timed at 1× and N× and the
  * t(N×)/t(1×) ratio recorded in BASELINE.md — empirical evidence for the
  * "would this survive 100×" scale arguments the PlanSpec pins make
  * structurally.
  *
  * Salting, not copying: an exact N-fold copy would be degenerate input for
  * the dedup families (every replica a true duplicate — LSH buckets would
  * measure the pathology, not the scaling). Replica r > 0 prefixes a
  * replica token to `text` (shifting every shingle window) and re-derives
  * `n_chars`; embeddings get a per-(vector, dim, replica) hash jitter so
  * vectors are near but not identical. IDs offset by replica so keys stay
  * unique. Replica 0 is the original bytes.
  *
  * The remaining tables are not replicated (the headline families read only
  * documents/embeddings); point other queries at the source dir.
  *
  * Usage: runMain graft.ScaleShard <srcSfDir> <outDir> [replicas=10]
  */
object ScaleShard {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleShard <srcSfDir> <outDir> [replicas=10]")
    val (src, out) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 10
    val cpus = Sessions.envCpus()
    val spark = Sessions.local(cpus)

    val r = explode(sequence(lit(0), lit(reps - 1))).as("r")

    // the replica id offset must not collide with source ids — testdata ids
    // are well under 10M, but a silent wrap here would alias replicas
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
    val srcEmb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxIds = srcDocs.agg(max(col("doc_id"))).head().getLong(0)
      .max(srcEmb.agg(max(col("vec_id"))).head().getLong(0))
    require(maxIds < 10000000L,
      s"ScaleShard: max source id $maxIds >= 10M replica offset — ids would collide")

    val docs = srcDocs
      .select(col("*"), r)
      .select(
        (col("doc_id") + col("r").cast("long") * lit(10000000L)).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(concat(lit("zz"), col("r").cast("string"), lit(" "),
            col("text"))).as("text"),
        col("lang"), col("source"), col("r"), col("n_chars").as("src_n_chars"))
      // replica 0 is the original bytes — n_chars included; only salted
      // replicas (whose text shifted) recompute it
      .withColumn("n_chars", when(col("r") === 0, col("src_n_chars"))
        .otherwise(length(col("text")).cast("long")))
      .drop("r", "src_n_chars")
    docs.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = srcEmb
      .select(col("*"), r)
      .select(
        (col("vec_id") + col("r").cast("long") * lit(10000000L)).as("vec_id"),
        when(col("r") === 0, col("embedding"))
          .otherwise(zip_with(col("embedding"),
            sequence(lit(1), size(col("embedding"))),
            (x, i) => (x + (pmod(xxhash64(col("vec_id"), col("r"), i),
              lit(1000)).cast("float") - lit(500.0f)) / lit(1000000.0f))
              .cast("float"))).as("embedding"),
        col("label"))
    emb.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    println(s"[scaleshard] wrote ${reps}x documents=" +
      spark.read.parquet(s"$out/documents.parquet").count() +
      " embeddings=" + spark.read.parquet(s"$out/embeddings.parquet").count() +
      s" to $out")
    spark.stop()
  }
}
