package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines. Everything
  * derives from the cross-engine hash of the row id — no RNG state, so splits
  * are reproducible across runs, engines, and cluster sizes, and a row's
  * assignment never changes when the corpus grows (the property that keeps
  * eval sets uncontaminated across dataset versions).
  */
object Sampling {

  /** Stable bucket in [0, 100) for an id (salted). */
  def hashBucket(id: Column, salt: String = "split"): Column =
    pmod(Hashing.hash60(concat(lit(salt + "-"), id.cast("string"))), lit(100L))

  /** DuckDB twin of [[hashBucket]]. */
  def duckHashBucket(idExpr: String, salt: String = "split"): String =
    s"(${Hashing.duckHash60(s"('$salt-' || CAST($idExpr AS VARCHAR))")} % 100)"

  /** Add bucket + split-label columns: train / val / test by bucket ranges
    * [0, trainPct), [trainPct, trainPct+valPct), rest.
    */
  def withSplit(df: DataFrame, id: Column, trainPct: Int, valPct: Int,
      salt: String = "split"): DataFrame = {
    val b = hashBucket(id, salt)
    df.withColumn("bucket", b)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** LEAKAGE-FREE split: assignment by near-dup CLUSTER, not by document.
    * [[withSplit]] hashes each doc independently, so a near-duplicate pair
    * can straddle train and test — the eval set then contains paraphrases
    * of training documents and every benchmark number on it is inflated
    * (the split-level face of the q87 contamination problem). Here the
    * split key is the cluster representative from any pair generator's
    * [[Dedup.connectedComponents]] labels: every member of a near-dup
    * cluster hashes the SAME rep id and lands on the same side, provably
    * (SamplingSpec pins zero straddling pairs). Docs absent from `labels`
    * are singletons and hash their own id — for them the assignment is
    * IDENTICAL to [[withSplit]], so growing the pair set only ever moves
    * whole clusters, never reshuffles the untouched corpus.
    *
    * Output: (doc_id, rep_id, bucket, split).
    *
    * Scale shape: one join of the corpus id column against the (id,
    * cluster_id) label frame (two-long rows, a vanishing fraction of the
    * corpus); the split itself stays a pure per-row hash expression.
    */
  def clusterSplit(df: DataFrame, id: Column, labels: DataFrame,
      trainPct: Int, valPct: Int, salt: String = "split"): DataFrame = {
    df.select(id.as("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left_outer")
      .withColumn("rep_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", hashBucket(col("rep_id"), salt))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("rep_id"), col("bucket"), col("split"))
  }

  /** Deterministic SOURCE MIXING: sample each source at its own rate — the
    * "data mixing weights" step of a training-data pipeline (e.g. keep all
    * of wiki, half of web, a tenth of everything else). A row survives iff
    * its salted id hash lands under the source's threshold, so the decision
    * is a pure per-row expression: no shuffle, no RNG state, reproducible on
    * any partitioning, and a source's kept-set only shrinks/grows
    * monotonically as its rate moves (nested samples — the property that
    * lets mixture ablations share one corpus scan).
    *
    * Rates are fixed-point (millionths) so both engines compare integers —
    * no float-boundary drift. Unlisted sources fall back to `defaultRate`.
    */
  /** [[mixBySource]] with rates DERIVED IN-PLAN instead of hand-specified —
    * the application half of temperature mixing: join each row to its
    * source's acceptance rate (a #sources-row broadcast, e.g.
    * [[temperatureMixWeights]] output) and keep it iff the salted id hash
    * lands under rate·10⁶. The threshold is a double computed identically
    * in both engines (sqrt is correctly rounded, the normalizer folds in
    * fixed order), compared against an integer hash — exact below 2⁵³.
    * Same nested-sample and no-shuffle properties as [[mixBySource]].
    * `rates`: (src, rate) with rate ∈ [0, 1].
    */
  def mixByDerivedRates(df: DataFrame, id: Column, source: Column,
      rates: DataFrame, salt: String = "mix"): DataFrame = {
    val den = 1000000L
    df.join(broadcast(rates.select(col("src"), col("rate"))),
        source === col("src"))
      .where(pmod(Hashing.hash60(concat(lit(salt + "-"), id.cast("string"))),
        lit(den)).cast("double") < col("rate") * lit(den.toDouble))
      .drop("src", "rate")
  }

  def mixBySource(df: DataFrame, id: Column, source: Column,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = "mix"): DataFrame = {
    val den = 1000000L
    def thr(r: Double): Long = {
      require(r >= 0.0 && r <= 1.0, s"rate out of [0,1]: $r")
      math.round(r * den)
    }
    val rateCol = rates.foldLeft(lit(thr(defaultRate))) { case (acc, (k, v)) =>
      when(source === k, lit(thr(v))).otherwise(acc)
    }
    df.where(
      pmod(Hashing.hash60(concat(lit(salt + "-"), id.cast("string"))), lit(den)) < rateCol)
  }

  /** DuckDB twin of [[mixBySource]]'s keep-predicate. Mirrors the Spark
    * side's rate validation, degrades to the bare default threshold when no
    * per-source rate is given (an empty CASE is a SQL parse error), and
    * escapes quotes in source keys.
    */
  def duckMixPredicate(idExpr: String, sourceExpr: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = "mix"): String = {
    val den = 1000000L
    def thr(r: Double): Long = {
      require(r >= 0.0 && r <= 1.0, s"rate out of [0,1]: $r")
      math.round(r * den)
    }
    val rateExpr =
      if (rates.isEmpty) thr(defaultRate).toString
      else {
        val cases = rates.map { case (k, v) =>
          s"WHEN $sourceExpr = '${k.replace("'", "''")}' THEN ${thr(v)}" }.mkString(" ")
        s"(CASE $cases ELSE ${thr(defaultRate)} END)"
      }
    s"(${Hashing.duckHash60(s"('$salt-' || CAST($idExpr AS VARCHAR))")} % $den) < $rateExpr"
  }

  /** Distributed two-phase GLOBAL running sum of `w` in id order — the
    * shared engine under [[packSequences]] and
    * [[systematicWeightedSample]]: range-partition by id, per-partition
    * window cumsum in parallel, then a #partitions-row offset table (the
    * only global step — one row per partition at any scale) broadcast
    * back. No single-partition window ever sees corpus rows, and the
    * result is partitioning-INDEPENDENT (every row's offsets are the same
    * whatever range boundaries were sampled). Rows with non-positive
    * weight are dropped (they occupy no span on the weight line).
    *
    * The ranged (doc_id, w, pid) frame is localCheckpoint'd — ~24
    * bytes/row, no text — because its two consumers (local window, offset
    * table) do not canonicalize to one exchange; without the break the
    * upstream scan + weight derivation + range shuffle would run twice
    * (the ivfTopK lesson).
    *
    * Output: (doc_id, w, start_w, end_w) with end_w = start_w + w, spans
    * abutting in id order starting at 0.
    */
  def globalCumsum(df: DataFrame, id: Column, w: Column): DataFrame =
    globalCumsumBy(df, id, w, id).drop("key")

  /** [[globalCumsum]] generalized to an ARBITRARY total order: spans abut in
    * (key, id) order (the id tiebreak keeps the order total on duplicate
    * keys) instead of id order. Same two-phase shape — range-partition on
    * (key, id), per-partition window cumsum, #partitions-row offset table
    * broadcast back — and the same partitioning-independence: every row's
    * offsets depend only on the global (key, id) order, not on where the
    * range boundaries fell. Output adds the key: (doc_id, key, w, start_w,
    * end_w).
    */
  def globalCumsumBy(df: DataFrame, id: Column, w: Column, key: Column): DataFrame = {
    val base = df.select(id.as("doc_id"), key.as("key"), w.cast("long").as("w"))
      .where(col("w") > 0)
    val parts = base.repartitionByRange(col("key"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // explicit ROWS frame: the default RANGE frame would give duplicate ids
    // identical cumulative sums (overlapping spans, conservation broken).
    // Ids are expected unique (every catalog table's are); with duplicates
    // the ROWS frame still conserves weight but their relative order is
    // partition-dependent.
    val wLocal = Window.partitionBy(col("pid")).orderBy(col("key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts.withColumn("local_end", sum(col("w")).over(wLocal))
    // offset per partition: exclusive prefix sum of partition totals (rows =
    // #partitions, bounded by cluster parallelism — not data volume)
    val wOff = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offTable = parts.groupBy(col("pid")).agg(sum(col("w")).as("ptotal"))
      .withColumn("offset", coalesce(sum(col("ptotal")).over(wOff), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offTable), "pid")
      .withColumn("end_w", col("offset") + col("local_end"))
      .withColumn("start_w", col("end_w") - col("w"))
      .select(col("doc_id"), col("key"), col("w"), col("start_w"), col("end_w"))
  }

  /** The budget-boundary chunk arithmetic shared by [[packSequences]] and
    * [[packSequencesBy]]: explode each (doc_id, w, start_w) span into the
    * context windows it overlaps, with the per-chunk token count.
    */
  private def chunkSpans(spans: DataFrame, budget: Long): DataFrame = {
    require(budget >= 1, "token budget must be positive")
    spans
      .select(spans.columns.map(col) :+
        explode(sequence(
          expr(s"start_w div ${budget}L"),
          expr(s"(start_w + w - 1) div ${budget}L"))).as("chunk_id"): _*)
      .withColumn("tokens_in_chunk",
        least(col("start_w") + col("w"), (col("chunk_id") + 1) * budget) -
          greatest(col("start_w"), col("chunk_id") * budget))
  }

  /** SEQUENCE PACKING (concat-and-chunk): lay the corpus out as one token
    * stream in id order and cut it into fixed-`budget` context windows — the
    * packing LLM pretraining uses (documents concatenated, chunked at the
    * context length; a document near a boundary spans two chunks). Output:
    * one row per (doc, chunk) span with the token count the doc contributes
    * to that chunk.
    *
    * The global running token total is [[globalCumsum]]'s distributed
    * two-phase cumulative sum — no single-partition window ever sees corpus
    * rows, and the offsets are partitioning-independent, which is exactly
    * what the plain windowed-cumsum oracle checks.
    */
  def packSequences(df: DataFrame, id: Column, tokens: Column, budget: Long): DataFrame =
    chunkSpans(globalCumsum(df, id, tokens)
        .select(col("doc_id"), col("w"), col("start_w")), budget)
      .select(col("doc_id"), col("chunk_id"), col("w").as("n_tok"),
        col("tokens_in_chunk"))

  /** CURRICULUM sequence packing: [[packSequences]] with the documents laid
    * on the token line in (key, id) order instead of id order — pass a
    * difficulty proxy (LM nll, quality score, length) as `key` and the
    * packed chunks read easy→hard in chunk_id order, the standard
    * curriculum-learning data layout. Same budget-boundary arithmetic, same
    * two-phase distributed cumsum (no corpus-row single-partition window
    * anywhere); the only new cost is range-partitioning on the key instead
    * of the id. Output: (doc_id, key, chunk_id, n_tok, tokens_in_chunk).
    */
  def packSequencesBy(
      df: DataFrame, id: Column, tokens: Column, key: Column, budget: Long): DataFrame =
    chunkSpans(globalCumsumBy(df, id, tokens, key)
        .select(col("doc_id"), col("key"), col("w"), col("start_w")), budget)
      .select(col("doc_id"), col("key"), col("chunk_id"), col("w").as("n_tok"),
        col("tokens_in_chunk"))

  /** Greedy TOKEN-BUDGET corpus selection: take documents in (score desc,
    * id asc) order until the next document would push the cumulative token
    * count past `budget` — "give me the best N-token corpus" as one
    * dataflow, the selection counterpart of [[packSequencesBy]]'s
    * curriculum ordering. A document is selected iff the cumulative token
    * count INCLUDING it stays ≤ budget, so the selection is a prefix of the
    * quality ordering (deterministic; no knapsack backfill — a document
    * larger than the remaining budget ends the prefix, matching the greedy
    * semantics a curator can reason about).
    *
    * Scale shape: the [[globalCumsumBy]] two-phase cumsum (one range
    * shuffle on (−score, id), #partitions-row offset table) — no
    * corpus-row single-partition window; the budget cut is a per-row
    * predicate on the exact global prefix sums.
    *
    * Output: (doc_id, score, n_tok, cum_tok), cum_tok ≤ budget.
    */
  def selectByBudget(df: DataFrame, id: Column, score: Column, tokens: Column,
      budget: Long): DataFrame = {
    require(budget >= 1, "token budget must be positive")
    val spans = globalCumsumBy(df, id, tokens, negate(score))
    spans.where(col("end_w") <= budget)
      .select(col("doc_id"), negate(col("key")).as("score"),
        col("w").as("n_tok"), col("end_w").as("cum_tok"))
  }

  /** Distributed EXACT global rank by (value, id) — the ordering engine
    * under [[equiDepthHistogram]], built exactly like [[globalCumsum]] but
    * ordered by an arbitrary value column: range-partition on (v, id) (the
    * id tiebreak makes the order total, so the result is deterministic on
    * duplicate values), per-partition row_number in parallel, then the
    * #partitions-row count-offset table broadcast back. The classic
    * "global sort order without a global window" two-phase — a bare
    * `row_number() OVER (ORDER BY v)` at 100 TB is a single-task sort.
    *
    * Output: (rid, v, rank), rank 1..N dense in (v, id) order.
    */
  def globalRank(df: DataFrame, value: Column, id: Column): DataFrame = {
    val base = df.select(id.as("rid"), value.as("v"))
    val parts = base.repartitionByRange(col("v"), col("rid"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val wLocal = Window.partitionBy(col("pid")).orderBy(col("v"), col("rid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts.withColumn("local_rn", count(lit(1)).over(wLocal))
    val wOff = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offTable = parts.groupBy(col("pid")).agg(count(lit(1)).as("pcount"))
      .withColumn("offset", coalesce(sum(col("pcount")).over(wOff), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offTable), "pid")
      .select(col("rid"), col("v"), (col("offset") + col("local_rn")).as("rank"))
  }

  /** EXACT equi-depth histogram: `buckets` buckets of (nearly) equal ROW
    * count — bucket = (rank−1)·buckets div N over the [[globalRank]] order,
    * so every bucket holds ⌊N/B⌋ or ⌈N/B⌉ rows exactly (the property
    * approximate-percentile histograms only promise asymptotically), with
    * per-bucket (n, lo, hi) boundaries. The profiling table that drives
    * partition sizing, skew detection, and CBO-style selectivity estimates.
    * Integer arithmetic on exact ranks — cross-engine hash-exact even on
    * heavily duplicated values (ties split deterministically by id).
    */
  def equiDepthHistogram(df: DataFrame, value: Column, id: Column,
      buckets: Int): DataFrame = {
    require(buckets >= 1, "need at least one bucket")
    val ranked = globalRank(df, value, id)
    val n = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket", expr(s"((rank - 1) * $buckets) div n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** MATERIALIZED sequence packing — the text-assembly step downstream of
    * [[packSequences]]: emit one row per context window with the actual
    * packed token text (documents concatenated in id order, cut at the
    * `budget` boundary; a boundary-straddling doc contributes its token
    * slice to both chunks). The span arithmetic is identical to
    * [[packSequences]] (same [[globalCumsum]], same chunk ids). Two corpus
    * passes by design: the counting pass (ids + counts through the cumsum,
    * checkpointed inside globalCumsum) and the assembly pass that carries
    * the token arrays — checkpointing tokenized text to save the second
    * tokenization would cost more than it saves.
    *
    * Scale shape: the assembly shuffle carries (chunk_id, doc_id, segment)
    * rows — a segment is at most `budget` tokens, and a chunk's group is at
    * most budget tokens total across its segments, so per-group state is
    * budget-bounded regardless of corpus size. Segment order inside a chunk
    * is fixed by the sort_array struct fold (doc_id ascending — the engine's
    * deterministic-concat discipline, == DuckDB's list(ORDER BY doc_id)).
    *
    * Output: (chunk_id, n_docs, n_tokens, chunk_text); every chunk except
    * the last has exactly `budget` tokens.
    */
  def packedChunks(df: DataFrame, id: Column, text: Column, budget: Long): DataFrame = {
    require(budget >= 1, "token budget must be positive")
    val toks = df.select(id.as("doc_id"), Text.tokens(text).as("t"))
    val cum = globalCumsum(toks, col("doc_id"), size(col("t")))
    val seg = cum.join(toks, "doc_id")
      .select(col("doc_id"), col("t"), col("start_w"), col("w"),
        explode(sequence(
          expr(s"start_w div ${budget}L"),
          expr(s"(end_w - 1) div ${budget}L"))).as("chunk_id"))
      .select(col("doc_id"), col("t"), col("chunk_id"),
        (greatest(col("start_w"), col("chunk_id") * budget) - col("start_w") + 1L).as("lo"),
        (least(col("start_w") + col("w"), (col("chunk_id") + 1) * budget) - col("start_w")).as("hi"))
      .select(col("doc_id"), col("chunk_id"),
        (col("hi") - col("lo") + 1L).as("n_seg"),
        concat_ws(" ", slice(col("t"), col("lo").cast("int"),
          (col("hi") - col("lo") + 1L).cast("int"))).as("seg"))
    seg.groupBy(col("chunk_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_seg")).as("n_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("doc_id"), col("seg")))),
          x => x.getField("seg"))).as("chunk_text"))
  }

  /** Weighted SYSTEMATIC sampling (probability-proportional-to-size): lay
    * the corpus on the global weight line ([[globalCumsum]], id order) and
    * pick the rows whose span contains a sampling position `offset`,
    * `offset + step`, `offset + 2·step`, … — the classic PPS design
    * (Madow's systematic selection), where a row's expected pick count is
    * exactly w/step, rows heavier than `step` are picked with
    * multiplicity, and the sample size is fixed at ⌊(W − offset − 1)/step⌋
    * + 1 regardless of weight skew. Every quantity is integer arithmetic
    * on the cumsum — no RNG, no floats, reproducible on any partitioning,
    * and DuckDB-oracle-exact (unlike exponential-key A-ES sampling, whose
    * ln() ranking is not a correctly-rounded operation and can flip
    * near-ties across engines).
    *
    * `n_picks` counts positions p ≡ offset (mod step) with start_w <= p <
    * end_w via a floor-division difference; both numerators are shifted
    * one period positive so Spark's truncating `div` agrees with floor
    * (they diverge on negatives).
    *
    * Output: the picked rows only — (doc_id, w, start_w, n_picks ≥ 1).
    */
  def systematicWeightedSample(df: DataFrame, id: Column, weight: Column,
      step: Long, offset: Long = 0L): DataFrame = {
    require(step >= 1, "step must be positive")
    require(offset >= 0 && offset < step, "offset must be in [0, step)")
    globalCumsum(df, id, weight)
      .withColumn("n_picks",
        expr(s"(end_w - 1 - $offset + $step) div ${step}L") -
          expr(s"(start_w - 1 - $offset + $step) div ${step}L"))
      .where(col("n_picks") >= 1)
      .select(col("doc_id"), col("w"), col("start_w"), col("n_picks"))
  }

  /** Temperature-based mixture weights — the COMPUTE side of
    * [[mixBySource]]: given per-source token masses n_s, the sampling
    * distribution p_s ∝ n_s^α flattens the source skew (α < 1 upsamples
    * small high-quality sources — the multilingual/mixture practice of
    * arXiv:1901.07291 §3.1 and its LLM-corpus descendants). α is pinned to
    * 1/2: `sqrt` is IEEE-correctly-rounded in both engines, so the weights
    * are bit-reproducible, while a general `pow(x, 0.7)` is not a
    * correctly-rounded operation and could diverge in the last ulp.
    *
    * Output per source: token/doc masses, `weight` = p_s, and
    * `acceptance_rate` = min(1, p_s·budget / n_s) — the per-source keep
    * probability that hits `budget` total expected tokens, ready to feed
    * [[mixBySource]]. The weight normalizer is an ordered fold over the
    * (bounded) source list; everything upstream is integer aggregation.
    */
  def temperatureMixWeights(
      df: DataFrame,
      source: Column,
      tokens: Column,
      budget: Long): DataFrame = {
    require(budget >= 1, "token budget must be positive")
    val per = df.groupBy(source.as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(tokens.cast("long")).as("n_tokens"))
    val z = per
      .agg(sort_array(collect_list(struct(col("source"), sqrt(col("n_tokens")
        .cast("double")).as("t")))).as("arr"))
      .select(aggregate(transform(col("arr"), x => x.getField("t")),
        lit(0.0), (a, b) => a + b).as("z"))
    per.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (sqrt(col("n_tokens").cast("double")) / col("z")).as("weight"),
        least(lit(1.0),
          sqrt(col("n_tokens").cast("double")) / col("z") * budget
            / col("n_tokens").cast("double")).as("acceptance_rate"))
  }

  /** Fixed-size token chunks with overlap — the RAG/eval-context companion
    * to [[packSequences]]: where packing concatenates docs into budget-sized
    * training rows, chunking SPLITS each doc into `chunkSize`-token windows
    * starting every `stride` tokens (stride < chunkSize ⇒ overlap, so no
    * retrieval query straddles a hard boundary). The final window is the
    * first one that reaches the document end (possibly shorter than
    * `chunkSize`); a doc at most `chunkSize` tokens long emits exactly one
    * chunk. Pure per-row arithmetic (one explode, ~len/stride rows per
    * doc) — no shuffle at all; Catalyst keeps the whole thing in one
    * projection stage.
    *
    * Output: (doc_id, chunk_id, chunk_start, n_chunk_tokens, chunk_text),
    * `chunk_id` 0-based, `chunk_start` a 1-based token index.
    */
  def chunkWithOverlap(
      df: DataFrame,
      id: Column,
      text: Column,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      "need 1 <= stride <= chunkSize")
    val base = df
      .select(id.as("doc_id"), Text.tokens(text).as("t"))
      .where(size(col("t")) >= 1)
      .withColumn("n", size(col("t")))
      // extra chunks past the first: ceil((n - chunkSize) / stride), via
      // integer div on a numerator the `when` guard keeps positive
      .withColumn("nchunks",
        lit(1) + when(col("n") > chunkSize,
          expr(s"(n - $chunkSize + $stride - 1) div $stride").cast("int"))
          .otherwise(lit(0)))
    base.select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("cid"))
      .select(col("doc_id"),
        col("cid").cast("long").as("chunk_id"),
        (col("cid").cast("long") * stride + 1L).as("chunk_start"),
        least(lit(chunkSize.toLong),
          col("n") - (col("cid").cast("long") * stride + 1L) + 1L)
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("t"),
          (col("cid") * stride + 1).cast("int"),
          least(lit(chunkSize), col("n") - (col("cid") * stride + 1) + 1)
            .cast("int"))).as("chunk_text"))
  }

  /** STRATIFIED sample of exactly `n` rows with largest-remainder
    * (Hamilton) allocation: stratum s gets ⌊n·N_s/N⌋ seats plus one of the
    * n − Σ⌊·⌋ leftover seats in order of remainder (n·N_s mod N) descending
    * (ties → stratum ascending) — the proportional allocation that sums to
    * exactly n with every quota within 1 of exact proportionality. Within
    * each stratum the quota is filled by the [[perGroupSample]] rule
    * (smallest (salted hash, id) members), so membership is deterministic,
    * partitioning-independent, and nested as n grows. All allocation
    * arithmetic is integer — cross-engine exact, no float quotas.
    *
    * Scale shape: the allocation table is #strata rows (bounded domain —
    * source, lang — like [[temperatureMixWeights]]'s fold); its ranking
    * window runs on those rows only, never the corpus. Corpus rows shuffle
    * once on the stratum key for the per-stratum ranking, and the quota
    * table joins back broadcast.
    *
    * If n exceeds the row count, quotas degrade to whole strata. Output:
    * the sampled rows with their stratum's `quota` attached.
    */
  def stratifiedSample(df: DataFrame, id: Column, stratum: Column, n: Long,
      salt: String = "strat"): DataFrame = {
    require(n >= 0, "sample size must be non-negative")
    val counts = df.groupBy(stratum.as("stratum")).agg(count(lit(1)).as("ns"))
    val tot = counts.agg(sum(col("ns")).as("ntot"))
    val alloc = counts.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(${n}L * ns) div ntot"))
      .withColumn("rem", expr(s"(${n}L * ns) % ntot"))
    val totBase = alloc.agg(sum(col("base")).as("sbase"))
    val wRank = Window.orderBy(col("rem").desc, col("stratum").asc)
    val quota = alloc.crossJoin(broadcast(totBase))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("quota",
        col("base") + when(col("rk") <= lit(n) - col("sbase"), 1L).otherwise(0L))
      .select(col("stratum").as("__ss_stratum"), col("quota"))
    val h = Hashing.hash60(concat(lit(salt + "-"), id.cast("string")))
    val wRow = Window.partitionBy(stratum).orderBy(h.asc, id.asc)
    df.withColumn("__ss_rn", row_number().over(wRow))
      .join(broadcast(quota), stratum === col("__ss_stratum"))
      .where(col("__ss_rn") <= col("quota"))
      .drop("__ss_stratum", "__ss_rn")
  }

  /** Deterministic per-group sample: the n group members with the smallest
    * (hash, id) — an order-stable stand-in for reservoir sampling whose
    * output is identical on any partitioning. One shuffle on the group key.
    */
  def perGroupSample(df: DataFrame, group: Column, id: Column, n: Int,
      salt: String = "sample"): DataFrame = {
    val h = Hashing.hash60(concat(lit(salt + "-"), id.cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group)
      .orderBy(h.asc, id.asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  /** Deterministic WEIGHTED sampling WITHOUT replacement, k per group — the
    * Efraimidis–Spirakis A-Res scheme (Inf. Proc. Letters 2006): each row
    * draws u ∈ (0, 1] from the salted id hash and scores
    * key = ln(u)/w (the monotone log form of u^(1/w)); the k LARGEST keys
    * per group are exactly a weight-proportional sample without
    * replacement. Replaces the driver-side reservoir with one
    * WindowGroupLimit: the per-group top-k never materializes more than k
    * rows per group past the exchange, and u is a pure row expression, so
    * the sample is identical on any partitioning AND under appends that
    * don't displace winners (the same property [[perGroupSample]] has for
    * the uniform case; this is its weighted generalization).
    *
    * u = (hash60 + 1)/2^60 ∈ (2^-60, 1] — never 0, so ln(u) is finite.
    * Weights below 1 are CLAMPED TO 1.0 by this function (keeping
    * key = ln(u)/w in [−42, 0]); sub-1 weights therefore lose their
    * relative proportionality — rescale weights to ≥ 1 first if ratios
    * among small weights matter. Output: group, id, w, es_key, rank.
    */
  def weightedSampleTopK(df: DataFrame, group: Column, id: Column,
      weight: Column, k: Int, salt: String = "wsamp"): DataFrame = {
    require(k >= 1, "need k >= 1")
    val u = (Hashing.hash60(concat(lit(salt + "-"), id.cast("string")))
      .cast("double") + lit(1.0)) / lit(1152921504606846976.0)
    val w = greatest(weight.cast("double"), lit(1.0))
    val scored = df.select(group.as("group"), id.as("id"), w.as("w"),
      (log(u) / w).as("es_key"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"))
      .orderBy(col("es_key").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= k)
  }

  /** DuckDB twin of [[weightedSampleTopK]] — same hash-uniform, same log
    * form, same (es_key DESC, id ASC) rank. `tbl` must expose the group,
    * id, and weight expressions by those SQL names.
    */
  def duckWeightedSampleTopK(tbl: String, groupExpr: String, idExpr: String,
      weightExpr: String, k: Int, salt: String = "wsamp"): String = {
    val h = Hashing.duckHash60(s"('$salt-' || CAST($idExpr AS VARCHAR))")
    s"""SELECT "group", id, w, es_key, rank FROM (
       |  SELECT "group", id, w, es_key,
       |    CAST(row_number() OVER (PARTITION BY "group"
       |      ORDER BY es_key DESC, id ASC) AS BIGINT) AS rank
       |  FROM (
       |    SELECT $groupExpr AS "group", $idExpr AS id,
       |      GREATEST(CAST($weightExpr AS DOUBLE), 1.0) AS w,
       |      ln((CAST($h AS DOUBLE) + 1.0) / 1152921504606846976.0)
       |        / GREATEST(CAST($weightExpr AS DOUBLE), 1.0) AS es_key
       |    FROM $tbl))
       |WHERE rank <= $k""".stripMargin
  }

  /** Balanced training-shard assignment — the export-side final mile of the
    * curation pipeline: every document gets a shard in 0..nShards−1 by
    * LPT-style round-robin over the GLOBAL (tokens desc, id asc) order
    * (largest documents deal out first, one per shard per round). For a
    * descending deal the per-round spreads telescope, so
    *
    *   max(shard tokens) − min(shard tokens) ≤ max single-document tokens
    *
    * — near-perfect balance without bin-packing state (SamplingSpec pins
    * the bound). The global order comes from [[globalRank]]'s two-phase
    * range-partition + broadcast-offset cumsum, so no single-task window
    * touches the corpus. Output: (doc_id, n_tok, rank, shard).
    */
  def shardAssign(df: DataFrame, id: Column, tokens: Column,
      nShards: Int): DataFrame = {
    require(nShards >= 1, "need at least one shard")
    // globalRank orders ascending; negate for the descending deal
    Sampling.globalRank(df.select(id.as("doc_id"), tokens.as("n_tok")),
        -col("n_tok"), col("doc_id"))
      .select(col("rid").as("doc_id"), (-col("v")).as("n_tok"), col("rank"),
        pmod(col("rank") - 1, lit(nShards.toLong)).as("shard"))
  }

  /** Per-shard export MANIFEST over a [[shardAssign]] frame: document and
    * token volume, size extremes, and an order-independent membership
    * checksum (sum of per-doc `hash60 mod p` — additive, so the stored
    * shards can be re-manifested after any rewrite and diffed against
    * this). The table a consumer checks before trusting a corpus drop.
    * Output: (shard, n_docs, n_tokens, max_doc_tokens, min_doc_tokens,
    * checksum).
    *
    * Checksum headroom: each term is < 10⁹ (mod 1 000 000 007), so the
    * long sum overflows only past ~9×10⁹ documents PER SHARD — raise
    * nShards long before that.
    */
  def shardManifest(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        max(col("n_tok")).as("max_doc_tokens"),
        min(col("n_tok")).as("min_doc_tokens"),
        sum(pmod(Hashing.hash60(col("doc_id").cast("string")),
          lit(1000000007L))).as("checksum"))
      .orderBy(col("shard").asc)

  /** Water-filling mixture allocation: given per-source token counts and
    * a total budget, the unique fair cap c where every source keeps
    * min(tokens, c) and the budget is met exactly — the anti-domination
    * allocator for mixture design (a proportional cut hands the largest
    * crawl most of the budget; water-filling funds small sources fully
    * and splits the rest evenly among the big ones). Exact integer
    * arithmetic: sources sort ascending, a source is fully funded iff
    * funding EVERYONE remaining at its size still fits, and the capped
    * remainder divides as base = rem div m with the first rem mod m
    * capped sources (ascending order) taking +1 — Σ alloc ==
    * min(budget, total) exactly, no float water level.
    *
    * The frame is #sources rows; the ordered window over it is the
    * bounded-small-frame class (the offset-table discipline), never
    * data-sized. Output: (src, tok, alloc, capped).
    */
  def waterFillAllocation(counts: DataFrame, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("tok").asc, col("src").asc)
    val ranked = counts.select(col("src"), col("tok"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prefix", sum(col("tok")).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("nsrc", count(lit(1)).over(W.partitionBy()))
      .localCheckpoint()
    // fully funded iff even giving every remaining source this much fits
    val funded = ranked.withColumn("full",
      col("tok") * (col("nsrc") - col("rn") + 1) <=
        lit(budget) - (col("prefix") - col("tok")))
    val caps = funded.agg(
      sum(when(col("full"), col("tok")).otherwise(0L)).as("p"),
      sum(when(col("full"), 0L).otherwise(1L)).as("m"),
      min(when(!col("full"), col("rn"))).as("first_capped"))
    funded.crossJoin(broadcast(caps))
      .select(col("src"), col("tok"),
        when(col("full"), col("tok"))
          .otherwise(
            floor((lit(budget) - col("p")).cast("double") / col("m"))
              .cast("long") +
              when(col("rn") - col("first_capped") <
                pmod(lit(budget) - col("p"), col("m")), 1L).otherwise(0L))
          .as("alloc"),
        (!col("full")).as("capped"))
  }

  /** Rendezvous (highest-random-weight) shard assignment: shard = argmax
    * over shards of hash(salt-shard-id) — the consistent-assignment
    * scheme whose REBALANCE law is provable row by row: growing from N to
    * N+1 shards, an id moves iff the new shard's hash beats its old
    * maximum, so every move lands ON the new shard and the expected moved
    * fraction is 1/(N+1) (mod-N hashing would reshuffle ~N/(N+1) of the
    * corpus). Ties (a 60-bit hash collision between two shard scores of
    * the same id, ~2⁻⁶¹ per pair) break to the larger shard index —
    * pinned, and mirrored in the oracle's (h DESC, sh DESC) rank.
    */
  def rendezvousShard(id: Column, nShards: Int, salt: String = "hrw"): Column = {
    require(nShards >= 1, "need at least one shard")
    val scored = (0 until nShards).map(sh =>
      struct(
        Hashing.hash60(concat(lit(s"$salt-$sh-"), id.cast("string"))).as("h"),
        lit(sh).as("sh")))
    array_max(array(scored: _*)).getField("sh")
  }

  /** DURABLE per-key sample table — [[perGroupSample]] as a maintained
    * artifact: each key keeps its k members with the smallest (hash, id)
    * priority. "k smallest by a fixed total order" is a SEMILATTICE merge
    * (idempotent, commutative, associative: union any shard tables and
    * re-elect), so the table maintains incrementally with no ordering
    * contract and no rescan of absorbed rows — new docs compete against the
    * k stored rows per key, never against history. Re-absorbing a shard is
    * a no-op (the at-least-once property, like [[HllIndex]] — and unlike
    * additive count tables, where double-absorption double-counts).
    *
    * Output: (key, doc_id, h). Shards are id-disjoint in normal operation;
    * merge is correct regardless because the election dedups nothing — a
    * duplicated (key, doc_id) row would elect once only if exact-duplicate
    * rows are first dropped, which id-disjoint shards make unnecessary.
    */
  def sampleTable(df: DataFrame, key: Column, id: Column, k: Int,
      salt: String = "sample"): DataFrame = {
    val h = Hashing.hash60(concat(lit(salt + "-"), id.cast("string")))
    electTopK(df.select(key.as("key"), id.as("doc_id"), h.as("h")), k)
  }

  /** Merge sample-table shards: union + re-election. */
  def sampleTableMerge(shards: Seq[DataFrame], k: Int): DataFrame = {
    require(shards.nonEmpty, "merge needs at least one sample shard")
    electTopK(shards.reduce(_ unionByName _), k)
  }

  private def electTopK(t: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("h").asc, col("doc_id").asc)
    t.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Poisson(1) bootstrap weight for replicate `b` of row `id` — THE
    * confidence-interval method that works at corpus scale (resampling n
    * rows with replacement is a global shuffle; per-row independent
    * Poisson(1) weights approximate it to O(1/n) and need one pass).
    * Deterministic: the weight is a pure function of (id, b) through the
    * cross-engine hash; thresholds are the Poisson(1) CDF at 10⁻⁴
    * resolution (e⁻¹ ≈ 0.3679, cumulative ×10⁴, weights ≥ 5 lumped —
    * P(W ≥ 5) ≈ 0.37%).
    */
  def poissonWeight(id: Column, b: Column, salt: String = "pb"): Column = {
    val u = pmod(Hashing.hash60(
      concat(id.cast("string"), lit("#" + salt), b.cast("string"))), lit(10000L))
    when(u < 3679, 0L).when(u < 7358, 1L).when(u < 9197, 2L)
      .when(u < 9810, 3L).when(u < 9963, 4L).otherwise(5L)
  }

  /** DuckDB twin of [[poissonWeight]]; `idExpr`/`bExpr` are SQL expressions
    * (the id must cast to the same string Spark produces).
    */
  def duckPoissonWeight(idExpr: String, bExpr: String,
      salt: String = "pb"): String = {
    val u = s"(${Hashing.duckHash60(
      s"(CAST($idExpr AS VARCHAR) || '#$salt' || CAST($bExpr AS VARCHAR))")} % 10000)"
    s"""CASE WHEN $u < 3679 THEN 0 WHEN $u < 7358 THEN 1
       |  WHEN $u < 9197 THEN 2 WHEN $u < 9810 THEN 3
       |  WHEN $u < 9963 THEN 4 ELSE 5 END""".stripMargin
  }

  /** Poisson-bootstrap confidence interval for the mean of an exact integer
    * metric (e.g. price cents): B replicate means, each Σw·x / Σw with the
    * weighted sums folded in decimal(38,0) (exact at any scale), then
    * nearest-rank order statistics of the B-row means frame (rank 2 and
    * B−1 for B=32 ≈ a 94% interval). One corpus pass over B×n narrow rows;
    * the only post-reduction state is the B-row frame.
    */
  def poissonBootstrapMean(df: DataFrame, id: Column, x: Column,
      b: Int = 32): DataFrame = {
    require(b >= 4, "need at least 4 bootstrap replicates")
    val reps = df.select(id.cast("string").as("k"), x.as("x"))
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("w", poissonWeight(col("k"), col("b")))
    val means = reps.groupBy(col("b"))
      .agg(sum(col("w") * col("x").cast("decimal(38,0)")).as("swx"),
        sum(col("w")).as("sw"))
      .select(col("b"), (col("swx").cast("double") / col("sw")).as("m"))
    val ranked = means.withColumn("rn",
      row_number().over(Window.orderBy(col("m").asc, col("b").asc)))
    val ci = ranked.agg(
      min(when(col("rn") === 2, col("m"))).as("boot_lo"),
      min(when(col("rn") === b - 1, col("m"))).as("boot_hi"))
    df.agg(count(lit(1)).as("n"),
        (sum(x.cast("decimal(38,0)")).cast("double") / count(lit(1))).as("mean_x"))
      .crossJoin(broadcast(ci))
      .withColumn("n_boot", lit(b))
  }
}
