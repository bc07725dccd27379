package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-SELECTION operators: importance weighting of a raw corpus toward a
  * target distribution (DSIR) and classifier-based quality filtering (the
  * "train a classifier on a trusted slice, score everything" pattern) — the
  * two standard ways an LLM pretraining pipeline decides WHICH documents to
  * keep, complementing the dedup (how many copies) and quality-heuristic
  * (is it text at all) stages.
  *
  * Both operators follow the repo's cross-engine determinism discipline:
  * every score is built from natural logs of integer ratios, every per-row
  * sum is an ORDER-FIXED left fold (sorted collect + `aggregate`), and the
  * DuckDB oracles reproduce the identical fold over `list(... ORDER BY ...)`
  * — so doubles hash-match bit for bit.
  */
object Select {

  /** Tokens with empty strings dropped (split("\\s+") emits a leading ""
    * for text starting with whitespace; the generator doesn't produce such
    * text, but the filter makes the operator total).
    */
  private def cleanTokens(text: Column): Column =
    filter(Text.tokens(text), w => length(w) > 0)

  // -------------------------------------------------------------------------
  // DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
  // arXiv:2302.03169): score each raw document by the log-likelihood ratio
  // of a TARGET hashed-n-gram unigram model over a RAW model.
  // -------------------------------------------------------------------------

  /** Per-document DSIR importance weight.
    *
    * Features are hashed unigrams AND word bigrams (the paper's hashed
    * n-gram parameterization, §3.2): bucket = hash60("ds-" || gram) mod
    * `numBuckets`. Two bag-of-buckets distributions are estimated with
    * add-one smoothing —
    *
    *   p_b = (c_target(b) + 1) / (N_target + B)
    *   q_b = (c_raw(b)    + 1) / (N_raw    + B)
    *
    * and the weight of document x is  log w(x) = Σ_b n_b(x)·(ln p_b − ln q_b),
    * folded in BUCKET-ID order. `target_like = logw > 0` is the resampling
    * verdict at the natural threshold (importance resampling proper draws
    * with probability ∝ exp(logw); the deterministic thresholded form is
    * what a reproducible pipeline materializes).
    *
    * Output: (doc_id, n_feats, logw, target_like) — one row per document
    * that produced at least one feature (every non-empty document does).
    *
    * Scale shape for 100 TB: the corpus is exploded ONCE into hashed-gram
    * rows (pre-spread on the doc id — the shingleRows discipline), reduced
    * to per-(doc, bucket) counts with map-side partials, and
    * localCheckpoint'd: the raw and target bucket tables (≤ B rows each)
    * both derive from that compact frame, so nothing re-scans the corpus.
    * The (bucket, llr) model is B rows, broadcast to the scoring join; the
    * per-doc fold is bounded by min(doc grams, B). Nothing corpus-sized
    * crosses a shuffle except the one (doc_id, bucket) reduction.
    *
    * @param isTarget row predicate marking the target-distribution sample
    *                 (e.g. a trusted source or language slice)
    */
  def dsirWeights(
      df: DataFrame,
      id: Column,
      text: Column,
      isTarget: Column,
      numBuckets: Int = 512): DataFrame = {
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"numBuckets must be in [2, 2^20], got $numBuckets")
    val base = Dedup.spreadBy(df, id)
      .select(id.as("doc_id"), isTarget.as("is_t"), cleanTokens(text).as("t"))
    val bigrams = when(size(col("t")) >= 2,
      transform(sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val grams = base.select(col("doc_id"), col("is_t"),
        explode(concat(col("t"), bigrams)).as("g"))
      .select(col("doc_id"), col("is_t"),
        (Hashing.hash60(concat(lit("ds-"), col("g"))) % lit(numBuckets.toLong)).as("b"))
    // the ONLY corpus-sized aggregation; both model tables fold from it
    val docCnt = grams
      .groupBy(col("doc_id"), col("is_t"), col("b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val raw = docCnt.groupBy(col("b")).agg(sum(col("n")).cast("long").as("cq"))
    val tgt = docCnt.where(col("is_t"))
      .groupBy(col("b")).agg(sum(col("n")).cast("long").as("cp"))
    val l0 = raw.join(tgt, Seq("b"), "left_outer")
      .select(col("b"), col("cq"), coalesce(col("cp"), lit(0L)).as("cp"))
    val tots = l0.agg(sum(col("cq")).cast("long").as("nq"),
      sum(col("cp")).cast("long").as("np"))
    val bLit = lit(numBuckets.toLong)
    val llr = l0.crossJoin(broadcast(tots)).select(col("b"),
      (log((col("cp") + lit(1L)).cast("double") / (col("np") + bLit).cast("double")) -
        log((col("cq") + lit(1L)).cast("double") / (col("nq") + bLit).cast("double")))
        .as("llr"))
    docCnt.join(broadcast(llr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).cast("long").as("n_feats"),
        sort_array(collect_list(struct(col("b"),
          (col("n").cast("double") * col("llr")).as("c")))).as("arr"))
      .select(col("doc_id"), col("n_feats"),
        aggregate(transform(col("arr"), x => x.getField("c")),
          lit(0.0), (a, x) => a + x).as("logw"))
      .select(col("doc_id"), col("n_feats"), col("logw"),
        (col("logw") > lit(0.0)).as("target_like"))
  }

  // -------------------------------------------------------------------------
  // Naive Bayes classifier — the relational form of "train a quality/domain
  // classifier, score the corpus" (GPT-3 / LLaMA data pipelines use a linear
  // fastText-style model the same way; multinomial NB is the closed-form
  // member of that family, trainable in ONE aggregation pass).
  // -------------------------------------------------------------------------

  /** Train a multinomial Naive Bayes text classifier on the `isTrain` slice
    * (labels from `label`) and score EVERY document, predicting the argmax
    * class.
    *
    *   score(x, c) = ln(docs_c / docs_total)
    *              + Σ_w n_w(x) · ln((c(w,c) + 1) / (N_c + V))
    *
    * with add-one smoothing, V = kept-vocabulary size, N_c = class token
    * mass over the kept vocabulary. The per-(doc, class) sum is an
    * order-fixed fold over the doc's distinct kept tokens sorted by token;
    * the fold STARTS from the class prior, so the full summation order is
    * pinned. The argmax breaks score ties toward the lexicographically
    * smallest class — `min(struct(-score, class))`, the repo's standard
    * deterministic-argmax shape.
    *
    * `maxVocab` (the 100 TB knob, mirroring [[Text.bigramLmScore]]): keep
    * only the top-V training tokens by total count (count desc, token asc —
    * rank(), so boundary ties keep both). Score-time tokens OUTSIDE the
    * kept vocabulary are ignored (standard NB practice — they carry no
    * class signal); a document with no kept token at all is absent from the
    * output (documented, mirrored by the oracle).
    *
    * Output: (doc_id, label, pred, score, is_train, correct) — `score` is
    * the winning class's log-score; `correct` compares pred to the true
    * label (on train rows that is training accuracy; on the holdout it is
    * the honest eval).
    *
    * Scale shape: the model is three vocabulary-bounded tables (class
    * priors: #classes rows; class token mass: #classes rows; (class, token)
    * counts: ≤ #classes·V rows) — `clsInfo` broadcasts, the (class, token)
    * table hash-joins on (class, token). The corpus side reduces to
    * per-(doc, token) counts once, semi-joins the kept vocab, fans out by
    * the BOUNDED class count, and folds per (doc, class). No corpus-sized
    * state, no driver collect.
    */
  def nbTrainScore(
      df: DataFrame,
      id: Column,
      text: Column,
      label: Column,
      isTrain: Column,
      maxVocab: Option[Int] = None): DataFrame = {
    val base = Dedup.spreadBy(df, id).select(id.as("doc_id"), label.as("lbl"),
      isTrain.as("is_tr"), cleanTokens(text).as("t"))
    val cls = base.where(col("is_tr")).groupBy(col("lbl"))
      .agg(count(lit(1)).as("ndocs"))
    val cwcAll = base.where(col("is_tr"))
      .select(col("lbl"), explode(col("t")).as("w"))
      .groupBy(col("lbl"), col("w")).agg(count(lit(1)).as("cwc"))
    nbScoreWithCounts(base, cls, cwcAll, maxVocab)
  }

  /** The DURABLE NB count tables — (cls(lbl, ndocs), counts(lbl, w, cwc)),
    * RAW and uncapped (the q198 law: top-V-of-merge ≠ merge-of-top-Vs, so
    * the vocab cap belongs at READ, inside the one shared scoring tree).
    * Both tables are ADDITIVE — training on a label-docs delta and merging
    * by summation equals a from-scratch rebuild with no ordering contract
    * (q221 proves it through the prediction surface against q130's
    * verbatim oracle).
    */
  def nbCountTables(train: DataFrame, id: Column, text: Column,
      label: Column): (DataFrame, DataFrame) = {
    val base = Dedup.spreadBy(train, id)
      .select(id.as("doc_id"), label.as("lbl"), cleanTokens(text).as("t"))
    (base.groupBy(col("lbl")).agg(count(lit(1)).as("ndocs")),
      base.select(col("lbl"), explode(col("t")).as("w"))
        .groupBy(col("lbl"), col("w")).agg(count(lit(1)).as("cwc")))
  }

  /** Additive merge of NB count-table pairs (base ∪ delta). */
  def nbMergeCounts(a: (DataFrame, DataFrame),
      b: (DataFrame, DataFrame)): (DataFrame, DataFrame) =
    (a._1.unionByName(b._1).groupBy(col("lbl"))
        .agg(sum(col("ndocs")).as("ndocs")),
      a._2.unionByName(b._2).groupBy(col("lbl"), col("w"))
        .agg(sum(col("cwc")).as("cwc")))

  /** Score a document frame against STORED count tables — the serve path:
    * the vocab cap and all smoothing derive from the tables alone, and the
    * scoring tree is [[nbTrainScore]]'s own tail (shared seam, not a copy).
    */
  def nbScoreFromTables(
      tables: (DataFrame, DataFrame),
      df: DataFrame,
      id: Column,
      text: Column,
      label: Column,
      isTrain: Column,
      maxVocab: Option[Int]): DataFrame = {
    val base = Dedup.spreadBy(df, id).select(id.as("doc_id"), label.as("lbl"),
      isTrain.as("is_tr"), cleanTokens(text).as("t"))
    nbScoreWithCounts(base, tables._1, tables._2, maxVocab)
  }

  /** Retract a removed-docs delta from stored NB count tables — the
    * [[LmIndex.retract]] law applied to the classifier: count the removed
    * docs alone, subtract per key, drop zeroed keys. The decremented
    * tables score every document exactly as a model that never trained on
    * them (q282 proves it through the prediction surface), completing the
    * retraction story for the additive-table class: LM (q278), NB (q282),
    * and by the same algebra CMS/bucket-df counts.
    */
  def nbRetractCounts(full: (DataFrame, DataFrame),
      removed: (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val cls = full._1
      .join(removed._1.withColumnRenamed("ndocs", "dn"), Seq("lbl"), "left_outer")
      .select(col("lbl"), (col("ndocs") - coalesce(col("dn"), lit(0L))).as("ndocs"))
      .where(col("ndocs") > 0)
    val cwc = full._2
      .join(removed._2.withColumnRenamed("cwc", "dn"), Seq("lbl", "w"), "left_outer")
      .select(col("lbl"), col("w"),
        (col("cwc") - coalesce(col("dn"), lit(0L))).as("cwc"))
      .where(col("cwc") > 0)
    (cls, cwc)
  }

  /** Shared NB scoring tail over explicit count frames. `base` carries
    * every document to score ((doc_id, lbl, is_tr, t)); `cls`/`cwcAll`
    * carry the training statistics (however they were built or merged).
    */
  private def nbScoreWithCounts(
      base: DataFrame,
      cls: DataFrame,
      cwcAll: DataFrame,
      maxVocab: Option[Int]): DataFrame = {
    val vocab = maxVocab match {
      case Some(v) =>
        val win = org.apache.spark.sql.expressions.Window
          .orderBy(col("cw").desc, col("w").asc)
        // vocab-sized global rank (WindowGroupLimit map-side prune)
        cwcAll.groupBy(col("w")).agg(sum(col("cwc")).cast("long").as("cw"))
          .withColumn("__r", rank().over(win)).where(col("__r") <= v)
          .select(col("w"))
      case None => cwcAll.select(col("w")).distinct()
    }
    val cwc = cwcAll.join(vocab, Seq("w"), "left_semi")
    val nc = cwc.groupBy(col("lbl")).agg(sum(col("cwc")).cast("long").as("ncl"))
    val vCount = cwc.select(col("w")).distinct().agg(count(lit(1)).as("v"))
    val ntot = cls.agg(sum(col("ndocs")).cast("long").as("ntot"))
    // #classes rows: prior + token mass + smoothing denominator
    val clsInfo = cls.join(nc, Seq("lbl")).crossJoin(ntot).crossJoin(vCount)
      .select(col("lbl").as("cls"),
        log(col("ndocs").cast("double") / col("ntot").cast("double")).as("prior"),
        col("ncl"), col("v"))
    val dtRows = base
      .select(col("doc_id"), col("lbl"), col("is_tr"), explode(col("t")).as("w"))
    // with a vocab cap the kept vocabulary is model-sized (<= V rows):
    // broadcast it BELOW the per-(doc, token) aggregation so the corpus-
    // scale shuffle carries only vocabulary hits, not every token — and
    // broadcast the (<= classes·V row) count table into the scoring join.
    // Without a cap the vocabulary is corpus-scale; keep the post-agg
    // semi-join and the planner's own join choice.
    val dt = maxVocab match {
      case Some(_) =>
        dtRows.join(broadcast(vocab), Seq("w"), "left_semi")
          .groupBy(col("doc_id"), col("lbl"), col("is_tr"), col("w"))
          .agg(count(lit(1)).as("n"))
      case None =>
        dtRows
          .groupBy(col("doc_id"), col("lbl"), col("is_tr"), col("w"))
          .agg(count(lit(1)).as("n"))
          .join(vocab, Seq("w"), "left_semi")
    }
    val cwcJoin = cwc.select(col("lbl").as("cls"), col("w"), col("cwc"))
    val contrib = dt.crossJoin(broadcast(clsInfo))
      .join(if (maxVocab.isDefined) broadcast(cwcJoin) else cwcJoin,
        Seq("cls", "w"), "left_outer")
      .select(col("doc_id"), col("lbl"), col("is_tr"), col("cls"), col("prior"),
        col("w"),
        (col("n").cast("double") *
          log((coalesce(col("cwc"), lit(0L)) + lit(1L)).cast("double") /
            (col("ncl") + col("v")).cast("double"))).as("c"))
    val perClass = contrib
      .groupBy(col("doc_id"), col("lbl"), col("is_tr"), col("cls"), col("prior"))
      .agg(sort_array(collect_list(struct(col("w"), col("c")))).as("arr"))
      .select(col("doc_id"), col("lbl"), col("is_tr"), col("cls"),
        aggregate(transform(col("arr"), x => x.getField("c")),
          col("prior"), (a, x) => a + x).as("score"))
    perClass
      .groupBy(col("doc_id"), col("lbl").as("label"), col("is_tr").as("is_train"))
      .agg(max(col("score")).as("score"),
        min(struct((-col("score")).as("ns"), col("cls").as("c"))).as("win"))
      .select(col("doc_id"), col("label"), col("win.c").as("pred"), col("score"),
        col("is_train"), (col("win.c") === col("label")).as("correct"))
  }

  /** Decision-stump feature ranking: for each candidate token (the
    * `maxCandidates` highest-document-frequency tokens), the information
    * gain of splitting the corpus on "document contains token" against a
    * boolean target — the interpretable-filter trainer (a one-rule
    * classifier a curator can read, audit, and hand-tune, where the NB
    * model (q130) is a black box of log-ratios). Entropies are fixed-form
    * double expressions over exact integer contingency counts; 0·ln 0
    * terms are explicit zeros. Output: top-`topK` tokens by gain
    * (ties → token asc): (tok, df, n11, n10, gain).
    *
    * Shape: one distinct-token explode (the q59 df machinery), candidate
    * set cut by TakeOrdered to `maxCandidates` rows and broadcast back;
    * the contingency table is one keyed aggregation over doc×candidate
    * hits. Nothing corpus-sized past the explode.
    */
  def stumpGains(df: DataFrame, id: Column, text: Column, isPos: Column,
      maxCandidates: Int = 50, topK: Int = 10): DataFrame = {
    val base = df.select(id.as("doc_id"), isPos.cast("long").as("y"),
      cleanTokens(text).as("t")).localCheckpoint()
    val tot = base.agg(count(lit(1)).as("n"), sum(col("y")).as("np"))
    val docTok = base.select(col("doc_id"), col("y"),
      explode(array_distinct(col("t"))).as("tok"))
    val cand = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(maxCandidates)
    def hB(p: Column, n: Column): Column = {
      // binary entropy of p/n in nats, with explicit 0 ln 0 = 0
      val q = p.cast("double") / n.cast("double")
      val term = (x: Column) => when(x === 0.0, lit(0.0)).otherwise(-x * log(x))
      term(q) + term(lit(1.0) - q)
    }
    val cont = docTok.join(broadcast(cand), "tok")
      .groupBy(col("tok"), col("df"))
      .agg(sum(col("y")).as("n11"), sum(lit(1L) - col("y")).as("n10"))
      .crossJoin(broadcast(tot))
    val nHas = col("n11") + col("n10")
    val nAbs = col("n") - nHas
    val parent = hB(col("np"), col("n"))
    val childHas = hB(col("n11"), nHas)
    val childAbs = hB(col("np") - col("n11"), nAbs)
    cont
      .select(col("tok"), col("df"), col("n11"), col("n10"),
        when(nAbs === 0L, lit(0.0))
          .otherwise(parent -
            (nHas.cast("double") / col("n").cast("double")) * childHas -
            (nAbs.cast("double") / col("n").cast("double")) * childAbs)
          .as("gain"))
      .orderBy(col("gain").desc, col("tok").asc)
      .limit(topK)
  }

  /** One closed-form rank-2 ridge solve per entity — the alternating-least-
    * squares HALF STEP: given the opposite side's factors (g1, g2) on each
    * rating row, every entity's 2×2 regularized normal equations
    * (A = Σ g gᵀ + λI, b = Σ r·g) solve by Cramer in fixed-form double
    * arithmetic. The five sufficient statistics fold in decimal(38,18)
    * (order-independent), so factors are deterministic at any partitioning
    * and the oracle replays them textually. ONE keyed aggregation per
    * half-step — ALS at corpus scale without a solver library.
    */
  def rank2Solve(df: DataFrame, ent: Column, g1: Column, g2: Column,
      r: Column, lambda: Double): DataFrame =
    df.select(ent.as("ent"), g1.as("g1"), g2.as("g2"), r.cast("double").as("r"))
      .groupBy(col("ent"))
      .agg(Num.dsum38(col("g1") * col("g1")).as("s11"),
        Num.dsum38(col("g1") * col("g2")).as("s12"),
        Num.dsum38(col("g2") * col("g2")).as("s22"),
        Num.dsum38(col("r") * col("g1")).as("b1"),
        Num.dsum38(col("r") * col("g2")).as("b2"))
      .select(col("ent"),
        (((col("s22") + lambda) * col("b1") - col("s12") * col("b2")) /
          ((col("s11") + lambda) * (col("s22") + lambda)
            - col("s12") * col("s12"))).as("f1"),
        (((col("s11") + lambda) * col("b2") - col("s12") * col("b1")) /
          ((col("s11") + lambda) * (col("s22") + lambda)
            - col("s12") * col("s12"))).as("f2"))

  /** EXACT optimal length-bucket boundaries for padded batching: the k
    * bucket end-lengths minimizing total padding Σ (bucket_end − doc_len)
    * when every document pads to its bucket's end — the OPTIMIZATION
    * counterpart of the q266 waste AUDIT (fixed 128-multiples there;
    * provably-minimal data-driven boundaries here, the knob a serving
    * stack turns when padding waste is the bill).
    *
    * The classic interval DP, run entirely on the CAPPED length histogram:
    * cost(a..b] = l_b·(pc_b − pc_a) − (ps_b − ps_a) from prefix sums, then
    * dp_j[i] = min_m dp_{j−1}[m] + cost(m..i] with ties broken by the
    * SMALLEST split m (row_number over (cost, m) — both engines replay
    * it). All integers until the final waste fraction.
    *
    * Scale: ONE corpus pass builds the histogram; the DP frames are
    * ≤ `cap` rows (bounded by the parameter, not the data), so the
    * single-partition windows and the m<i join are constant-size. Output:
    * one row per bucket (rank, end_len, n_docs, real/padded tokens) with
    * total_padding repeated.
    */
  def optimalLengthBuckets(df: DataFrame, len: Column, k: Int = 4,
      cap: Int = 128): DataFrame = {
    require(k >= 1 && cap >= k, "need at least k distinct cappable lengths")
    import org.apache.spark.sql.expressions.Window
    val bins = df.select(least(len.cast("long"), lit(cap.toLong)).as("l"))
      .groupBy(col("l")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // The DP needs >= k distinct capped lengths: with fewer, dp_k's m<i
    // join is empty and the query would silently return ZERO rows. The
    // histogram is already materialized and <= cap rows, so this count is
    // a bounded driver-side check, not a corpus action.
    val nBins = bins.count()
    require(nBins >= k,
      s"optimalLengthBuckets: only $nBins distinct capped lengths but k=$k " +
        "buckets requested — lower k or raise cap")
    val w = Window.orderBy(col("l").asc)
    val pref = bins
      .withColumn("i", row_number().over(w))
      .withColumn("pc", sum(col("cnt")).over(w))
      .withColumn("ps", sum(col("cnt") * col("l")).over(w))
      .localCheckpoint()
    // dp_1: one bucket ending at i covers everything below — prev = 0
    var dps = List(pref.select(col("i"), col("l"),
      (col("l") * col("pc") - col("ps")).as("cost"), lit(0).as("prev")))
    for (_ <- 2 to k) {
      val prevDp = dps.head.select(col("i").as("m"), col("cost").as("pcost"))
      val mSide = prevDp.join(
        pref.select(col("i").as("m"), col("pc").as("pcm"), col("ps").as("psm")),
        "m")
      val cand = pref.select(col("i"), col("l"), col("pc"), col("ps"))
        .join(mSide, col("m") < col("i"))
        .select(col("i"), col("l"), col("m"),
          (col("pcost") + col("l") * (col("pc") - col("pcm"))
            - (col("ps") - col("psm"))).as("cost"))
      val wj = Window.partitionBy(col("i"))
        .orderBy(col("cost").asc, col("m").asc)
      dps = cand.withColumn("rn", row_number().over(wj)).where(col("rn") === 1)
        .select(col("i"), col("l"), col("cost"), col("m").as("prev"))
        .localCheckpoint() :: dps
    }
    // backtrack: the last bucket ends at the top bin; each dp level's prev
    // is the previous bucket's end index — k single-row broadcast joins
    val top = pref.agg(max(col("i")).as("i"))
    var ends = dps.head.join(broadcast(top), "i")
      .select(lit(k).as("bucket"), col("i"), col("l"), col("cost"), col("prev"))
    var chain = ends
    for (j <- (1 until k).reverse) {
      val dpj = dps(k - j) // dps is newest-first: dps(k-j) is level j
      chain = dpj.join(
        broadcast(chain.select(col("prev").as("i"))), "i")
        .select(lit(j).as("bucket"), col("i"), col("l"), col("cost"), col("prev"))
      ends = ends.unionByName(chain)
    }
    val bounds = ends.select(col("bucket"), col("i"), col("l"), col("cost"))
      .localCheckpoint()
    // assign every bin to its bucket (smallest boundary >= l) and report
    val assigned = pref
      .join(broadcast(bounds.select(col("bucket"), col("l").as("end_len"))),
        col("l") <= col("end_len"))
      .groupBy(col("l"), col("cnt"))
      .agg(min(struct(col("end_len"), col("bucket"))).as("b"))
      .select(col("l"), col("cnt"), col("b.bucket").as("bucket"),
        col("b.end_len").as("end_len"))
    val total = bounds.join(broadcast(top.select((col("i")).as("ti"))),
        col("i") === col("ti"))
      .agg(max(col("cost")).as("total_padding"))
    assigned.groupBy(col("bucket"), col("end_len"))
      .agg(sum(col("cnt")).as("n_docs"),
        sum(col("cnt") * col("l")).as("real_tokens"))
      .select(col("bucket"), col("end_len"), col("n_docs"), col("real_tokens"),
        (col("end_len") * col("n_docs")).as("padded_tokens"))
      .crossJoin(broadcast(total))
  }

  /** DuckDB twin of [[optimalLengthBuckets]] — the identical histogram,
    * prefix, k-level DP (same (cost, m) tie-break), backtrack, and bucket
    * assignment, unrolled as plain CTEs.
    */
  def duckOptimalLengthBuckets(tbl: String, lenExpr: String, k: Int = 4,
      cap: Int = 128): String = {
    val dpSteps = (2 to k).map { j =>
      s"""dpc$j AS (
         |  SELECT a.i, a.l, m.m,
         |    m.pcost + a.l * (a.pc - m.pcm) - (a.ps - m.psm) AS cost,
         |    row_number() OVER (PARTITION BY a.i
         |      ORDER BY m.pcost + a.l * (a.pc - m.pcm) - (a.ps - m.psm) ASC,
         |               m.m ASC) AS rn
         |  FROM pref a
         |  JOIN (SELECT d.i AS m, d.cost AS pcost, p.pc AS pcm, p.ps AS psm
         |        FROM dp${j - 1} d JOIN pref p ON p.i = d.i) m
         |    ON m.m < a.i),
         |dp$j AS (
         |  SELECT i, l, cost, m AS prev FROM dpc$j WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val btSteps = (1 until k).reverse.map { j =>
      s"""bk$j AS (
         |  SELECT $j AS bucket, d.i, d.l, d.cost, d.prev
         |  FROM dp$j d JOIN bk${j + 1} up ON d.i = up.prev)""".stripMargin
    }.mkString(",\n")
    val allBk = (1 to k).map(j => s"SELECT * FROM bk$j").mkString(" UNION ALL ")
    s"""hist AS (
       |  SELECT LEAST($lenExpr, $cap) AS l, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM $tbl GROUP BY 1),
       |pref AS (
       |  SELECT l, cnt,
       |    CAST(row_number() OVER (ORDER BY l ASC) AS INTEGER) AS i,
       |    CAST(SUM(cnt) OVER (ORDER BY l ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pc,
       |    CAST(SUM(cnt * l) OVER (ORDER BY l ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ps
       |  FROM hist),
       |dp1 AS (
       |  SELECT i, l, l * pc - ps AS cost, 0 AS prev FROM pref),
       |$dpSteps,
       |topi AS (SELECT MAX(i) AS i FROM pref),
       |bk$k AS (
       |  SELECT $k AS bucket, d.i, d.l, d.cost, d.prev
       |  FROM dp$k d JOIN topi t ON d.i = t.i),
       |$btSteps,
       |bounds AS ($allBk),
       |assigned AS (
       |  SELECT l, cnt, bucket, end_len FROM (
       |    SELECT p.l, p.cnt, b.bucket, b.l AS end_len,
       |      row_number() OVER (PARTITION BY p.l
       |        ORDER BY b.l ASC, b.bucket ASC) AS rn
       |    FROM pref p JOIN bounds b ON p.l <= b.l)
       |  WHERE rn = 1),
       |tot AS (
       |  SELECT MAX(b.cost) AS total_padding
       |  FROM bounds b JOIN topi t ON b.i = t.i)
       |SELECT bucket, end_len,
       |  CAST(SUM(cnt) AS BIGINT) AS n_docs,
       |  CAST(SUM(cnt * l) AS BIGINT) AS real_tokens,
       |  CAST(end_len * SUM(cnt) AS BIGINT) AS padded_tokens,
       |  CAST(MAX(tot.total_padding) AS BIGINT) AS total_padding
       |FROM assigned CROSS JOIN tot
       |GROUP BY 1, 2""".stripMargin
  }
}
