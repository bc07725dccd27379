package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGEABLE exact-moment shard tables — the numeric companion of the HLL
  * (q125) and theta (q136) sketch tables: each shard (source, day,
  * partition) stores exact decimal sums (n, Σv, Σv²) of a metric, and any
  * rollup — global mean, variance, a month of days, a source group — is a
  * SUM OVER STORED SHARD ROWS with no rescan of the data. Unlike a
  * sketch, moments merge EXACTLY under any grouping (decimal addition is
  * associative), so the rolled-up mean/variance is bit-identical to a
  * direct computation; the only approximation anywhere is the final
  * decimal→double cast, which both engines round identically.
  *
  * v is squared in DOUBLE first (a deterministic per-row product) and the
  * products are summed in decimal(38,18) (exact, order-independent) — the
  * Num.dsum38 discipline. 20 integer digits of headroom: at 10^13 rows of
  * unit-scale v² the sum stays under 10^14, far inside the 38-digit cap.
  */
object Stats {

  /** The raw STORED form: per-group exact decimal sums (scope, n, s1, s2).
    * This is what a shard writes durably; any union of such frames (more
    * days, more sources, per-micro-batch appends from a stream) re-merges
    * by summing n, s1 and s2 per scope with bit-exact results: decimal
    * addition is associative.
    */
  def momentSums(df: DataFrame, value: Column, group: Column): DataFrame = {
    val v = value.cast("double")
    df.select(group.cast("string").as("scope"), v.as("v"))
      .groupBy(col("scope"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,18)")).as("s1"),
        sum((col("v") * col("v")).cast("decimal(38,18)")).as("s2"))
  }

  /** Finalize stored sums to reported statistics: (scope, n, sum_v, mean,
    * variance) with population variance (Σv² − (Σv)²/n)/n evaluated from
    * the exact sums — the only rounding anywhere is the final
    * decimal→double cast, identical in both engines.
    */
  def finalizeMoments(sums: DataFrame): DataFrame = {
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val nd = col("n").cast("double")
    sums.select(col("scope"), col("n"), s1d.as("sum_v"),
      (s1d / nd).as("mean"),
      ((s2d - s1d * s1d / nd) / nd).as("variance"))
  }

  /** SLIDING distinct-count rollup from stored hourly theta sketches: one
    * sketch per event-time hour (the durable shard table), then every
    * `windowHours`-hour sliding window answered by a UNION OVER STORED
    * BYTES ([[Hashing.thetaUnionAgg]]) — the time-series form of the
    * sketch-table pattern. An exact sliding `count_distinct` re-scans the
    * raw events once per window (w× write amplification); the sketch path
    * scans once ever, and new hours extend the table incrementally. Rows
    * carry the exact windowed distinct (the verification harness, q26
    * discipline) and an in-engine `within_bound` verdict at `relErr`
    * (sketches under 2^lgK distinct keys are exact, so at test scale the
    * estimate equals the exact count bit for bit).
    *
    * Output: (win_end, n_hours, exact_distinct, within_bound) — one row
    * per hour, window = (win_end − windowHours, win_end].
    */
  def slidingThetaDistinct(
      df: DataFrame,
      ts: Column,
      key: Column,
      windowHours: Int,
      lgK: Int = 12,
      relErr: Double = 0.05): DataFrame = {
    require(windowHours >= 1, "window must span at least one hour")
    val ev = df.select(date_trunc("hour", ts).as("h"), key.cast("long").as("k"))
    val hourly = ev.groupBy(col("h"))
      .agg(Hashing.thetaSketchAgg(col("k"), lgK).as("sk"))
      .localCheckpoint()
    val win = hourly.select(col("h").as("win_end"))
    // each hour contributes to the `windowHours` windows ending at h..h+w-1:
    // EXPLODE to those window keys and equi-join — a BETWEEN range join
    // would nested-loop over #hours² at scale; this shuffles w rows per
    // input row on an equi key. Windows past the last hour are dropped by
    // the semi join (only observed hours define windows).
    def toWindows(frame: DataFrame): DataFrame = frame
      .withColumn("win_end", explode(array((0 until windowHours).map(i =>
        col("h") + expr(s"INTERVAL $i HOURS")): _*)))
      .join(win, Seq("win_end"), "left_semi")
    val est = toWindows(hourly)
      .groupBy(col("win_end"))
      .agg(Hashing.thetaEstimate(Hashing.thetaUnionAgg(col("sk"), lgK)).as("est"),
        count(lit(1)).as("n_hours"))
    val exact = toWindows(ev.distinct())
      .groupBy(col("win_end"))
      .agg(count_distinct(col("k")).as("exact_distinct"))
    est.join(exact, "win_end")
      .select(col("win_end"), col("n_hours"), col("exact_distinct"),
        (abs(col("est") - col("exact_distinct").cast("double")) <=
          lit(relErr) * col("exact_distinct").cast("double")).as("within_bound"))
  }

  /** Per-group moment shards plus a `__total__` row ROLLED UP FROM THE
    * SHARD FRAME (not recomputed from the data — the frame is
    * localCheckpoint'd and the total is a sum over #groups rows, proving
    * the merge path the operator exists for).
    */
  /** Trailing-window volume-anomaly flags over an hourly count frame
    * (event_type, hr, n) — the scoring stage of q238, factored out so a
    * STREAM-maintained count table (additive per-micro-batch appends,
    * merged by plain re-summation) feeds the identical arithmetic: mean
    * and variance from exact integer sums over the trailing `window`
    * hours, z = (n − mean)/σ, flag |z| ≥ `zThresh` after `minHistory`
    * hours of warm-up. The analytic window runs over type-keyed hourly
    * rows — never raw events.
    */
  def volumeAnomalies(
      hourCounts: DataFrame,
      window: Int = 24,
      minHistory: Int = 12,
      zThresh: Double = 2.5): DataFrame = {
    val tw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hr"))
      .rangeBetween(-window.toLong, -1L)
    val mean = col("s").cast("double") / col("c")
    val variance = col("sq").cast("double") / col("c") - mean * mean
    hourCounts
      .withColumn("s", sum(col("n")).over(tw))
      .withColumn("c", count(col("n")).over(tw))
      .withColumn("sq", sum(col("n") * col("n")).over(tw))
      .where(col("c") >= minHistory && variance > 0.0)
      .withColumn("z", (col("n").cast("double") - mean) / sqrt(variance))
      .where(abs(col("z")) >= zThresh)
      .select(col("event_type"), col("hr"), col("n"), col("z"))
  }

  def momentShards(df: DataFrame, value: Column, group: Column): DataFrame = {
    val shard = momentSums(df, value, group).localCheckpoint()
    val total = shard.agg(
      sum(col("n")).as("n"), sum(col("s1")).as("s1"), sum(col("s2")).as("s2"))
      .select(lit("__total__").as("scope"), col("n"), col("s1"), col("s2"))
    finalizeMoments(shard).unionByName(finalizeMoments(total))
  }

  /** Welch's two-sample t statistic for every group PAIR, from the same
    * exact decimal moment sums the shard tables store — the
    * experimentation read ("do these two sources really differ in X?")
    * computed without ever co-shuffling the two groups' rows: the corpus
    * reduces to #groups moment rows in ONE aggregation, and the pairing is
    * a #groups² nested-loop join over that tiny frame (the 1-row
    * stats-join discipline, squared). Sample variance, t, and the
    * Welch–Satterthwaite df are fixed-form double expressions over the
    * exact sums, written identically in the oracle. Groups need n ≥ 2.
    *
    * Output: (scope_a, scope_b, n_a, n_b, mean_a, mean_b, t, df),
    * scope_a < scope_b.
    */
  def welchPairs(df: DataFrame, value: Column, group: Column): DataFrame = {
    val m = momentSums(df, value, group).where(col("n") > 1).localCheckpoint()
    def side(sfx: String) = m.select(col("scope").as("scope_" + sfx),
      col("n").as("n_" + sfx),
      col("s1").cast("double").as("s1_" + sfx),
      col("s2").cast("double").as("s2_" + sfx))
    def mean(s: String) = col("s1_" + s) / col("n_" + s).cast("double")
    def sv(s: String) =
      (col("s2_" + s) - col("s1_" + s) * col("s1_" + s) /
        col("n_" + s).cast("double")) / (col("n_" + s) - 1).cast("double")
    val sa = sv("a") / col("n_a").cast("double")
    val sb = sv("b") / col("n_b").cast("double")
    val se2 = sa + sb
    side("a").join(side("b"), col("scope_a") < col("scope_b"))
      .select(col("scope_a"), col("scope_b"), col("n_a"), col("n_b"),
        mean("a").as("mean_a"), mean("b").as("mean_b"),
        ((mean("a") - mean("b")) / sqrt(se2)).as("t"),
        ((se2 * se2) / (sa * sa / (col("n_a") - 1).cast("double") +
          sb * sb / (col("n_b") - 1).cast("double"))).as("df"))
  }

  /** Seasonal (hour-of-day) volume anomalies — the calendar-profile
    * complement of [[volumeAnomalies]]' trailing window: each (type, day,
    * hour-of-day) cell scores against the SAME hour on other days, so a
    * nightly batch spike reads as normal at 02:00 and anomalous at 14:00.
    * Input is the pre-aggregated (event_type, day, hod, n) cell frame (one
    * keyed aggregation upstream — raw events never enter); the profile is
    * #types × 24 rows of exact integer sums, broadcast back onto the
    * cells. z arithmetic is the q238 fixed-form expression.
    *
    * Output: flagged cells (event_type, day, hod, n, z).
    */
  def seasonalAnomalies(cells: DataFrame, minDays: Int = 3,
      zThresh: Double = 2.5): DataFrame = {
    val prof = cells.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("c"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("sq"))
    val mean = col("s").cast("double") / col("c")
    val variance = col("sq").cast("double") / col("c") - mean * mean
    cells.join(broadcast(prof), Seq("event_type", "hod"))
      .where(col("c") >= minDays && variance > 0.0)
      .withColumn("z", (col("n").cast("double") - mean) / sqrt(variance))
      .where(abs(col("z")) >= zThresh)
      .select(col("event_type"), col("day"), col("hod"), col("n"), col("z"))
  }

  /** CUSUM change-point statistic per key over an ordered count series —
    * the drift detector that catches SLOW shifts a per-point z-score
    * (q238/q262) never flags: S_k = Σ_{j≤k} n_j − k·mean accumulates any
    * sustained deviation, and the maximum |S_k| marks the most likely
    * change point. The cumulative count is an exact integer keyed-window
    * sum; mean = total/points is one double division, so the statistic is
    * a fixed-form expression over exact integers (k·total/points written
    * identically in the oracle). Argmax day ties break to the earliest.
    *
    * Input: (event_type, day, n) cells. Output per key: (event_type,
    * n_days, max_cusum, change_day).
    */
  def cusumChangePoint(cells: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("event_type")).orderBy(col("day").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wn = W.partitionBy(col("event_type"))
    val withS = cells
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("k", row_number().over(
        W.partitionBy(col("event_type")).orderBy(col("day").asc)))
      .withColumn("tot", sum(col("n")).over(wn))
      .withColumn("nd", count(lit(1)).over(wn))
      .withColumn("s", abs(col("cum").cast("double") -
        col("k") * col("tot").cast("double") / col("nd")))
      .localCheckpoint()
    val mx = withS.groupBy(col("event_type"))
      .agg(max(col("nd")).as("n_days"), max(col("s")).as("max_cusum"))
    withS.join(mx.withColumnRenamed("max_cusum", "mc"), "event_type")
      .where(col("s") === col("mc"))
      .groupBy(col("event_type"))
      .agg(max(col("nd")).as("n_days"), max(col("s")).as("max_cusum"),
        min(col("day")).as("change_day"))
  }

  /** Exact ROC-AUC of a real-valued score against a boolean label, via the
    * tie-corrected Mann-Whitney rank statistic — the classifier-quality
    * metric for every scoring gate in the curation stack (NB filter,
    * quality score, LM perplexity): AUC = P(score_pos > score_neg)
    * + 0.5 P(score_pos = score_neg).
    *
    * Shape: the corpus reduces in ONE aggregation to the per-distinct-score
    * frame (s, npos, nneg); the prefix count of negatives below each score
    * is the two-phase exact global cumsum (range-partition on s, ROWS-frame
    * partition-local window, #partitions-row offset table broadcast back —
    * the globalCumsumBy discipline, with zero-weight rows legal because the
    * range partitioning keys on s rather than a positive weight). No global
    * window, nothing corpus-sized past the first aggregation.
    *
    * Exactness: the doubled statistic u2 = Σ_s npos(s)·(2·negBelow(s) +
    * nneg(s)) is pure integer arithmetic (the ×2 absorbs the half-credit
    * tie term), so the single final division u2 / (2·n_pos·n_neg) is the
    * ONLY float op — bit-identical cross-engine. Degenerate one-class
    * inputs yield auc = NULL, not NaN.
    *
    * Output: one row (n_pos, n_neg, u2, auc).
    */
  /** Two-phase exact prefix sums over a (small-ish, already-reduced) frame:
    * range-partition on `order` (ascending), per-partition ROWS-frame
    * cumsums of every column in `weights`, then a #partitions-row offset
    * table broadcast back — the globalCumsumBy discipline generalized to
    * MULTIPLE weight columns (zero weights legal because the partitioning
    * keys on `order`, not a positive weight). Adds `cum_<w>` (inclusive
    * prefix sum) per weight column. Shared by [[rocAuc]] and
    * [[precisionOperatingPoint]].
    */
  private[ops] def prefixSums(frame: DataFrame, order: Column,
      weights: Seq[String]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val parts = frame.repartitionByRange(order)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val wLocal = W.partitionBy(col("pid")).orderBy(order)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wOff = W.orderBy(col("pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val ptCols = weights.map(w => sum(col(w)).as(s"pt_$w"))
    val offTable = parts.groupBy(col("pid"))
      .agg(ptCols.head, ptCols.tail: _*)
      .select(col("pid") +: weights.map(w =>
        coalesce(sum(col(s"pt_$w")).over(wOff), lit(0L)).as(s"off_$w")): _*)
    weights.foldLeft(
      parts.join(broadcast(offTable), "pid")) { (acc, w) =>
      acc.withColumn(s"cum_$w",
        col(s"off_$w") + sum(col(w)).over(wLocal))
    }
  }

  def rocAuc(df: DataFrame, score: Column, isPos: Column): DataFrame = {
    val byScore = df
      .select(score.as("s"), isPos.cast("long").as("p"))
      .groupBy(col("s"))
      .agg(sum(col("p")).as("npos"), sum(lit(1L) - col("p")).as("nneg"))
    prefixSums(byScore, col("s"), Seq("nneg"))
      .withColumn("neg_below", col("cum_nneg") - col("nneg"))
      .agg(
        sum(col("npos")).as("n_pos"),
        sum(col("nneg")).as("n_neg"),
        sum(col("npos") * (lit(2L) * col("neg_below") + col("nneg"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** Population Stability Index between a reference and a current sample
    * over fixed-width score bins — the drift monitor a scoring gate runs
    * before trusting last month's thresholds on this month's corpus
    * (industry folklore: PSI < 0.1 stable, > 0.25 shifted). Laplace
    * smoothing (+1 per observed bin) keeps every log finite without an
    * epsilon hack; per-bin contributions are fixed-form double expressions
    * over exact integer counts, and the total row folds them
    * decimal-exactly. One keyed aggregation + a 1-row totals broadcast —
    * the calibrationBins shuffle shape.
    *
    * Output: per-bin (bin, n_ref, n_cur, p_ref, p_cur, contrib) plus a
    * bin = −1 total row whose contrib IS the PSI (p columns are 1.0
    * placeholders there).
    */
  def psiBins(df: DataFrame, score: Column, isCur: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two PSI bins")
    val b = df.select(
      least(floor(score * bins), lit(bins - 1L)).cast("int").as("bin"),
      isCur.cast("int").as("cur"))
      .groupBy(col("bin"))
      .agg(sum(lit(1) - col("cur")).as("n_ref"), sum(col("cur")).as("n_cur"))
      .localCheckpoint()
    val tot = b.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    val pr = (col("n_ref") + 1).cast("double") / (col("tr") + bins).cast("double")
    val pc = (col("n_cur") + 1).cast("double") / (col("tc") + bins).cast("double")
    val withP = b.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        pr.as("p_ref"), pc.as("p_cur"),
        ((pc - pr) * log(pc / pr)).as("contrib"))
      .localCheckpoint()
    val total = withP
      .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"),
        Num.dsum38(col("contrib")).as("contrib"))
      .select(lit(-1).as("bin"), col("n_ref"), col("n_cur"),
        lit(1.0).as("p_ref"), lit(1.0).as("p_cur"), col("contrib"))
    withP.unionByName(total)
  }

  /** [[rocAuc]] PER KEY — the ranking-fairness slice view (q280 slices
    * accuracy; this slices discrimination): does the score separate the
    * classes equally well inside every source? Same doubled tie-corrected
    * statistic, with the prefix count of negatives from a KEY-PARTITIONED
    * window over each key's per-distinct-score frame (a per-key series
    * window, the q248/q262 class — never global). One-class keys report
    * auc NULL, explicitly present.
    *
    * Output per key: (key, n_pos, n_neg, auc).
    */
  def rocAucByKey(df: DataFrame, key: Column, score: Column,
      isPos: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byScore = df
      .select(key.as("key"), score.as("s"), isPos.cast("long").as("p"))
      .groupBy(col("key"), col("s"))
      .agg(sum(col("p")).as("npos"), sum(lit(1L) - col("p")).as("nneg"))
    val w = W.partitionBy(col("key")).orderBy(col("s").asc)
      .rowsBetween(W.unboundedPreceding, -1)
    byScore
      .withColumn("neg_below", coalesce(sum(col("nneg")).over(w), lit(0L)))
      .groupBy(col("key"))
      .agg(
        sum(col("npos")).as("n_pos"),
        sum(col("nneg")).as("n_neg"),
        sum(col("npos") * (lit(2L) * col("neg_below") + col("nneg"))).as("u2"))
      .select(col("key"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** Mann-Whitney U rank-sum test of group A vs group B on a real-valued
    * score — the nonparametric two-sample test completing the suite beside
    * Welch's t (q261, means), Kolmogorov-Smirnov (q295, whole CDFs), and
    * the log-rank (q303, survival): MWU asks "does one group STOCHASTICALLY
    * dominate?", exactly the question when distributions are skewed and a
    * mean comparison misleads. The U statistic is [[rocAuc]]'s u2 with a
    * group indicator for the label (AUC = U/(n_a·n_b) — same machinery,
    * different inferential readout): here the full test ships — midrank
    * tie handling, the tie-corrected normal variance
    * n_a·n_b/12·[(N+1) − Σ(t³−t)/(N(N−1))], and z. Explicit NULL z on zero
    * variance (everything tied), never NaN.
    *
    * Exactness: 2·R_a folds as Σ n_a(v)·(2·below(v) + n(v) + 1) in
    * decimal(38,0) — the n_a·below product overflows int64 past ~3·10⁹
    * rows/side (the q295 lesson), and Σ(t³−t) likewise; the z formula is
    * fixed double text both engines.
    *
    * Shape: ONE corpus aggregation to the per-distinct-score frame, the
    * two-phase [[prefixSums]] for below-counts, then a 1-row reduction.
    */
  def mannWhitney(df: DataFrame, score: Column, isA: Column): DataFrame = {
    val cells = df.select(score.as("s"), isA.cast("long").as("a"))
      .groupBy(col("s"))
      .agg(sum(col("a")).as("na"), sum(lit(1L) - col("a")).as("nb"))
    val n = col("na") + col("nb")
    val agg = prefixSums(cells, col("s"), Seq("na", "nb"))
      .withColumn("below", col("cum_na") + col("cum_nb") - n)
      .agg(
        sum(col("na")).as("n_a"),
        sum(col("nb")).as("n_b"),
        sum(col("na").cast("decimal(38,0)") *
          (lit(2L) * col("below") + n + lit(1L)).cast("decimal(38,0)"))
          .as("r2a"),
        sum((n.cast("decimal(38,0)") * n.cast("decimal(38,0)") *
          n.cast("decimal(38,0)") - n.cast("decimal(38,0)")).cast("decimal(38,0)"))
          .as("ties3"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    val ua = (col("r2a").cast("double") -
      naD * (naD + lit(1.0))) / lit(2.0)
    val varU = naD * nbD / lit(12.0) *
      ((nD + lit(1.0)) - col("ties3").cast("double") / (nD * (nD - lit(1.0))))
    agg.select(col("n_a"), col("n_b"),
        ua.as("u_a"),
        when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("double"))
          .otherwise(ua / (naD * nbD)).as("auc_effect"),
        varU.as("var_u"),
        when(varU > 0.0, (ua - naD * nbD / lit(2.0)) / sqrt(varU))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** DuckDB twin of [[mannWhitney]] — same per-value frame, prefix, and
    * formula text; `scoreExpr` is evaluated against `tbl`, `isAExpr` must
    * be 0/1. */
  def duckMannWhitney(tbl: String, scoreExpr: String, isAExpr: String): String =
    s"""WITH cells AS (
       |  SELECT $scoreExpr AS s,
       |    CAST(SUM($isAExpr) AS BIGINT) AS na,
       |    CAST(SUM(1 - ($isAExpr)) AS BIGINT) AS nb
       |  FROM $tbl GROUP BY 1),
       |pre AS (
       |  SELECT na, nb, na + nb AS n,
       |    CAST(COALESCE(SUM(na + nb) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS below
       |  FROM cells),
       |agg AS (
       |  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
       |    CAST(SUM(nb) AS BIGINT) AS n_b,
       |    SUM(CAST(na AS DECIMAL(38,0)) *
       |      CAST(2 * below + n + 1 AS DECIMAL(38,0))) AS r2a,
       |    SUM(CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) *
       |      CAST(n AS DECIMAL(38,0)) - CAST(n AS DECIMAL(38,0))
       |      AS DECIMAL(38,0))) AS ties3
       |  FROM pre)
       |SELECT n_a, n_b,
       |  (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE)
       |    * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0 AS u_a,
       |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE)
       |      * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0
       |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END AS auc_effect,
       |  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
       |    ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
       |      - CAST(ties3 AS DOUBLE)
       |        / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
       |          * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))
       |    AS var_u,
       |  CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
       |    ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
       |      - CAST(ties3 AS DOUBLE)
       |        / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
       |          * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))) > 0.0
       |  THEN ((CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE)
       |      * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0
       |    - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
       |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
       |      ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
       |        - CAST(ties3 AS DOUBLE)
       |          / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
       |            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))
       |  ELSE NULL END AS z
       |FROM agg""".stripMargin

  /** Kruskal-Wallis H test — [[mannWhitney]]'s k-group generalization (the
    * nonparametric one-way ANOVA): do ANY of the groups' score
    * distributions differ? H = 12/(N(N+1))·Σ R_j²/n_j − 3(N+1), divided by
    * the tie correction 1 − Σ(t³−t)/(N³−N); under H₀, H ~ χ²(k−1).
    *
    * Exactness: midranks stay doubled — 2·R_j folds as
    * Σ n_jv·(2·below(v) + n(v) + 1) in decimal(38,0) per group (same
    * int64-overflow argument as [[mannWhitney]]); H's arithmetic is then
    * fixed double text over the #groups-row frame. Output: one row per
    * group (group, n, mean_rank) with (h, h_corrected, df) repeated — the
    * per-group mean ranks ARE the effect readout the omnibus H points at.
    *
    * Shape: one corpus aggregation to the (score, group) frame, the
    * two-phase [[prefixSums]] over the per-score totals, one group-keyed
    * decimal fold, then #groups-row arithmetic.
    */
  def kruskalWallis(df: DataFrame, score: Column, group: Column): DataFrame = {
    val cells = df.select(score.as("s"), group.as("g"))
      .groupBy(col("s"), col("g"))
      .agg(count(lit(1)).as("njv"))
      .localCheckpoint()
    val perScore = cells.groupBy(col("s")).agg(sum(col("njv")).as("nv"))
    val pre = prefixSums(perScore, col("s"), Seq("nv"))
      .withColumn("below", col("cum_nv") - col("nv"))
      .select(col("s"), col("nv"), col("below"))
    val rj = cells.join(pre, "s")
      .groupBy(col("g"))
      .agg(sum(col("njv")).as("n_j"),
        sum(col("njv").cast("decimal(38,0)") *
          (lit(2L) * col("below") + col("nv") + lit(1L)).cast("decimal(38,0)"))
          .as("r2j"))
      .localCheckpoint()
    val ties = pre.agg(
      sum((col("nv").cast("decimal(38,0)") * col("nv").cast("decimal(38,0)") *
        col("nv").cast("decimal(38,0)") - col("nv").cast("decimal(38,0)"))
        .cast("decimal(38,0)")).as("ties3"))
    val tot = rj.agg(sum(col("n_j")).as("n_total"), count(lit(1)).as("k"))
    // Σ R_j²/n_j from the doubled folds: (r2j/2)²/n_j = r2j²/(4·n_j).
    // rterm ~ n_j·(2N+1)²/4 — fold at the wide (38,6) scale: the (38,18)
    // fold's ~1e20 integer capacity overflows once a group holds a few
    // million rows, and Spark's non-ANSI cast would NULL-drop the dominant
    // term silently while DuckDB errors (cross-engine divergence).
    val nD = col("n_total").cast("double")
    val sumR = rj.crossJoin(broadcast(tot))
      .select((col("r2j").cast("double") * col("r2j").cast("double") /
        (lit(4.0) * col("n_j").cast("double"))).as("rterm"))
      .agg(Num.dsumWide(col("rterm")).as("sum_r2n"))
    val stats = tot.crossJoin(broadcast(sumR)).crossJoin(broadcast(ties))
      .select(col("n_total"), col("k"),
        (lit(12.0) / (nD * (nD + lit(1.0))) * col("sum_r2n") -
          lit(3.0) * (nD + lit(1.0))).as("h"),
        (lit(1.0) - col("ties3").cast("double") /
          (nD * nD * nD - nD)).as("tie_corr"))
      .select(col("n_total"), (col("k") - 1L).as("df"), col("h"),
        when(col("tie_corr") > 0.0, col("h") / col("tie_corr"))
          .otherwise(lit(null).cast("double")).as("h_corrected"))
    rj.select(col("g").as("group"), col("n_j"),
        (col("r2j").cast("double") / (lit(2.0) * col("n_j").cast("double")))
          .as("mean_rank"))
      .crossJoin(broadcast(stats))
  }

  /** DuckDB twin of [[kruskalWallis]] — same frames and formula text;
    * the per-score prefix runs over the value-distinct frame. */
  def duckKruskalWallis(tbl: String, scoreExpr: String, groupExpr: String): String =
    s"""WITH cells AS (
       |  SELECT $scoreExpr AS s, $groupExpr AS g,
       |    CAST(COUNT(*) AS BIGINT) AS njv
       |  FROM $tbl GROUP BY 1, 2),
       |ps AS (
       |  SELECT s, CAST(SUM(njv) AS BIGINT) AS nv FROM cells GROUP BY 1),
       |pre AS (
       |  SELECT s, nv,
       |    CAST(COALESCE(SUM(nv) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS below
       |  FROM ps),
       |rj AS (
       |  SELECT g, CAST(SUM(njv) AS BIGINT) AS n_j,
       |    SUM(CAST(njv AS DECIMAL(38,0)) *
       |      CAST(2 * below + nv + 1 AS DECIMAL(38,0))) AS r2j
       |  FROM cells JOIN pre USING (s) GROUP BY 1),
       |ties AS (
       |  SELECT SUM(CAST(CAST(nv AS DECIMAL(38,0)) * CAST(nv AS DECIMAL(38,0)) *
       |    CAST(nv AS DECIMAL(38,0)) - CAST(nv AS DECIMAL(38,0))
       |    AS DECIMAL(38,0))) AS ties3
       |  FROM pre),
       |tot AS (SELECT CAST(SUM(n_j) AS BIGINT) AS n_total,
       |  CAST(COUNT(*) AS BIGINT) AS k FROM rj),
       |sr AS (
       |  SELECT CAST(SUM(CAST(
       |    CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)
       |      / (4.0 * CAST(n_j AS DOUBLE))
       |    AS DECIMAL(38,6))) AS DOUBLE) AS sum_r2n
       |  FROM rj),
       |stats AS (
       |  SELECT n_total, k - 1 AS df,
       |    12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
       |      * sum_r2n - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h,
       |    1.0 - CAST(ties3 AS DOUBLE)
       |      / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
       |        * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)) AS tie_corr
       |  FROM tot CROSS JOIN sr CROSS JOIN ties)
       |SELECT rj.g AS "group", rj.n_j,
       |  CAST(rj.r2j AS DOUBLE) / (2.0 * CAST(rj.n_j AS DOUBLE)) AS mean_rank,
       |  stats.n_total, stats.df, stats.h,
       |  CASE WHEN stats.tie_corr > 0.0 THEN stats.h / stats.tie_corr
       |    ELSE NULL END AS h_corrected
       |FROM rj CROSS JOIN stats""".stripMargin

  /** Two-proportion pooled z-test of each key's success rate against the
    * REST of the corpus — "is this slice's accuracy drop significant, or
    * small-n noise?", the inferential companion of the q280 slice report.
    * Rest-counts derive by subtraction from 1-row broadcast totals, so
    * nothing joins per-key against per-key; z is the standard pooled
    * statistic, a fixed-form expression over exact integers.
    *
    * Input: (key, n, k) success counts. Output: (key, n, k, rate,
    * rest_rate, z) — z NULL when either side is empty or the pooled
    * variance is 0 (all successes / all failures everywhere).
    */
  def twoProportionZ(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("n")).as("tn"), sum(col("k")).as("tk"))
    val n1 = col("n").cast("double")
    val n2 = (col("tn") - col("n")).cast("double")
    val p1 = col("k").cast("double") / n1
    val p2 = (col("tk") - col("k")).cast("double") / n2
    val pp = col("tk").cast("double") / col("tn").cast("double")
    val se2 = pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2)
    counts.crossJoin(broadcast(tot))
      .select(col("key"), col("n"), col("k"),
        p1.as("rate"), p2.as("rest_rate"),
        when(col("n") === 0L || col("tn") === col("n") || se2 <= 0.0,
          lit(null).cast("double"))
          .otherwise((p1 - p2) / sqrt(se2)).as("z"))
  }

  /** Standard normal upper-tail density·polynomial form used by
    * [[bhFdr]]: the Abramowitz–Stegun 26.2.17 approximation
    * 1 − Φ(x) ≈ φ(x)·t·(b₁ + t(b₂ + t(b₃ + t(b₄ + t·b₅)))) with
    * t = 1/(1 + 0.2316419·x), |ε| < 7.5e−8 — written as the SAME Horner
    * chain in both engines ([[duckNormUpperTail]]), so the only
    * cross-engine divergence is libm's exp at ≤1 ulp, far below the 6dp
    * canonicalization. Evaluates the upper tail DIRECTLY (no 1 − Φ
    * cancellation), which is exactly the form a two-sided p-value needs.
    * Input must be non-negative (callers pass |z|).
    */
  def normUpperTail(ax: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * ax)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) + t *
      (lit(1.781477937) + t * (lit(-1.821255978) + t * lit(1.330274429)))))
    exp(lit(-0.5) * ax * ax) * lit(0.3989422804014327) * poly
  }

  /** DuckDB twin of [[normUpperTail]] — identical literal-for-literal
    * Horner text over a precomputed non-negative column `ax` and
    * t-column `tt` (pass expressions; keep them simple columns from a
    * prior CTE so the text stays readable).
    */
  def duckNormUpperTail(ax: String, tt: String): String =
    s"exp(-0.5 * $ax * $ax) * 0.3989422804014327 * " +
      s"($tt * (0.319381530 + $tt * (-0.356563782 + $tt * " +
      s"(1.781477937 + $tt * (-1.821255978 + $tt * 1.330274429)))))"

  /** The t = 1/(1 + 0.2316419·x) helper for [[duckNormUpperTail]]. */
  def duckNormT(ax: String): String = s"1.0 / (1.0 + 0.2316419 * $ax)"

  /** BENJAMINI–HOCHBERG step-up FDR control over a frame of per-key z
    * statistics (the output shape of [[twoProportionZ]]) — the
    * multiple-testing correction that turns "87 slices, 9 nominally
    * significant" into a defensible discovery list: sort two-sided
    * p-values ascending, find the largest rank i with
    * p_(i) ≤ α·i/m, reject ranks 1..i. Two-sided p = 2·(1 − Φ(|z|)) via
    * [[normUpperTail]].
    *
    * Determinism: the p-rank breaks ties by key; i* derives from a global
    * max over the ≤-criterion rows, so the rejected set is a pure
    * function of the inputs in both engines. The boundary decision
    * compares p ROUNDED TO 12DP against the (libm-free, hence
    * bit-identical) α·i/m criterion, which NARROWS the cross-engine
    * divergence window rather than eliminating it: a 1-ulp exp()
    * divergence can only flip i* when the true p sits within 1 ulp of a
    * 12dp half-boundary, AND the two engines' 12dp roundings then have to
    * disagree (Spark rounds the exact decimal expansion HALF_UP via
    * BigDecimal; DuckDB rounds through a floating multiply/divide — on
    * half-boundary doubles the two conventions CAN differ). Both
    * conditions together have never fired across the catalog's slice
    * frames; treat a future flip here as this documented edge, not data
    * corruption. Null-z keys
    * (empty slices, degenerate pooled variance) carry no testable
    * hypothesis and are EXCLUDED — m counts real tests only, as BH
    * requires.
    *
    * Scale: the frame entering the rank window is one row per KEY — an
    * alphabet-bounded frame (slices, channels, sources), never the
    * corpus — so the single-partition window is constant-size by
    * construction (the q318/q365 bounded-frame discipline).
    */
  def bhFdr(tests: DataFrame, alpha: Double,
      checkpoint: Boolean = true): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val withP = tests.where(col("z").isNotNull)
      .withColumn("p", lit(2.0) * normUpperTail(abs(col("z"))))
    val m = withP.agg(count(lit(1)).as("m"))
    // Rank on ROUNDED p (12dp, the same epsilon the i* boundary decision
    // already uses below): the raw two-sided p is a five-term Horner
    // polynomial whose engine-vs-DuckDB evaluation can differ in the last
    // ulp, and two z's 1-2 ulps apart can collapse to equal p in one
    // engine but not the other — ranking raw doubles then flips near-tied
    // ranks between engines (bit us at sf0.001: keys 27/43). Rounding
    // collapses near-ties into the deterministic key tie-break in BOTH
    // engines; rank-12dp cannot misorder p's that differ by more than the
    // shared epsilon.
    val w = W.orderBy(round(col("p"), 12).asc, col("key").asc)
    val ranked0 = withP.crossJoin(broadcast(m))
      .withColumn("p_rank", row_number().over(w).cast("long"))
      .withColumn("bh_crit",
        lit(alpha) * col("p_rank").cast("double") / col("m").cast("double"))
    // checkpoint=false exposes the full lineage so PlanSpec can pin the
    // rank window's input as the post-aggregation slice frame
    val ranked = if (checkpoint) ranked0.localCheckpoint() else ranked0
    val istar = ranked.where(round(col("p"), 12) <= col("bh_crit"))
      .agg(coalesce(max(col("p_rank")), lit(0L)).as("istar"))
    ranked.crossJoin(broadcast(istar))
      .select(col("key"), col("n"), col("k"), col("z"), col("p"),
        col("p_rank"), col("m").as("m_tests"), col("bh_crit"),
        (col("p_rank") <= col("istar")).as("rejected"))
  }

  /** Theil–Sen robust trend per key over a (key, day, n) count series:
    * the median of all pairwise slopes (n_j − n_i)/(day_j − day_i) — the
    * trend estimate one corrupted day cannot move (OLS, q244's tool,
    * breaks down at a single outlier; Theil–Sen tolerates ~29%). The
    * per-key pair fan-out is bounded by days² — a CALENDAR bound, not a
    * data-volume bound, so the shape survives any corpus scale. Median is
    * the exact nearest-rank ceil with a (slope, d1, d2) total order;
    * slopes are single divisions of exact integers.
    *
    * Output per key: (event_type, n_days, n_pairs, trend).
    */
  def theilSenTrend(cells: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val a = cells.select(col("event_type"), col("day").as("d1"), col("n").as("n1"))
    val b = cells.select(col("event_type"), col("day").as("d2"), col("n").as("n2"))
    val slopes = a.join(b, Seq("event_type"))
      .where(col("d2") > col("d1"))
      .select(col("event_type"), col("d1"), col("d2"),
        ((col("n2") - col("n1")).cast("double") /
          (col("d2") - col("d1"))).as("sl"))
    val nd = cells.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    val w = W.partitionBy(col("event_type"))
      .orderBy(col("sl").asc, col("d1").asc, col("d2").asc)
    val wn = W.partitionBy(col("event_type"))
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(wn))
      .where(col("rn") === floor((col("np") + lit(1)) / lit(2.0)))
      .join(broadcast(nd), "event_type")
      .select(col("event_type"), col("n_days"), col("np").as("n_pairs"),
        col("sl").as("trend"))
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * feature-selection / leakage-audit statistic beside q311's chi²
    * (chi² answers "dependent at all?"; MI answers "how many nats does
    * knowing X tell you about Y?"). MI = Σ (c/n)·ln(c·n/(c_x·c_y)) over
    * the joint contingency cells, with marginal entropies
    * H(X) = −Σ (c_x/n)·ln(c_x/n) and the symmetric normalization
    * NMI = MI/sqrt(H(X)·H(Y)) (0 when either marginal is degenerate).
    *
    * Exactness: all counts are exact integers from ONE joint aggregation
    * (marginals derive from the joint frame, never a second corpus scan);
    * the per-cell ln terms are fixed double expressions folded in
    * decimal(38,18) — order-independent, bit-identical cross-engine.
    * Output: one row (n, cells, mi, h_x, h_y, nmi).
    */
  def mutualInformation(df: DataFrame, x: Column, y: Column): DataFrame = {
    val joint = df.select(x.cast("string").as("x"), y.cast("string").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val mx = joint.groupBy(col("x")).agg(sum(col("c")).as("cx"))
    val my = joint.groupBy(col("y")).agg(sum(col("c")).as("cy"))
    val n = joint.agg(sum(col("c")).as("n"), count(lit(1)).as("cells"))
    val nd = col("n").cast("double")
    val mi = joint.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(n))
      .select(((col("c").cast("double") / nd) *
        log(col("c").cast("double") * nd /
          (col("cx").cast("double") * col("cy").cast("double")))).as("t"))
      .agg(Num.dsum38(col("t")).as("mi"))
    def entropy(cc: String): Column =
      Num.dsum38(-(col(cc).cast("double") / nd) *
        log(col(cc).cast("double") / nd))
    val hx = mx.crossJoin(broadcast(n)).agg(entropy("cx").as("h_x"))
    val hy = my.crossJoin(broadcast(n)).agg(entropy("cy").as("h_y"))
    n.crossJoin(broadcast(mi)).crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("n"), col("cells"), col("mi"), col("h_x"), col("h_y"),
        when(col("h_x") * col("h_y") > 0.0,
          col("mi") / sqrt(col("h_x") * col("h_y")))
          .otherwise(lit(0.0)).as("nmi"))
  }

  /** DuckDB twin of [[mutualInformation]]. */
  def duckMutualInformation(tbl: String, xExpr: String, yExpr: String): String =
    s"""WITH joint AS (
       |  SELECT CAST($xExpr AS VARCHAR) AS x, CAST($yExpr AS VARCHAR) AS y,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM $tbl GROUP BY 1, 2),
       |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM joint GROUP BY 1),
       |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM joint GROUP BY 1),
       |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
       |  CAST(COUNT(*) AS BIGINT) AS cells FROM joint),
       |mi AS (
       |  SELECT ${Num.duckDsum38(
            "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * " +
            "ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE) / " +
            "(CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))")} AS mi
       |  FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nt),
       |hx AS (
       |  SELECT ${Num.duckDsum38(
            "-(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)) * " +
            "ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))")} AS h_x
       |  FROM mx CROSS JOIN nt),
       |hy AS (
       |  SELECT ${Num.duckDsum38(
            "-(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) * " +
            "ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))")} AS h_y
       |  FROM my CROSS JOIN nt)
       |SELECT n, cells, mi, h_x, h_y,
       |  CASE WHEN h_x * h_y > 0.0 THEN mi / sqrt(h_x * h_y)
       |       ELSE 0.0 END AS nmi
       |FROM nt CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy""".stripMargin

  /** COARSENED EXACT MATCHING ATT (Iacus–King–Porro 2012) — the
    * matching-based causal estimate beside q293's CUPED (variance
    * reduction) and q261's Welch test (no adjustment at all): bin the
    * covariates (the caller passes already-coarsened stratum columns),
    * keep only strata where BOTH treated and control appear, and average
    * the within-stratum treated−control outcome gaps weighted by treated
    * counts:
    *
    *   ATT = Σ_s n_t(s)·(ȳ_t(s) − ȳ_c(s)) / Σ_s n_t(s)
    *
    * Exactness: outcome means fold decimal (Num.dsum discipline); the
    * weighted combination runs over the STRATA frame (alphabet-bounded),
    * so the corpus is touched exactly once by the stratum aggregation.
    * Output: one row per matched stratum (stratum, n_treated, n_control,
    * mean_treated, mean_control, gap) + the global (att, n_matched_t,
    * n_dropped_t) repeated — the q258 report shape.
    */
  def cemAtt(df: DataFrame, stratum: Column, treated: Column,
      outcome: Column, scale: Int = 2,
      checkpoint: Boolean = true): DataFrame = {
    val cells = df.select(stratum.cast("string").as("stratum"),
        treated.cast("boolean").as("t"), outcome.cast("double").as("y"))
      .groupBy(col("stratum"), col("t"))
      .agg(count(lit(1)).as("n"), Num.dsum(col("y"), scale).as("sy"))
    val wide0 = cells.groupBy(col("stratum"))
      .agg(
        coalesce(sum(when(col("t"), col("n"))), lit(0L)).as("n_treated"),
        coalesce(sum(when(!col("t"), col("n"))), lit(0L)).as("n_control"),
        coalesce(sum(when(col("t"), col("sy"))), lit(0.0)).as("syt"),
        coalesce(sum(when(!col("t"), col("sy"))), lit(0.0)).as("syc"))
    // checkpoint=false exposes the full lineage so PlanSpec can pin the
    // post-aggregation stratum frame (the checkpoint otherwise hides it)
    val wide = if (checkpoint) wide0.localCheckpoint() else wide0
    val matched = wide.where(col("n_treated") > 0L && col("n_control") > 0L)
      .select(col("stratum"), col("n_treated"), col("n_control"),
        (col("syt") / col("n_treated").cast("double")).as("mean_treated"),
        (col("syc") / col("n_control").cast("double")).as("mean_control"))
      .withColumn("gap", col("mean_treated") - col("mean_control"))
    val att = matched.agg(
      (Num.dsum38(col("n_treated").cast("double") * col("gap")) /
        sum(col("n_treated")).cast("double")).as("att"),
      sum(col("n_treated")).as("n_matched_t"))
    val dropped = wide.where(col("n_control") === 0L)
      .agg(coalesce(sum(col("n_treated")), lit(0L)).as("n_dropped_t"))
    matched.crossJoin(broadcast(att)).crossJoin(broadcast(dropped))
  }

  /** Binned AUC from mergeable histogram state — the ONLINE form of
    * [[rocAuc]]: two per-bin counters (positives, negatives) are all the
    * state needed, and counters are ADDITIVE, so a stream maintains them
    * per micro-batch ([[HistIndex]]'s maintenance class) and the monitor
    * reads AUC from stored counts with no rescan. The estimate treats
    * within-bin score order as ties (half credit) — exactly [[rocAuc]]'s
    * tie rule at bin granularity — so binned AUC IS the exact AUC of the
    * binned score, and its gap to the exact AUC is bounded by the
    * cross-pair mass inside bins. Both values and the gap are
    * deterministic, so the whole row hash-checks with no tolerance
    * verdict.
    *
    * Output: one row (n_pos, n_neg, auc_exact, auc_binned, abs_err).
    */
  def binnedAuc(df: DataFrame, score: Column, isPos: Column,
      bins: Int = 10): DataFrame = {
    val scored = df.select(score.as("s"), isPos.cast("long").as("p"))
      .localCheckpoint()
    val exact = rocAuc(scored, col("s"), col("p") === 1L)
      .select(col("n_pos"), col("n_neg"), col("auc").as("auc_exact"))
    val binned = rocAuc(
      scored.select(
        least(floor(col("s") * bins), lit(bins - 1L)).cast("int").as("b"),
        col("p")),
      col("b"), col("p") === 1L)
      .select(col("auc").as("auc_binned"))
    exact.crossJoin(broadcast(binned))
      .withColumn("abs_err", abs(col("auc_exact") - col("auc_binned")))
  }

  /** Gate-tuning operating point: the LOWEST score threshold whose
    * flag-everything-at-or-above rule still meets `targetPrecision` —
    * i.e. the most permissive (highest-recall) gate that keeps precision,
    * which is exactly how a curation-classifier threshold is chosen in
    * practice. Suffix counts derive from the same per-distinct-score
    * frame + two-phase prefix sums as [[rocAuc]] (here with TWO weight
    * columns); precision/recall are single divisions over exact integers.
    * Empty output when no threshold reaches the target (an explicit
    * "this gate cannot run at that precision" answer).
    *
    * Output: one row (threshold, n_flagged, tp, prec, rec).
    */
  def precisionOperatingPoint(df: DataFrame, score: Column, isPos: Column,
      targetPrecision: Double): DataFrame = {
    val byScore = df.select(score.as("s"), isPos.cast("long").as("p"))
      .groupBy(col("s"))
      .agg(sum(col("p")).as("npos"), count(lit(1)).as("nall"))
      .localCheckpoint()
    val tot = byScore.agg(sum(col("npos")).as("tp_tot"),
      sum(col("nall")).as("n_tot"))
    val curve = prefixSums(byScore, col("s"), Seq("npos", "nall"))
      .crossJoin(broadcast(tot))
      .withColumn("pos_ge", col("tp_tot") - col("cum_npos") + col("npos"))
      .withColumn("all_ge", col("n_tot") - col("cum_nall") + col("nall"))
      .withColumn("prec", col("pos_ge").cast("double") / col("all_ge"))
      .withColumn("rec", col("pos_ge").cast("double") / col("tp_tot"))
      .localCheckpoint()
    val pick = curve.where(col("prec") >= targetPrecision)
      .agg(min(col("s")).as("s"))
    curve.join(broadcast(pick), "s")
      .select(col("s").as("threshold"), col("all_ge").as("n_flagged"),
        col("pos_ge").as("tp"), col("prec"), col("rec"))
  }

  /** Reliability diagram for a score in [0, 1] against a boolean outcome:
    * fixed-width bins (score 1.0 folds into the top bin), per-bin support,
    * positive rate, mean score, and the |mean score − positive rate|
    * calibration gap whose support-weighted sum is ECE.
    *
    * Shape: one keyed aggregation — bins are the only key, so partial
    * aggregation combines map-side and nothing corpus-sized shuffles. The
    * mean score folds decimal(38,18) (Num.dsum38) so the per-bin average is
    * partition-order independent; rates are exact-integer ratios with one
    * final double division each.
    */
  def calibrationBins(df: DataFrame, score: Column, isPos: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two calibration bins")
    df.select(score.as("s"), isPos.cast("long").as("p"))
      .withColumn("bin",
        least(floor(col("s") * bins), lit(bins - 1L)).cast("int"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("p")).as("n_pos"),
        Num.dsum38(col("s")).as("sum_s"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        (col("n_pos").cast("double") / col("n_docs")).as("pos_rate"),
        (col("sum_s") / col("n_docs")).as("avg_score"))
      .withColumn("gap", abs(col("avg_score") - col("pos_rate")))
  }

  /** Isotonic (PAV) calibration over fixed-width score bins: the
    * nondecreasing bin→rate map that minimizes weighted squared error,
    * computed via the exact minimax identity
    * `iso(i) = max_{j<=i} min_{k>=i} rate(j..k)` where `rate(j..k)` is the
    * POOLED positive rate of bins j..k — provably equal to the
    * pool-adjacent-violators fit, but expressible as bounded relational
    * algebra instead of a sequential stack walk.
    *
    * Scale shape: the corpus collapses FIRST to ≤ `bins` cells (one
    * map-side-combinable aggregation); everything after — prefix sums, the
    * j≤k pair frame, the j≤i≤k triple frame — is O(bins³) rows of integer
    * prefix-sum arithmetic, constant-bounded and broadcast-joined, never
    * corpus-sized. Pooled rates divide exact BIGINT sums in double
    * (deterministic cross-engine); min/max only compare those doubles.
    */
  def isotonicBins(df: DataFrame, score: Column, isPos: Column,
      bins: Int = 20): DataFrame = {
    require(bins >= 2 && bins <= 64, "bins must be in [2, 64]")
    val b = df.select(score.as("s"), isPos.cast("long").as("p"))
      .withColumn("bin",
        least(floor(col("s") * bins), lit(bins - 1L)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("pos"))
      .localCheckpoint()
    val W = org.apache.spark.sql.expressions.Window
    val wo = W.orderBy(col("bin"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val pref = b
      .withColumn("cn", sum(col("n")).over(wo))
      .withColumn("cp", sum(col("pos")).over(wo))
    val jf = pref.select(col("bin").as("j"),
      (col("cn") - col("n")).as("nj0"), (col("cp") - col("pos")).as("pj0"))
    val kf = pref.select(col("bin").as("k"),
      col("cn").as("cnk"), col("cp").as("cpk"))
    val pairs = jf.join(kf, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cpk") - col("pj0")).cast("double") /
          (col("cnk") - col("nj0")).cast("double")).as("a"))
    val iFrame = b.select(col("bin").as("i"))
    val iso = pairs
      .join(broadcast(iFrame), col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("a")).as("mja"))
      .groupBy(col("i")).agg(max(col("mja")).as("iso_rate"))
    b.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("n").as("n_docs"), col("pos").as("n_pos"),
        (col("pos").cast("double") / col("n")).as("pos_rate"),
        col("iso_rate"))
  }

  /** Kaplan–Meier survival estimate over right-censored durations.
    *
    * Input: one row per subject, columns `t` (integer duration, e.g. days)
    * and `ev` (1 = event observed, 0 = censored at t). Output: one row per
    * distinct duration with the at-risk count, event/censor counts and the
    * product-limit survival estimate S(t) = Π_{t_i ≤ t} (1 − d_i / n_i).
    *
    * Scale shape: the corpus reduces FIRST to the per-duration cell frame
    * (one keyed aggregation), which is calendar-bounded (≤ observation-window
    * days), so the single-partition analytic windows below run over at most a
    * few thousand rows regardless of subject count — the q286/q272 envelope.
    * The product is exp(Σ ln(1 − d/n)); a step where d = n (everyone at risk
    * dies) pins survival to exactly 0.0 from that step on, because Spark's
    * `ln(0)` is NULL while DuckDB's is −inf — the flag keeps both engines on
    * the same fixed-form arithmetic.
    */
  def kaplanMeier(subjects: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cells = subjects.groupBy(col("t"))
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val total = cells.agg(sum(col("d") + col("c")).as("n_total"))
    val wPrior = W.orderBy(col("t")).rowsBetween(W.unboundedPreceding, -1)
    val wCum = W.orderBy(col("t")).rowsBetween(W.unboundedPreceding, W.currentRow)
    cells.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrior), lit(0L)))
      .withColumn("term", when(col("d") < col("n_risk"),
        log(lit(1.0) - col("d").cast("double") / col("n_risk"))))
      .withColumn("dead",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wCum))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(exp(sum(col("term")).over(wCum))).as("surv"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic: D = sup_v |F_A(v) − F_B(v)|.
    *
    * Exact until the final division: per distinct value the cumulative counts
    * come from the two-phase prefix sum (no global window over the
    * value-distinct frame, which at corpus scale is as large as the data),
    * and the sup is a max over |cum_A·n_B − cum_B·n_A| held in decimal(38,0)
    * (the cross products overflow int64 once both samples pass ~3·10⁹ rows).
    * `ks_z` is D scaled by sqrt(n_A·n_B/(n_A+n_B)) — compare to the
    * Kolmogorov quantile (1.358 at α=0.05).
    */
  def ksTest(df: DataFrame, value: Column, isA: Column): DataFrame = {
    val cells = df.select(value.as("v"), isA.cast("long").as("a"))
      .groupBy(col("v"))
      .agg(sum(col("a")).as("na"), sum(lit(1L) - col("a")).as("nb"))
    val cum = prefixSums(cells, col("v"), Seq("na", "nb"))
    val tot = cells.agg(sum(col("na")).as("n1"), sum(col("nb")).as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("cum_na").cast("decimal(38,0)") * col("n2") -
          col("cum_nb").cast("decimal(38,0)") * col("n1")).as("num"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("num")).as("mnum"))
      .select(col("n1"), col("n2"),
        (col("mnum").cast("double") /
          (col("n1").cast("double") * col("n2"))).as("d_stat"))
      .withColumn("ks_z", col("d_stat") *
        sqrt(col("n1").cast("double") * col("n2") / (col("n1") + col("n2"))))
  }

  /** Mann–Kendall trend test per key over (day, n) cells — the significance
    * twin of the Theil–Sen slope (q286): S = Σ_{i<j} sign(n_j − n_i) stays
    * exact-integer, the variance carries the standard tie correction
    * (Σ t(t−1)(2t+5) over tied-value groups), and z applies the ±1
    * continuity correction. Pair fan-out is days² per key — a CALENDAR
    * bound, not a data bound (the q286 envelope).
    */
  def mannKendall(cells: DataFrame): DataFrame = {
    val a = cells.select(col("key"), col("day").as("d1"), col("n").as("n1"))
    val b = cells.select(col("key").as("k2"), col("day").as("d2"), col("n").as("n2"))
    val s = a.join(b, col("key") === col("k2") && col("d2") > col("d1"))
      .groupBy(col("key"))
      .agg(sum(signum((col("n2") - col("n1")).cast("double")).cast("long")).as("s"),
        count(lit(1)).as("n_pairs"))
    val nd = cells.groupBy(col("key")).agg(count(lit(1)).as("nd"))
    val ties = cells.groupBy(col("key"), col("n"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("key"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tsum"))
    s.join(nd, "key").join(ties, "key")
      .withColumn("var_s",
        (col("nd") * (col("nd") - 1) * (lit(2) * col("nd") + 5) - col("tsum"))
          .cast("double") / 18.0)
      .withColumn("z",
        when(col("var_s") <= 0.0, lit(null).cast("double"))
          .when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
      .select(col("key"), col("nd").as("n_days"), col("s"), col("var_s"), col("z"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al., WSDM'13).
    *
    * Input: one row per unit with `arm` (variant label), `x` (pre-period
    * covariate) and `y` (experiment metric), both already deterministic
    * doubles (exact decimal sums cast back — the Num discipline). θ is the
    * POOLED cov(x,y)/var(x); each arm's adjusted mean is
    * mean_y − θ·(mean_x_arm − mean_x_all). The corpus reduces in ONE
    * aggregation to five exact decimal moments (+ one per-arm aggregation);
    * everything after is fixed-form double arithmetic on a #arms-row frame.
    */
  def cupedAdjust(per: DataFrame): DataFrame = {
    val g = per.agg(
      count(lit(1)).as("n"),
      Num.dsum38(col("x")).as("sx"), Num.dsum38(col("y")).as("sy"),
      Num.dsum38(col("x") * col("x")).as("sxx"),
      Num.dsum38(col("x") * col("y")).as("sxy"))
    val theta = g.select(col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))).as("theta"),
      (col("sx") / col("n")).as("mean_x_all"))
    per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_arm"),
        Num.dsum38(col("x")).as("asx"), Num.dsum38(col("y")).as("asy"))
      .crossJoin(broadcast(theta))
      .select(col("arm"), col("n_arm"),
        (col("asy") / col("n_arm")).as("mean_y"),
        (col("asy") / col("n_arm") -
          col("theta") * (col("asx") / col("n_arm") - col("mean_x_all")))
          .as("mean_y_cuped"),
        col("theta"))
  }

  /** First-order Markov transition matrix over per-entity ordered state
    * sequences. Input: (u, o1, o2, cur) — entity, two order columns (the
    * second a deterministic tiebreak) and the state label. Output:
    * (cur, nxt, n, p) with p the row-stochastic transition probability.
    * The lag is a per-entity window (each user's events co-locate); the
    * matrix is #states²-bounded.
    */
  def markovTransitions(steps: DataFrame): DataFrame =
    markovFromCounts(markovCountTable(steps))

  /** The DURABLE form of the transition matrix: raw (cur, nxt, n) counts.
    * Counts are ADDITIVE, so shard tables built per entity-disjoint slice
    * (users never straddle id-shards, and the lag window is per-entity —
    * the locality argument that makes shard-local lags equal global lags)
    * merge by plain summation: merge == one-shot rebuild count-for-count,
    * and deletion retracts by subtraction (the q278 law).
    */
  def markovCountTable(steps: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("u")).orderBy(col("o1").asc, col("o2").asc)
    steps.withColumn("nxt", lead(col("cur"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
  }

  /** Merge transition-count shards: union + per-key sum. */
  def markovMergeCounts(shards: Seq[DataFrame]): DataFrame = {
    require(shards.nonEmpty, "merge needs at least one count shard")
    shards.reduce(_ unionByName _)
      .groupBy(col("cur"), col("nxt")).agg(sum(col("n")).as("n"))
  }

  /** Row-stochastic probabilities served from stored counts. */
  def markovFromCounts(counts: DataFrame): DataFrame = {
    val rowTot = counts.groupBy(col("cur")).agg(sum(col("n")).as("tot"))
    counts.join(broadcast(rowTot), "cur")
      .select(col("cur"), col("nxt"), col("n").cast("long").as("n"),
        (col("n").cast("double") / col("tot")).as("p"))
  }

  /** Stationary distribution of a transition matrix by `iters` unrolled
    * power-iteration rounds from the uniform start. Each round is one
    * broadcast join + one keyed aggregation over a #states²-bounded frame;
    * per-state mass sums fold in decimal(38,18) so the (tiny) reduction is
    * order-independent and the oracle's unrolled CTEs replay it exactly.
    * Assumes every `nxt` state also appears as a `cur` row (a proper,
    * non-absorbing chain) — true for any strongly connected click graph.
    */
  def markovStationary(trans: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one power-iteration round")
    val t = trans.select(col("cur"), col("nxt"), col("p").as("tp")).localCheckpoint()
    val states = t.select(col("cur").as("state")).distinct().localCheckpoint()
    // bounded model-parameter transfer: #states, not data
    val k = states.count()
    var dist = states.withColumn("p", lit(1.0 / k))
    for (_ <- 1 to iters) {
      dist = t.join(broadcast(dist.withColumnRenamed("p", "dp")),
          col("cur") === col("state"))
        .groupBy(col("nxt"))
        .agg(Num.dsum38(col("dp") * col("tp")).as("p"))
        .select(col("nxt").as("state"), col("p"))
        .localCheckpoint()
    }
    dist
  }

  /** Benford first-significant-digit audit: observed vs expected
    * log10(1 + 1/d) digit frequencies with the χ² distance — the
    * fabricated-data smell test for any monetary column. One keyed
    * aggregation to a 9-row frame; the χ² fold is decimal-exact over the 9
    * contributions. `amount` must be a positive integer column (derive
    * cents via an exact decimal(15,2) cast, never a double truncation).
    */
  def benfordAudit(df: DataFrame, amount: Column): DataFrame = {
    val digits = df.select(substring(amount.cast("string"), 1, 1).as("digit"))
      .where(col("digit").between("1", "9"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = digits.agg(sum(col("n_obs")).as("n_total"))
    val withExp = digits.crossJoin(broadcast(tot))
      .withColumn("exp_n",
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")) * col("n_total"))
      .withColumn("contrib",
        pow(col("n_obs") - col("exp_n"), 2) / col("exp_n"))
    val chi2 = withExp.agg(Num.dsum38(col("contrib")).as("chi2"))
    withExp.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n_obs"), col("exp_n"), col("contrib"), col("chi2"))
  }

  /** Two-group LOG-RANK test over right-censored durations — "do the two
    * cohorts have the same survival curve?", the hypothesis test beside
    * the q292 Kaplan–Meier estimate. Input: one row per subject with `t`
    * (integer duration), `ev` (1 observed / 0 censored) and `g` (cohort,
    * 1 or 0). At each event time the group-1 expectation e1 = d·n1/n and
    * the hypergeometric variance accumulate; z = (O1−E1)/sqrt(V),
    * chi2 = z². Same envelope as [[kaplanMeier]]: the corpus reduces to a
    * calendar-bounded cell frame before any window; double folds are
    * decimal-exact so the tiny reduction is partition-order independent.
    */
  def logRankTest(subjects: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cells = subjects.groupBy(col("t")).agg(
      sum(when(col("g") === 1, col("ev")).otherwise(0L)).as("d1"),
      sum(when(col("g") === 1, lit(1L) - col("ev")).otherwise(0L)).as("c1"),
      sum(when(col("g") === 0, col("ev")).otherwise(0L)).as("d0"),
      sum(when(col("g") === 0, lit(1L) - col("ev")).otherwise(0L)).as("c0"))
    val tot = cells.agg(sum(col("d1") + col("c1")).as("tn1"),
      sum(col("d0") + col("c0")).as("tn0"))
    val wPrior = W.orderBy(col("t")).rowsBetween(W.unboundedPreceding, -1)
    val r = cells.crossJoin(broadcast(tot))
      .withColumn("n1",
        col("tn1") - coalesce(sum(col("d1") + col("c1")).over(wPrior), lit(0L)))
      .withColumn("n0",
        col("tn0") - coalesce(sum(col("d0") + col("c0")).over(wPrior), lit(0L)))
      .withColumn("dj", col("d1") + col("d0"))
      .withColumn("nj", col("n1") + col("n0"))
      .where(col("dj") > 0)
      .withColumn("e1", col("dj").cast("double") * col("n1") / col("nj"))
      .withColumn("v", when(col("nj") > 1,
        col("dj").cast("double") * col("n1") * col("n0") * (col("nj") - col("dj"))
          / (col("nj").cast("double") * col("nj") * (col("nj") - 1)))
        .otherwise(lit(0.0)))
    r.agg(sum(col("d1")).as("o1"), Num.dsum38(col("e1")).as("e1"),
        Num.dsum38(col("v")).as("var_lr"))
      .withColumn("z", when(col("var_lr") > 0,
        (col("o1") - col("e1")) / sqrt(col("var_lr"))))
      .withColumn("chi2", when(col("var_lr") > 0, pow(col("z"), 2)))
  }

  /** EPOCH DRIFT SCORES: score a LIVE epoch's per-slice success counts
    * against a REFERENCE epoch's rates. Per matched slice, the live
    * successes are Binomial(n_live, p0) under no-drift, so
    * z = (k_live − n_live·p0)/√(n_live·p0(1−p0)); the global row folds
    * expected and variance across matched slices. Slices with no reference
    * row score NULL and are tallied in n_unknown (new slices are themselves
    * a drift signal).
    *
    * Input: two (key, n, k) count frames. Both are slice-alphabet-bounded,
    * so every join/fold below runs on tiny frames; the corpus is only
    * touched by whatever aggregation built the counts. Reference rates
    * broadcast. Decimal folds keep the global sums order-independent.
    */
  def sliceDriftScores(reference: DataFrame, live: DataFrame): DataFrame = {
    val ref = reference.select(col("key").as("rkey"),
      col("n").as("n_ref"), col("k").as("k_ref"),
      (col("k").cast("double") / col("n").cast("double")).as("p0"))
    val j = live.join(broadcast(ref), col("key") === col("rkey"), "left")
      .select(col("key"), col("n_ref"), col("k_ref"), col("p0"),
        col("n").as("n_live"), col("k").as("k_live"))
      .localCheckpoint()
    val known = col("p0").isNotNull
    val glob = j.agg(
      count(when(!known, 1)).as("n_unknown"),
      Num.dsum38(when(known, col("n_live").cast("double") * col("p0"))
        .otherwise(0.0)).as("expected_total"),
      Num.dsum38(when(known,
        col("n_live").cast("double") * col("p0") * (lit(1.0) - col("p0")))
        .otherwise(0.0)).as("variance_total"),
      sum(when(known, col("k_live")).otherwise(0L)).cast("double").as("actual_total"))
    val ex = col("n_live").cast("double") * col("p0")
    val vr = ex * (lit(1.0) - col("p0"))
    j.withColumn("z", when(known && vr > 0.0,
        (col("k_live").cast("double") - ex) / sqrt(vr)))
      .crossJoin(broadcast(glob.withColumn("drift_z",
        when(col("variance_total") > 0.0,
          (col("actual_total") - col("expected_total")) /
            sqrt(col("variance_total"))))))
  }

  /** DuckDB twin of [[sliceDriftScores]]: `refSql` and `liveSql` are
    * subqueries/CTE names yielding (key, n, k); `prelude` optionally
    * prepends caller CTEs (e.g. the epoch split) to the WITH chain.
    */
  def duckSliceDriftScores(refSql: String, liveSql: String,
      prelude: String = ""): String =
    s"""WITH ${if (prelude.isEmpty) "" else prelude + ",\n"}refc AS (SELECT key AS rkey, n AS n_ref, k AS k_ref,
       |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p0 FROM $refSql),
       |j AS (
       |  SELECT l.key, r.n_ref, r.k_ref, r.p0, l.n AS n_live, l.k AS k_live
       |  FROM $liveSql l LEFT JOIN refc r ON l.key = r.rkey),
       |gtot AS (
       |  SELECT
       |    CAST(COUNT(CASE WHEN p0 IS NULL THEN 1 END) AS BIGINT) AS n_unknown,
       |    ${Num.duckDsum38(
            "CASE WHEN p0 IS NOT NULL THEN CAST(n_live AS DOUBLE) * p0 " +
            "ELSE 0.0 END")} AS expected_total,
       |    ${Num.duckDsum38(
            "CASE WHEN p0 IS NOT NULL THEN CAST(n_live AS DOUBLE) * p0 * " +
            "(1.0 - p0) ELSE 0.0 END")} AS variance_total,
       |    CAST(CAST(SUM(CASE WHEN p0 IS NOT NULL THEN k_live ELSE 0 END)
       |      AS BIGINT) AS DOUBLE) AS actual_total
       |  FROM j)
       |SELECT key, n_ref, k_ref, p0, n_live, k_live,
       |  CASE WHEN p0 IS NOT NULL
       |      AND CAST(n_live AS DOUBLE) * p0 * (1.0 - p0) > 0.0
       |    THEN (CAST(k_live AS DOUBLE) - CAST(n_live AS DOUBLE) * p0)
       |      / sqrt(CAST(n_live AS DOUBLE) * p0 * (1.0 - p0))
       |  END AS z,
       |  n_unknown, expected_total, variance_total, actual_total,
       |  CASE WHEN variance_total > 0.0
       |    THEN (actual_total - expected_total) / sqrt(variance_total)
       |  END AS drift_z
       |FROM j CROSS JOIN gtot""".stripMargin

  /** QUANTILE-DRIFT scores as ONE aggregation row. Given reference
    * thresholds (q, thr) — typically exact or KLL-served quantiles of a
    * reference corpus ([[QuantileIndex]]) — a no-drift batch has
    * P(value > thr_q) = 1 − q per row, so
    * n_above ~ Binomial(n_known, 1 − q) and
    * z_q = (n_above − n·(1−q)) / √(n·q·(1−q)) is the per-threshold
    * drift score. (1−q) and q·(1−q) are folded to ONE double literal
    * each on the driver, so the oracle can interpolate the identical
    * doubles and the z is bit-reproducible cross-engine. NULL values
    * carry no rank: tallied in n_null, excluded from every count.
    * Output: (n_rows, n_null, and per q: n_above_pXX, z_pXX).
    */
  def quantileDriftScores(df: DataFrame, value: Column,
      refQuantiles: Seq[(Double, Double)]): DataFrame = {
    require(refQuantiles.nonEmpty, "need at least one reference quantile")
    require(refQuantiles.forall { case (q, _) => q > 0.0 && q < 1.0 },
      s"ranks must lie strictly inside (0, 1), got ${refQuantiles.map(_._1)}")
    // columns are labeled by rank, so a duplicate rank would emit duplicate
    // column names that only blow up downstream — fail loudly here instead
    require(refQuantiles.map(_._1).distinct.size == refQuantiles.size,
      s"duplicate reference ranks: ${refQuantiles.map(_._1)}")
    val v = value.cast("double")
    val nK = count(when(v.isNotNull, 1)).cast("double")
    val ms = Seq(
      count(lit(1)).as("n_rows"),
      count(when(v.isNull, 1)).as("n_null")) ++
      refQuantiles.flatMap { case (q, thr) =>
        val pct = math.round(q * 100)
        require(math.abs(q * 100 - pct) < 1e-9,
          s"rank $q has no whole-percent metric label")
        val omq = 1.0 - q     // one driver-side double each, so the
        val pq = q * (1.0 - q) // oracle interpolates the same literal
        val above = count(when(v > lit(thr), 1))
        Seq(
          above.as(s"n_above_p$pct"),
          when(nK * lit(pq) > 0.0,
            (above.cast("double") - nK * lit(omq)) / sqrt(nK * lit(pq)))
            .as(s"z_p$pct"))
      }
    df.agg(ms.head, ms.tail: _*)
  }

  /** DuckDB twin of [[quantileDriftScores]]; `liveSql` is a CTE/subquery
    * yielding `v` (double, the gated value) and `thrSql` one yielding one
    * row of `thr_pXX` threshold columns (usually the exact nearest-rank
    * replay of the reference split). The (1−q) and q(1−q) literals are
    * interpolated from the SAME Scala doubles the engine folded.
    */
  def duckQuantileDriftScores(liveSql: String, thrSql: String,
      qs: Seq[Double]): String = {
    val aboveCols = qs.map { q =>
      val pct = math.round(q * 100)
      s"""CAST(COUNT(CASE WHEN v > thr_p$pct THEN 1 END) AS BIGINT)
         |      AS n_above_p$pct""".stripMargin
    }.mkString(",\n    ")
    val zCols = qs.map { q =>
      val pct = math.round(q * 100)
      val omq = 1.0 - q
      val pq = q * (1.0 - q)
      s"""n_above_p$pct,
         |  CASE WHEN CAST(n_rows - n_null AS DOUBLE) * $pq > 0.0
         |    THEN (CAST(n_above_p$pct AS DOUBLE)
         |        - CAST(n_rows - n_null AS DOUBLE) * $omq)
         |      / sqrt(CAST(n_rows - n_null AS DOUBLE) * $pq)
         |  END AS z_p$pct""".stripMargin
    }.mkString(",\n  ")
    s"""SELECT n_rows, n_null,
       |  $zCols
       |FROM (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(COUNT(CASE WHEN v IS NULL THEN 1 END) AS BIGINT) AS n_null,
       |    $aboveCols
       |  FROM $liveSql CROSS JOIN $thrSql)""".stripMargin
  }

  /** COCHRAN–ARMITAGE TREND TEST over ordered (score, n, k) proportion
    * groups — the ORDERED alternative the q311 chi² cannot see: chi²
    * treats "rate rises monotonically with the score" and "rates jump
    * around" identically; CA weights each group's success surplus by its
    * score, so only a TREND moves the statistic. T = Σ sᵢ(kᵢ − nᵢ·p̄)
    * with p̄ = K/N; Var(T) = p̄(1−p̄)·(Σ sᵢ²nᵢ − (Σ sᵢnᵢ)²/N);
    * z = T/√Var, NULL when degenerate (p̄ ∈ {0,1} or one group).
    *
    * Exactness: with integer scores every sum here is exact integer
    * arithmetic folded as decimal; the only doubles are the final p̄, T,
    * Var, z expressions — fixed-form, bit-identical cross-engine. The
    * whole test runs on the #groups frame (alphabet-bounded); the corpus
    * is touched once by the counting aggregation that built the input.
    * Output: one row (n_groups, n_total, k_total, t_stat, var_t, z).
    */
  def cochranArmitage(counts: DataFrame): DataFrame = {
    val agg = counts.agg(
      count(lit(1)).as("n_groups"),
      sum(col("n")).as("n_total"),
      sum(col("k")).as("k_total"),
      sum(col("s") * col("n")).as("sn"),
      sum(col("s") * col("s") * col("n")).as("ssn"),
      sum(col("s") * col("k")).as("sk"))
    val nT = col("n_total").cast("double")
    val pbar = col("k_total").cast("double") / nT
    val t = col("sk").cast("double") - col("sn").cast("double") * pbar
    val varT = pbar * (lit(1.0) - pbar) *
      (col("ssn").cast("double") -
        col("sn").cast("double") * col("sn").cast("double") / nT)
    agg.select(col("n_groups"), col("n_total"), col("k_total"),
      t.as("t_stat"), varT.as("var_t"),
      when(varT > 0.0, t / sqrt(varT)).as("z"))
  }

  /** DuckDB twin of [[cochranArmitage]]; `countsSql` yields (s, n, k). */
  def duckCochranArmitage(countsSql: String): String =
    s"""WITH a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       |    CAST(SUM(n) AS BIGINT) AS n_total,
       |    CAST(SUM(k) AS BIGINT) AS k_total,
       |    CAST(SUM(s * n) AS BIGINT) AS sn,
       |    CAST(SUM(s * s * n) AS BIGINT) AS ssn,
       |    CAST(SUM(s * k) AS BIGINT) AS sk
       |  FROM $countsSql)
       |SELECT n_groups, n_total, k_total,
       |  CAST(sk AS DOUBLE) - CAST(sn AS DOUBLE)
       |    * (CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE)) AS t_stat,
       |  (CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE))
       |    * (1.0 - CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE))
       |    * (CAST(ssn AS DOUBLE)
       |      - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
       |        / CAST(n_total AS DOUBLE)) AS var_t,
       |  CASE WHEN (CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE))
       |      * (1.0 - CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE))
       |      * (CAST(ssn AS DOUBLE)
       |        - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
       |          / CAST(n_total AS DOUBLE)) > 0.0
       |    THEN (CAST(sk AS DOUBLE) - CAST(sn AS DOUBLE)
       |        * (CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE)))
       |      / sqrt((CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE))
       |        * (1.0 - CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE))
       |        * (CAST(ssn AS DOUBLE)
       |          - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
       |            / CAST(n_total AS DOUBLE)))
       |  END AS z
       |FROM a""".stripMargin

  /** CRAMÉR'S V — the EFFECT SIZE the q311/q377 dependence family lacks:
    * chi² says "dependent" (scales with n), MI says "how many nats", V
    * says "how strong on a fixed 0..1 scale" — comparable across tables
    * of any size. χ² = Σ (O−E)²/E with E = cx·cy/n from the joint
    * contingency cells (absent cells contribute E, handled by summing
    * E-complement algebra: Σ over PRESENT cells of (O−E)²/E, plus
    * Σ over ABSENT cells of E, which equals n − Σ_present E);
    * V = √(χ²/(n·(min(r,c)−1))), plus the Bergsma bias-corrected Ṽ
    * (φ̃² = max(0, φ² − (r−1)(c−1)/(n−1)), r̃ = r − (r−1)²/(n−1)).
    *
    * Shape: ONE joint aggregation touches the corpus; marginals derive
    * from the joint frame; everything else is (r×c)-frame arithmetic with
    * decimal folds. Output: one row (n, r, c, chi2, phi2, v, v_corrected).
    */
  def cramersV(df: DataFrame, x: Column, y: Column): DataFrame = {
    val joint = df.select(x.cast("string").as("x"), y.cast("string").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val mx = joint.groupBy(col("x")).agg(sum(col("o")).as("cx"))
    val my = joint.groupBy(col("y")).agg(sum(col("o")).as("cy"))
    val nrc = joint.agg(sum(col("o")).as("n")).crossJoin(
        broadcast(mx.agg(count(lit(1)).as("r")))).crossJoin(
        broadcast(my.agg(count(lit(1)).as("c"))))
    val nd = col("n").cast("double")
    val e = col("cx").cast("double") * col("cy").cast("double") / nd
    // present cells: (O−E)²/E − E telescopes the absent-cell mass: the
    // full χ² is Σ_present((O−E)²/E) + (n − Σ_present E)
    val present = joint.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(nrc.select(col("n"))))
      .agg(Num.dsum38((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
          .as("chi_present"),
        Num.dsum38(e).as("e_present"))
    nrc.crossJoin(broadcast(present))
      .withColumn("chi2", col("chi_present") + (nd - col("e_present")))
      .withColumn("phi2", col("chi2") / nd)
      .withColumn("kmin",
        when(col("r") <= col("c"), col("r")).otherwise(col("c")).cast("double"))
      .withColumn("v",
        when(col("kmin") > 1.0, sqrt(col("phi2") / (col("kmin") - 1.0)))
          .otherwise(lit(0.0)))
      .withColumn("phi2c", greatest(lit(0.0),
        col("phi2") - (col("r") - 1).cast("double") * (col("c") - 1).cast("double")
          / (nd - 1.0)))
      .withColumn("rc", col("r").cast("double") -
        pow((col("r") - 1).cast("double"), 2) / (nd - 1.0))
      .withColumn("cc", col("c").cast("double") -
        pow((col("c") - 1).cast("double"), 2) / (nd - 1.0))
      .withColumn("kminc",
        when(col("rc") <= col("cc"), col("rc")).otherwise(col("cc")))
      .withColumn("v_corrected",
        when(col("kminc") > 1.0, sqrt(col("phi2c") / (col("kminc") - 1.0)))
          .otherwise(lit(0.0)))
      .select(col("n"), col("r"), col("c"), col("chi2"), col("phi2"),
        col("v"), col("v_corrected"))
  }

  /** DuckDB twin of [[cramersV]]. */
  def duckCramersV(tbl: String, xExpr: String, yExpr: String): String =
    s"""WITH joint AS (
       |  SELECT CAST($xExpr AS VARCHAR) AS x, CAST($yExpr AS VARCHAR) AS y,
       |    CAST(COUNT(*) AS BIGINT) AS o
       |  FROM $tbl GROUP BY 1, 2),
       |mx AS (SELECT x, CAST(SUM(o) AS BIGINT) AS cx FROM joint GROUP BY 1),
       |my AS (SELECT y, CAST(SUM(o) AS BIGINT) AS cy FROM joint GROUP BY 1),
       |nrc AS (SELECT
       |  (SELECT CAST(SUM(o) AS BIGINT) FROM joint) AS n,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mx) AS r,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM my) AS c),
       |pres AS (
       |  SELECT
       |    ${Num.duckDsum38(
            "(CAST(o AS DOUBLE) - CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) " +
            "/ CAST(n AS DOUBLE)) * (CAST(o AS DOUBLE) - CAST(cx AS DOUBLE) " +
            "* CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) " +
            "/ (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))")}
       |      AS chi_present,
       |    ${Num.duckDsum38(
            "CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)")}
       |      AS e_present
       |  FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nrc),
       |base AS (
       |  SELECT n, r, c,
       |    chi_present + (CAST(n AS DOUBLE) - e_present) AS chi2,
       |    (chi_present + (CAST(n AS DOUBLE) - e_present))
       |      / CAST(n AS DOUBLE) AS phi2,
       |    CAST(LEAST(r, c) AS DOUBLE) AS kmin,
       |    GREATEST(0.0, (chi_present + (CAST(n AS DOUBLE) - e_present))
       |        / CAST(n AS DOUBLE)
       |      - CAST(r - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE)
       |        / (CAST(n AS DOUBLE) - 1.0)) AS phi2c,
       |    CAST(r AS DOUBLE) - CAST(r - 1 AS DOUBLE) * CAST(r - 1 AS DOUBLE)
       |      / (CAST(n AS DOUBLE) - 1.0) AS rc,
       |    CAST(c AS DOUBLE) - CAST(c - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE)
       |      / (CAST(n AS DOUBLE) - 1.0) AS cc
       |  FROM nrc CROSS JOIN pres)
       |SELECT n, r, c, chi2, phi2,
       |  CASE WHEN kmin > 1.0 THEN sqrt(phi2 / (kmin - 1.0)) ELSE 0.0 END AS v,
       |  CASE WHEN LEAST(rc, cc) > 1.0
       |    THEN sqrt(phi2c / (LEAST(rc, cc) - 1.0)) ELSE 0.0
       |  END AS v_corrected
       |FROM base""".stripMargin

  /** COHEN'S KAPPA — chance-corrected agreement between two categorical
    * labelings of the same rows (heuristic classifier vs stored truth,
    * two annotation passes, two gate versions): κ = (p_o − p_e)/(1 − p_e)
    * with observed agreement p_o = Σ diag/n and chance agreement
    * p_e = Σ_l (c_a(l)/n)(c_b(l)/n). The statistic accuracy alone can't
    * give — a majority-class guesser scores high accuracy but κ ≈ 0.
    *
    * ONE joint aggregation touches the corpus; marginals and the diagonal
    * derive from the (label×label) joint frame; decimal fold for p_e.
    * κ is NULL when p_e = 1 (both labelings constant — agreement is
    * vacuous, and the 0/0 must not leak a NaN).
    * Output: one row (n, n_agree, p_o, p_e, kappa).
    */
  def cohensKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val joint = df.select(a.cast("string").as("la"), b.cast("string").as("lb"))
      .groupBy(col("la"), col("lb")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val n = joint.agg(sum(col("c")).as("n"),
      sum(when(col("la") === col("lb"), col("c")).otherwise(0L)).as("n_agree"))
    val ma = joint.groupBy(col("la")).agg(sum(col("c")).as("ca"))
    val mb = joint.groupBy(col("lb")).agg(sum(col("c")).as("cb"))
    val pe = ma.join(mb, col("la") === col("lb"))
      .crossJoin(broadcast(n.select(col("n").as("nn"))))
      .agg(coalesce(Num.dsum38(
        col("ca").cast("double") / col("nn").cast("double") *
          (col("cb").cast("double") / col("nn").cast("double"))),
        lit(0.0)).as("p_e"))
    n.crossJoin(broadcast(pe))
      .select(col("n"), col("n_agree"),
        (col("n_agree").cast("double") / col("n").cast("double")).as("p_o"),
        col("p_e"),
        when(col("p_e") < 1.0,
          (col("n_agree").cast("double") / col("n").cast("double") - col("p_e"))
            / (lit(1.0) - col("p_e"))).as("kappa"))
  }

  /** DuckDB twin of [[cohensKappa]]. */
  def duckCohensKappa(tbl: String, aExpr: String, bExpr: String): String =
    s"""WITH joint AS (
       |  SELECT CAST($aExpr AS VARCHAR) AS la, CAST($bExpr AS VARCHAR) AS lb,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM $tbl GROUP BY 1, 2),
       |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
       |  CAST(COALESCE(SUM(CASE WHEN la = lb THEN c END), 0) AS BIGINT)
       |    AS n_agree FROM joint),
       |ma AS (SELECT la, CAST(SUM(c) AS BIGINT) AS ca FROM joint GROUP BY 1),
       |mb AS (SELECT lb, CAST(SUM(c) AS BIGINT) AS cb FROM joint GROUP BY 1),
       |pe AS (
       |  SELECT COALESCE(${Num.duckDsum38(
            "CAST(ca AS DOUBLE) / CAST(n AS DOUBLE) " +
            "* (CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))")}, 0.0) AS p_e
       |  FROM ma JOIN mb ON ma.la = mb.lb CROSS JOIN nt)
       |SELECT n, n_agree,
       |  CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_o, p_e,
       |  CASE WHEN p_e < 1.0
       |    THEN (CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) - p_e)
       |      / (1.0 - p_e)
       |  END AS kappa
       |FROM nt CROSS JOIN pe""".stripMargin

  /** McNEMAR TEST on paired binary outcomes — "do two gates disagree
    * ASYMMETRICALLY on the same rows?", the question an unpaired
    * two-proportion z (q374's tool) answers wrongly because it ignores
    * the pairing. Only the discordant counts matter: b = (A pass, B fail),
    * c = (A fail, B pass); continuity-corrected χ² = (|b−c|−1)²/(b+c)
    * (df 1), NULL when b + c = 0 (no disagreement — nothing to test).
    *
    * ONE corpus aggregation producing five integers; everything else is
    * 1-row arithmetic. Rows where either gate is NULL carry no pairing
    * information and would otherwise fall through every when() branch
    * silently (n above the cell sum with no signal) — they are tallied
    * in n_null and excluded from the four cells, so
    * n = n_null + n_both + n_a_only + n_b_only + n_neither always holds.
    * Output: (n, n_null, n_both, n_a_only, n_b_only, n_neither, chi2_cc).
    */
  def mcnemarTest(df: DataFrame, a: Column, b: Column): DataFrame = {
    val ab = a.cast("boolean")
    val bb = b.cast("boolean")
    val ok = ab.isNotNull && bb.isNotNull
    val agg = df.agg(
      count(lit(1)).as("n"),
      sum(when(!ok, 1L).otherwise(0L)).as("n_null"),
      sum(when(ok && ab && bb, 1L).otherwise(0L)).as("n_both"),
      sum(when(ok && ab && !bb, 1L).otherwise(0L)).as("n_a_only"),
      sum(when(ok && !ab && bb, 1L).otherwise(0L)).as("n_b_only"),
      sum(when(ok && !ab && !bb, 1L).otherwise(0L)).as("n_neither"))
    val d = (col("n_a_only") + col("n_b_only")).cast("double")
    val diff = abs(col("n_a_only") - col("n_b_only")).cast("double")
    agg.withColumn("chi2_cc",
      when(d > 0.0, pow(greatest(diff - 1.0, lit(0.0)), 2) / d))
  }

  /** DuckDB twin of [[mcnemarTest]]; aExpr/bExpr are boolean SQL. */
  def duckMcnemarTest(tbl: String, aExpr: String, bExpr: String): String =
    s"""WITH agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN ($aExpr) IS NULL OR ($bExpr) IS NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       |    CAST(SUM(CASE WHEN ($aExpr) IS NOT NULL AND ($bExpr) IS NOT NULL
       |        AND ($aExpr) AND ($bExpr) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_both,
       |    CAST(SUM(CASE WHEN ($aExpr) IS NOT NULL AND ($bExpr) IS NOT NULL
       |        AND ($aExpr) AND NOT ($bExpr) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_a_only,
       |    CAST(SUM(CASE WHEN ($aExpr) IS NOT NULL AND ($bExpr) IS NOT NULL
       |        AND NOT ($aExpr) AND ($bExpr) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_b_only,
       |    CAST(SUM(CASE WHEN ($aExpr) IS NOT NULL AND ($bExpr) IS NOT NULL
       |        AND NOT ($aExpr) AND NOT ($bExpr) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_neither
       |  FROM $tbl)
       |SELECT n, n_null, n_both, n_a_only, n_b_only, n_neither,
       |  CASE WHEN n_a_only + n_b_only > 0
       |    THEN POWER(GREATEST(CAST(abs(n_a_only - n_b_only) AS DOUBLE) - 1.0,
       |        0.0), 2)
       |      / CAST(n_a_only + n_b_only AS DOUBLE)
       |  END AS chi2_cc
       |FROM agg""".stripMargin

  /** BROWN–FORSYTHE TEST (median-based Levene) — variance-homogeneity
    * across groups, the assumption check the q261 Welch test deliberately
    * avoids and classic pooled ANOVA silently requires: transform each
    * value to its absolute deviation from the GROUP MEDIAN (the robust
    * center — Levene's mean version is itself wrecked by the skew it
    * tests for), then one-way ANOVA F on the deviations:
    * F = [(N−g)/(g−1)] · Σnⱼ(z̄ⱼ−z̄)² / ΣΣ(zᵢⱼ−z̄ⱼ)².
    *
    * Median = exact lower nearest-rank (ceil(n/2)-th, the q319
    * discipline) per group via a group-keyed window; deviations fold as
    * decimal through the variance identity Σ(z−z̄ⱼ)² = Σz² − nⱼz̄ⱼ²
    * (exact decimal sums, deterministic final doubles). Two corpus
    * passes (median, then deviations — unavoidable for a median-centred
    * statistic); group count bounds every later frame. F is NULL when
    * within-variance is 0 or g < 2.
    * Output: one row (n_groups, n_total, f_stat, df1, df2).
    */
  def brownForsythe(df: DataFrame, group: Column, value: Column,
      scale: Int = 6): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // NULL values carry no spread information but would diverge cross-engine
    // (Spark ranks NULLs FIRST under ASC, DuckDB LAST, and COUNT(*) would
    // count them while the deviation sums ignore them) — drop them before
    // the rank window so nj, the median and both sums agree by construction.
    val v = df.select(group.cast("string").as("g"), value.cast("double").as("y"))
      .where(col("y").isNotNull)
    val wRank = W.partitionBy(col("g")).orderBy(col("y").asc)
    val med = v.withColumn("rn", row_number().over(wRank))
      .withColumn("cnt", count(lit(1)).over(W.partitionBy(col("g"))))
      .where(col("rn") === ceil(col("cnt").cast("double") / 2.0))
      .select(col("g"), col("y").as("med"))
    val z = v.join(broadcast(med), "g")
      .select(col("g"), abs(col("y") - col("med")).as("z"))
    val perG = z.groupBy(col("g")).agg(
      count(lit(1)).as("nj"),
      Num.dsum(col("z"), scale).as("sz"),
      Num.dsum(col("z") * col("z"), scale).as("szz"))
    val tot = perG.agg(count(lit(1)).as("g_cnt"), sum(col("nj")).as("n_tot"),
      Num.dsum38(col("sz")).as("sz_tot"))
    val zbarj = col("sz") / col("nj").cast("double")
    val res = perG.crossJoin(broadcast(tot))
      .withColumn("zbar", col("sz_tot") / col("n_tot").cast("double"))
      .agg(
        max(col("g_cnt")).as("n_groups"), max(col("n_tot")).as("n_total"),
        Num.dsum38(col("nj").cast("double") *
          (zbarj - col("zbar")) * (zbarj - col("zbar"))).as("between"),
        Num.dsum38(col("szz") - col("nj").cast("double") * zbarj * zbarj)
          .as("within"))
    res.select(col("n_groups"), col("n_total"),
      when(col("n_groups") > 1 && col("within") > 0.0,
        (col("n_total") - col("n_groups")).cast("double") /
          (col("n_groups") - 1).cast("double") *
          col("between") / col("within")).as("f_stat"),
      (col("n_groups") - 1).as("df1"),
      (col("n_total") - col("n_groups")).as("df2"))
  }

  /** DuckDB twin of [[brownForsythe]]; `tbl` exposes g (varchar), y
    * (double) via the passed expressions.
    */
  def duckBrownForsythe(tbl: String, gExpr: String, yExpr: String,
      scale: Int = 6): String =
    s"""WITH v AS (
       |  SELECT CAST($gExpr AS VARCHAR) AS g, CAST($yExpr AS DOUBLE) AS y
       |  FROM $tbl WHERE CAST($yExpr AS DOUBLE) IS NOT NULL),
       |rk AS (
       |  SELECT g, y,
       |    row_number() OVER (PARTITION BY g ORDER BY y ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY g) AS cnt
       |  FROM v),
       |med AS (
       |  SELECT g, y AS med FROM rk
       |  WHERE rn = CAST(ceil(CAST(cnt AS DOUBLE) / 2.0) AS BIGINT)),
       |z AS (
       |  SELECT v.g, abs(v.y - med.med) AS z FROM v JOIN med ON v.g = med.g),
       |perg AS (
       |  SELECT g, CAST(COUNT(*) AS BIGINT) AS nj,
       |    ${Num.duckDsum("z", scale)} AS sz,
       |    ${Num.duckDsum("z * z", scale)} AS szz
       |  FROM z GROUP BY 1),
       |tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS g_cnt,
       |    CAST(SUM(nj) AS BIGINT) AS n_tot,
       |    ${Num.duckDsum38("sz")} AS sz_tot
       |  FROM perg),
       |res AS (
       |  SELECT MAX(g_cnt) AS n_groups, MAX(n_tot) AS n_total,
       |    ${Num.duckDsum38(
            "CAST(nj AS DOUBLE) * (sz / CAST(nj AS DOUBLE) " +
            "- sz_tot / CAST(n_tot AS DOUBLE)) * (sz / CAST(nj AS DOUBLE) " +
            "- sz_tot / CAST(n_tot AS DOUBLE))")} AS between_ss,
       |    ${Num.duckDsum38(
            "szz - CAST(nj AS DOUBLE) * (sz / CAST(nj AS DOUBLE)) " +
            "* (sz / CAST(nj AS DOUBLE))")} AS within_ss
       |  FROM perg CROSS JOIN tot)
       |SELECT n_groups, n_total,
       |  CASE WHEN n_groups > 1 AND within_ss > 0.0
       |    THEN CAST(n_total - n_groups AS DOUBLE)
       |      / CAST(n_groups - 1 AS DOUBLE) * between_ss / within_ss
       |  END AS f_stat,
       |  n_groups - 1 AS df1, n_total - n_groups AS df2
       |FROM res""".stripMargin
}
