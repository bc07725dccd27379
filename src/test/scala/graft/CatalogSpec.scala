package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-level assertions over real testdata (sf0.001): the approx-distinct
  * accuracy bound the q26 comment promises, and structural invariants of the
  * query catalog itself.
  */
class CatalogSpec extends AnyFunSuite with SparkSpec {

  test("q26: sketch earns its in-query within_bound verdict; exact side matches q25") {
    val sf = TestSpark.sf0001
    val exact = SparkEntry.queries("q25_count_distinct")(spark, sf)
      .select("event_type", "n_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("q26_approx_count_distinct")(spark, sf)
      .select("event_type", "exact_users", "within_bound").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(exact.keySet == rows.keySet)
    rows.foreach { case (k, (ex, ok)) =>
      assert(ex == exact(k), s"$k: in-query exact count disagrees with q25")
      assert(ok, s"$k: HLL++ estimate outside the 5*rsd bound")
    }
  }

  test("ANN recall: LSH and IVF candidates carry real signal over random bucketing") {
    // Empirical recall characterization on sf0.001 embeddings (deterministic
    // data + deterministic algorithms => stable numbers). The embeddings are
    // near-random (cosine p99 ~ 0.29), the hardest case for ANN — absolute
    // recall is low by nature, so the meaningful assertion is the MARGIN
    // over the random-candidate baseline of each index shape:
    //  - LSH (8 planes, 1 table): ~2 candidates/query of 499 => random
    //    top-5 recall ~ 2/499 ≈ 0.004; measured 0.020 (5x random).
    //  - IVF (9 label clusters, nprobe=1): random cluster => recall ~ 1/9
    //    ≈ 0.11; measured 0.239 (2x random).
    val sf = TestSpark.sf0001
    def topk(name: String, k: Int): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf)
        .where(col("rank") <= k)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(truth: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double = {
      val hits = truth.toSeq.map { case (q, t) =>
        (t intersect got.getOrElse(q, Set.empty)).size
      }.sum
      hits.toDouble / truth.values.map(_.size).sum
    }
    val bf5 = topk("q61_cosine_topk", 5)
    val lshRecall = recall(bf5, topk("q63_ann_lsh_topk", 5))
    assert(lshRecall >= 0.015, f"LSH top-5 recall $lshRecall%.3f below pinned floor")
    assert(lshRecall >= 3 * (2.0 / 499), "LSH must beat its random-candidate baseline clearly")
    val bf3 = topk("q61_cosine_topk", 3)
    val ivfRecall = recall(bf3, topk("q66_ivf_topk", 3))
    assert(ivfRecall >= 0.20, f"IVF top-3 recall $ivfRecall%.3f below pinned floor")
    assert(ivfRecall >= 1.5 * (1.0 / 9), "IVF must beat the random-cluster baseline clearly")
    // the nprobe recall dial: probing a second cluster can only widen each
    // query's candidate set, so recall must be monotone (and is strictly
    // higher on this data)
    val ivfRecall2 = recall(bf3, topk("q85_ivf_topk_nprobe2", 3))
    assert(ivfRecall2 >= ivfRecall,
      f"nprobe=2 recall $ivfRecall2%.3f must not fall below nprobe=1 $ivfRecall%.3f")
    assert(ivfRecall2 >= 0.30, f"nprobe=2 top-3 recall $ivfRecall2%.3f below pinned floor")
  }

  test("q78: discrete exact percentiles near the interpolated ones; sketch verdict true") {
    val sf = TestSpark.sf0001
    val ev = Tables.load(spark, sf, "events")
    // the in-query exact side is the DISCRETE percentile (value at rank
    // ceil(p*n)); sanity-check it sits within one 5%-of-range band of the
    // interpolated percentile, and that the GK sketch earned its verdict
    val interp = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.5, 0.95))").as("p"),
        max(col("value")).as("mx"), min(col("value")).as("mn"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getDouble(2) - r.getDouble(3))).toMap
    val rows = SparkEntry.queries("q78_approx_percentile")(spark, sf)
      .select("event_type", "exact_p50", "exact_p95", "within_bound").collect()
      .map(r => r.getString(0) -> ((Seq(r.getDouble(1), r.getDouble(2)), r.getBoolean(3)))).toMap
    assert(interp.keySet == rows.keySet)
    interp.foreach { case (k, (ip, range)) =>
      val (disc, ok) = rows(k)
      assert(ok, s"$k: GK sketch outside the in-query 5%-of-range bound")
      Seq(0, 1).foreach { i =>
        assert(math.abs(disc(i) - ip(i)) <= 0.05 * range,
          s"$k p${if (i == 0) 50 else 95}: discrete ${disc(i)} vs interpolated ${ip(i)}")
      }
    }
  }

  test("LSH recall dial: multi-table candidate union raises recall monotonically") {
    // measured on sf0.001: 1 table 0.020, 2 tables 0.039, 4 tables 0.076 —
    // near-linear in table count, the standard LSH recall/cost trade
    import graft.ops.Similarity
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    def coll(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = coll(Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 5))
    val total = bf.values.map(_.size).sum.toDouble
    def recallAt(tables: Int): Double = {
      val lsh = coll(Similarity.lshTopK(emb, col("vec_id"), col("embedding"), 5,
        numPlanes = 8, numDims = 64, numTables = tables))
      bf.toSeq.map { case (q, s) => (s intersect lsh.getOrElse(q, Set.empty)).size }.sum / total
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    assert(r4 > r1, "more tables must not lower recall")
    assert(r4 >= 3 * r1, f"4-table recall $r4%.3f should be ~4x the 1-table $r1%.3f")
  }

  test("multi-probe LSH: probing flipped boundary buckets does not lower recall") {
    import graft.ops.Similarity
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    def coll(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = coll(Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), 5))
    val total = bf.values.map(_.size).sum.toDouble
    def recall(got: Map[Long, Set[Long]]): Double =
      bf.toSeq.map { case (q, t) => (t intersect got.getOrElse(q, Set.empty)).size }.sum / total
    val single = recall(coll(Similarity.lshTopK(
      emb, col("vec_id"), col("embedding"), 5, numPlanes = 8, numDims = 64)))
    val multi = recall(coll(Similarity.lshMultiProbeTopK(
      emb, col("vec_id"), col("embedding"), 5, numPlanes = 8, numDims = 64, numProbes = 2)))
    info(f"LSH top-5 recall: 1 bucket $single%.3f, multi-probe(2 flips) $multi%.3f")
    // every single-bucket candidate pair is still generated (probe 0 is the
    // own bucket), so recall is monotone in numProbes
    assert(multi >= single, f"multi-probe $multi%.3f fell below single-bucket $single%.3f")
  }

  test("IVF-PQ: ADC ranking recalls most of the exact-L2 in-cluster ranking") {
    // isolates QUANTIZATION error: both rankings search the same coarse
    // cluster, one with exact L2, one with 8x16 product codes. Deterministic
    // data + algorithm => a stable, pinnable recall.
    import graft.ops.{Similarity, Num}
    val sf = TestSpark.sf0001
    val emb = Tables.load(spark, sf, "embeddings")
    val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
      Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
    val assign = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), coarse)
      .select(col("vid"), col("cluster")).localCheckpoint()
    val base = emb.select(col("vec_id").as("vid"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = assign.join(base, "vid")
      .select(col("cluster"), col("vid").as("query_id"), col("v").as("va"))
    val b = assign.join(base, "vid")
      .select(col("cluster"), col("vid").as("neighbor_id"), col("v").as("vb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
    val exact = a.join(b, Seq("cluster"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("d2", Similarity.l2sq(col("va"), col("vb")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cb = Similarity.pqCodebooksFlatResidual(emb, col("vec_id"), col("embedding"),
      coarse, dims = 64, m = 8, k = 16, iters = 1).localCheckpoint()
    val adc = Similarity.ivfPqTopK(emb, col("vec_id"), col("embedding"), 3, coarse, cb,
        dims = 64, m = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = exact.toSeq.map { case (q, t) => (t intersect adc.getOrElse(q, Set.empty)).size }.sum
    val recall = hits.toDouble / exact.values.map(_.size).sum
    info(f"IVF-PQ top-3 recall vs exact in-cluster L2: $recall%.3f")
    // residual encoding measured 0.326 on sf0.001 (raw-subvector PQ was
    // 0.322). The lift is thin HERE because the testdata embeddings are
    // near-uniform — every cell centroid sits near the global mean, so
    // residuals ≈ raw vectors; on clustered real data the within-cell
    // concentration is where IVFADC earns its recall. Near-random
    // embeddings are PQ's hardest case — the margin over random
    // (3/55 ≈ 0.055) is ~6x
    assert(recall >= 0.32, f"PQ quantization lost too much ranking signal: $recall%.3f")
    assert(recall >= 3 * (3.0 / 55), "must clearly beat random in-cluster top-3")
  }

  test("IVF-PQ nprobe dial: probing a second cell does not lower full-corpus recall") {
    // vs the EXACT full-corpus L2 top-3 (not in-cluster): nprobe=2 widens
    // each query's candidate set, so recall must be monotone
    import graft.ops.Similarity
    val sf = TestSpark.sf0001
    val emb = Tables.load(spark, sf, "embeddings")
    val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
      Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
    val cb = Similarity.pqCodebooksFlatResidual(emb, col("vec_id"), col("embedding"),
      coarse, dims = 64, m = 8, k = 16, iters = 1).localCheckpoint()
    val base = emb.select(col("vec_id").as("vid"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
    val exact = base.select(col("vid").as("query_id"), col("v").as("va"))
      .crossJoin(base.select(col("vid").as("neighbor_id"), col("v").as("vb")))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("d2", Similarity.l2sq(col("va"), col("vb")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallAt(nprobe: Int): Double = {
      val got = Similarity.ivfPqTopK(emb, col("vec_id"), col("embedding"), 3, coarse, cb,
          dims = 64, m = 8, nprobe = nprobe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = exact.toSeq.map { case (q, t) =>
        (t intersect got.getOrElse(q, Set.empty)).size
      }.sum
      hits.toDouble / exact.values.map(_.size).sum
    }
    val r1 = recallAt(1)
    val r2 = recallAt(2)
    info(f"IVF-PQ full-corpus top-3 recall: nprobe=1 $r1%.3f, nprobe=2 $r2%.3f")
    assert(r2 >= r1, f"nprobe=2 recall $r2%.3f fell below nprobe=1 $r1%.3f")
  }

  test("k-center coreset: weights partition the corpus; coverage cost shrinks as k grows") {
    import graft.ops.Similarity
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    val n = emb.count()
    def summary(k: Int): (Long, Double) = {
      val rows = Similarity.kcenterCoreset(emb, col("vec_id"), col("embedding"), k)
        .select(col("weight"), col("cost")).collect()
      (rows.map(_.getLong(0)).sum, rows.map(_.getDouble(1)).sum)
    }
    val (w2, c2) = summary(2)
    val (w6, c6) = summary(6)
    assert(w2 == n && w6 == n, "every vector lands in exactly one basin")
    assert(c6 < c2, f"6 centers must cover better than 2 (cost $c6%.3f vs $c2%.3f)")
  }

  test("q402: persisted-index recall is monotone in nprobe and within sane bounds") {
    val rows = SparkEntry.queries("q402_ivfpq_nprobe_recall")(spark, TestSpark.sf0001)
      .orderBy(org.apache.spark.sql.functions.col("nprobe"))
      .collect()
    assert(rows.map(_.getAs[Int]("nprobe")).toSeq == Seq(1, 2, 4))
    val recalls = rows.map(_.getAs[Double]("recall")).toSeq
    // probing MORE cells can only add candidates; the top-k over a superset
    // never loses a true hit that survived the smaller set's ranking at the
    // same k... it CAN displace one (ADC is approximate), so assert the
    // dial's operational claim on the end-to-end sweep: the widest probe is
    // at least as good as the narrowest, and every arm finds real signal
    assert(recalls.last >= recalls.head,
      s"nprobe=4 recall must not fall below nprobe=1: $recalls")
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    assert(recalls.head > 0.0, "even one probed cell must recall something")
  }

  test("README query counts match the catalog (the counts are derived, not hand-maintained)") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    val n = SparkEntry.catalog.size
    val nOracle = SparkEntry.catalog.count(_.oracle.isDefined)
    assert(readme.contains(s"$n queries"),
      s"README must state the true catalog size ($n queries)")
    assert(readme.contains(s"$nOracle with DuckDB oracles"),
      s"README must state the true oracle count ($nOracle)")
    // per-group counts, derived from the same catalogGroups the harness
    // iterates — a family gaining or losing a query without the README
    // moving fails HERE (the check that would have caught the transient
    // "379" total in round 13's commit 45ceaa3)
    val perGroup = "per group: " + SparkEntry.catalogGroups
      .map { case (g, qs) => s"$g ${qs.size}" }.mkString(", ")
    assert(readme.contains(perGroup),
      s"README must carry the derived per-group count line: '$perGroup'")
  }

  test("every query id cited in SURVEY.md exists in the catalog (no stale doc references)") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    val cited = "\\bq(\\d{1,3})\\b".r.findAllMatchIn(survey)
      .map(_.group(1).toInt).toSet
    val have = SparkEntry.catalog.map(_.name)
      .flatMap(n => "^q(\\d+)_".r.findFirstMatchIn(n).map(_.group(1).toInt))
      .toSet + 0 // q00 is the flagship
    val stale = (cited -- have).toSeq.sorted
    assert(stale.isEmpty,
      s"SURVEY.md cites query ids missing from the catalog: ${stale.mkString(", ")}")
  }

  test("every catalog query has a unique name; oracle coverage is near-total") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    val noOracle = SparkEntry.catalog.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.size <= 2, s"unexpected oracle-less queries: $noOracle")
  }

  test("flagship entry() runs end-to-end on generated articles (smoke)") {
    val df = SparkEntry.entry(spark)
    // seeded generated articles: the same 1180 finalized windows at 2 and
    // at 4 cores, so a change in the count is a change in the rows
    assert(df.count() == 1180L, "flagship pipeline must emit its 1180 finalized windows")
    assert(df.columns.toSeq == Seq("start", "end", "author", "average_word_count"))
  }
}
