package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{BinaryQuant, SnapTables}

/** Binary-quantization invariants that the q226/q227 oracles can't pin on
  * their own: the packed-word representation must agree with an independent
  * per-dimension recomputation, the Hamming distance must count exactly the
  * disagreeing sign bits, the codes must survive a disk round-trip (the
  * durable-table serve shape), and the encode plan must stay shuffle-free.
  */
class BinaryQuantSpec extends AnyFunSuite with SparkSpec {

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
  private lazy val thr =
    BinaryQuant.thresholds(emb, col("embedding")).localCheckpoint()
  private lazy val codes =
    BinaryQuant.encode(emb, col("vec_id"), col("embedding"), thr)
      .localCheckpoint()

  /** Independent per-dim sign bits: (vid, dim, bit) from a posexplode
    * compare — no packing arithmetic shared with the encode path.
    */
  private lazy val signBits = emb
    .crossJoin(broadcast(thr))
    .select(col("vec_id").as("vid"),
      posexplode(col("embedding")).as(Seq("dim", "x")), col("mus"))
    .select(col("vid"), col("dim"),
      (col("x").cast("double") >
        element_at(col("mus"), col("dim") + 1)).cast("int").as("bit"))
    .localCheckpoint()

  test("packed words agree with an independent per-dimension sign recompute") {
    val unpacked = codes.select(col("vid"),
      explode(sequence(lit(0), lit(63))).as("dim"),
      col("lo"), col("hi"))
      .select(col("vid"), col("dim"),
        expr("CASE WHEN dim < 32 THEN (lo >> dim) & 1 ELSE (hi >> (dim - 32)) & 1 END")
          .cast("int").as("bit"))
    val mismatches = unpacked.as("u")
      .join(signBits.as("s"), Seq("vid", "dim"))
      .where(col("u.bit") =!= col("s.bit"))
      .count()
    assert(mismatches == 0L)
  }

  test("hamming == number of disagreeing sign bits (recomputed from raw dims)") {
    val sigs = signBits.groupBy(col("vid"))
      .agg(collect_list(struct(col("dim"), col("bit"))).as("bs"))
      .select(col("vid"),
        transform(sort_array(col("bs")), x => x.getField("bit")).as("bits"))
    val a = codes.where(pmod(col("vid"), lit(17)) === 0)
      .select(col("vid").as("ida"), col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = codes.where(pmod(col("vid"), lit(13)) === 0)
      .select(col("vid").as("idb"), col("lo").as("lo_b"), col("hi").as("hi_b"))
    val packed = a.crossJoin(b).where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        BinaryQuant.hamming(col("lo_a"), col("hi_a"),
          col("lo_b"), col("hi_b")).as("hamming"))
    val naive = packed
      .join(sigs.select(col("vid").as("ida"), col("bits").as("bits_a")), "ida")
      .join(sigs.select(col("vid").as("idb"), col("bits").as("bits_b")), "idb")
      .select(col("ida"), col("idb"), col("hamming"),
        aggregate(zip_with(col("bits_a"), col("bits_b"),
          (x, y) => when(x =!= y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).as("naive"))
    assert(naive.count() > 0)
    assert(naive.where(col("hamming") =!= col("naive")).count() == 0L)
  }

  test("codes survive a parquet round-trip and reproduce the serve ranking") {
    val dir = tmpDir("bqcodes")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    val stored = spark.read.parquet(s"$dir/codes")
    // stored == in-memory, row for row
    assert(stored.count() == codes.count())
    assert(stored.exceptAll(codes).isEmpty && codes.exceptAll(stored).isEmpty)
    // the q227 funnel recomputed from STORED codes equals the in-query path
    val live = BinaryQuant.lshHammingRerankTopK(emb, col("vec_id"),
      col("embedding"), k = 5, screenR = 20, numPlanes = 8, numDims = 64)
    val bucketed = emb
      .select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("xd"))
      .withColumn("bucket", graft.ops.Similarity.lshBucket(col("xd"),
        table = 0, numPlanes = 8, numDims = 64))
    val hWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val rWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("neighbor_id").asc)
    val served = bucketed.select(col("vid").as("query_id"), col("bucket"))
      .join(stored.select(col("vid").as("query_id"),
        col("lo").as("q_lo"), col("hi").as("q_hi")), "query_id")
      .join(bucketed.select(col("vid").as("neighbor_id"), col("bucket"))
        .join(stored.select(col("vid").as("neighbor_id"),
          col("lo"), col("hi")), "neighbor_id"), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        BinaryQuant.hamming(col("q_lo"), col("q_hi"),
          col("lo"), col("hi")).as("hamming"))
      .withColumn("hrank", row_number().over(hWin))
      .where(col("hrank") <= 20)
      .join(bucketed.select(col("vid").as("query_id"), col("xd").as("q_v")),
        "query_id")
      .join(bucketed.select(col("vid").as("neighbor_id"), col("xd").as("n_v")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        aggregate(zip_with(col("q_v"), col("n_v"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v).as("l2_dist"))
      .withColumn("rank", row_number().over(rWin))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("l2_dist"), col("rank"))
    assert(served.exceptAll(live).isEmpty && live.exceptAll(served).isEmpty)
  }

  test("encode plan is shuffle-free (per-row arithmetic over broadcast thresholds)") {
    val plan = BinaryQuant.encode(emb, col("vec_id"), col("embedding"), thr)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"encode must not shuffle:\n$plan")
  }

  test("write + serveStored == the in-plan funnel row for row; index layout is bucket-partitioned") {
    val dir = tmpDir("bqidx")
    BinaryQuant.writeFrames(thr,
      BinaryQuant.indexRows(emb, col("vec_id"), col("embedding"), thr,
        numPlanes = 8), dir)
    val live = BinaryQuant.lshHammingRerankTopK(emb, col("vec_id"),
      col("embedding"), k = 5, screenR = 20, numPlanes = 8, numDims = 64)
    val served = BinaryQuant.serveStored(spark, dir,
      emb, col("vec_id"), col("embedding"),
      emb, col("vec_id"), col("embedding"),
      k = 5, screenR = 20, numPlanes = 8)
    assert(served.count() > 0)
    assert(served.exceptAll(live).isEmpty && live.exceptAll(served).isEmpty,
      "stored funnel must equal the in-plan funnel")
    // physical layout: bb=<bucket mod 64> partition directories, 1-row model
    val dirs = new java.io.File(s"$dir/index").listFiles()
      .map(_.getName).filter(_.startsWith("bb="))
    assert(dirs.nonEmpty, "index must be bucket-partitioned on disk")
    assert(BinaryQuant.readThresholds(spark, dir).count() == 1L)
  }

  test("appendStored: frozen-model delta append == one-pass base-trained coding of the union") {
    val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
    val delta = emb.where(pmod(col("vec_id"), lit(7)) === 0)
    // the q411/q433 path: base-trained thresholds stored frozen, base and
    // delta each coded against the RE-READ stored model, the delta landing
    // as an appended snapshot generation
    val dir = tmpDir("bqappend")
    BinaryQuant.thresholds(base, col("embedding"))
      .write.mode("overwrite").parquet(s"$dir/thr")
    val thrBefore = BinaryQuant.readThresholds(spark, dir).collect()
    def rows(part: org.apache.spark.sql.DataFrame) =
      BinaryQuant.indexRows(part, col("vec_id"), col("embedding"),
        BinaryQuant.readThresholds(spark, dir), numPlanes = 8)
    SnapTables.publishInitial(spark, s"$dir/index", "bb", rows(base))
    SnapTables.appendPartitions(spark, s"$dir/index", "bb", rows(delta))
    // one-pass union coding under the SAME frozen (base-trained) model:
    // encode everything against the stored base thresholds
    val thrB = BinaryQuant.readThresholds(spark, dir).localCheckpoint()
    val onePass = BinaryQuant.encode(emb, col("vec_id"), col("embedding"), thrB)
    val appended = SnapTables.resolve(spark, s"$dir/index", "bb")
      .select(col("vid"), col("lo"), col("hi"))
    assert(appended.count() == emb.count(),
      "every vector must serve exactly once after the append")
    assert(appended.exceptAll(onePass).isEmpty
        && onePass.exceptAll(appended).isEmpty,
      "appended code rows must equal the one-pass frozen-model coding")
    // the append must not have retrained the stored model
    assert(BinaryQuant.readThresholds(spark, dir).collect()
      .sameElements(thrBefore), "append must never touch the frozen model")
  }
}
