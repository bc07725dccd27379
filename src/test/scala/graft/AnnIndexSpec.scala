package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, IvfPqIndex, Similarity, SnapTables}

/** The persisted-index lifecycle: build == write+read, append == rebuild
  * encode, and the stored-table serve path returns exactly what the
  * in-query trainer (q95/q99's `ivfPqTopK`) returns.
  */
class AnnIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def emb = Tables.load(spark, sf, "embeddings")

  private def coarseOf(df: DataFrame) =
    Similarity.materializeCentroids(Similarity.centroidArrays(
      Similarity.labelCentroidsFlat(df, col("embedding"), col("label"))))

  private def buildOn(df: DataFrame): IvfPqIndex =
    AnnIndex.build(df, col("vec_id"), col("embedding"), coarseOf(df),
      dims = 64, m = 8, k = 16, iters = 1)

  private def searchRows(idx: IvfPqIndex, queries: DataFrame): Set[(Long, Long, Int)] =
    AnnIndex.search(queries, col("vec_id"), col("embedding"), 3, idx, nprobe = 2)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def codeRows(codes: DataFrame): Set[(Long, String)] =
    codes.select(col("vid").cast("long"),
        concat_ws(",", col("cluster"), concat_ws("-", col("codes"))).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("write + read roundtrip: params survive and the read-back index serves identical results") {
    val idx = buildOn(emb)
    val dir = tmpDir("ann-idx")
    AnnIndex.write(idx, dir)
    val stored = AnnIndex.read(spark, dir)
    assert((stored.dims, stored.m, stored.codewords) == (idx.dims, idx.m, idx.codewords))
    assert(codeRows(stored.codes) == codeRows(idx.codes),
      "stored posting lists must match the built index exactly")
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    assert(searchRows(stored, queries) == searchRows(idx, queries),
      "search from the read-back index must equal search from the built index")
  }

  test("incremental append == full rebuild encode under the frozen model") {
    val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
    val delta = emb.where(pmod(col("vec_id"), lit(7)) === 0)
    val idx = buildOn(base)
    val appended = AnnIndex.append(idx,
      AnnIndex.encode(delta, col("vec_id"), col("embedding"), idx))
    val rebuilt = AnnIndex.encode(emb, col("vec_id"), col("embedding"), idx)
    assert(codeRows(appended.codes) == codeRows(rebuilt),
      "appending the frozen-model delta must equal re-encoding the union")
    assert(appended.codes.count() == emb.count(), "one posting row per vector")
  }

  test("stored-table serve path == in-query ivfPqTopK (same ADC, same ranks)") {
    val idx = buildOn(emb)
    val inQuery = Similarity.ivfPqTopK(emb, col("vec_id"), col("embedding"), 3,
        idx.centroids, idx.codebooks, dims = 64, m = 8, nprobe = 2)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(searchRows(idx, emb) == inQuery,
      "the serve path must reproduce the in-query trainer's results exactly")
  }

  test("delete: exact key filter on the posting lists; removed vectors never serve") {
    val idx = buildOn(emb)
    val removed = emb.where(pmod(col("vec_id"), lit(11)) === 0)
      .select(col("vec_id").as("vid"))
    val removedIds = removed.collect().map(_.getLong(0)).toSet
    assert(removedIds.nonEmpty, "test needs a nonempty delete set")
    val kept = AnnIndex.delete(idx, removed)
    // codes: exactly the removed vids gone, survivors byte-identical
    assert(codeRows(kept.codes) ==
      codeRows(idx.codes).filterNot { case (vid, _) => removedIds.contains(vid) },
      "delete must be an exact key filter on the posting lists")
    // model tables untouched (frozen by design — retrain = new build)
    assert(kept.centroids eq idx.centroids)
    assert(kept.codebooks eq idx.codebooks)
    // a removed vector can still QUERY, but never serves as a neighbor
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val rows = searchRows(kept, queries)
    assert(rows.nonEmpty)
    assert(!rows.exists { case (_, nb, _) => removedIds.contains(nb) },
      "post-delete serve must never return a removed vector")
  }

  /** Per-cluster partition directories and their (non-marker) file names
    * under a stored codes table — the storage-truth witness the delete
    * specs assert against.
    */
  private def clusterFiles(codesDir: String): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    def listNames(p: java.nio.file.Path): Seq[String] = {
      val s = java.nio.file.Files.list(p) // close explicitly — Files.list leaks an fd otherwise
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    val root = java.nio.file.Paths.get(codesDir)
    listNames(root)
      .filter(n => n.startsWith("cluster=") &&
        java.nio.file.Files.isDirectory(root.resolve(n)))
      .map(n => n -> listNames(root.resolve(n)).filterNot(_.startsWith("_")).toSet)
      .toMap
  }

  /** The codes table of `idx` published as a cluster-partitioned snapshot
    * (the q398/q413 layout); returns the table path.
    */
  private def publishCodes(idx: IvfPqIndex, prefix: String): String = {
    val codes = tmpDir(prefix) + "/codes"
    SnapTables.publishInitial(spark, codes, "cluster", idx.codes)
    codes
  }

  private def served(codes: String): DataFrame =
    SnapTables.resolve(spark, codes, "cluster")
      .select(col("vid"), col("cluster"), col("codes"))

  test("deleteStored: removed vids are gone from the stored BYTES; unaffected partitions keep their original files") {
    val idx = buildOn(emb)
    val codes = publishCodes(idx, "ann-del-stored")
    val removed = emb.where(pmod(col("vec_id"), lit(11)) === 0)
      .select(col("vec_id").as("vid"))
    val removedIds = removed.collect().map(_.getLong(0)).toSet
    assert(removedIds.nonEmpty)
    val affected = idx.codes.join(removed, Seq("vid"), "left_semi")
      .select(col("cluster")).distinct().collect().map(_.getInt(0)).toSet
    val before = clusterFiles(codes)
    SnapTables.deleteByKey(spark, codes, "cluster", "vid", removed)
    // survivors byte-identical to the original posting lists minus removals
    assert(codeRows(served(codes)) ==
      codeRows(idx.codes).filterNot { case (vid, _) => removedIds.contains(vid) })
    // the current generation serves what q396's in-memory delete serves
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    assert(searchRows(idx.copy(codes = served(codes)), queries) ==
      searchRows(AnnIndex.delete(idx, removed), queries))
    // the deletion is true in storage once the old generation expires: no
    // parquet file under the table holds a removed vid (this is what q396's
    // view-filter delete cannot claim)
    assertForgottenAfterExpire(codes, "cluster", removed, keyCol = "vid")
    // the rewrite touched ONLY the affected cells — every unaffected
    // partition keeps its original files (the bounded-I/O claim at scale)
    val after = clusterFiles(codes)
    for ((d, fs) <- before if !affected.contains(d.stripPrefix("cluster=").toInt))
      assert(after.get(d).contains(fs),
        s"unaffected partition $d must keep its original files")
  }

  test("deleteStored: a fully-emptied cell's directory is dropped (dynamic overwrite alone would keep it stale)") {
    val idx = buildOn(emb)
    val codes = publishCodes(idx, "ann-del-empty")
    // remove EVERY vector of one cell: the new generation lists no files
    // for it, and expire then drops its directory
    val victim = idx.codes.select(col("cluster")).orderBy(col("cluster")).head().getInt(0)
    val removed = idx.codes.where(col("cluster") === victim).select(col("vid"))
    val nRemoved = removed.count()
    val gen = SnapTables.deleteByKey(spark, codes, "cluster", "vid", removed)
    assert(!SnapTables.manifestEntries(spark, codes, gen).contains(victim),
      "the emptied cell must vanish from the new generation")
    assert(served(codes).where(col("cluster") === victim).isEmpty)
    assert(served(codes).count() == idx.codes.count() - nRemoved)
    SnapTables.expire(spark, codes, "cluster", keepGens = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$codes/cluster=$victim")),
      "the emptied cell's partition directory must be gone")
  }

  test("deleteStored: a removal covering the whole index fails fast, storage untouched") {
    val idx = buildOn(emb)
    val codes = publishCodes(idx, "ann-del-all")
    intercept[IllegalArgumentException] {
      SnapTables.deleteByKey(spark, codes, "cluster", "vid",
        idx.codes.select(col("vid")))
    }
    // the refusal happened BEFORE any publication: the table still reads whole
    assert(SnapTables.currentGeneration(spark, codes).contains(0))
    assert(served(codes).count() == idx.codes.count())
  }

  test("append: a re-encoded vid present in stored AND delta serves once, from the delta row") {
    import spark.implicits._
    val idx = buildOn(emb)
    val row = idx.codes.orderBy(col("vid")).head()
    val vid = row.getLong(0)
    val oldCluster = row.getInt(1)
    val newCluster = (idx.codes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSet - oldCluster).min
    val delta = Seq((vid, newCluster, row.getSeq[Int](2)))
      .toDF("vid", "cluster", "codes")
    val served = AnnIndex.append(idx, delta)
    val mine = served.codes.where(col("vid") === vid).collect()
    assert(mine.length == 1,
      s"a re-ingested vid must occupy exactly one union-serve row, got ${mine.length}")
    assert(mine.head.getAs[Int]("cluster") == newCluster,
      "the serving row must be the delta's (new cell), not the stale stored one")
    assert(served.codes.count() == idx.codes.count(),
      "total serve rows unchanged by a re-encode")
  }

  test("reconstructionError: an out-of-range code EXCLUDES the vector instead of underreporting") {
    val idx = buildOn(emb)
    val base = AnnIndex.reconstructionError(emb, col("vec_id"), col("embedding"), idx)
    assert(base.count() == idx.codes.count(),
      "well-formed index: one audit row per indexed vector")
    assert(base.agg(min(col("err"))).head().getDouble(0) >= 0.0)
    // corrupt ONE row's first code to an impossible codeword: the joinless
    // subspace must drop the whole vector from the audit (a zero-filled
    // pivot would report a spuriously LOW error — the inversion of the
    // metric's purpose)
    val badVid = idx.codes.agg(min(col("vid"))).head().getLong(0)
    val corrupted = idx.copy(codes = idx.codes.withColumn("codes",
      when(col("vid") === badVid,
        concat(array(lit(999)), slice(col("codes"), 2, idx.m - 1)))
        .otherwise(col("codes"))))
    val audited = AnnIndex.reconstructionError(emb, col("vec_id"),
      col("embedding"), corrupted)
    assert(audited.count() == base.count() - 1)
    assert(audited.where(col("vid") === badVid).isEmpty,
      "the corrupt-coded vector must vanish from the audit, not read as near-zero error")
  }
}
