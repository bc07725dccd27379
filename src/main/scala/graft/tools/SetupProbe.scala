package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables

/** Diagnostic: phase-by-phase wall times of the heaviest memoized index
  * setups (the cold-run one-time costs behind q404/q405/q408 and the
  * snapshot legs), so optimization targets the measured phase instead of
  * the whole opaque block. Not a query path; never on the bench.
  */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local(graft.Sessions.envCpus())

    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[setup-probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def countFiles(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(hp, true)
      var n = 0L
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }

    val docs = Tables.load(spark, sfDir, "documents")
    val p = graft.Scratch.dir("setup-probe-bm25")
    val idx = phase("bm25 build (tokenize+group+checkpoint)") {
      graft.ops.TextIndex.build(docs, col("doc_id"), col("text"))
    }
    phase("bm25 write (postings+doclens)") {
      graft.ops.TextIndex.write(idx, p)
    }
    println(s"[setup-probe] postings files: ${countFiles(s"$p/postings")}, doclens files: ${countFiles(s"$p/doclens")}")
    phase("bm25 deleteStored (%11)") {
      graft.ops.TextIndex.deleteStored(spark, p,
        docs.where(pmod(col("doc_id"), lit(11)) === 0).select(col("doc_id")))
    }
    println(s"[setup-probe] post-delete postings files: ${countFiles(s"$p/postings")}")

    val wp = graft.Scratch.dir("setup-probe-winnow")
    val fp = phase("winnow build (fingerprints+checkpoint)") {
      graft.ops.WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    }
    phase("winnow write fp") { graft.ops.WinnowIndex.write(fp, s"$wp/fp") }
    phase("winnow dfTable+write") {
      graft.ops.WinnowIndex.writeDfTable(
        graft.ops.WinnowIndex.dfTable(fp), s"$wp/df")
    }
    println(s"[setup-probe] winnow fp files: ${countFiles(s"$wp/fp")}, df files: ${countFiles(s"$wp/df")}")
    phase("winnow deleteStored (%11, fp+df)") {
      graft.ops.WinnowIndex.deleteStored(spark, s"$wp/fp",
        docs.where(pmod(col("doc_id"), lit(11)) === 0).select(col("doc_id")),
        dfPath = Some(s"$wp/df"))
    }

    val mp = graft.Scratch.dir("setup-probe-minhash")
    val sigs = phase("minhash build (sign+checkpoint)") {
      graft.ops.MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    }
    phase("minhash write sigs+bands") {
      graft.ops.MinHashIndex.write(sigs, mp, rowsPerBand = 4)
    }
    phase("minhash writeBucketDf") {
      graft.ops.MinHashIndex.writeBucketDf(
        graft.ops.MinHashIndex.bandTable(sigs, 4), mp)
    }
    phase("minhash deleteStored (%11)") {
      graft.ops.MinHashIndex.deleteStored(spark, mp,
        docs.where(pmod(col("doc_id"), lit(11)) === 0).select(col("doc_id")))
    }
    spark.stop()
  }
}
