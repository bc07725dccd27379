package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Queries that share one oracle string but run different engine code
  * paths must return the same rows. The gate proves each against DuckDB;
  * this spec proves the pairs against each other inside `sbt test`, so a
  * build path and its serve path cannot drift between gate runs.
  *
  * Rows compare in `tools/check.py`'s canonical form: columns by name,
  * doubles rounded to 6 decimal places, rows sorted.
  */
class TwinDigestSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  /** The query's column names, then its rows in canonical form, one
    * string per row, sorted.
    */
  private def canonicalRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    def cell(v: Any): String = v match {
      case d: Double =>
        BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
      case x => String.valueOf(x)
    }
    cols.mkString(",") +: df.select(cols.map(df.col): _*).collect()
      .map(_.toSeq.map(cell).mkString("|")).sorted.toSeq
  }

  private def digest(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  for ((a, b, what) <- Seq(
      ("q396_ivfpq_index_delete", "q413_ivfpq_snapshot_delete",
        "in-memory key filter vs snapshot delete"),
      ("q400_ann_stream_union_serve", "q420_ann_snapshot_stream_ingest",
        "stored ∪ streamed batch_id delta vs snapshot stream ingest"),
      ("q227_bq_rerank_topk", "q410_bq_persisted_serve",
        "in-plan BQ funnel vs persisted BQ index"))) {
    test(s"$a == $b: $what give equal row digests") {
      val ra = canonicalRows(SparkEntry.queries(a)(spark, sf))
      val rb = canonicalRows(SparkEntry.queries(b)(spark, sf))
      assert(ra.size > 1, s"$a returned no rows")
      assert(digest(ra) == digest(rb),
        s"$a and $b diverge: only in $a ${ra.diff(rb).take(3)}, " +
          s"only in $b ${rb.diff(ra).take(3)}")
    }
  }
}
