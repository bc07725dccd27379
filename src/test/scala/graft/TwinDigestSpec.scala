package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Queries that share one oracle string but run different engine code
  * paths must return the same rows. The gate proves each against DuckDB;
  * this spec proves the members of each group against each other inside
  * `sbt test`, so a build path and its serve path cannot drift between
  * gate runs.
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

  /** Every group of queries that share one whitespace-normalized oracle
    * string and run different functions, one member per function. The
    * groups whose members all run one function (q399/q400/q420,
    * q406/q423, q407/q414, q408/q425, q411/q433) have nothing to compare.
    */
  private val groups: Seq[(Seq[String], String)] = Seq(
    Seq("q396_ivfpq_index_delete", "q413_ivfpq_snapshot_delete") ->
      "in-memory key filter vs snapshot delete",
    Seq("q227_bq_rerank_topk", "q410_bq_persisted_serve") ->
      "in-plan BQ funnel vs persisted BQ index",
    Seq("q103_countmin_sketch", "q216_cms_table_merge",
      "q430_cms_snapshot_append") ->
      "in-plan count-min vs merged half sketches vs snapshot append",
    Seq("q108_lm_score", "q199_lm_table_serve", "q428_lm_snapshot_append") ->
      "in-plan LM vs table serve vs snapshot append",
    Seq("q130_nb_classifier", "q221_nb_table_merge") ->
      "one-shot naive Bayes vs merged half-split count tables",
    Seq("q83_neardup_clusters", "q155_incremental_clusters") ->
      "one-shot closure vs incremental cluster merge",
    Seq("q164_winnow_fingerprints", "q168_winnow_index_append") ->
      "one-shot winnowing vs base + appended index",
    Seq("q169_winnow_index_serve", "q174_winnow_serve_stats") ->
      "winnow serve with in-plan df cap vs stored df side table",
    Seq("q91_bm25_topk", "q175_bm25_index_serve", "q426_bm25_snapshot_append") ->
      "in-plan BM25 vs index serve vs snapshot append",
    Seq("q53_minhash_bands", "q207_minhash_index_append",
      "q211_rowwise_minhash_bands") ->
      "exploded vs appended-index vs row-wise MinHash bands",
    Seq("q208_minhash_index_serve", "q210_minhash_serve_stats") ->
      "MinHash serve with in-plan bucket cap vs stored bucket-df side table",
    Seq("q92_hybrid_rrf", "q217_hybrid_from_tables") ->
      "in-plan hybrid RRF vs hybrid from index tables",
    Seq("q96_bm25_batch", "q218_bm25_batch_from_tables") ->
      "in-plan batch BM25 vs batch BM25 from index tables",
    Seq("q97_hybrid_rrf_batch", "q224_hybrid_batch_from_tables") ->
      "in-plan batch hybrid vs batch hybrid from index tables",
    Seq("q277_minhash_index_delete", "q405_minhash_stored_delete") ->
      "in-memory MinHash key filter vs snapshot delete (q421's function)",
    Seq("q278_lm_table_retract", "q409_lm_stored_delete") ->
      "LM table retract vs snapshot delete (q427's function)",
    Seq("q297_markov_stationary", "q302_markov_table_merge") ->
      "one-shot Markov chain vs shard-merged transition table",
    Seq("q386_kll_doclen_sketches", "q387_kll_table_append") ->
      "one-shot KLL sketches vs base + appended table",
    Seq("q391_ivfpq_sqrtn_serve", "q393_ivfpq_persisted_sqrtn") ->
      "in-plan IVF-PQ build vs persisted index serve",
    Seq("q404_winnow_stored_delete", "q419_winnow_snapshot_lifecycle") ->
      "winnow snapshot delete (q412's function) vs the whole lifecycle",
    Seq("q415_winnow_snapshot_append", "q416_winnow_snapshot_compact",
      "q418_winnow_snapshot_stream_ingest") ->
      "snapshot append vs compaction vs stream ingest",
    Seq("q434_snapshot_zone_lookup", "q436_snapshot_rollback") ->
      "zone-pruned key range vs rolled-back generation")

  for ((names, what) <- groups) {
    test(s"${names.mkString(" == ")}: $what give equal row digests") {
      val rows = names.map(n => n -> canonicalRows(SparkEntry.queries(n)(spark, sf)))
      val (a, ra) = rows.head
      assert(ra.size > 1, s"$a returned no rows")
      for ((b, rb) <- rows.tail)
        assert(digest(ra) == digest(rb),
          s"$a and $b diverge: only in $a ${ra.diff(rb).take(3)}, " +
            s"only in $b ${rb.diff(ra).take(3)}")
    }
  }
}
