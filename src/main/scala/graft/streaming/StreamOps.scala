package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Running per-author statistics row emitted by
  * [[StreamOps.runningAuthorStats]].
  */
final case class AuthorStats(author: String, n_articles: Long, total_words: Long)

/** StatefulProcessor backing [[StreamOps.limitPerAuthor]]: one ValueState
  * counter per author; rows beyond the quota are dropped.
  */
class AuthorQuotaProcessor(maxPerAuthor: Int)
    extends StatefulProcessor[String, (String, String), (String, String)] {
  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[(String, String)],
      timerValues: TimerValues): Iterator[(String, String)] = {
    var c = if (count.exists()) count.get() else 0L
    // materialize before the state update — the input iterator is lazy
    val out = rows.filter { _ => if (c < maxPerAuthor) { c += 1; true } else false }.toList
    count.update(c)
    out.iterator
  }
}

/** Streaming-specific stateful operators and observability — the pieces of
  * the streaming surface beyond the windowed aggregation itself.
  */
object StreamOps {

  /** Streaming exact dedup with bounded state (W5): drops rows whose key was
    * already seen within the watermark horizon — the streaming twin of
    * `Dedup.exactByKey` for ingest pipelines (e.g. re-delivered Kinesis
    * records after a producer retry). State for a key is evicted once the
    * watermark passes its event time + delay, so state size tracks the
    * watermark window, not the stream's lifetime.
    *
    * On a batch frame this falls back to plain dropDuplicates on the same
    * columns (the batch twin: no event-time horizon).
    */
  def dedupWithinWatermark(
      df: DataFrame,
      eventTime: String,
      delay: String,
      keyCols: Seq[String]): DataFrame =
    if (df.isStreaming)
      df.withWatermark(eventTime, delay)
        .dropDuplicatesWithinWatermark(keyCols)
    else
      df.dropDuplicates(keyCols)

  /** Custom keyed state beyond windowed aggregation (W5):
    * `mapGroupsWithState` keeps an explicit (count, word-sum) per author and
    * emits the updated running totals every micro-batch — the
    * KeyValueGroupedDataset state API the built-in aggregates don't expose.
    * State is two longs per author (bounded by author cardinality, not
    * stream length); rows with a null author (malformed payloads) are
    * excluded. Runs on batch frames too (state starts empty, one "batch").
    */
  def runningAuthorStats(enriched: DataFrame): Dataset[AuthorStats] = {
    val spark = enriched.sparkSession
    import spark.implicits._
    enriched
      .where(col("author").isNotNull)
      .select(col("author"), coalesce(col("word_count"), lit(0)).cast("long").as("wc"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), AuthorStats](GroupStateTimeout.NoTimeout) {
        (author, rows, state) =>
          var (n, w) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { case (_, wc) => n += 1; w += wc }
          state.update((n, w))
          AuthorStats(author, n, w)
      }
  }

  /** Streaming per-author quota on the Spark 4 `transformWithState` API
    * (arbitrary-state v2: explicit `ValueState` via the processor handle,
    * RocksDB-backed — the successor to mapGroupsWithState): emits only each
    * author's first `maxPerAuthor` articles across the stream's lifetime —
    * per-source sampling caps during corpus ingest. State is one long per
    * author. Requires the RocksDB state store provider (the API rejects the
    * default HDFS-backed store).
    */
  def limitPerAuthor(parsed: DataFrame, maxPerAuthor: Int): Dataset[(String, String)] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed
      .where(col("author").isNotNull)
      .select(col("author"), col("article_id"))
      .as[(String, String)]
      .groupByKey(_._1)
      .transformWithState(
        new AuthorQuotaProcessor(maxPerAuthor), TimeMode.None(), OutputMode.Update())
  }

  /** Stream-static enrichment join: broadcast a small static dimension
    * against the unbounded stream (the standard lookup-enrichment shape —
    * author metadata, domain reputation, allow/deny lists). Per micro-batch
    * Catalyst plans a broadcast hash join, so the stream side never shuffles;
    * the static side is re-resolved each batch, picking up dimension updates
    * on sources that support it. Works identically on batch frames.
    */
  def enrichWithStatic(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      joinType: String = "left_outer"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Stream-stream interval join: pair rows of two unbounded streams on an
    * equi-key within an event-time window of `maxDelay` (right side in
    * [left - maxDelay, left + maxDelay]). Both sides carry watermarks so the
    * join state is evicted once the watermark passes the interval — bounded
    * state, the only way a stream-stream join survives unbounded input.
    * Column name conflicts are avoided by prefixing the right side.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      eventTime: String,
      maxDelay: String,
      watermark: String): DataFrame = {
    val l = left.withWatermark(eventTime, watermark)
    val r0 = right.withWatermark(eventTime, watermark)
    val r = r0.columns.foldLeft(r0)((df, c) => df.withColumnRenamed(c, s"r_$c"))
    l.join(r,
      col(key) === col(s"r_$key") &&
        col(s"r_$eventTime") >= col(eventTime) - expr(s"INTERVAL $maxDelay") &&
        col(s"r_$eventTime") <= col(eventTime) + expr(s"INTERVAL $maxDelay"))
  }

  /** Attach an `observe` metric stream counting parsed article rows and rows
    * with a null event time (the reference's silent failure modes: malformed
    * JSON → null struct, unparseable date → null timestamp). Readable per
    * micro-batch from `StreamingQueryProgress.observedMetrics("parse_metrics")`
    * — the dead-letter visibility SURVEY.md §2.8 W4 calls for, with zero
    * extra passes over the data.
    */
  def withParseMetrics(parsed: DataFrame): DataFrame =
    parsed.observe(
      "parse_metrics",
      count(lit(1)).as("n_rows"),
      count(when(col("publish_date").isNull, 1)).as("n_null_event_time"),
      count(when(col("article_id").isNull, 1)).as("n_unparsed_payload"))

  /** Ingest DECONTAMINATION gate — the streaming face of q87/q105: drop
    * every incoming document sharing at least `minShared` distinct n-gram
    * shingles with the eval set, so benchmark text never even lands in the
    * corpus (the batch cut, [[graft.ops.Dedup.cutEvalSpans]], then only has
    * to handle what predates the eval set). The eval vocabulary rides as a
    * 1-row Bloom bit-array (numBits/64 longs) attached by a stream-static
    * broadcast cross join; the shingle probe is a stateless per-row HOF —
    * no shuffle, no state, any output mode.
    *
    * Bloom-only on purpose (the batch q105 adds an exact verify join; a
    * micro-batch gate has no eval rows to join): false positives OVERCOUNT
    * shared shingles, so the error direction is dropping a clean document
    * (bounded by the Bloom FP rate) — never keeping a contaminated one
    * beyond what `minShared` itself allows. Size `numBits` to the eval
    * shingle count as usual.
    */
  def decontamGate(
      stream: DataFrame,
      text: Column,
      evalSet: DataFrame,
      evalText: Column,
      n: Int,
      minShared: Int,
      numBits: Int = 1 << 18,
      numHashes: Int = 3): DataFrame = {
    import graft.ops.{Hashing, Text}
    require(minShared >= 1, "minShared must be positive")
    val bloom = broadcast(evalSet
      .select(explode(Text.shingles(evalText, n)).as("sh"))
      .agg(Hashing.bloomFilterAgg(col("sh"), numBits, numHashes).as("bf")))
    val hits = size(filter(Text.shingles(text, n),
      s => Hashing.bloomMightContain(col("bf"), s, numBits, numHashes)))
    stream.crossJoin(bloom)
      .observe("decontam_gate",
        count(lit(1)).as("n_rows"),
        count(when(hits >= minShared, 1)).as("n_contaminated_dropped"))
      .where(hits < minShared)
      .drop("bf")
  }

  /** Ingest PII scrub — the streaming face of q182: replace
    * email/IPv4/phone spans with their `<TYPE>` placeholders BEFORE the
    * document lands anywhere durable (scrubbing at ingest is the only
    * placement that keeps raw PII out of checkpoints and the corpus
    * itself). A pure per-row projection
    * ([[graft.ops.Text.redactPii]]'s codegen'd regexp_replace chain + the
    * native match counters): no shuffle, no state, any output mode. The
    * observe() metrics surface rows-touched and per-class match counts per
    * micro-batch — the audit trail a privacy review asks for.
    */
  def piiScrub(stream: DataFrame, textCol: String): DataFrame = {
    import graft.ops.Text
    val counts = Text.piiCounts(col(textCol))
    val touched = counts.map(_._2).reduce(_ + _) > 0
    stream
      .observe("pii_scrub",
        count(lit(1)).as("n_rows"),
        count(when(touched, 1)).as("n_rows_redacted"),
        sum(counts.find(_._1 == "n_email").get._2).as("n_email"),
        sum(counts.find(_._1 == "n_ip").get._2).as("n_ip"),
        sum(counts.find(_._1 == "n_phone").get._2).as("n_phone"))
      .withColumn(textCol, Text.redactPii(col(textCol)))
  }

  /** Ingest PARAGRAPH scrub — the streaming face of q191: cut every
    * incoming paragraph whose hash is in the stored [[graft.ops.ParaIndex]]
    * table, so known boilerplate never lands in the corpus. The stored
    * hash set rides as a 1-row Bloom bit-array (the [[decontamGate]]
    * transport); the paragraph probe is a stateless per-row HOF filter +
    * re-join — no shuffle, no state, any output mode.
    *
    * Bloom-only on purpose (a micro-batch has no table rows to
    * verify-join): a false positive CUTS a novel paragraph (rate bounded
    * by numBits sizing), never keeps a duplicate. In-batch duplicate
    * paragraphs pass (electing a first occurrence needs cross-row state);
    * the next table refresh catches them.
    */
  def paraScrubGate(
      stream: DataFrame,
      textCol: String,
      knownHashes: DataFrame,
      sep: String = "\n",
      numBits: Int = 1 << 18,
      numHashes: Int = 3): DataFrame = {
    import graft.ops.Hashing
    val bloom = broadcast(knownHashes
      .agg(Hashing.bloomFilterAgg(col("h").cast("string"), numBits, numHashes).as("bf")))
    val paras = split(col(textCol), sep)
    val kept = filter(paras, p => !Hashing.bloomMightContain(col("bf"),
      Hashing.hash60(p).cast("string"), numBits, numHashes))
    stream.crossJoin(bloom)
      .observe("para_scrub",
        count(lit(1)).as("n_rows"),
        sum(size(paras) - size(kept)).as("n_paras_cut"),
        count(when(size(kept) === 0, 1)).as("n_rows_emptied"))
      .withColumn(textCol, array_join(kept, sep))
      .drop("bf")
  }

  /** Ingest-time quality gate: the batch catalog's per-row language-ID and
    * quality-score expressions (q40/q41 semantics — ONE shared TextProfile
    * evaluation via CSE) applied as a stateless streaming filter, with
    * observe() metrics splitting the drop reason per micro-batch. Rows pass
    * when the predicted language is in `langs` AND the composite quality
    * score clears `minQuality`.
    *
    * Scale shape: pure per-row projection + filter — no state, no shuffle,
    * no watermark interaction; the metrics ride the existing pass with zero
    * extra reads (the W4 observability discipline).
    */
  def qualityGate(
      stream: DataFrame,
      text: Column,
      langs: Seq[String],
      minQuality: Double): DataFrame = {
    require(langs.nonEmpty, "allow at least one language")
    val langOk = graft.ops.Text.langId(text).isin(langs: _*)
    val q = graft.ops.Text.qualityScore(text)
    stream
      .observe("quality_gate",
        count(lit(1)).as("n_rows"),
        count(when(!langOk, 1)).as("n_lang_dropped"),
        count(when(langOk && q < minQuality, 1)).as("n_quality_dropped"))
      .where(langOk && q >= minQuality)
  }

  /** Ingest NEAR-DUP gate — the streaming face of q208: drop every incoming
    * document whose per-row LSH band signatures
    * ([[graft.ops.MinHashIndex.rowBandSigs]] — pure codegen HOFs, no
    * shuffle, no state, any output mode) collide with the STORED minhash
    * band table in at least one band, so near-copies of already-indexed
    * corpus documents never land. The stored (band, band_sig) key set rides
    * as a 1-row Bloom bit-array (the [[decontamGate]] transport) attached
    * by a stream-static broadcast cross join.
    *
    * Bloom-only on purpose (a micro-batch has no table rows to score the
    * q86/q208 agreement estimate against): a false positive DROPS a novel
    * document (rate bounded by numBits sizing — and a band probe is
    * `numBands` Bloom lookups, so the per-doc FP bound is numBands × the
    * per-key rate), never keeps a band-colliding near-dup. LSH recall
    * limits are the indexed path's own (a near-dup colliding in zero bands
    * passes here exactly as it evades q208); in-batch mutual near-dups
    * pass — the next table refresh catches them, the [[paraScrubGate]]
    * division of labor. Documents below the shingle width carry null
    * signatures and always pass.
    */
  def nearDupGate(
      stream: DataFrame,
      textCol: String,
      bands: DataFrame,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int,
      numBits: Int = 1 << 18,
      numBloomHashes: Int = 3): DataFrame = {
    import graft.ops.{Hashing, MinHashIndex}
    val bloom = broadcast(bands
      .select(concat_ws(":", col("band"), col("band_sig")).as("k"))
      .agg(Hashing.bloomFilterAgg(col("k"), numBits, numBloomHashes).as("bf")))
    val sigs = MinHashIndex.rowBandSigs(col(textCol), n, numHashes, rowsPerBand)
    val hit = (0 until numHashes / rowsPerBand).map { b =>
      val s = element_at(sigs, b + 1)
      s.isNotNull && Hashing.bloomMightContain(col("bf"),
        concat_ws(":", lit(b), s), numBits, numBloomHashes)
    }.reduce(_ || _)
    stream.crossJoin(bloom)
      .observe("neardup_gate",
        count(lit(1)).as("n_rows"),
        count(when(hit, 1)).as("n_neardup_dropped"))
      .where(!hit)
      .drop("bf")
  }

  /** The COMPOSED curation ingest pipeline — every per-row gate this module
    * provides, chained in the canonical order a production deployment runs
    * them:
    *
    *   1. mojibake repair  (fix encoding BEFORE anything hashes or scores)
    *   2. PII scrub        (redact before any text lands anywhere durable)
    *   3. quality gate     (cheapest drop first: language + quality score)
    *   4. decontamination  (eval-overlap Bloom drop)
    *   5. paragraph scrub  (known-boilerplate cut — mutates text)
    *   6. near-dup gate    (stored minhash band table — sees the FINAL
    *                        text form, which is also the form the batch
    *                        index was built from)
    *
    * The ordering is load-bearing twice over: repair must precede the
    * hash-keyed gates (a mojibake'd copy of an indexed document only
    * band-collides after repair — spec-pinned), and the near-dup probe
    * must see post-scrub text so its shingles match what [[graft.ops
    * .MinHashIndex]] indexed. Every stage keeps its own observe() metrics
    * (distinct names), so one streaming query surfaces the whole funnel
    * per micro-batch. Stages 4-6 are armed only when their corpus artifact
    * is supplied; every stage is stateless (broadcast side artifacts
    * only), so the composition runs in any output mode.
    */
  def curationIngest(
      stream: DataFrame,
      textCol: String,
      langs: Seq[String],
      minQuality: Double,
      evalSet: Option[DataFrame] = None,
      evalN: Int = 4,
      evalMinShared: Int = 3,
      knownParaHashes: Option[DataFrame] = None,
      neardupBands: Option[DataFrame] = None,
      mhShingle: Int = 3,
      mhHashes: Int = 16,
      mhRowsPerBand: Int = 4): DataFrame = {
    val repaired = stream.withColumn(textCol,
      graft.ops.Text.fixMojibake(col(textCol)))
    val scrubbed = piiScrub(repaired, textCol)
    val qualified = qualityGate(scrubbed, col(textCol), langs, minQuality)
    val decontamed = evalSet match {
      case Some(ev) => decontamGate(qualified, col(textCol), ev, col("text"),
        n = evalN, minShared = evalMinShared)
      case None => qualified
    }
    val deboiled = knownParaHashes match {
      case Some(kh) => paraScrubGate(decontamed, textCol, kh)
      case None => decontamed
    }
    neardupBands match {
      case Some(bands) => nearDupGate(deboiled, textCol, bands,
        n = mhShingle, numHashes = mhHashes, rowsPerBand = mhRowsPerBand)
      case None => deboiled
    }
  }
}
