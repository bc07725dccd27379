package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One media asset: opaque binary payload + typed metadata — the multimodal
  * column convention for large-scale training-data pipelines. The payload is
  * a parquet `binary` column (its own column chunk: metadata-only queries
  * never read the bytes thanks to parquet column pruning — verify with
  * `.explain` ReadSchema), the metadata a plain struct.
  */
final case class MediaRecord(media_id: Long, declared_mime: String, payload: Array[Byte])

/** Output of the (stubbed) decoder — the schema a real image/audio decode
  * would produce.
  */
final case class DecodedMedia(
    media_id: Long,
    declared_mime: String,
    width: Int,
    height: Int,
    n_frames: Int,
    megapixels: Double)

/** Multimodal-column operators: payload construction, magic-byte mime
  * sniffing, metadata extraction, content-hash dedup, and two decode paths
  * sharing one mapPartitions shape:
  *
  *  - the STUB pipeline ([[decodeAll]]/[[resizeAll]]/...), whose per-asset
  *    math is a deterministic stand-in so the surrounding plumbing is
  *    DuckDB-oracle-verifiable over the synthetic payloads (q70-q75);
  *  - the REAL pipeline ([[decodeVideoFrames]] via a RIFF walk + per-frame
  *    ImageIO for MJPEG-in-AVI, [[decodeGifFrames]] via ImageIO's GIF
  *    reader), which runs actual JDK codecs on frames — no external
  *    library needed, round-trip-tested on generated fixtures. Non-MJPEG
  *    video codecs (H.26x etc.) would need external libraries and keep the
  *    stub form.
  */
object Media {

  /** Magic-byte prefixes for the three synthetic media kinds. */
  val PngMagic: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
  val JpegMagic: Array[Byte] = Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)
  val WavMagic: Array[Byte] = "RIFF".getBytes("UTF-8")

  private val kinds: Seq[(String, Array[Byte])] = Seq(
    "image/png" -> PngMagic,
    "image/jpeg" -> JpegMagic,
    "audio/wav" -> WavMagic)

  /** Synthesize a media table from `documents`: payload = magic prefix ++
    * UTF-8 text bytes, kind chosen by the cross-engine hash of the doc id, and
    * a typed metadata struct (declared_mime, source). Deterministic in both
    * engines, so the binary pipeline is hash-verifiable end to end.
    */
  def syntheticFromDocs(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val kind = pmod(Hashing.hash60(concat(lit("media-"), id.cast("string"))), lit(3L))
    val mime = kinds.zipWithIndex.foldRight(lit(null).cast("string")) {
      case (((m, _), i), acc) => when(kind === i, lit(m)).otherwise(acc)
    }
    val magic = kinds.zipWithIndex.foldRight(lit(Array.empty[Byte])) {
      case (((_, b), i), acc) => when(kind === i, lit(b)).otherwise(acc)
    }
    docs.select(
      id.as("media_id"),
      concat(magic, text.cast("binary")).as("payload"),
      struct(mime.as("declared_mime"), lit("documents").as("source")).as("meta"))
  }

  /** Mime type sniffed from the payload's leading magic bytes (the real-world
    * check that declared metadata matches the actual bytes). Pure column
    * expression over the hex prefix — codegen-friendly, no UDF.
    */
  def sniffMime(payload: Column): Column = {
    def hexPrefix(bytes: Array[Byte]): String =
      bytes.map("%02X".format(_)).mkString
    kinds.foldRight(lit("application/octet-stream")) { case ((m, magic), acc) =>
      when(substring(hex(payload), 1, magic.length * 2) === hexPrefix(magic), lit(m))
        .otherwise(acc)
    }
  }

  /** Cross-engine content hash of a binary payload: DuckDB's md5 only accepts
    * VARCHAR, so both engines hash the uppercase hex encoding (Spark
    * `md5(hex(payload))` == DuckDB `md5(hex(payload))`).
    */
  def contentHash(payload: Column): Column = md5(hex(payload))

  /** Metadata extraction: byte length, sniffed mime, content hash. */
  def extractMeta(media: DataFrame, id: Column, payload: Column): DataFrame =
    media.select(
      id.as("media_id"),
      col("meta.declared_mime").as("declared_mime"),
      sniffMime(payload).as("sniffed_mime"),
      length(payload).as("byte_len"),
      contentHash(payload).as("content_hash"))

  /** Exact media dedup groups by payload content hash (the binary twin of
    * Dedup.exactGroups): shuffle key is the 32-char hash, never the bytes.
    */
  def dedupByContent(media: DataFrame, id: Column, payload: Column): DataFrame =
    media.groupBy(contentHash(payload).as("content_hash"))
      .agg(min(id).as("rep_id"), count(lit(1)).as("n_dups"))

  // -------------------------------------------------------------------------
  // Decode pipeline (mapPartitions with a STUB decoder)
  // -------------------------------------------------------------------------

  /** STUB: deterministic fake decode. A real deployment replaces this body
    * with an actual codec call (e.g. javax.imageio / ffmpeg bindings) — the
    * signature bytes→dimensions is exactly what a real decoder provides. The
    * fake derives dimensions from the byte length so the DuckDB oracle can
    * verify the surrounding pipeline.
    */
  private def decodeOne(m: MediaRecord): DecodedMedia = {
    val len = m.payload.length
    val width = 16 + (len % 1024)
    val height = 16 + ((len * 31) % 1024)
    val frames = if (m.declared_mime == "audio/wav") 1 + (len % 24) else 1
    DecodedMedia(m.media_id, m.declared_mime, width, height, frames,
      width.toDouble * height.toDouble / 1e6)
  }

  /** Decode every asset via mapPartitions — the iterator-per-partition shape
    * a batched native decoder needs (amortized codec init per partition, no
    * per-row driver involvement, scales with executor count).
    */
  def decodeAll(media: Dataset[MediaRecord]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // Real decoders initialize their codec context here, once per partition.
      it.map(decodeOne)
    }
  }

  // -------------------------------------------------------------------------
  // Post-decode transforms: resize, frame sampling, feature extraction.
  // Same honest-stub convention as decodeAll: the per-asset math is a
  // deterministic stand-in for a pixel/sample kernel, the Spark-side shape
  // (mapPartitions iterator, 1→1 / 1→N row multiplicity, typed schemas,
  // partition-amortized init point) is the real thing and oracle-verified.
  // -------------------------------------------------------------------------

  /** Aspect-ratio-preserving downscale to a bounding box of `maxDim`:
    * integer-exact target dimensions (floor division, min 1), no-op when the
    * asset already fits. 1→1 mapPartitions — a real implementation calls the
    * scaler kernel on the decoded pixels here.
    */
  def resizeAll(decoded: Dataset[DecodedMedia], maxDim: Int): Dataset[ResizedMedia] = {
    import decoded.sparkSession.implicits._
    require(maxDim >= 1, "maxDim must be positive")
    decoded.mapPartitions { it =>
      it.map { d =>
        val m = math.max(d.width, d.height)
        val (nw, nh) =
          if (m <= maxDim) (d.width, d.height)
          else (math.max(1, d.width * maxDim / m), math.max(1, d.height * maxDim / m))
        ResizedMedia(d.media_id, d.declared_mime, d.width, d.height, nw, nh)
      }
    }
  }

  /** Sample every `everyK`-th frame of each asset (frame 0 always included):
    * the 1→N row-expanding shape (UDTF-style) — one row per sampled frame
    * with a deterministic frame fingerprint (cross-engine hash60 of
    * "frame-<id>-<idx>", standing in for a real frame content hash).
    */
  def sampleFrames(decoded: Dataset[DecodedMedia], everyK: Int): Dataset[FrameSample] = {
    import decoded.sparkSession.implicits._
    require(everyK >= 1, "sampling stride must be positive")
    decoded.mapPartitions { it =>
      it.flatMap { d =>
        (0 until d.n_frames by everyK).iterator.map { i =>
          FrameSample(d.media_id, i, Hashing.hash60JVM(s"frame-${d.media_id}-$i"))
        }
      }
    }
  }

  // -------------------------------------------------------------------------
  // REAL pixel work — the JDK's javax.imageio ships PNG/JPEG/GIF/BMP codecs,
  // so no external library is needed even offline. The stub pipeline above
  // remains the ORACLE-verified path over the synthetic payloads (q72-q75).
  // -------------------------------------------------------------------------

  /** ImageIO returns null for unknown containers but THROWS for a known
    * magic prefix with a corrupt body — both are "undecodable" here.
    */
  private def tryDecode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    scala.util.Try(Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))).toOption.flatten

  // -------------------------------------------------------------------------
  // Perceptual hashing (dHash) — near-duplicate detection for media assets,
  // the binary complement of SimHash for text: content-hash dedup (q71)
  // only catches byte-identical payloads; re-encoded, lightly edited, or
  // metadata-stripped copies need a locality-sensitive code. Two paths with
  // ONE bit layout (11×6 brightness grid → 60 horizontal-gradient bits):
  // the content-region form below (oracle-verifiable over any payload) and
  // the real pixel form [[dhashOf]] for decoded frames.
  // -------------------------------------------------------------------------

  /** 60-bit content-region dHash of a binary payload — the native
    * [[graft.plans.DHash60]] expression over `hex(payload)` (hex, not raw
    * bytes, because the md5-based gray values must be reproducible in the
    * DuckDB oracle, the `contentHash` convention). Local edits flip ≤ ~4
    * bits; use [[dhashNearDupPairs]] to join within a Hamming radius.
    */
  def dhash(payload: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.DHash60(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(hex(payload))))

  /** Near-duplicate media pairs within Hamming `maxHamming` of their dHash
    * codes: delegates to the audited simhash pigeonhole blocking
    * ([[Dedup.simhashNearDupBlocked]]) — same C(b, b−d) combo keys, same
    * `maxBucket` whole-bucket drop guard, id+code-only shuffles. Input:
    * (media_id, dhash) from [[dhash]].
    */
  def dhashNearDupPairs(
      codes: DataFrame,
      maxHamming: Int,
      numBlocks: Int = 4,
      maxBucket: Option[Int] = None): DataFrame =
    Dedup.simhashNearDupBlocked(
      codes.select(col("media_id").as("doc_id"), col("dhash").as("simhash")),
      maxHamming, numBlocks, maxBucket)

  /** REAL pixel dHash of a decoded image: bilinear-downscale to the same
    * 11×6 grid as [[dhash]], BT.601 integer luma per cell, one bit per
    * horizontally adjacent cell pair (brightness increasing left→right).
    * Bit layout identical to the content-region form, so pair joins and
    * blocking work unchanged on either code.
    */
  def dhashOf(img: java.awt.image.BufferedImage): Long = {
    import graft.plans.DHash60.{Cols, Rows}
    val dst = new java.awt.image.BufferedImage(
      Cols, Rows, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, Cols, Rows, null)
    } finally g.dispose()
    def luma(x: Int, y: Int): Int = {
      val rgb = dst.getRGB(x, y)
      (299 * ((rgb >> 16) & 255) + 587 * ((rgb >> 8) & 255) + 114 * (rgb & 255)) / 1000
    }
    var out = 0L
    var r = 0
    while (r < Rows) {
      var c = 0
      while (c < Cols - 1) {
        if (luma(c, r) < luma(c + 1, r)) out |= 1L << (r * 10 + c)
        c += 1
      }
      r += 1
    }
    out
  }

  /** CONTENT-derived frame fingerprints: the payload cut into fixed-width
    * `frameBytes` frames (the video analog — fixed frame duration, so a
    * TRUNCATED or clipped copy still shares its complete frames with the
    * original, unlike the content-scaled [[dhash]] grid whose boundaries
    * move with length), each frame fingerprinted by the cross-engine
    * hash60 of its hex region. Position is deliberately NOT part of the
    * hash — shared content matches wherever it sits. One row per DISTINCT
    * (media_id, frame_hash): in-asset repeats collapse, so downstream set
    * arithmetic is over frame SETS. Replaces [[sampleFrames]]'s id-derived
    * stub hash when frames must be comparable ACROSS assets.
    */
  def frameContentHashes(
      media: DataFrame, id: Column, payload: Column, frameBytes: Int): DataFrame = {
    require(frameBytes >= 1, "frame width must be positive")
    val hexPerFrame = frameBytes * 2
    // integer frame count ceil(hexLen / w) — `div`, not `/` (double division)
    val nf = expr(s"(length(hx) + ${hexPerFrame - 1}) div $hexPerFrame")
    media.select(id.as("media_id"), hex(payload).as("hx"))
      .select(col("media_id"), col("hx"),
        explode(when(nf >= 1, sequence(lit(0), nf.cast("int") - 1))
          .otherwise(array().cast("array<int>"))).as("j"))
      .select(col("media_id"),
        Hashing.hash60(concat(lit("frm-"),
          col("hx").substr(lit(1) + col("j") * lit(hexPerFrame), lit(hexPerFrame))))
          .as("frame_hash"))
      .distinct()
  }

  /** Frame-overlap near-duplicate pairs — the video-dedup analog of shingle
    * containment (q109): every asset pair sharing ≥ `minShared` frame
    * fingerprints, with containment = shared / min(|A|, |B|) over the
    * distinct frame sets (a clipped or truncated copy contains ~all of its
    * frames in the original, where symmetric Jaccard would dilute).
    *
    * Scale shape: the inverted-index join on frame_hash — two longs per
    * row, never payload bytes; `maxFrameDf` drops fingerprints present in
    * more than that many assets (intros/color-bars/silence frames fan out
    * as df² and carry no pair-specific signal — the maxShingleDf trade).
    * The distinct (media_id, frame_hash) frame is localCheckpoint'd: sizes
    * and the pair join both consume it.
    */
  def frameOverlapPairs(
      frames: DataFrame,
      minShared: Int,
      minContainment: Double,
      maxFrameDf: Option[Int] = None): DataFrame = {
    val fr0 = frames.select(col("media_id"), col("frame_hash")).distinct()
    val fr = (maxFrameDf match {
      case Some(cap) =>
        val keep = fr0.groupBy(col("frame_hash")).agg(count(lit(1)).as("df"))
          .where(col("df") <= cap).select(col("frame_hash"))
        fr0.join(keep, Seq("frame_hash"), "left_semi")
      case None => fr0
    }).localCheckpoint()
    val sizes = fr.groupBy(col("media_id")).agg(count(lit(1)).as("nf"))
    fr.select(col("media_id").as("id_a"), col("frame_hash"))
      .join(fr.select(col("media_id").as("id_b"), col("frame_hash")), Seq("frame_hash"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(sizes.select(col("media_id").as("id_a"), col("nf").as("nf_a")), Seq("id_a"))
      .join(sizes.select(col("media_id").as("id_b"), col("nf").as("nf_b")), Seq("id_b"))
      .withColumn("containment",
        col("n_shared").cast("double") /
          least(col("nf_a"), col("nf_b")).cast("double"))
      .where(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("nf_a"), col("nf_b"),
        col("containment"))
  }

  // -------------------------------------------------------------------------
  // Audio fingerprint — [[energyEnvelope60]] over PCM bytes, and
  // [[audioEnvelope]], its ORACLE-verifiable relational twin over raw
  // payload bytes. Video: MJPEG-in-AVI decodes for real (section below);
  // other codecs remain honest stubs.
  // -------------------------------------------------------------------------

  /** Number of energy windows (61 → 60 adjacent-gradient bits, the dHash
    * cell convention applied to the time axis).
    */
  val EnvWindows = 61

  /** 60-bit ENERGY-ENVELOPE fingerprint over PCM bytes — the audio twin of
    * [[dhashOf]]: the byte stream cut into 61 content-scaled windows
    * (window w covers bytes ⌊w·L/61⌋ until ⌊(w+1)·L/61⌋), each window's
    * energy = sum of unsigned byte values, one bit per adjacent window pair
    * (mean energy increasing in time). Means are compared CROSS-MULTIPLIED
    * (s_w·c_{w+1} < s_{w+1}·c_w) so the code is integer-exact — no float
    * division anywhere, bit-identical to the relational [[audioEnvelope]]
    * form. Empty windows (L < 61) compare as 0 < 0 = false.
    */
  def energyEnvelope60(pcm: Array[Byte]): Long = {
    val n = EnvWindows
    val s = new Array[Long](n)
    val c = new Array[Long](n)
    var w = 0
    while (w < n) {
      val lo = (w.toLong * pcm.length / n).toInt
      val hi = ((w + 1).toLong * pcm.length / n).toInt
      var i = lo
      var acc = 0L
      while (i < hi) { acc += (pcm(i) & 0xFF); i += 1 }
      s(w) = acc
      c(w) = (hi - lo).toLong
      w += 1
    }
    var out = 0L
    var b = 0
    while (b < n - 1) {
      if (s(b) * c(b + 1) < s(b + 1) * c(b)) out |= 1L << b
      b += 1
    }
    out
  }

  /** The ORACLE-verifiable relational twin of [[energyEnvelope60]] over the
    * synthetic payloads: PCM taken as the bytes after the 4-byte container
    * magic, parsed from hex pairs (the cross-engine byte-access convention),
    * windowed by the arithmetic inverse of the content-scaled partition
    * (byte i lands in window ((i+1)·61 − 1) div L — one explode, no per-
    * window range scan), summed with map-side partials, and folded into the
    * 60-bit code per asset. Output: (media_id, n_bytes, env60).
    *
    * Scale shape: the byte explode is the only corpus-scale stage and
    * aggregates immediately on (media_id, w) — 61 rows per asset reach the
    * final fold; payload bytes never shuffle (the hex column dies before
    * the aggregation).
    */
  def audioEnvelope(media: DataFrame, id: Column, payload: Column): DataFrame = {
    val n = EnvWindows
    val base = media.where(sniffMime(payload) === "audio/wav")
      .select(id.as("media_id"), substring(hex(payload), 9, 1000000000).as("h"))
      .withColumn("nb", expr("length(h) div 2").cast("long"))
    val bytes = base.where(col("nb") > 0)
      .select(col("media_id"), col("nb"), col("h"),
        explode(sequence(lit(1L), col("nb"))).as("bi"))
      .select(col("media_id"),
        expr(s"(bi * $n - 1) div nb").as("w"),
        expr("(instr('0123456789ABCDEF', substring(h, cast(2*bi-1 as int), 1)) - 1) * 16" +
          " + (instr('0123456789ABCDEF', substring(h, cast(2*bi as int), 1)) - 1)")
          .cast("long").as("v"))
    val sums = bytes.groupBy(col("media_id"), col("w"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
    val wins = base.select(col("media_id"), col("nb"),
      explode(sequence(lit(0L), lit((n - 1).toLong))).as("w"))
    val env = wins.join(sums, Seq("media_id", "w"), "left_outer")
      .select(col("media_id"), col("nb"), col("w"),
        coalesce(col("s"), lit(0L)).as("s"), coalesce(col("c"), lit(0L)).as("c"))
    val arr = env.groupBy(col("media_id"), col("nb"))
      .agg(sort_array(collect_list(struct(col("w"), col("s"), col("c")))).as("a"))
    val code = (0 until n - 1).map { b =>
      val sw = element_at(col("a"), b + 1).getField("s")
      val cw = element_at(col("a"), b + 1).getField("c")
      val sn = element_at(col("a"), b + 2).getField("s")
      val cn = element_at(col("a"), b + 2).getField("c")
      when(sw * cn < sn * cw, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    arr.select(col("media_id"), col("nb").as("n_bytes"), code.as("env60"))
  }

  // -------------------------------------------------------------------------
  // REAL video decode — MJPEG-in-AVI. The JDK has no video codec, but MJPEG
  // is just JPEG frames in a RIFF/AVI container: the container walk is plain
  // byte arithmetic and each frame decodes with the SAME ImageIO path the
  // image operators use. Same two-path discipline as images/audio:
  // [[decodeVideoFrames]] runs the real parse+decode in the mapPartitions
  // shape (round-trip-tested against [[aviBytes]] fixtures); the catalog
  // query (q170) plants palette-built frames whose PAIR STRUCTURE the
  // DuckDB oracle predicts from id arithmetic alone — the real RIFF walk,
  // real JPEG decode, and real pixel dHash are load-bearing for the counts.
  // -------------------------------------------------------------------------

  /** Minimal but structurally valid MJPEG AVI: RIFF('AVI ' LIST('hdrl'
    * avih LIST('strl' strh strf)) LIST('movi' '00dc' chunks)). Chunks are
    * even-padded per the RIFF rule (a JPEG of odd length gets a pad byte
    * that is NOT part of the chunk size). Little-endian throughout.
    */
  def aviBytes(frames: Seq[Array[Byte]], width: Int, height: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def fcc(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      fcc(id) ++ le32(body.length.toLong) ++ body ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      fcc("LIST") ++ le32(body.length + 4L) ++ fcc(listType) ++ body
    val maxFrame = frames.map(_.length).maxOption.getOrElse(0)
    val avih = chunk("avih", le32(40000L) ++ le32(0L) ++ le32(0L) ++ le32(0x10L) ++
      le32(frames.size.toLong) ++ le32(0L) ++ le32(1L) ++ le32(maxFrame.toLong) ++
      le32(width.toLong) ++ le32(height.toLong) ++ Array.fill(16)(0.toByte))
    val strh = chunk("strh", fcc("vids") ++ fcc("MJPG") ++ le32(0L) ++ le32(0L) ++
      le32(0L) ++ le32(1L) ++ le32(25L) ++ le32(0L) ++ le32(frames.size.toLong) ++
      le32(maxFrame.toLong) ++ le32(0xFFFFFFFFL) ++ le32(0L) ++
      le32(width.toLong | (height.toLong << 16)))
    val strf = chunk("strf", le32(40L) ++ le32(width.toLong) ++ le32(height.toLong) ++
      le32(1L | (24L << 16)) ++ fcc("MJPG") ++ le32(width.toLong * height * 3) ++
      Array.fill(16)(0.toByte))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi", frames.toArray.flatMap(f => chunk("00dc", f)))
    val body = fcc("AVI ") ++ hdrl ++ movi
    bos.write(fcc("RIFF")); bos.write(le32(body.length.toLong)); bos.write(body)
    bos.toByteArray
  }

  /** RIFF/AVI container walk: the JPEG byte bodies of every video-data
    * chunk ('##dc' compressed / '##db' uncompressed), in stream order.
    * Robust to truncation — a cut anywhere in the payload yields exactly
    * the frames whose chunks are COMPLETE before the cut (a partial
    * trailing chunk is dropped, never thrown on); non-RIFF payloads yield
    * no frames.
    */
  def aviFrames(payload: Array[Byte]): Seq[Array[Byte]] = {
    def fcc(off: Long): String =
      if (off >= 0 && off + 4 <= payload.length)
        new String(payload, off.toInt, 4, "ISO-8859-1") else ""
    def le32(off: Long): Long =
      if (off >= 0 && off + 4 <= payload.length)
        (payload(off.toInt) & 0xFFL) | ((payload(off.toInt + 1) & 0xFFL) << 8) |
          ((payload(off.toInt + 2) & 0xFFL) << 16) |
          ((payload(off.toInt + 3) & 0xFFL) << 24)
      else -1L
    if (fcc(0) != "RIFF" || fcc(8) != "AVI ") return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def walk(from: Long, until: Long): Unit = {
      var o = from
      while (o + 8 <= until) {
        val id = fcc(o)
        val sz = le32(o + 4)
        if (sz < 0) return
        val body = o + 8
        if (id == "LIST") {
          // descend only into complete-enough lists; truncation inside is
          // handled by the child loop's own bounds
          if (body + 4 <= until)
            walk(body + 4, math.min(until, body + sz))
        } else if ((id.endsWith("dc") || id.endsWith("db")) && body + sz <= until) {
          out += java.util.Arrays.copyOfRange(payload, body.toInt, (body + sz).toInt)
        }
        o = body + sz + (sz & 1) // chunks are even-padded
      }
    }
    walk(12, math.min(payload.length.toLong, 8 + le32(4)))
    out.toSeq
  }

  /** REAL video decode: RIFF walk → per-frame ImageIO JPEG decode → real
    * pixel dHash ([[dhashOf]] — the identical bit layout every other media
    * operator uses, so frame codes feed [[frameOverlapPairs]] unchanged).
    * One row per decodABLE frame: (media_id, frame_idx, dhash); assets
    * that are not AVIs (or frames no codec accepts) contribute nothing.
    *
    * Scale shape: identical to [[decodeAll]] — iterator-per-partition,
    * codec init amortized, one asset's frames in memory at a time; the
    * output rows carry two longs and an int, never pixels.
    */
  def decodeVideoFrames(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        aviFrames(m.payload).iterator.zipWithIndex.flatMap { case (f, i) =>
          tryDecode(f).map(img => (m.media_id, i, dhashOf(img)))
        }
      }
    }.toDF("media_id", "frame_idx", "dhash")
  }

  /** Palette cardinality for [[paletteFrame]] (6 rows × 1 bit per row). */
  val VideoPalette = 64

  /** Palette frame k (0..63): an 88×48 image whose 8×8-pixel cells encode
    * bit r of k in dHash row r — cell luma alternates 30/220 along each
    * row, with the bit choosing the phase. Uniform 8×8 cells survive JPEG
    * (DC-only blocks) and the 190-step contrast makes the gradient
    * direction unambiguous after lossy round-trip, so the 64 palette
    * members keep 64 DISTINCT real-pixel dHashes (spec-pinned) — which is
    * what lets an oracle predict pair counts without decoding anything.
    */
  def paletteFrame(k: Int): java.awt.image.BufferedImage = {
    import graft.plans.DHash60.{Cols, Rows}
    val cell = 8
    val img = new java.awt.image.BufferedImage(
      Cols * cell, Rows * cell, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < Rows * cell) {
      val r = y / cell
      val phase = (k >> (r % 6)) & 1
      var x = 0
      while (x < Cols * cell) {
        val c = x / cell
        val v = if ((c + phase) % 2 == 0) 30 else 220
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    img
  }

  /** JPEG-encode an image with the default ImageIO writer (deterministic
    * for identical pixels within a JDK — the property the planted-palette
    * oracle relies on).
    */
  def jpegBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Synthetic MJPEG AVI assets from (media_id, start, n_frames) rows:
    * asset frames are palette members start, start+1, ... (mod 64), JPEG
    * encoded once per partition and wrapped by [[aviBytes]]. A clipped
    * re-upload is simply the same start with a smaller n — its frame SET
    * is a strict prefix subset, which [[frameOverlapPairs]] must surface
    * at containment 1.0 (q170 plants exactly that).
    */
  def syntheticMjpegAvi(ids: DataFrame, id: Column, start: Column, n: Column): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(id.cast("long").as("media_id"), start.cast("int").as("s"),
        n.cast("int").as("n")).as[(Long, Int, Int)]
      .mapPartitions { it =>
        lazy val palette: IndexedSeq[Array[Byte]] =
          (0 until VideoPalette).map(k => jpegBytes(paletteFrame(k)))
        it.map { case (mid, s, nf) =>
          val frames = (0 until nf).map(j => palette(((s + j) % VideoPalette + VideoPalette) % VideoPalette))
          (mid, aviBytes(frames, 88, 48))
        }
      }.toDF("media_id", "payload")
  }

  // -------------------------------------------------------------------------
  // REAL animated-GIF decode. The JDK's ImageIO reads AND writes GIF
  // natively (unlike video, where only MJPEG's JPEG frames have a codec),
  // so the GIF path is fully round-trippable: palette frames are 2-level
  // grayscale, which the GIF color table holds exactly — encoding is
  // LOSSLESS and decoded frame dHashes equal the source frame dHashes bit
  // for bit (MediaSpec pins the round trip; contrast the JPEG path, where
  // only the uniform-8×8-cell design keeps dHash stable under loss).
  // -------------------------------------------------------------------------

  /** Animated GIF bytes from frames (ImageIO write sequence). */
  def gifBytes(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "a GIF needs at least one frame")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** REAL GIF decode: every animation frame through ImageIO → real pixel
    * dHash — the identical bit layout every other media operator uses, so
    * GIF frame codes feed [[frameOverlapPairs]] and the q220 modality-
    * agnostic index unchanged. One row per decodable frame: (media_id,
    * frame_idx, dhash); non-GIF payloads and broken tails contribute the
    * frames that decode completely and nothing after (the q170 truncation
    * stance). Iterator-per-partition, one asset's frames in memory at a
    * time; output rows carry two longs and an int, never pixels.
    */
  def decodeGifFrames(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]()
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(m.payload))
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (readers.hasNext) {
            val r = readers.next()
            try {
              r.setInput(iis)
              var i = 0
              var more = true
              while (more) {
                try {
                  val img = r.read(i)
                  out += ((m.media_id, i, dhashOf(img)))
                  i += 1
                } catch {
                  case _: IndexOutOfBoundsException => more = false
                  case _: java.io.IOException => more = false
                }
              }
            } finally r.dispose()
          }
          iis.close()
        } catch { case _: java.io.IOException => () }
        out.iterator
      }
    }.toDF("media_id", "frame_idx", "dhash")
  }

  /** Synthetic animated-GIF assets from (media_id, start, n_frames) rows —
    * the GIF twin of [[syntheticMjpegAvi]], same palette arithmetic, so
    * the same id-derived oracle predicts frame sets.
    */
  def syntheticGif(ids: DataFrame, id: Column, start: Column, n: Column): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(id.cast("long").as("media_id"), start.cast("int").as("s"),
        n.cast("int").as("n")).as[(Long, Int, Int)]
      .mapPartitions { it =>
        lazy val palette: IndexedSeq[java.awt.image.BufferedImage] =
          (0 until VideoPalette).map(paletteFrame)
        it.map { case (mid, s, nf) =>
          val frames = (0 until nf).map(j =>
            palette(((s + j) % VideoPalette + VideoPalette) % VideoPalette))
          (mid, gifBytes(frames))
        }
      }.toDF("media_id", "payload")
  }

  /** Feature extraction: a fixed-width vector per asset, emitted as flat
    * (media_id, feat_idx, feat_val) rows. The stub features are exact
    * rationals of the decoded dimensions (a real deployment runs its
    * embedding model in the mapPartitions body and emits its vector the same
    * way — flat rows keep the oracle compare engine-agnostic).
    */
  def extractFeatures(decoded: Dataset[DecodedMedia]): Dataset[MediaFeature] = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { it =>
      it.flatMap { d =>
        val f = Array(
          d.width.toDouble / 1040.0,
          d.height.toDouble / 1040.0,
          d.n_frames.toDouble / 24.0,
          d.megapixels)
        f.iterator.zipWithIndex.map { case (v, i) => MediaFeature(d.media_id, i, v) }
      }
    }
  }
}

/** Output of [[Media.resizeAll]]: original + bounded target dimensions. */
final case class ResizedMedia(
    media_id: Long,
    declared_mime: String,
    width: Int,
    height: Int,
    new_width: Int,
    new_height: Int)

/** One sampled frame from [[Media.sampleFrames]]. */
final case class FrameSample(media_id: Long, frame_idx: Int, frame_hash: Long)

/** One feature-vector component from [[Media.extractFeatures]]. */
final case class MediaFeature(media_id: Long, feat_idx: Int, feat_val: Double)
