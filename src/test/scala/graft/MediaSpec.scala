package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Media, MediaRecord}

/** Binary-column semantics pins for the multimodal operators. */
class MediaSpec extends AnyFunSuite with SparkSpec {

  test("payload construction: magic prefix ++ utf8 text; hex is uppercase (DuckDB parity)") {
    import spark.implicits._
    val docs = Seq((0L, "hi")).toDF("doc_id", "text")
    val media = Media.syntheticFromDocs(docs, col("doc_id"), col("text"))
    val row = media.select(hex(col("payload")), col("meta.declared_mime")).head()
    val hx = row.getString(0)
    assert(hx == hx.toUpperCase, "Spark hex(binary) must be uppercase like DuckDB's")
    assert(hx.endsWith("6869"), "payload ends with utf8 'hi'")
    val magicHex = Map(
      "image/png" -> Media.PngMagic, "image/jpeg" -> Media.JpegMagic,
      "audio/wav" -> Media.WavMagic
    )(row.getString(1)).map("%02X".format(_)).mkString
    assert(hx.startsWith(magicHex), "payload starts with the declared kind's magic bytes")
  }

  test("sniffMime recovers the declared mime from bytes; unknown prefix -> octet-stream") {
    import spark.implicits._
    val docs = (0L until 30L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
    val media = Media.syntheticFromDocs(docs, col("doc_id"), col("text"))
    val mismatch = Media.extractMeta(media, col("media_id"), col("payload"))
      .where(col("declared_mime") =!= col("sniffed_mime")).count()
    assert(mismatch == 0L)
    val unknown = Seq(Tuple1("no magic here".getBytes("UTF-8"))).toDF("payload")
      .select(Media.sniffMime(col("payload")).as("m")).head().getString(0)
    assert(unknown == "application/octet-stream")
  }

  test("decodeAll: mapPartitions stub is deterministic and distributed (no driver loop)") {
    import spark.implicits._
    val recs = (0L until 100L)
      .map(i => MediaRecord(i, "image/png", Array.fill((i % 7).toInt + 1)(i.toByte)))
    val ds = spark.createDataset(recs).repartition(4)
    val out = Media.decodeAll(ds)
    assert(out.rdd.getNumPartitions == 4, "decode runs partition-wise")
    val decoded = out.collect().map(d => d.media_id -> d).toMap
    assert(decoded.size == 100)
    val d3 = decoded(3L) // len 4 -> width 20, height 16+124=140
    assert(d3.width == 20 && d3.height == 140 && d3.n_frames == 1)
    assert(math.abs(d3.megapixels - 20.0 * 140.0 / 1e6) < 1e-12)
  }

  test("resize: aspect preserved within integer floor, bound respected, no-op when small") {
    import spark.implicits._
    val recs = (0L until 200L)
      .map(i => MediaRecord(i, if (i % 3 == 0) "audio/wav" else "image/png",
        Array.fill((i * 13 % 2000).toInt + 1)(i.toByte)))
    val dec = Media.decodeAll(spark.createDataset(recs).repartition(4))
    val out = Media.resizeAll(dec, maxDim = 256).collect()
    assert(out.length == 200, "1:1 row multiplicity")
    out.foreach { r =>
      assert(r.new_width <= 256 && r.new_height <= 256 && r.new_width >= 1 && r.new_height >= 1)
      val m = math.max(r.width, r.height)
      if (m <= 256) assert(r.new_width == r.width && r.new_height == r.height)
      else {
        assert(math.max(r.new_width, r.new_height) == 256, "long side hits the bound")
        // floor scaling: new_w = floor(w * 256 / m)
        assert(r.new_width == math.max(1, r.width * 256 / m))
      }
    }
  }

  test("frame sampling: every 2nd frame, frame 0 always, 1:N multiplicity") {
    import spark.implicits._
    val recs = (0L until 100L)
      .map(i => MediaRecord(i, "audio/wav", Array.fill((i % 48).toInt + 1)(i.toByte)))
    val dec = Media.decodeAll(spark.createDataset(recs).repartition(3))
    val frames = Media.sampleFrames(dec, everyK = 2).collect()
    val byId = frames.groupBy(_.media_id)
    val nFrames = dec.collect().map(d => d.media_id -> d.n_frames).toMap
    assert(byId.keySet == nFrames.keySet)
    byId.foreach { case (id, fs) =>
      assert(fs.map(_.frame_idx).sorted.toSeq == (0 until nFrames(id) by 2).toSeq)
      assert(fs.map(_.frame_hash).distinct.length == fs.length, "per-frame fingerprints distinct")
    }
  }

  test("content dedup groups duplicates by payload hash") {
    import spark.implicits._
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other"), (4L, "same"))
      .toDF("doc_id", "text")
    // identical text does NOT imply identical payload unless the kind matches;
    // force one kind by filtering on it after synthesis
    val media = Media.syntheticFromDocs(docs, col("doc_id"), col("text"))
    val groups = Media.dedupByContent(media, col("media_id"), col("payload"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(groups.map(_._3).sum == 4L, "every row lands in exactly one group")
    assert(groups.forall { case (_, rep, _) => Seq(1L, 2L, 3L, 4L).contains(rep) })
  }

  test("dhash native expression == built-in composed twin (content-scaled grid)") {
    import spark.implicits._
    import graft.plans.DHash60.{Cols, Rows, Cells}
    val docs = (0L until 40L)
      .map(i => (i, ("payload body " * (i.toInt % 9 + 1)) + i)).toDF("doc_id", "text")
    val media = Media.syntheticFromDocs(docs, col("doc_id"), col("text"))
      .select(col("media_id"), hex(col("payload")).as("hx"))
    // composed twin: cell i covers hex chars [2*((i*L) div 66), 2*(((i+1)*L) div 66))
    def grayC(i: Int) = pmod(graft.ops.Hashing.hash60Composed(concat(
      lit(s"$i-"),
      expr(s"substring(hx, cast(($i * L) div $Cells as int) * 2 + 1, " +
        s"cast(((${i + 1} * L) div $Cells) - (($i * L) div $Cells) as int) * 2)"))),
      lit(256L))
    val withL = media.withColumn("L", (length(col("hx")) / 2).cast("long"))
    val grays = (0 until Cells).map(i => grayC(i).as(s"g$i"))
    val composed = withL.select((col("media_id") +: grays): _*)
      .select(col("media_id"),
        (for (r <- 0 until Rows; c <- 0 until Cols - 1) yield
          when(col(s"g${r * Cols + c}") < col(s"g${r * Cols + c + 1}"),
            lit(1L << (r * 10 + c))).otherwise(lit(0L)))
          .reduce(_ + _).as("dhash"))
    val native = Media.syntheticFromDocs(docs, col("doc_id"), col("text"))
      .select(col("media_id"), Media.dhash(col("payload")).as("dhash"))
    val diff = native.join(composed, "media_id")
      .where(native("dhash") =!= composed("dhash")).count()
    assert(diff == 0L, "native DHash60 must equal the built-in composition")
  }

  test("real-image dhash: stable under re-encode, close under light edit, far for unrelated") {
    def img(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(
        64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach(x => (0 until 48).foreach(y => im.setRGB(x, y, f(x, y))))
      im
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // horizontal gradient: deterministic non-trivial code
    val grad = img((x, _) => (x * 4 << 16) | (x * 4 << 8) | (x * 4))
    val h0 = Media.dhashOf(grad)
    // re-encode via PNG bytes and decode back: identical pixels -> identical code
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grad, "png", bos)
    val re = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(Media.dhashOf(re) == h0, "lossless re-encode must not move the code")
    // light edit: a small bright patch -> few bits flip
    val edited = img((x, y) =>
      if (x >= 10 && x < 16 && y >= 10 && y < 16) 0xFFFFFF
      else (x * 4 << 16) | (x * 4 << 8) | (x * 4))
    assert(ham(h0, Media.dhashOf(edited)) <= 6,
      "a local patch edit must flip only a few gradient bits")
    // unrelated content: reversed gradient -> most comparison bits flip
    val reversed = img((x, _) => {
      val v = (63 - x) * 4; (v << 16) | (v << 8) | v
    })
    assert(ham(h0, Media.dhashOf(reversed)) >= 30,
      "an unrelated image must land far away in Hamming space")
  }

  test("dhashNearDupPairs: blocked join finds every pair within radius, drops far pairs") {
    import spark.implicits._
    val close1 = 0x0F0F0F0F0F0F0FL
    val close2 = close1 ^ 0x5L // hamming 2
    val far = ~close1 & ((1L << 60) - 1)
    val codes = Seq((1L, close1), (2L, close2), (3L, far)).toDF("media_id", "dhash")
    val pairs = Media.dhashNearDupPairs(codes, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 2)), s"got $pairs")
  }

  test("audio envelope: relational form == JVM energyEnvelope60 on the same bytes") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val payloads = Seq(
      Array.fill(400)(rnd.nextInt(256).toByte),   // dense: every window populated
      Array.fill(30)(rnd.nextInt(256).toByte),    // sparse: empty windows (L < 61)
      Array.empty[Byte])                          // degenerate: zero PCM bytes
    val media = payloads.zipWithIndex.map { case (pcm, i) =>
      (i.toLong, Media.WavMagic ++ pcm)
    }.toDF("media_id", "payload")
    val got = Media.audioEnvelope(media, col("media_id"), col("payload"))
      .select("media_id", "n_bytes", "env60").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val want = payloads.zipWithIndex.map { case (pcm, i) =>
      i.toLong -> ((pcm.length.toLong, Media.energyEnvelope60(pcm)))
    }.toMap
    assert(got == want, s"relational and JVM fingerprints must be bit-identical; got $got")
  }

  test("GIF round trip: animated palette frames decode to the SOURCE dHashes bit for bit (lossless)") {
    import spark.implicits._
    val starts = Seq(0, 17, 55) // 55 wraps the palette (55..61 mod 64)
    val media = starts.zipWithIndex.map { case (s, i) =>
      val frames = (0 until 7).map(j => Media.paletteFrame((s + j) % Media.VideoPalette))
      MediaRecord(i.toLong, "image/gif", Media.gifBytes(frames))
    }.toDS()
    val got = Media.decodeGifFrames(media)
      .as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val want = starts.zipWithIndex.flatMap { case (s, i) =>
      (0 until 7).map(j => (i.toLong, j) ->
        Media.dhashOf(Media.paletteFrame((s + j) % Media.VideoPalette)))
    }.toMap
    assert(got == want,
      "GIF palette encoding is lossless on 2-level frames — decoded dHashes must equal source dHashes")
  }

  test("GIF truncation and junk: complete leading frames decode, nothing after; non-GIF yields no rows") {
    import spark.implicits._
    val frames = (0 until 5).map(Media.paletteFrame)
    val full = Media.gifBytes(frames)
    val cut = java.util.Arrays.copyOfRange(full, 0, full.length / 2)
    val media = Seq(
      MediaRecord(1L, "image/gif", full),
      MediaRecord(2L, "image/gif", cut),
      MediaRecord(3L, "image/gif", Array.fill[Byte](64)(0x7f))).toDS()
    val byId = Media.decodeGifFrames(media)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
    assert(byId(1L).length == 5, "full animation decodes every frame")
    val cutN = byId.getOrElse(2L, Array.empty).length
    assert(cutN < 5, "a truncated payload must not produce all frames")
    assert(byId.getOrElse(2L, Array.empty).map(_._2).sorted.sameElements(0 until cutN),
      "truncation keeps a clean frame-index prefix")
    assert(!byId.contains(3L), "junk bytes decode to nothing, not an error")
  }
}
