package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Tables

class MultimodalSpec extends SparkSuite {

  private lazy val feats =
    Multimodal.features(spark, Tables.documents(spark, sf)).cache()

  test("decode is deterministic and covers every document") {
    val docs = Tables.documents(spark, sf)
    assert(feats.count() === docs.count())
    val again = Multimodal.features(spark, docs).collect().toSet
    assert(feats.collect().toSet === again)
  }

  test("PNG payloads are real images and decode round-trips the synthesis params") {
    // unit: encode → decode through javax.imageio recovers the params
    val bytes = Multimodal.PngCodec.encode(17, 9, 0xa1b2c3)
    assert(bytes.take(4).toSeq === Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
    assert(Multimodal.PngCodec.decode(bytes) === ((17, 9, 0xa1b2c3)))
    // corpus: every image row's DECODED dims/pixel equal the params
    val mismatch = feats.toDF().filter(col("media_type") === "image")
      .filter(
        col("width") =!= col("doc_id") % 64 + 1 ||
        col("height") =!= col("doc_id") % 48 + 1 ||
        col("pixel_rgb") =!= (col("doc_id") * 2654435761L) % 16777216L)
      .count()
    assert(mismatch === 0)
    assert(feats.toDF().filter(col("media_type") === "image").count() > 0)
  }

  test("imageDedup: perceptual buckets from decoded rasters, min-id keeper") {
    val out = Multimodal.imageDedup(spark, Tables.documents(spark, sf))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("phash"),
        r.getAs[Long]("keeper_id"), r.getAs[Long]("n_bucket"),
        r.getAs[Int]("keep"))).toList
    // driver-side reference straight from the synthesis params (the
    // operator's values went through a REAL png encode/decode instead)
    val imgIds = Tables.documents(spark, sf)
      .select(col("doc_id"),
        element_at(split(col("source"), "src"), 2).cast("int").as("s"))
      .collect().filter(_.getInt(1) % 3 == 0).map(_.getLong(0))
    val ph = imgIds.map { id =>
      val (w, h, rgb) = Multimodal.imageParams(id)
      id -> ((rgb / 262144) * 64L + ((w - 1) / 8) * 8L + ((h - 1) / 8))
    }.toMap
    val keeper = ph.groupBy(_._2).map { case (p, xs) => p -> xs.keys.min }
    val sizes = ph.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
    assert(out.map(_._1).toSet === imgIds.toSet)
    out.foreach { case (id, p, k, n, keep) =>
      assert(p === ph(id), s"phash of $id")
      assert(k === keeper(p) && n === sizes(p))
      assert(keep === (if (id == k) 1 else 0))
    }
    // the bucketing is a real dedup on this corpus: at least one
    // multi-member bucket exists (64×8×6 buckets vs ~n/3 images)
    assert(out.exists(_._4 > 1))
  }

  test("DCT pHash: re-encode twin dedups, distinct image does not, hash reads decoded bytes") {
    val spark0 = spark
    import spark0.implicits._
    // three seeds × (original, re-encode) — doc 2m+1 is the drifted,
    // differently-typed re-encode of doc 2m's raster
    val df = (0L to 5L).toDF("doc_id")
    val out = Multimodal.imageDedupPhash(spark, df, tau = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // every re-encode dedups to its twin...
    Seq(0L, 2L, 4L).foreach { even =>
      assert(out(even + 1)._2 === even, s"re-encode of $even did not dedup")
      assert(out(even)._2 === even)
      // ...within the Hamming radius
      val d = java.lang.Long.bitCount(out(even)._1 ^ out(even + 1)._1)
      assert(d <= 5, s"twin pair $even: hamming $d")
    }
    // distinct images never collide: neighborhoods are exactly the
    // twin pairs
    out.values.foreach { case (_, _, nNear) => assert(nNear === 2L) }
    val crossMin = (for {
      a <- Seq(0L, 2L, 4L); b <- Seq(0L, 2L, 4L) if a < b
    } yield java.lang.Long.bitCount(out(a)._1 ^ out(b)._1)).min
    assert(crossMin > 5, s"distinct seeds within radius: $crossMin")
    // the engine hash came from genuinely DECODED PNG bytes: it must
    // equal the driver hash of the synthesis raster (PNG is lossless)
    (0L to 5L).foreach { id =>
      assert(out(id)._1 === Multimodal.phash63(Multimodal.photoGray(id)),
        s"doc $id: decoded-byte hash drifted from the raster hash")
    }
    // and the twin PAYLOADS genuinely differ (re-encode, not a copy)
    val payloads = Multimodal.landedPhotos(spark, df).collect().toMap
    Seq(0L, 2L, 4L).foreach { even =>
      assert(!java.util.Arrays.equals(payloads(even), payloads(even + 1)))
    }
  }

  test("videoDedup: coarse perceptual buckets from decoded frame packs") {
    val out = Multimodal.videoDedup(spark, Tables.documents(spark, sf))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("phash"),
        r.getAs[Long]("keeper_id"), r.getAs[Long]("n_bucket"),
        r.getAs[Int]("keep"))).toList
    val vidIds = Tables.documents(spark, sf)
      .select(col("doc_id"),
        element_at(split(col("source"), "src"), 2).cast("int").as("s"))
      .collect().filter(_.getInt(1) % 3 == 2).map(_.getLong(0))
    val ph = vidIds.map { id =>
      val (f, w, h, rgb) = Multimodal.videoParams(id)
      id -> ((rgb / 1048576) * 64L + ((w - 1) / 8) * 16L +
        ((h - 1) / 8) * 2L + (f - 2) / 4)
    }.toMap
    val keeper = ph.groupBy(_._2).map { case (p, xs) => p -> xs.keys.min }
    val sizes = ph.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
    assert(out.map(_._1).toSet === vidIds.toSet)
    out.foreach { case (id, p, k, n, keep) =>
      assert(p === ph(id) && k === keeper(p) && n === sizes(p))
      assert(keep === (if (id == k) 1 else 0))
    }
    // the coarse key is a real dedup on this corpus (49 multi-buckets)
    assert(out.exists(_._4 > 1))
  }

  test("audio resample halves the rate, decimates frames, keeps sample 0") {
    val out = Multimodal.resampledAudio(spark, Tables.documents(spark, sf))
      .toDF().cache()
    // every audio row survives, at rate/2, ceil(frames/2), same first sample
    val mismatch = out.filter(
        col("height") =!= col("doc_id") % 2 + 1 ||
        col("frames") =!= expr("(doc_id % 400 + 50 + 1) div 2") ||
        col("pixel_rgb") =!= (col("doc_id") * 2654435761L) % 65536L - 32768L)
      .count()
    assert(mismatch === 0)
    assert(out.count() ===
      feats.toDF().filter(col("media_type") === "audio").count())
    // unit: 11025 Hz stereo decimates to 5512 Hz (integer rate), and
    // the re-encoded artifact is a real parseable RIFF container
    val bytes = Multimodal.WavCodec.encode(11025, 2, 101, 777)
    val resampled = Multimodal.resampledAudio(spark,
      Tables.documents(spark, sf)).collect()
    assert(resampled.forall(m => Set(4000L, 5512L, 8000L, 11025L)(m.width)))
    out.unpersist()
    assert(bytes.take(4).toSeq === "RIFF".getBytes.toSeq)
  }

  test("WAV payloads are real RIFF containers and decode round-trips the params") {
    // unit: encode → decode through javax.sound.sampled recovers the params
    val bytes = Multimodal.WavCodec.encode(16000, 2, 123, -12345)
    assert(bytes.take(4).toSeq === "RIFF".getBytes.toSeq)
    assert(Multimodal.WavCodec.decode(bytes) === ((16000, 2, 123L, -12345)))
    // corpus: every audio row's DECODED rate/channels/frames/sample
    // equal the synthesis params
    val mismatch = feats.toDF().filter(col("media_type") === "audio")
      .filter(
        col("height") =!= col("doc_id") % 2 + 1 ||
        col("frames") =!= col("doc_id") % 400 + 50 ||
        col("pixel_rgb") =!= (col("doc_id") * 2654435761L) % 65536L - 32768L)
      .count()
    assert(mismatch === 0)
    assert(feats.toDF().filter(col("media_type") === "audio").count() > 0)
  }

  test("video payloads are real frame packs and decode counts parsed frames") {
    val f0 = Multimodal.PngCodec.encode(5, 3, 0x010203)
    val packed = Multimodal.VideoPack.encode(Seq(f0, f0, f0))
    assert(packed.take(4).toSeq === "GVID".getBytes.toSeq)
    assert(Multimodal.VideoPack.decode(packed) === ((3, 5, 3, 0x010203)))
    // a truncated container fails loudly rather than under-counting
    assertThrows[IllegalArgumentException] {
      Multimodal.VideoPack.decode(packed.dropRight(f0.length + 4))
    }
    val mismatch = feats.toDF().filter(col("media_type") === "video")
      .filter(
        col("width") =!= col("doc_id") % 32 + 1 ||
        col("height") =!= col("doc_id") % 24 + 1 ||
        col("frames") =!= col("doc_id") % 8 + 2)
      .count()
    assert(mismatch === 0)
    assert(feats.toDF().filter(col("media_type") === "video").count() > 0)
  }

  test("resize halves dims through a real re-encode and keeps the pixel") {
    val out = Multimodal.resized(spark, Tables.documents(spark, sf)).toDF()
    assert(out.filter(col("media_type") =!= "image").count() === 0)
    val mismatch = out.filter(
        col("width") =!= greatest(lit(1L), floor((col("doc_id") % 64 + 1) / 2)) ||
        col("pixel_rgb") =!= (col("doc_id") * 2654435761L) % 16777216L)
      .count()
    assert(mismatch === 0)
    assert(out.count() > 0)
  }

  test("frame sampling decodes every strided frame, not just frame 0") {
    val out = Multimodal.frameSamples(spark, Tables.documents(spark, sf))
    // every sampled index is even and below the doc's frame count
    val bad = out.filter(
        col("frame_idx") % 2 =!= 0 ||
        col("frame_idx") >= col("doc_id") % 8 + 2 ||
        col("width") =!= col("doc_id") % 32 + 1 ||
        col("pixel_rgb") =!= (col("doc_id") * 2654435761L) % 16777216L)
      .count()
    assert(bad === 0)
    // sampled-row count per doc = ceil(frames / 2)
    val counts = out.groupBy("doc_id").count()
      .filter(col("count") =!= floor((col("doc_id") % 8 + 2 + 1) / 2))
    assert(counts.count() === 0)
    assert(out.count() > 0)
  }

  test("landed media table carries real binary payloads for every doc") {
    val landed = Multimodal.landed(spark, Tables.documents(spark, sf))
    val rows = landed.collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    val img = rows.filter(_.media_type == "image")
    assert(img.nonEmpty)
    assert(img.forall(f => f.payload.take(4).toSeq ===
      Seq[Byte](0x89.toByte, 'P', 'N', 'G')))
    val audio = rows.filter(_.media_type == "audio")
    assert(audio.nonEmpty)
    assert(audio.forall(_.payload.take(4).toSeq === "RIFF".getBytes.toSeq))
    val video = rows.filter(_.media_type == "video")
    assert(video.nonEmpty)
    assert(video.forall(_.payload.take(4).toSeq === "GVID".getBytes.toSeq))
  }

  test("PNG codec keeps the JVM-wide ImageIO cache default and encodes stable bytes") {
    import spark.implicits._
    assert(Multimodal != null) // runs the object initializer
    assert(javax.imageio.ImageIO.getUseCache, "Multimodal changed a JVM-wide ImageIO setting")
    def sha(b: Array[Byte]) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(b).map(x => f"$x%02x").mkString
    // digests of the bytes the temp-file-free ImageIO path has always
    // produced: a solid INT_RGB raster, and one landed photo of each
    // raster type (odd ids are 3-byte BGR)
    assert(sha(Multimodal.PngCodec.encode(5, 3, 0x336699)) ===
      "6feb71d20dea4ca0ca308fb8100e530dca8a7af48a5204203b430db4b6cbb317")
    val photos = Multimodal.landedPhotos(spark, Seq(1L, 2L).toDF("doc_id"))
      .collect().sortBy(_._1).map { case (id, b) => id -> sha(b) }
    assert(photos.toSeq === Seq(
      1L -> "ccec2e3a1fbd189363dab99389631003715d1c5510c5e801b20c504ce10f7507",
      2L -> "4800fb83ca764e68b9d79352c247eb965d20aa63ecac7ee42488daed4d943d82"))
  }
}
