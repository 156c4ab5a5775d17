package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Binary-column plumbing: payload round-trip, typed metadata, batched
  * decode stub shape, frame sampling. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "hello media world"), (1L, "another doc"), (2L, "third one here"))
    .toDF("doc_id", "text")

  test("attachBinary: payload bytes round-trip, meta struct typed") {
    val m = Multimodal.attachBinary(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(new String(m(0).getAs[Array[Byte]]("payload"), "UTF-8") == "hello media world")
    val meta = m(0).getStruct(m(0).fieldIndex("meta"))
    assert(Set("image", "audio", "video").contains(meta.getString(0)))
    assert(meta.getInt(1) >= 16 && meta.getInt(2) >= 16 && meta.getLong(3) >= 1000)
  }

  test("BMP round-trip: synthesized images decode to exact dims and colors") {
    val imgs = Multimodal.synthesizeImages(docs, "doc_id", size = 8)
    val feats = Multimodal.decodeImages(imgs, "doc_id").orderBy("doc_id").collect()
    assert(feats.length == 3)
    feats.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 8 && r.getInt(2) == 8)
      assert(r.getDouble(3) == (id * 37 % 256).toDouble) // solid color → exact mean
      assert(r.getDouble(4) == (id * 73 % 256).toDouble)
      assert(r.getDouble(5) == (id * 151 % 256).toDouble)
    }
  }

  test("BMP decode: gradient image mean is the pixel average; junk bytes rejected") {
    val grad = Multimodal.encodeBmp(4, 2, (x, y) => (x * 10 + y, 0, 255))
    val f = Multimodal.decodeBmp(grad).get
    // meanR over x∈0..3, y∈0..1 of (10x+y) = mean(0,10,20,30,1,11,21,31) = 15.5
    assert(f.width == 4 && f.height == 2)
    assert(f.meanR == 15.5 && f.meanG == 0.0 && f.meanB == 255.0)
    assert(Multimodal.decodeBmp("not an image".getBytes).isEmpty)
  }

  test("BMP decode: lying/truncated headers return None instead of crashing") {
    val good = Multimodal.encodeBmp(4, 4, (_, _) => (1, 2, 3))
    // header claims a huge image but payload is 4x4 → must be rejected
    val lying = good.clone()
    val bb = java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(18, 1000); bb.putInt(22, 1000)
    assert(Multimodal.decodeBmp(lying).isEmpty)
    assert(Multimodal.decodeBmp(good.take(40)).isEmpty)     // truncated mid-header
    val negOffset = good.clone()
    java.nio.ByteBuffer.wrap(negOffset).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(10, -5)
    assert(Multimodal.decodeBmp(negOffset).isEmpty)
  }

  test("resizeImages: dims change, solid colors exact, junk passes through") {
    import spark.implicits._
    val solid = Multimodal.encodeBmp(8, 8, (_, _) => (10, 200, 30))
    val junk = Array[Byte](9, 9, 9)
    val media = Seq((1L, solid), (2L, junk)).toDF("doc_id", "payload")
    val resized = Multimodal.resizeImages(media, "doc_id", 4, 4)
    val feats = Multimodal.decodeImages(resized, "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(1L).getInt(1) == 4 && feats(1L).getInt(2) == 4)
    assert(feats(1L).getDouble(3) == 10.0 && feats(1L).getDouble(4) == 200.0
      && feats(1L).getDouble(5) == 30.0)
    assert(feats(2L).getInt(1) == -1) // junk: untouched, still undecodable
    // gradient: resize picks true source pixels (nearest neighbor)
    val grad = Multimodal.encodeBmp(8, 8, (x, y) => (x * 30, y * 30, 0))
    val g2 = Multimodal.resizeImages(Seq((3L, grad)).toDF("doc_id", "payload"), "doc_id", 2, 2)
    val px = Multimodal.decodeBmpPixels(g2.collect()(0).getAs[Array[Byte]](1)).get
    assert(px._1 == 2 && px._2 == 2)
    assert(px._3(0)(0) == (0, 0, 0) && px._3(1)(1) == (120, 120, 0)) // source pixels (0,0) and (4,4)
  }

  test("WAV round-trip: synthesized audio decodes to exact rate/length/duration") {
    val docs = spark.range(10).toDF("doc_id")
    val audio = Multimodal.synthesizeAudio(docs, "doc_id", sampleRate = 8000, nSamples = 800)
    val out = Multimodal.decodeAudio(audio, "doc_id").collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getInt(1) == 8000 && r.getInt(2) == 800 && r.getLong(3) == 100) // 800/8000 = 100ms
      assert(r.getDouble(4) > 1000.0 && r.getInt(5) <= 16000 && r.getInt(5) > 10000) // a real sine
    }
  }

  test("WAV decode: junk, truncated, and non-PCM payloads yield sentinel, not a crash") {
    import spark.implicits._
    val junk = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, Multimodal.encodeWav(8000, Array.fill[Short](100)(5)).take(50)), // truncated data
      (3L, "RIFFxxxxWAVEgarbagegarbagegarbagegarbagegarb".getBytes)
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeAudio(junk, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> -1, 2L -> -1, 3L -> -1))
  }

  test("frameSample: n evenly-spaced frames per video row only") {
    val media = Multimodal.attachBinary(
      Seq((2L, "v"), (3L, "a"), (5L, "w")).toDF("doc_id", "text"), "doc_id", "text")
    val videos = media.filter(col("meta.kind") === "video").count()
    val frames = Multimodal.frameSample(media, "doc_id", 4)
    assert(frames.count() == videos * 4)
    val one = frames.filter(col("frame_idx") === 0).count()
    assert(one == videos)
  }

  test("dHash64: gradient direction sets/clears every bit; one-pixel edit stays within 2 bits") {
    // strictly decreasing luma left→right: every neighbor comparison fires
    val dec = Multimodal.encodeBmp(9, 8, (x, _) => { val v = 255 - x * 25; (v, v, v) })
    assert(Multimodal.dHash64(dec).get == -1L) // all 64 bits
    val inc = Multimodal.encodeBmp(9, 8, (x, _) => { val v = x * 25; (v, v, v) })
    assert(Multimodal.dHash64(inc).get == 0L)
    // flip a single interior pixel: at most its two comparisons change
    val edit = Multimodal.encodeBmp(9, 8, (x, y) =>
      if (x == 4 && y == 4) (255, 255, 255) else { val v = 255 - x * 25; (v, v, v) })
    val d = java.lang.Long.bitCount(Multimodal.dHash64(dec).get ^ Multimodal.dHash64(edit).get)
    assert(d >= 1 && d <= 2, d.toString)
    assert(Multimodal.dHash64(Array[Byte](1, 2, 3)).isEmpty) // not BMP
  }

  test("imageNearDupPairs: exact and near dups found, distant and undecodable images not") {
    val dec = Multimodal.encodeBmp(9, 8, (x, _) => { val v = 255 - x * 25; (v, v, v) })
    val edit = Multimodal.encodeBmp(9, 8, (x, y) =>
      if (x == 4 && y == 4) (255, 255, 255) else { val v = 255 - x * 25; (v, v, v) })
    val inc = Multimodal.encodeBmp(9, 8, (x, _) => { val v = x * 25; (v, v, v) })
    val media = Seq((1L, dec), (2L, dec), (3L, edit), (4L, inc),
      (5L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload")
    val pairs = Multimodal.imageNearDupPairs(media, "doc_id", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs.toString)
    assert(pairs((1L, 2L)) == 0)
    assert(pairs((1L, 3L)) >= 1 && pairs((1L, 3L)) <= 2)
    // planted groups via the patterned synthesizer (BMP only): ids 0,40,80
    // share a key
    val docs = (0L until 120L).toDF("doc_id")
    val planted = Multimodal.imageNearDupPairs(
      Multimodal.synthesizeMixedImages(docs, "doc_id", formats = 1), "doc_id",
      maxHamming = 0)
    val grouped = planted.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(grouped.contains((0L, 40L)) && grouped.contains((40L, 80L)))
  }

  test("ImageIO path: PNG round-trips pixel-exact, JPEG approximately; junk stays None") {
    val fn = (x: Int, y: Int) => ((x * 13) % 256, (y * 29) % 256, ((x + y) * 7) % 256)
    val png = Multimodal.encodePng(16, 16, fn)
    val Some((w, h, px)) = Multimodal.decodeImageIOPixels(png)
    assert(w == 16 && h == 16)
    for (x <- 0 until 16; y <- 0 until 16)
      assert(px(y)(x) == fn(x, y), s"PNG lossless at ($x,$y)")
    val jpg = Multimodal.encodeJpeg(16, 16, (_, _) => (100, 150, 200))
    val Some((_, _, jp)) = Multimodal.decodeImageIOPixels(jpg)
    val (jr, jg, jb) = jp(8)(8)
    assert(math.abs(jr - 100) < 16 && math.abs(jg - 150) < 16 && math.abs(jb - 200) < 16,
      s"JPEG approximate: ($jr,$jg,$jb)")
    assert(Multimodal.decodeImageIOPixels("not an image".getBytes).isEmpty)
  }

  test("decodeImages + dHash see through the container: same pattern as BMP and PNG") {
    val fn = (x: Int, y: Int) => ((x * 31) % 256, (y * 17) % 256, ((x * y) + 3) % 256)
    val bmp = Multimodal.encodeBmp(12, 10, fn)
    val png = Multimodal.encodePng(12, 10, fn)
    assert(!java.util.Arrays.equals(bmp, png), "different bytes on disk")
    // decodeImages: identical dims and means from either container
    val out = Multimodal.decodeImages(
        Seq((1L, bmp), (2L, png)).toDF("doc_id", "payload"), "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out(1L) == out(2L), out.toString)
    assert(out(1L)._1 == 12 && out(1L)._2 == 10)
    // dHash: pixel-level, so the cross-format pair has Hamming distance 0
    assert(Multimodal.dHash64(bmp) == Multimodal.dHash64(png))
    assert(Multimodal.dHash64(bmp).nonEmpty)
  }

  test("resizeImages re-encodes ImageIO inputs as PNG and preserves nearest-neighbor sampling") {
    val fn = (x: Int, y: Int) => (if (x < 8) 255 else 0, 0, if (y < 8) 255 else 0)
    val png = Multimodal.encodePng(16, 16, fn)
    val resized = Multimodal.resizeImages(
        Seq((1L, png)).toDF("doc_id", "payload"), "doc_id", 4, 4)
      .collect()(0).getAs[Array[Byte]]("payload")
    val Some((w, h, px)) = Multimodal.decodeImageIOPixels(resized)
    assert(w == 4 && h == 4)
    assert(px(0)(0) == ((255, 0, 255)) && px(3)(3) == ((0, 0, 0)), px(0)(0).toString)
    // undecodable payloads pass through untouched
    val junk = "junk".getBytes
    val kept = Multimodal.resizeImages(
        Seq((1L, junk)).toDF("doc_id", "payload"), "doc_id", 4, 4)
      .collect()(0).getAs[Array[Byte]]("payload")
    assert(java.util.Arrays.equals(kept, junk))
  }

  test("synthesizeMixedImages: same pattern across containers → cross-format near-dup pairs") {
    val docs = (0L until 120L).toDF("doc_id")
    // ids 0, 40, 80 share pattern 0 as BMP, PNG, JPEG respectively
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.synthesizeMixedImages(docs, "doc_id"), "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 40L)), "BMP and PNG of one pattern are an exact perceptual pair")
    assert(pairs.nonEmpty)
  }

  test("q195 oracle precompute: combo-hash admissibility reproduces the engine pair set exactly") {
    // the ★ oracle's premise, asserted end-to-end: a doc's dHash depends
    // only on its (pattern, format) combo, lossless containers hash
    // identically, JPEG stays within the band, and the engine's banded
    // join emits EXACTLY the pairs the 120 precomputed combo hashes admit
    val hash = (for (f <- 0 until 3; k <- 0 until 40) yield
      (k, f) -> Multimodal.dHash64(Multimodal.mixedImageBytes(k + 40L * f)).get).toMap
    (0 until 40).foreach { k =>
      assert(hash((k, 0)) == hash((k, 1)), s"pattern $k: BMP vs PNG dHash must be equal")
    }
    // JPEG is lossy: a fair share of patterns survives the band (16/40
    // measured) while others legitimately drift past it (pattern 5
    // measures 5 bits) — the oracle doesn't assume either way, it admits
    // exactly what the real hashes admit; this floor only guards against
    // a degenerate synthesis where NO cross-format group would exist
    val jpegInBand = (0 until 40).count(k =>
      java.lang.Long.bitCount(hash((k, 0)) ^ hash((k, 2))) <= 2)
    assert(jpegInBand >= 8, s"only $jpegInBand/40 JPEG hashes in-band — synthesis degenerate?")
    val n = 120L
    def combo(id: Long) = ((id % 40).toInt, ((id / 40) % 3).toInt)
    val expected = (for {
      a <- 0L until n; b <- (a + 1) until n
      d = java.lang.Long.bitCount(hash(combo(a)) ^ hash(combo(b)))
      if d <= 2
    } yield (a, b, d)).toSet
    val got = Multimodal.imageNearDupPairs(
        Multimodal.synthesizeMixedImages((0L until n).toDF("doc_id"), "doc_id"),
        "doc_id", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected,
      s"engine ${got.size} pairs vs admissible ${expected.size}; " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("imageNearDupPairsExact: corpus-derived cap reproduces the lifted-cap " +
    "pair set; out-of-regime corpus fails loudly, never truncates") {
    // the q195 registration path (round 10): the cap is a corpus count, not
    // a literal — equality with an explicitly-lifted run is the exactness
    // claim, and the regime bound must REFUSE rather than silently drop
    // true pairs the way the round-9 1000-cap did at sf0.1
    val media = Multimodal.synthesizeMixedImages((0L until 240L).toDF("doc_id"), "doc_id")
    val exact = Multimodal.imageNearDupPairsExact(media, "doc_id", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val lifted = Multimodal.imageNearDupPairs(media, "doc_id", maxHamming = 2,
        maxBucket = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == lifted, s"derived-cap output diverged: ${exact.size} vs ${lifted.size}")
    val e = intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairsExact(media, "doc_id", maxHamming = 2,
        regimeCap = 100)
    }
    assert(e.getMessage.contains("beyond the exact-recall regime") &&
      e.getMessage.contains("maxBucket"), e.getMessage)
  }

  test("audioEnergyProfile: silence frames counted, runs tracked, junk yields sentinel") {
    import spark.implicits._
    // 2 silent frames + 3 loud (constant 10000 → rms exactly 10000) +
    // 1 silent at 160 samples/frame
    val samples: Array[Short] =
      Array.fill[Short](320)(0) ++ Array.fill[Short](480)(10000) ++ Array.fill[Short](160)(0)
    val media = Seq(
      (1L, Multimodal.encodeWav(8000, samples)),
      (2L, "not audio at all".getBytes)
    ).toDF("doc_id", "payload")
    val out = Multimodal.audioEnergyProfile(media, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getInt(4), r.getDouble(5)))).toMap
    assert(out(1L) == ((6, 3, 0.5, 2, 10000.0)), out.toString)
    assert(out(2L)._1 == -1 && out(2L)._3.isNaN, out.toString)
  }
}
