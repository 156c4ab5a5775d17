package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads ride along as opaque `binary`
  * columns with a typed metadata struct; decode / feature-extraction runs as
  * batched per-partition transforms (the Scala analog of `mapInPandas` —
  * one iterator per partition, vectorizable batch shape).
  *
  * Image decode is REAL for the JDK-native formats: a pure-JVM BMP parser
  * (fast path, exact) plus `javax.imageio` for PNG/JPEG/GIF — ImageIO ships
  * in the JDK with zero native dependencies, so dims, mean RGB, dHash, and
  * resize all run on real codecs. PCM WAV audio decodes natively too. Only
  * formats with no JDK codec (video, compressed audio) have no decoder:
  * the decoders return None / a sentinel row for them, never a task crash,
  * and adding a JNI/codec call there changes no plan shape — schema,
  * partitioning, batch iteration, metadata plumbing stay identical.
  */
object Multimodal {

  /** Typed metadata carried next to the binary payload. */
  case class MediaMeta(kind: String, width: Int, height: Int, durationMs: Long)

  /** Attach a binary payload + metadata struct to each document. In
    * production the bytes come from the object store (binaryFile source);
    * here the document text doubles as a deterministic payload. */
  def attachBinary(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col(idCol) % 3 + 1).cast("int"))
    docs.select(
      col(idCol),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        kind.as("kind"),
        (col(idCol) % 640 + 16).cast("int").as("width"),
        (col(idCol) % 480 + 16).cast("int").as("height"),
        (col(idCol) % 90000 + 1000).as("durationMs")).as("meta"))
  }

  // ------------------------------------------------------------ real decode

  /** Minimal uncompressed 24-bit BMP writer (pure JVM; BMP is the one image
    * format needing no codec). Deterministic: used to synthesize real image
    * payloads in tests/demos. */
  private[graft] def encodeBmp(width: Int, height: Int,
                               rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowPad = (4 - (width * 3) % 4) % 4
    val dataSize = (width * 3 + rowPad) * height
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)                         // reserved, pixel offset
      .putInt(40).putInt(width).putInt(height)      // DIB header
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1                               // BMP rows are bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var p = 0; while (p < rowPad) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  case class ImageFeatures(width: Int, height: Int, meanR: Double, meanG: Double, meanB: Double)

  /** REAL image decode for BMP payloads: parses the header, walks the pixel
    * rows, returns dimensions + mean channel values. Batched per partition
    * (same shape the stub documents); other formats would dispatch to a
    * codec here. Returns null features for non-BMP payloads. */
  private[graft] def decodeBmp(bytes: Array[Byte]): Option[ImageFeatures] = {
    if (bytes.length < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte) return None
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val offset = buf.getInt(10)
    val width = buf.getInt(18); val height = buf.getInt(22)
    val bpp = buf.getShort(28)
    if (bpp != 24 || width <= 0 || height <= 0 || offset < 54) return None
    val rowPad = (4 - (width * 3) % 4) % 4
    // header-declared geometry must fit the actual payload — a malformed or
    // truncated file returns None instead of crashing the task
    val needed = offset.toLong + (width.toLong * 3 + rowPad) * height
    if (width > (1 << 20) || height > (1 << 20) || needed > bytes.length) return None
    var r = 0L; var g = 0L; var b = 0L
    var y = 0
    while (y < height) {
      val rowStart = offset + y * (width * 3 + rowPad)
      var x = 0
      while (x < width) {
        val i = rowStart + x * 3
        b += bytes(i) & 0xff; g += bytes(i + 1) & 0xff; r += bytes(i + 2) & 0xff
        x += 1
      }
      y += 1
    }
    val n = width.toLong * height
    Some(ImageFeatures(width, height, r.toDouble / n, g.toDouble / n, b.toDouble / n))
  }

  /** ImageIO decode for the other JDK-native formats (PNG/JPEG/GIF — and
    * BMP, though [[decodeBmpPixels]] is the cheaper path for that): returns
    * the row-major RGB grid. Guard rails mirror [[decodeBmp]]: undecodable
    * bytes → None (ImageIO.read returns null on unknown formats), dimension
    * caps bound decompression bombs (a 100-byte PNG can declare 2^30
    * pixels), and NO exception ever escapes to kill the task. */
  private[graft] def decodeImageIOPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Array[(Int, Int, Int)]])] = try {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        w.toLong * h > (1L << 26)) None
      else {
        val px = Array.ofDim[(Int, Int, Int)](h, w)
        val rgbRow = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, rgbRow, 0, w)
          var x = 0
          while (x < w) {
            val p = rgbRow(x)
            px(y)(x) = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
            x += 1
          }
          y += 1
        }
        Some((w, h, px))
      }
    }
  } catch { case _: Throwable => None }

  /** Pixel decode across ALL supported formats: pure-JVM BMP fast path,
    * then ImageIO (PNG/JPEG/GIF). The single entry point behind decode /
    * dHash / resize — adding a codec here upgrades every image operator. */
  private[graft] def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Array[Array[(Int, Int, Int)]])] =
    decodeBmpPixels(bytes).orElse(decodeImageIOPixels(bytes))

  /** Encode a pixel grid as PNG via ImageIO (lossless, deterministic) —
    * synthesizes real non-BMP payloads for tests/demos and serves as the
    * re-encode target for resized non-BMP inputs. */
  private[graft] def encodePng(width: Int, height: Int,
                               rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** JPEG encode (lossy — round-trip means approximately, not byte-equal). */
  private[graft] def encodeJpeg(width: Int, height: Int,
                                rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** Synthesize real BMP payloads per doc (deterministic color from id) —
    * the test/demo stand-in for reading image bytes off the object store. */
  def synthesizeImages(docs: DataFrame, idCol: String, size: Int = 8): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val (r, g, b) = ((id * 37 % 256).toInt, (id * 73 % 256).toInt, (id * 151 % 256).toInt)
        (id, encodeBmp(size, size, (_, _) => (r, g, b)))
      }
    }.toDF(idCol, "payload")
  }

  /** Decode image payloads → (id, width, height, mean RGB). Real parse for
    * BMP (header-walk fast path, no grid materialization) and PNG/JPEG/GIF
    * (ImageIO); undecodable payloads yield the sentinel row — the codec
    * boundary only starts where the JDK has no decoder. */
  def decodeImages(media: DataFrame, idCol: String): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col(idCol).cast("long"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          decodeBmp(bytes).orElse {
            decodeImageIOPixels(bytes).map { case (w, h, px) =>
              var r = 0L; var g = 0L; var b = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val (pr, pg, pb) = px(y)(x)
                  r += pr; g += pg; b += pb; x += 1
                }
                y += 1
              }
              val n = w.toLong * h
              ImageFeatures(w, h, r.toDouble / n, g.toDouble / n, b.toDouble / n)
            }
          } match {
            case Some(f) => (id, f.width, f.height, f.meanR, f.meanG, f.meanB)
            case None => (id, -1, -1, Double.NaN, Double.NaN, Double.NaN)
          }
        }
      }.toDF(idCol, "width", "height", "mean_r", "mean_g", "mean_b")
  }

  /** Nearest-neighbor resize: decode (BMP fast path or ImageIO) → sample
    * the source grid → re-encode at (w, h). BMP inputs re-encode as BMP,
    * ImageIO-decoded inputs as PNG (lossless, deterministic). Returns the
    * original payload untouched when it isn't decodable — resize is an
    * enrichment, not a gate. */
  def resizeImages(media: DataFrame, idCol: String, w: Int, h: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col(idCol).cast("long"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val out = decodeBmpPixels(bytes) match {
            case Some((sw, sh, px)) =>
              encodeBmp(w, h, (x, y) => px(math.min(sh - 1, y * sh / h))(math.min(sw - 1, x * sw / w)))
            case None => decodeImageIOPixels(bytes) match {
              case Some((sw, sh, px)) =>
                encodePng(w, h, (x, y) => px(math.min(sh - 1, y * sh / h))(math.min(sw - 1, x * sw / w)))
              case None => bytes
            }
          }
          (id, out)
        }
      }.toDF(idCol, "payload")
  }

  /** Full-pixel BMP decode (width, height, row-major RGB grid) for resize. */
  private[graft] def decodeBmpPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Array[(Int, Int, Int)]])] = {
    decodeBmp(bytes) match {
      case None => None
      case Some(f) =>
        val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val offset = buf.getInt(10)
        val rowPad = (4 - (f.width * 3) % 4) % 4
        val px = Array.ofDim[(Int, Int, Int)](f.height, f.width)
        var y = 0
        while (y < f.height) {
          val rowStart = offset + y * (f.width * 3 + rowPad)
          var x = 0
          while (x < f.width) {
            val i = rowStart + x * 3
            // stored bottom-up: logical row = height-1-y
            px(f.height - 1 - y)(x) =
              ((bytes(i + 2) & 0xff), (bytes(i + 1) & 0xff), (bytes(i) & 0xff))
            x += 1
          }
          y += 1
        }
        Some((f.width, f.height, px))
    }
  }

  /** dHash perceptual hash of an image payload (BMP/PNG/JPEG/GIF):
    * nearest-neighbor downsample to a 9×8 luma grid, one bit per horizontal
    * neighbor pair (set when the left pixel is brighter) — 64 bits whose
    * Hamming distance survives re-encoding, resizing, and small edits,
    * which is exactly what byte-level [[CsvIngest]]-style file hashing
    * cannot see. Because the hash runs on DECODED pixels, a BMP and the
    * PNG re-encode of the same image hash identically. Returns None for
    * undecodable payloads (the codec-stub boundary, as in decode). */
  private[graft] def dHash64(bytes: Array[Byte]): Option[Long] = {
    decodePixels(bytes).map { case (w, h, px) =>
      var hash = 0L; var bit = 0
      var y = 0
      while (y < 8) {
        val sy = math.min(h - 1, y * h / 8)
        var x = 0; var prev = 0
        while (x < 9) {
          val sx = math.min(w - 1, x * w / 9)
          val (r, g, b) = px(sy)(sx)
          val gray = (r * 299 + g * 587 + b * 114) / 1000
          if (x > 0) { if (prev > gray) hash |= (1L << bit); bit += 1 }
          prev = gray
          x += 1
        }
        y += 1
      }
      hash
    }
  }

  /** Near-duplicate IMAGE pairs by perceptual hash: dHash each payload
    * map-side, then reuse [[Dedup.hammingPairs64]]'s pigeonhole band join
    * (the simhash tail) — the multimodal member of the dedup family:
    * byte-identical dedup is file-hash (q14), text near-dup is
    * minhash/simhash, and THIS catches re-encoded / slightly-edited
    * images those can't. Undecodable payloads drop out (they can't be
    * perceptually compared; the exact file hash still covers them). */
  def imageNearDupPairs(media: DataFrame, idCol: String,
                        maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    import media.sparkSession.implicits._
    val sigs = media.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => dHash64(b).map(h => (id, h)) }
    Dedup.hammingPairs64(sigs, maxHamming, maxBucket)
  }

  /** [[imageNearDupPairs]] in its EXACT-recall regime: the hot-bucket cap is
    * DERIVED from the corpus count, so it can never bind — and the regime
    * itself is guarded loudly. The round-9 q195 episode is the defect class
    * this closes: a manually lifted cap (1 << 20) was exact at every tested
    * SF but would silently re-bind (drop true pairs below the oracle's
    * truth) the moment a corpus outgrew the literal.
    *
    * Honest cost statement (round-10 review): exactness means every
    * (band, chunk) bucket is enumerated in full, so the regime's worst
    * case is Σ bucket² — on a degenerate corpus where all N payloads share
    * a chunk value that is one O(N²) task. That is intrinsic to exact
    * recall, not a removable inefficiency: on the pattern-space corpora
    * this mode exists for (oracle-checkable planted-dup groups, tiny
    * distinct-hash spaces) the heavy buckets ARE true dup groups, so the
    * enumeration is output-bound. `regimeCap` bounds the worst-case
    * single-bucket array (count beyond it ⇒ the sort/take materialization
    * alone is no longer executor-safe) and the failure message routes
    * web-scale corpora to the capped + exact-dedup-first path, whose
    * truncation semantics are spec'd.
    *
    * `corpusCount` (≥ the true payload count) skips the internal count —
    * callers whose media is a 1:1 synthesis of an id column should count
    * the CHEAP pre-synthesis side instead (the q195 registration does:
    * counting `media` here would re-run every ImageIO encode, doubling
    * the query's image work). Any upper bound preserves exactness — the
    * cap only ever needs to be ≥ corpus size. */
  def imageNearDupPairsExact(media: DataFrame, idCol: String,
                             maxHamming: Int = 3,
                             regimeCap: Int = 1 << 22,
                             corpusCount: Long = -1L): DataFrame = {
    val n = if (corpusCount >= 0) corpusCount else media.count()
    require(n <= regimeCap,
      s"imageNearDupPairsExact: corpus has $n payloads, beyond the exact-recall " +
      s"regime bound $regimeCap — a single (band, chunk) bucket could exceed " +
      "executor memory. Run exact/file-hash dedup first and use " +
      "imageNearDupPairs with an explicit maxBucket (capped, documented " +
      "truncation semantics) at this scale.")
    imageNearDupPairs(media, idCol, maxHamming,
      maxBucket = math.max(n.toInt, 1024))
  }

  /** Patterned synth with MIXED container formats: ids sharing id%patterns
    * render the IDENTICAL pattern (unlike [[synthesizeImages]]' flat colors,
    * which all dHash to 0, each pattern key has a distinct luma structure),
    * but the container alternates BMP / PNG / JPEG by (id/patterns)%formats
    * (formats = 1: BMP only) — so the planted near-dup groups cross the
    * format boundary. Only a DECODED-pixel perceptual hash can see those
    * pairs (file hashing and byte-level near-dup miss them by
    * construction); BMP and PNG decodes of the same pattern are
    * pixel-identical, JPEG is close (lossy). */
  def synthesizeMixedImages(docs: DataFrame, idCol: String,
                            size: Int = 16, patterns: Int = 40,
                            formats: Int = 3): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map(id => (id, mixedImageBytes(id, size, patterns, formats)))
    }.toDF(idCol, "payload")
  }

  /** The per-id synthesis behind [[synthesizeMixedImages]], factored out so
    * the q195 oracle precompute encodes the EXACT same payloads the
    * executors do (pattern k = id % patterns, container by
    * (id/patterns) % formats). formats = 2 keeps the container mix to the
    * LOSSLESS pair (BMP/PNG) — decoded pixels then equal the pattern
    * formula exactly, which is what lets q34 carry a value-exact oracle. */
  private[graft] def mixedImageBytes(id: Long, size: Int = 16,
                                     patterns: Int = 40, formats: Int = 3): Array[Byte] = {
    val k = (id % patterns).toInt
    val fn = (x: Int, y: Int) =>
      ((x * (k + 3)) % 256, (y * (k + 5)) % 256, ((x + y) * (k + 7)) % 256)
    ((id / patterns) % formats) match {
      case 0 => encodeBmp(size, size, fn)
      case 1 => encodePng(size, size, fn)
      case _ => encodeJpeg(size, size, fn)
    }
  }

  // ------------------------------------------------------------- audio

  /** Synthesize a PCM WAV payload (16-bit mono). Like BMP, WAV is a
    * header + raw samples — decodable with zero codec dependencies, so the
    * audio path can be REAL end-to-end while compressed formats stay behind
    * the codec stub. */
  private[graft] def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16)
      .putShort(1)                      // PCM
      .putShort(1)                      // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)           // byte rate
      .putShort(2)                      // block align
      .putShort(16)                     // bits per sample
      .put("data".getBytes).putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  case class AudioFeatures(sampleRate: Int, nSamples: Int, durationMs: Long,
                           meanAbs: Double, peak: Int)

  /** REAL audio decode for PCM WAV: parses the RIFF header, walks the
    * samples, returns rate/length/duration + amplitude stats. Malformed or
    * non-PCM payloads yield None — never a task crash. */
  private[graft] def decodeWav(bytes: Array[Byte]): Option[AudioFeatures] = {
    if (bytes.length < 44 ||
      new String(bytes, 0, 4) != "RIFF" || new String(bytes, 8, 4) != "WAVE") return None
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val fmt = buf.getShort(20); val channels = buf.getShort(22)
    val rate = buf.getInt(24); val bits = buf.getShort(34)
    if (fmt != 1 || channels != 1 || bits != 16 || rate <= 0) return None
    val dataSize = buf.getInt(40)
    if (dataSize < 0 || 44L + dataSize > bytes.length) return None
    val n = dataSize / 2
    var sumAbs = 0L; var peak = 0
    var i = 0
    while (i < n) {
      val v = buf.getShort(44 + i * 2).toInt
      val a = math.abs(v)
      sumAbs += a; if (a > peak) peak = a
      i += 1
    }
    Some(AudioFeatures(rate, n, n * 1000L / rate,
      if (n == 0) 0.0 else sumAbs.toDouble / n, peak))
  }

  /** Synthesize WAV payloads per doc: a deterministic sine at an id-derived
    * frequency — the audio twin of synthesizeImages. */
  def synthesizeAudio(docs: DataFrame, idCol: String,
                      sampleRate: Int = 8000, nSamples: Int = 800): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val freq = 100.0 + (id % 40) * 20.0
        val samples = Array.tabulate(nSamples)(i =>
          (math.sin(2 * math.Pi * freq * i / sampleRate) * 16000).toShort)
        (id, encodeWav(sampleRate, samples))
      }
    }.toDF(idCol, "payload")
  }

  /** Decode audio payloads → (id, rate, n_samples, duration, amplitude
    * stats). Real parse for PCM WAV; unknown formats yield sentinel row. */
  def decodeAudio(media: DataFrame, idCol: String): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col(idCol).cast("long"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          decodeWav(bytes) match {
            case Some(f) => (id, f.sampleRate, f.nSamples, f.durationMs, f.meanAbs, f.peak)
            case None => (id, -1, -1, -1L, Double.NaN, -1)
          }
        }
      }.toDF(idCol, "sample_rate", "n_samples", "duration_ms", "mean_abs", "peak")
  }

  /** Frame-level audio energy profile (the VAD-lite curation signal): the
    * PCM sample stream splits into fixed frames (default 160 samples =
    * 20 ms at 8 kHz — the telephony standard), each frame's RMS computes
    * from an exact integer sum of squares, and frames below `silenceRms`
    * count as silence. Silence ratio and the longest silent run are THE
    * cheap audio-quality gates (dead air, truncated recordings, mic
    * failures) a speech-data pipeline runs before any model hears a
    * sample — the audio twin of text's repetition/quality scores.
    *
    * Same codec boundary as [[decodeAudio]]: real parse for mono 16-bit
    * PCM WAV, sentinel row for anything else, never a task crash.
    * Shuffle-free map pass; frames never materialize as rows. */
  def audioEnergyProfile(media: DataFrame, idCol: String,
                         frameSamples: Int = 160,
                         silenceRms: Double = 500.0): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col(idCol).cast("long"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          decodeWav(bytes) match {
            case Some(f) if f.nSamples > 0 =>
              val buf = java.nio.ByteBuffer.wrap(bytes)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              val nFrames = (f.nSamples + frameSamples - 1) / frameSamples
              var silent = 0; var run = 0; var longestRun = 0
              var maxRms = 0.0
              var fr = 0
              while (fr < nFrames) {
                val start = fr * frameSamples
                val end = math.min(start + frameSamples, f.nSamples)
                var sumSq = 0L; var i = start
                while (i < end) {
                  val v = buf.getShort(44 + i * 2).toLong
                  sumSq += v * v; i += 1
                }
                val rms = math.sqrt(sumSq.toDouble / (end - start))
                if (rms > maxRms) maxRms = rms
                if (rms < silenceRms) { silent += 1; run += 1
                  if (run > longestRun) longestRun = run
                } else run = 0
                fr += 1
              }
              (id, nFrames, silent,
                math.rint(silent.toDouble / nFrames * 1e6) / 1e6,
                longestRun, math.rint(maxRms * 10) / 10)
            case _ => (id, -1, -1, Double.NaN, -1, Double.NaN)
          }
        }
      }.toDF(idCol, "n_frames", "n_silent", "silence_ratio",
        "longest_silent_run", "max_rms")
  }

  /** Frame sampling for video rows: emit `n` evenly-spaced frame timestamps
    * per video — pure `sequence`/`explode`, no UDF, scales as a map-side
    * expand. (Decoding the frames would be a per-partition pass downstream,
    * shaped like [[decodeImages]].) */
  def frameSample(media: DataFrame, idCol: String, n: Int): DataFrame =
    media.filter(col("meta.kind") === "video")
      .select(col(idCol), col("meta.durationMs").as("dur"),
        posexplode(sequence(lit(0L), col("meta.durationMs") - 1,
          greatest((col("meta.durationMs") / n).cast("long"), lit(1L)))))
      .filter(col("pos") < n)
      .select(col(idCol), col("pos").as("frame_idx"), col("col").as("frame_ts_ms"))
}
