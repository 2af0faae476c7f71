package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for the training-data pipeline: media
  * payloads as opaque `binary` columns with typed metadata, plus
  * decode / feature-extract / resize / frame-sample operators.
  *
  * Three codecs are REAL, dependency-free JVM decoders: PNG
  * ([[Codecs.decodePng]] — Inflater + per-spec scanline
  * de-filtering), 24-bit uncompressed BMP ([[Codecs.decodeBmp24]])
  * and RIFF/WAVE PCM-16 ([[Codecs.decodeWavPcm16]]) — payloads are
  * sniffed by magic bytes and decoded to actual pixels/samples, then
  * featurized (4×4 luminance grid / 16-segment RMS) into vectors
  * that feed the [[Similarity]] operators. Codec-bound formats
  * (opus/av1 …) remain STUBBED (no media libraries in this
  * environment):
  * `syntheticFeatures` derives deterministic content-sensitive
  * features from the raw bytes. The surrounding plumbing — schema,
  * batch shape, partition-parallel execution, row explosion — is
  * identical for all three paths, so swapping in a JNI/javacpp codec
  * is a one-function change.
  *
  * Scale design:
  *  - payloads stay opaque bytes end-to-end; Spark never interprets
  *    them until the decode operator, so column pruning drops them
  *    for metadata-only queries (ReadSchema excludes `payload`);
  *  - decode runs via `mapPartitions` over an iterator — the Scala
  *    analog of `mapInPandas` batches: per-partition setup (codec
  *    init) amortized across rows, no per-row JVM↔native churn;
  *  - frame sampling is a generator (posexplode) — linear output in
  *    frames kept, no shuffle;
  *  - feature vectors come back as fixed-width float arrays ready for
  *    [[Similarity]] operators.
  */
object Multimodal {

  /** media asset schema: opaque payload + typed metadata. */
  val MediaSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("codec", StringType)))

  /** Deterministic synthetic media table derived from the documents
    * corpus (fixture generator: payload bytes are the doc text bytes,
    * metadata derived from doc stats). Stands in for a real asset
    * table at the same schema.
    */
  def syntheticAssets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"),
      (col("n_chars") % 640 + 16).cast("int").as("width"),
      (col("n_chars") % 480 + 16).cast("int").as("height"),
      (col("n_chars") * 40).cast("long").as("duration_ms"),
      element_at(array(lit("png"), lit("opus"), lit("av1")),
        (col("doc_id") % 3 + 1).cast("int")).as("codec"))

  final case class DecodedAsset(asset_id: Long, media_type: String,
      width: Int, height: Int, features: Array[Float], decoder: String)

  /** Decode + feature extraction. Payloads are sniffed by magic bytes:
    * PNG (\x89PNG), BMP ('BM') and WAVE ('RIFF…WAVE') decode to REAL
    * pixels/samples via the dependency-free [[Codecs]]; anything else
    * falls back to
    * the documented deterministic stub featurizer (content-sensitive,
    * so downstream dedup/ANN behave realistically). For decoded
    * images, width/height come from the HEADER, not the metadata
    * columns. Runs as mapPartitions: batch-shaped,
    * partition-parallel, one codec init per partition — the
    * mapInPandas execution shape.
    */
  def decodeAndFeaturize(assets: DataFrame): Dataset[DecodedAsset] = {
    import assets.sparkSession.implicits._
    assets
      .select(col("asset_id"), col("media_type"), col("width"),
        col("height"), col("payload"))
      .as[(Long, String, Int, Int, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition codec init would happen here (the pure-JVM
        // BMP/WAV decoders are stateless; a JNI codec would not be)
        rows.map { case (id, mt, w, h, payload) =>
          // a malformed/hostile payload must degrade to the stub, never
          // fail the task: decode errors are data, not bugs
          val decoded =
            try {
              Codecs.decodePng(payload)
                .map { case (dw, dh, rgb) =>
                  DecodedAsset(id, mt, dw, dh,
                    Codecs.imageFeatures(dw, dh, rgb), "png")
                }
                .orElse(Codecs.decodeBmp24(payload).map {
                  case (dw, dh, rgb) =>
                    DecodedAsset(id, mt, dw, dh,
                      Codecs.imageFeatures(dw, dh, rgb), "bmp24")
                })
                .orElse(Codecs.decodeWavPcm16(payload).map {
                  case (_, _, mono) =>
                    DecodedAsset(id, mt, w, h,
                      Codecs.audioFeatures(mono), "wav-pcm16")
                })
            } catch { case scala.util.control.NonFatal(_) => None }
          decoded.getOrElse(DecodedAsset(id, mt, w, h,
            Codecs.syntheticFeatures(payload), "synthetic-stub"))
        }
      }
  }

  /** Dependency-free media decoders over public file formats (the
    * Windows BMP structure: BITMAPFILEHEADER + BITMAPINFOHEADER; the
    * RIFF/WAVE container with PCM fmt chunk).
    */
  private[graft] object Codecs {
    import java.nio.{ByteBuffer, ByteOrder}

    /** 24-bit uncompressed BMP → (width, height, row-major RGB values
      * 0-255, length w·h·3). Handles bottom-up and top-down rows and
      * 4-byte row padding; rejects anything not 24bpp/BI_RGB.
      */
    def decodeBmp24(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (bytes == null || bytes.length < 54 ||
        bytes(0) != 'B' || bytes(1) != 'M') return None
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val dataOffset = bb.getInt(10)
      if (bb.getInt(14) < 40) return None // header older than BITMAPINFOHEADER
      val w = bb.getInt(18)
      val hRaw = bb.getInt(22)
      val bottomUp = hRaw > 0
      val h = if (hRaw == Int.MinValue) return None else math.abs(hRaw)
      if (bb.getShort(28) != 24 || bb.getInt(30) != 0 || w <= 0 || h == 0)
        return None
      // Long arithmetic throughout: crafted headers (w ≈ 2^30) overflow
      // Int products into negatives that would slip past the bounds
      // checks and then blow up at allocation
      val rowSizeL = ((w.toLong * 3 + 3) / 4) * 4
      val needL = w.toLong * h * 3
      if (dataOffset < 54 || needL > Int.MaxValue ||
        dataOffset.toLong + rowSizeL * h > bytes.length)
        return None
      val rowSize = rowSizeL.toInt
      val out = new Array[Int](needL.toInt)
      var y = 0
      while (y < h) {
        val srcRow = dataOffset + (if (bottomUp) h - 1 - y else y) * rowSize
        var x = 0
        while (x < w) {
          val p = srcRow + x * 3
          val o = (y * w + x) * 3
          out(o) = bytes(p + 2) & 0xff // stored BGR
          out(o + 1) = bytes(p + 1) & 0xff
          out(o + 2) = bytes(p) & 0xff
          x += 1
        }
        y += 1
      }
      Some((w, h, out))
    }

    /** 4×4 grid of mean luminance (Rec.601 weights), normalized to
      * [0,1] — a 16-dim embedding for the [[Similarity]] operators.
      */
    def imageFeatures(w: Int, h: Int, rgb: Array[Int]): Array[Float] = {
      val feats = new Array[Float](16)
      val counts = new Array[Int](16)
      var y = 0
      while (y < h) {
        val gy = math.min(3, y * 4 / h)
        var x = 0
        while (x < w) {
          val gx = math.min(3, x * 4 / w)
          val o = (y * w + x) * 3
          val lum = (0.299f * rgb(o) + 0.587f * rgb(o + 1) +
            0.114f * rgb(o + 2)) / 255f
          feats(gy * 4 + gx) += lum
          counts(gy * 4 + gx) += 1
          x += 1
        }
        y += 1
      }
      var i = 0
      while (i < 16) { if (counts(i) > 0) feats(i) /= counts(i); i += 1 }
      feats
    }

    /** PNG (ISO/IEC 15948) → (width, height, row-major RGB 0-255).
      * Dependency-free: IDAT streams inflate through
      * `java.util.zip.Inflater`, then scanlines de-filter per the spec
      * (None/Sub/Up/Average/Paeth). Supports the common web profile —
      * 8-bit, color types 0 (grayscale, replicated to RGB), 2
      * (truecolor), 6 (truecolor+alpha, alpha dropped), non-interlaced.
      * Indexed/16-bit/interlaced payloads return None (→ stub).
      *
      * Hardening mirrors the BMP path: Long arithmetic on all size
      * products, and the raw-buffer allocation is bounded by the
      * deflate maximum ratio (~1032:1) so a crafted 1 KB header cannot
      * force a multi-GB allocation.
      */
    def decodePng(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (bytes == null || bytes.length < 45) return None
      val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      var s = 0
      while (s < 8) {
        if ((bytes(s) & 0xff) != sig(s)) return None
        s += 1
      }
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      var off = 8
      var w = 0
      var h = 0
      var colorType = -1
      var headerOk = false
      var sawEnd = false
      val idat = new java.io.ByteArrayOutputStream()
      while (!sawEnd && off + 8 <= bytes.length) {
        val len = bb.getInt(off)
        if (len < 0 || off.toLong + 12 + len > bytes.length) return None
        new String(bytes, off + 4, 4, "US-ASCII") match {
          case "IHDR" =>
            if (len < 13) return None
            w = bb.getInt(off + 8)
            h = bb.getInt(off + 12)
            colorType = bytes(off + 17) & 0xff
            headerOk = w > 0 && h > 0 && (bytes(off + 16) & 0xff) == 8 &&
              (colorType == 0 || colorType == 2 || colorType == 6) &&
              bytes(off + 18) == 0 && bytes(off + 19) == 0 &&
              bytes(off + 20) == 0
            if (!headerOk) return None
          case "IDAT" => idat.write(bytes, off + 8, len)
          case "IEND" => sawEnd = true
          case _ => ()
        }
        off += 12 + len
      }
      if (!headerOk || idat.size == 0) return None
      val bpp = colorType match { case 0 => 1; case 2 => 3; case _ => 4 }
      val strideL = w.toLong * bpp
      val rawLenL = (strideL + 1) * h
      val needL = w.toLong * h * 3
      if (rawLenL > Int.MaxValue || needL > Int.MaxValue ||
        rawLenL > idat.size.toLong * 1032 + 64) return None
      val stride = strideL.toInt
      val raw = new Array[Byte](rawLenL.toInt)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      var got = 0
      try {
        while (got < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, got, raw.length - got)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
            return None // truncated or preset-dictionary stream
          got += n
        }
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      if (got < raw.length) return None
      // de-filter scanlines in place (spec §9: a/b/c are the decoded
      // left / up / up-left bytes at the same byte offset within the
      // pixel)
      var y = 0
      while (y < h) {
        val rowOff = y * (stride + 1)
        val cur = rowOff + 1
        val prev = cur - (stride + 1)
        (raw(rowOff) & 0xff) match {
          case 0 => ()
          case 1 =>
            var x = bpp
            while (x < stride) {
              raw(cur + x) = (raw(cur + x) + raw(cur + x - bpp)).toByte
              x += 1
            }
          case 2 =>
            if (y > 0) {
              var x = 0
              while (x < stride) {
                raw(cur + x) = (raw(cur + x) + raw(prev + x)).toByte
                x += 1
              }
            }
          case 3 =>
            var x = 0
            while (x < stride) {
              val a = if (x >= bpp) raw(cur + x - bpp) & 0xff else 0
              val b = if (y > 0) raw(prev + x) & 0xff else 0
              raw(cur + x) = (raw(cur + x) + ((a + b) >> 1)).toByte
              x += 1
            }
          case 4 =>
            var x = 0
            while (x < stride) {
              val a = if (x >= bpp) raw(cur + x - bpp) & 0xff else 0
              val b = if (y > 0) raw(prev + x) & 0xff else 0
              val c = if (x >= bpp && y > 0) raw(prev + x - bpp) & 0xff else 0
              val p = a + b - c
              val pa = math.abs(p - a)
              val pb = math.abs(p - b)
              val pc = math.abs(p - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              raw(cur + x) = (raw(cur + x) + pred).toByte
              x += 1
            }
          case _ => return None
        }
        y += 1
      }
      val out = new Array[Int](needL.toInt)
      y = 0
      while (y < h) {
        val rowOff = y * (stride + 1) + 1
        var x = 0
        while (x < w) {
          val p = rowOff + x * bpp
          val o = (y * w + x) * 3
          if (colorType == 0) {
            val g = raw(p) & 0xff
            out(o) = g
            out(o + 1) = g
            out(o + 2) = g
          } else {
            out(o) = raw(p) & 0xff
            out(o + 1) = raw(p + 1) & 0xff
            out(o + 2) = raw(p + 2) & 0xff
          }
          x += 1
        }
        y += 1
      }
      Some((w, h, out))
    }

    /** RIFF/WAVE with a PCM-16 fmt chunk → (sample_rate, channels,
      * channel-averaged mono samples). Walks the word-aligned chunk
      * list; rejects non-PCM / non-16-bit payloads.
      */
    def decodeWavPcm16(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
      if (bytes == null || bytes.length < 44) return None
      def tag(off: Int) = new String(bytes, off, 4, "US-ASCII")
      if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      var off = 12
      var rate = 0
      var ch = 0
      var fmtOk = false
      var dataOff = -1
      var dataLen = 0
      while (off + 8 <= bytes.length) {
        val id = tag(off)
        val sz = bb.getInt(off + 4)
        // compare in Long: a huge sz would wrap `off + 8 + sz` negative
        // and slip past the guard
        if (sz < 0 || off.toLong + 8 + sz > bytes.length) return None
        if (id == "fmt " && sz >= 16) {
          ch = bb.getShort(off + 10)
          rate = bb.getInt(off + 12)
          fmtOk = bb.getShort(off + 8) == 1 && bb.getShort(off + 22) == 16 &&
            ch >= 1
        } else if (id == "data") { dataOff = off + 8; dataLen = sz }
        off += 8 + sz + (sz & 1) // chunks are word-aligned
      }
      if (!fmtOk || dataOff < 0) return None
      val n = dataLen / (2 * ch)
      val mono = new Array[Short](n)
      var i = 0
      while (i < n) {
        var acc = 0
        var c = 0
        while (c < ch) { acc += bb.getShort(dataOff + (i * ch + c) * 2); c += 1 }
        mono(i) = (acc / ch).toShort
        i += 1
      }
      Some((rate, ch, mono))
    }

    /** RMS amplitude of 16 equal segments, each in [0,1] — a 16-dim
      * audio embedding.
      */
    def audioFeatures(samples: Array[Short]): Array[Float] = {
      val feats = new Array[Float](16)
      if (samples.isEmpty) return feats
      val seg = math.max(1, samples.length / 16)
      var s = 0
      while (s < 16) {
        val from = s * seg
        val to =
          if (s == 15) samples.length else math.min(samples.length, from + seg)
        if (to > from) {
          var acc = 0.0
          var i = from
          while (i < to) {
            val v = samples(i) / 32768.0
            acc += v * v
            i += 1
          }
          feats(s) = math.sqrt(acc / (to - from)).toFloat
        }
        s += 1
      }
      feats
    }

    /** 64-bit difference hash (dHash — the standard perceptual image
      * fingerprint): mean Rec.601 luminance over a 9×8 grid; bit
      * r·8+c = grid(r, c+1) > grid(r, c). Row-adjacent comparisons
      * make it invariant to global brightness/contrast shifts and
      * robust to resizing — near-duplicate images land within a small
      * Hamming radius.
      *
      * Images smaller than the 9×8 grid would leave cells unpopulated
      * (the integer x·9/w mapping skips columns), so bits would compare
      * an arbitrary 0.0 against content; such images are first
      * nearest-neighbor upscaled to the grid floor so every cell owns
      * at least one pixel.
      */
    def dhash64(w: Int, h: Int, rgb: Array[Int]): Long =
      if (w > 0 && h > 0 && (w < 9 || h < 8)) {
        val sw = math.max(w, 9)
        val sh = math.max(h, 8)
        val up = new Array[Int](sw * sh * 3)
        var y = 0
        while (y < sh) {
          val sy = y * h / sh
          var x = 0
          while (x < sw) {
            val sx = x * w / sw
            val so = (sy * w + sx) * 3
            val d = (y * sw + x) * 3
            up(d) = rgb(so); up(d + 1) = rgb(so + 1); up(d + 2) = rgb(so + 2)
            x += 1
          }
          y += 1
        }
        dhash64(sw, sh, up)
      } else {
      val sums = new Array[Double](72)
      val counts = new Array[Int](72)
      var y = 0
      while (y < h) {
        val gy = math.min(7, y * 8 / h)
        var x = 0
        while (x < w) {
          val gx = math.min(8, x * 9 / w)
          val o = (y * w + x) * 3
          val cell = gy * 9 + gx
          sums(cell) += 0.299 * rgb(o) + 0.587 * rgb(o + 1) +
            0.114 * rgb(o + 2)
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          val i = r * 9 + c
          val cur = if (counts(i) > 0) sums(i) / counts(i) else 0.0
          val nxt = if (counts(i + 1) > 0) sums(i + 1) / counts(i + 1) else 0.0
          if (nxt > cur) hash |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      hash
    }

    /** 24-bit BMP encoder (bottom-up rows, BGR, 4-byte padding) for
      * RGB row-major pixel arrays — the fixture-generation inverse of
      * [[decodeBmp24]].
      */
    def encodeBmp24(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
      require(rgb.length == w * h * 3, "rgb must be w*h*3 row-major")
      val rowSize = ((w * 3 + 3) / 4) * 4
      val buf = ByteBuffer.allocate(54 + rowSize * h)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
        .putInt(0).putInt(54)
      buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(rowSize * h).putInt(2835).putInt(2835)
        .putInt(0).putInt(0)
      var y = h - 1
      while (y >= 0) { // bottom-up, BGR
        var x = 0
        while (x < w) {
          val o = (y * w + x) * 3
          buf.put(rgb(o + 2).toByte).put(rgb(o + 1).toByte)
            .put(rgb(o).toByte)
          x += 1
        }
        var p = rowSize - w * 3
        while (p > 0) { buf.put(0.toByte); p -= 1 }
        y -= 1
      }
      buf.array
    }

    /** Minimal PNG encoder (8-bit truecolor, filter-0 scanlines,
      * single deflated IDAT) — the fixture-generation inverse of
      * [[decodePng]].
      */
    def encodePng(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
      require(rgb.length == w * h * 3, "rgb must be w*h*3 row-major")
      val stride = w * 3
      val raw = new Array[Byte]((stride + 1) * h)
      var y = 0
      while (y < h) {
        val rowOff = y * (stride + 1)
        raw(rowOff) = 0 // filter None
        var i = 0
        while (i < stride) {
          raw(rowOff + 1 + i) = rgb(y * w * 3 + i).toByte
          i += 1
        }
        y += 1
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw)
      defl.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
      defl.end()
      def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
        val bb = ByteBuffer.allocate(12 + data.length)
        bb.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
        val crc = new java.util.zip.CRC32()
        crc.update(typ.getBytes("US-ASCII"))
        crc.update(data)
        bb.putInt(crc.getValue.toInt)
        bb.array
      }
      val ihdr = ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
        .put(0.toByte).array
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", comp.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }

    /** 64-bit audio difference hash — the audio analog of [[dhash64]]:
      * RMS amplitude over 65 equal segments; bit b = rms(b+1) >
      * rms(b). Adjacent-segment comparisons make it invariant to
      * global gain (any monotone scaling) and robust to resampling —
      * re-encoded/volume-normalized copies land within a small
      * Hamming radius.
      */
    def audioHash64(samples: Array[Short]): Long = {
      if (samples.isEmpty) return 0L
      val segs = 65
      val rms = new Array[Double](segs)
      var s = 0
      while (s < segs) {
        val from = s.toLong * samples.length / segs
        val to = (s + 1).toLong * samples.length / segs
        if (to > from) {
          var acc = 0.0
          var i = from.toInt
          while (i < to) {
            val v = samples(i).toDouble
            acc += v * v
            i += 1
          }
          rms(s) = math.sqrt(acc / (to - from))
        }
        s += 1
      }
      var hash = 0L
      var b = 0
      while (b < 64) {
        if (rms(b + 1) > rms(b)) hash |= 1L << b
        b += 1
      }
      hash
    }

    /** RIFF/WAVE PCM-16 mono encoder — the fixture-generation inverse
      * of [[decodeWavPcm16]].
      */
    def encodeWavPcm16(rate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < samples.length) { buf.putShort(samples(i)); i += 1 }
      buf.array
    }

    /** Split a motion-PNG container (back-to-back complete PNG
      * streams — the trivial frame container used where no real video
      * codec exists in-env) into its frame byte slices by walking the
      * chunk structure of each stream to its IEND. Stops at the first
      * malformed frame (frames so far are returned) — truncation is
      * data, not a bug.
      */
    def splitPngFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
      if (bytes == null) return Seq.empty
      val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var off = 0
      var ok = true
      while (ok && off + 8 <= bytes.length) {
        var s = 0
        while (s < 8 && ok) {
          if ((bytes(off + s) & 0xff) != sig(s)) ok = false
          s += 1
        }
        if (ok) {
          var p = off + 8
          var end = -1
          while (end < 0 && p + 8 <= bytes.length) {
            val len = bb.getInt(p)
            if (len < 0 || p.toLong + 12 + len > bytes.length) { p = bytes.length; }
            else {
              if (new String(bytes, p + 4, 4, "US-ASCII") == "IEND")
                end = p + 12 + len
              p += 12 + len
            }
          }
          if (end < 0) ok = false
          else {
            out += java.util.Arrays.copyOfRange(bytes, off, end)
            off = end
          }
        }
      }
      out.toSeq
    }

    /** The documented stub for formats without an in-env codec:
      * deterministic 16-dim features from the payload bytes.
      */
    def syntheticFeatures(payload: Array[Byte]): Array[Float] = {
      val feats = new Array[Float](16)
      if (payload != null) {
        var i = 0
        while (i < payload.length) {
          feats(i % 16) += (payload(i) & 0xff) / 255.0f
          i += 1
        }
        val n = math.max(1, payload.length / 16)
        var j = 0
        while (j < 16) { feats(j) /= n.toFloat; j += 1 }
      }
      feats
    }
  }

  final case class PhashedAsset(asset_id: Long, phash: Long, decoder: String)

  /** Perceptual hashes over REAL decoded pixels: every payload that
    * decodes through the PNG/BMP codecs is reduced to its 64-bit dHash
    * ([[Codecs.dhash64]]); undecodable payloads are dropped (a
    * perceptual hash of undecoded bytes would be a content hash in
    * disguise). Same mapPartitions batch shape as
    * [[decodeAndFeaturize]].
    */
  def phashes(assets: DataFrame): Dataset[PhashedAsset] = {
    import assets.sparkSession.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          try {
            Codecs.decodePng(payload)
              .map { case (w, h, rgb) =>
                PhashedAsset(id, Codecs.dhash64(w, h, rgb), "png") }
              .orElse(Codecs.decodeBmp24(payload).map { case (w, h, rgb) =>
                PhashedAsset(id, Codecs.dhash64(w, h, rgb), "bmp24") })
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      }
  }

  /** Image near-duplicate clusters over the decoded-pixel dHash: the
    * [[Dedup.bandedHammingPairs]] pigeonhole blocking (identical to
    * the simhash dedup path) feeds [[Dedup.clusterMembership]] — the
    * full multimodal→dedup loop: bytes → codec → pixels → perceptual
    * hash → banded candidate join → connected components. Linear at
    * every stage; output O(clustered assets).
    */
  def phashClusters(assets: DataFrame, maxHamming: Int = 3,
                    bands: Int = 4): DataFrame = {
    val sk = phashes(assets).toDF()
      .select(col("asset_id").as("doc_id"), col("phash"))
    Dedup.clusterMembership(
      Dedup.bandedHammingPairs(sk, "phash", maxHamming, bands, bits = 64))
      .withColumnRenamed("doc_id", "asset_id")
  }

  final case class AudioHashedAsset(asset_id: Long, ahash: Long)

  /** Audio fingerprints over REAL decoded samples: every payload that
    * decodes through the WAV codec is reduced to its 64-bit RMS-delta
    * hash ([[Codecs.audioHash64]]); non-audio payloads are dropped.
    */
  def audioHashes(assets: DataFrame): Dataset[AudioHashedAsset] = {
    import assets.sparkSession.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          try Codecs.decodeWavPcm16(payload).map { case (_, _, mono) =>
            AudioHashedAsset(id, Codecs.audioHash64(mono))
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      }
  }

  /** Audio near-duplicate clusters — the WAV leg of the multimodal
    * dedup loop, same shape as [[phashClusters]]: bytes → codec →
    * samples → RMS-delta hash → banded Hamming pairs → connected
    * components.
    */
  def audioHashClusters(assets: DataFrame, maxHamming: Int = 3,
                        bands: Int = 4): DataFrame = {
    val sk = audioHashes(assets).toDF()
      .select(col("asset_id").as("doc_id"), col("ahash"))
    Dedup.clusterMembership(
      Dedup.bandedHammingPairs(sk, "ahash", maxHamming, bands, bits = 64))
      .withColumnRenamed("doc_id", "asset_id")
  }

  final case class VideoFrameHash(asset_id: Long, frame_idx: Int, phash: Long)

  /** Per-frame perceptual hashes for motion-PNG video payloads: split
    * the container ([[Codecs.splitPngFrames]]), decode each frame
    * through the real PNG codec, dHash the pixels. One row per frame —
    * a generator (linear in frames), mapPartitions batch shape.
    */
  def videoFrameHashes(assets: DataFrame): Dataset[VideoFrameHash] = {
    import assets.sparkSession.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try Codecs.splitPngFrames(payload).zipWithIndex.flatMap {
          case (frame, i) => Codecs.decodePng(frame).map { case (w, h, rgb) =>
            VideoFrameHash(id, i, Codecs.dhash64(w, h, rgb))
          }
        } catch { case scala.util.control.NonFatal(_) => Seq.empty }
      }
  }

  /** Video near-duplicate pairs: two videos are near-dups when the
    * Jaccard similarity of their frame-dHash SETS clears `minJaccard`
    * — robust to frame drops/inserts and re-containering, the standard
    * set-overlap treatment of frame fingerprints. Candidates block on
    * sharing at least one exact frame hash (an equi-join on the
    * 8-byte hash); for fuzzier per-frame matching the frame hashes
    * would be banded first, exactly like [[phashClusters]].
    *
    * Stop-frame removal: a ubiquitous frame — a black frame, a
    * standard intro/outro card — shared by k videos would emit k²/2
    * candidate pairs from one hash bucket, the same hot-shingle
    * failure the text Jaccard path dodges with rarest-first prefix
    * filtering ([[graft.operators.Dedup.jaccardNearDupPairs]]). Frame
    * hashes whose document frequency exceeds `maxFrameDf` are dropped
    * from BLOCKING only — the Jaccard verdict below still scores the
    * FULL frame sets — which bounds per-bucket candidate volume at
    * maxFrameDf²/2 while leaving scores untouched. A pair is missed
    * only if every frame it shares sits in > maxFrameDf videos; such a
    * pair's overlap is all stop-frames, carrying no discriminative
    * evidence of duplication in the first place.
    *
    * The frame lineage (container split → per-frame PNG decode →
    * dHash → collect_set) feeds blocking (both self-join sides, plus
    * the df count) and both score-side enrichment joins, so `sets` is
    * localCheckpoint-ed eagerly — the decode work runs once per asset,
    * the same pin discipline as the ingest micro-batch.
    */
  def videoNearDups(assets: DataFrame, minJaccard: Double = 0.45,
                    maxFrameDf: Int = 64): DataFrame = {
    val sets = videoFrameHashes(assets).toDF()
      .groupBy(col("asset_id"))
      .agg(collect_set(col("phash")).as("fs"))
      .localCheckpoint()
    val cand = videoNearDupCandidates(sets, maxFrameDf)
    val inter = size(array_intersect(col("fa"), col("fb"))).cast("long")
    cand
      .join(sets.select(col("asset_id").as("vid_a"), col("fs").as("fa")), "vid_a")
      .join(sets.select(col("asset_id").as("vid_b"), col("fs").as("fb")), "vid_b")
      .select(col("vid_a"), col("vid_b"),
        round(inter.cast("double") /
          greatest((size(col("fa")).cast("long") +
            size(col("fb")).cast("long") - inter).cast("double"),
            lit(1.0)), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Candidate stage of [[videoNearDups]] over precomputed frame sets
    * `(asset_id, fs: array<long>)`: stop-frame removal (document
    * frequency > maxFrameDf dropped from blocking), then the exact
    * frame-hash equi-join. Exposed so the hub-frame spec can assert
    * the candidate-volume bound directly.
    */
  private[graft] def videoNearDupCandidates(sets: DataFrame,
                                            maxFrameDf: Int): DataFrame = {
    val ex = sets.select(col("asset_id"), explode(col("fs")).as("h"))
    val rare = ex.join(
      ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxFrameDf).select(col("h")),
      Seq("h"), "left_semi")
    rare.alias("a")
      .join(rare.alias("b"),
        col("a.h") === col("b.h") && col("a.asset_id") < col("b.asset_id"))
      .select(col("a.asset_id").as("vid_a"), col("b.asset_id").as("vid_b"))
      .dropDuplicates("vid_a", "vid_b")
  }

  /** Video near-dup clusters — connected components over
    * [[videoNearDups]] pairs, completing the image/audio/video dedup
    * trio.
    */
  def videoClusters(assets: DataFrame, minJaccard: Double = 0.45,
                    maxFrameDf: Int = 64): DataFrame =
    Dedup.clusterMembership(videoNearDups(assets, minJaccard, maxFrameDf),
      aCol = "vid_a", bCol = "vid_b")
      .withColumnRenamed("doc_id", "asset_id")

  /** Planted motion-PNG corpus for the video dedup oracle: each group
    * (`id % groups`) owns a pool of 8 frames whose dHashes are
    * replication codes of (group, frame) — distinct (g, k) pairs sit
    * ≥ 8 Hamming bits apart, so frame hashes collide exactly when
    * frames are planted equal. Member m of a group keeps the 6-frame
    * window starting at m % 3, giving within-group frame-set Jaccard
    * ≥ 0.5 (windows {0-5}/{1-6}/{2-7}) and zero overlap across
    * groups: the true cluster structure is again pure id arithmetic,
    * earned through real container-split → PNG decode → dHash →
    * set-Jaccard → CC work.
    */
  def plantedVideoAssets(ids: DataFrame, groups: Int = 16,
                         dropFirst: Int = 0): DataFrame = {
    import ids.sparkSession.implicits._
    require(groups <= 16, "group+frame id must fit 8 replication-code bits")
    val idsDs = ids.select(col(ids.columns.head).cast("long")).as[Long]
    idsDs.map { id =>
      val g = (id % groups).toInt
      // dropFirst > 0 models the frame-drop perturbation for the
      // measured-recall fixture: the member's window loses its leading
      // frames, shrinking the frame SET to an integer interval the
      // oracle can score with pure interval arithmetic
      val start = (id % 3).toInt + dropFirst
      val frames = (start until (id % 3).toInt + 6).map { k =>
        // frame code: 8 source bits (g in 0..15, k in 0..7) replicated
        // 8× across the 64 dHash bits via the image staircase
        val code = (g << 3) | k
        val w = 36
        val h = 32
        val cells = Array.ofDim[Int](8, 9)
        var r = 0
        while (r < 8) {
          cells(r)(0) = 128
          var c = 0
          while (c < 8) {
            val bit = ((code >> ((r * 8 + c) / 8)) & 1) == 1
            cells(r)(c + 1) = cells(r)(c) + (if (bit) 15 else -15)
            c += 1
          }
          r += 1
        }
        val rgb = new Array[Int](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = cells(y / 4)(x / 4)
            val o = (y * w + x) * 3
            rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
            x += 1
          }
          y += 1
        }
        Codecs.encodePng(w, h, rgb)
      }
      val payload = frames.reduce(_ ++ _)
      (id, "video", payload, 36, 32, frames.length * 1000L, "mpng")
    }.toDF("asset_id", "media_type", "payload", "width", "height",
      "duration_ms", "codec")
  }

  /** Planted WAV corpus for the audio-hash dedup oracle — the audio
    * twin of [[plantedImageAssets]]: 65 constant-RMS segments whose
    * amplitudes staircase ±200 from 16000 by the group id's
    * replication code (bit b of the hash tracks source bit b/11 of
    * id % groups), so intra-group Hamming is 0 while any two groups
    * differ in ≥ 9 of 64 bits. A per-id global gain factor
    * (1 + (id % 5 − 2)/100) varies the bytes without moving any RMS
    * comparison — the gain-invariance the RMS-delta hash is designed
    * for. The true cluster structure is id arithmetic; the engine
    * must reproduce it through real encode→decode→hash→band→CC work.
    */
  def plantedAudioAssets(ids: DataFrame, groups: Int = 40,
                         perturb: Boolean = false): DataFrame = {
    import ids.sparkSession.implicits._
    require(groups <= 64, "group id must fit 6 replication-code bits")
    val idsDs = ids.select(col(ids.columns.head).cast("long")).as[Long]
    idsDs.map { id =>
      val g = (id % groups).toInt
      // perturbed clones ride a 10% gain boost — audioHash64 is
      // gain-invariant (RMS comparisons scale uniformly; max amplitude
      // 28,800 × 1.02 × 1.1 = 32,313 stays clip-free) — so the boost
      // alone is Hamming 0; the tail-segment reflection below adds
      // exactly one flipped bit
      val gain = (1.0 + (id % 5 - 2) / 100.0) * (if (perturb) 1.1 else 1.0)
      val segs = 65
      val perSeg = 64
      val amp = new Array[Int](segs)
      amp(0) = 16000
      var s = 0
      while (s < segs - 1) {
        val bit = ((g >> (s / 11)) & 1) == 1
        amp(s + 1) = amp(s) + (if (bit) 200 else -200)
        s += 1
      }
      // reflect the LAST segment's step: segment 64 feeds only hash
      // bit 63 (rms(64) vs rms(63)), so the clone sits at Hamming
      // exactly 1 from its group
      if (perturb) amp(segs - 1) = 2 * amp(segs - 2) - amp(segs - 1)
      val samples = new Array[Short](segs * perSeg)
      var i = 0
      while (i < samples.length) {
        val a = (amp(i / perSeg) * gain).toInt
        samples(i) = (if (i % 2 == 0) a else -a).toShort
        i += 1
      }
      (id, "audio", Codecs.encodeWavPcm16(8000, samples), 0, 0,
        samples.length * 1000L / 8000L, "wav")
    }.toDF("asset_id", "media_type", "payload", "width", "height",
      "duration_ms", "codec")
  }

  /** Planted image corpus for the phash-dedup oracle: one 36×32
    * grayscale image per id, its dHash a REPLICATION CODE of the
    * id's group (`id % groups`): dHash bit b tracks source bit
    * b/11 of the group id via a ±15 staircase of 4×4 constant cells,
    * so images in one group share an exact dHash while any two groups
    * differ in ≥ 9 of 64 bits — far past the Hamming radius, making
    * the TRUE cluster structure pure arithmetic (the oracle states
    * it in SQL; the engine must reproduce it through real
    * encode→decode→hash→band→cluster work). A per-id global
    * brightness shift (id % 5 − 2) varies the bytes without moving
    * any cell comparison — the brightness-invariance dHash is
    * designed for. Ids alternate PNG / BMP payloads so both codecs
    * sit on the verified path.
    */
  def plantedImageAssets(ids: DataFrame, groups: Int = 40,
                         flipRows: Int = 0): DataFrame = {
    import ids.sparkSession.implicits._
    require(groups <= 64, "group id must fit 6 replication-code bits")
    val idsDs = ids.select(col(ids.columns.head).cast("long")).as[Long]
    idsDs.map { id =>
      val g = (id % groups).toInt
      val delta = (id % 5).toInt - 2
      val w = 36
      val h = 32
      val cells = Array.ofDim[Int](8, 9)
      var r = 0
      while (r < 8) {
        cells(r)(0) = 128
        var c = 0
        while (c < 8) {
          val bit = ((g >> ((r * 8 + c) / 11)) & 1) == 1
          cells(r)(c + 1) = cells(r)(c) + (if (bit) 15 else -15)
          c += 1
        }
        r += 1
      }
      // perturbation dial for the measured-recall fixture: reflecting
      // the LAST grid column across its left neighbor reverses exactly
      // one dHash comparison per row — cell (r, 8) feeds only bit
      // (r, 7) — so flipRows = k plants a clone at Hamming EXACTLY k
      // from its group (and ≥ 9 − k from every other group)
      r = 0
      while (r < flipRows) {
        cells(r)(8) = 2 * cells(r)(7) - cells(r)(8)
        r += 1
      }
      val rgb = new Array[Int](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = cells(y / 4)(x / 4) + delta
          val o = (y * w + x) * 3
          rgb(o) = v
          rgb(o + 1) = v
          rgb(o + 2) = v
          x += 1
        }
        y += 1
      }
      val png = id % 2 == 0
      val payload =
        if (png) Codecs.encodePng(w, h, rgb) else Codecs.encodeBmp24(w, h, rgb)
      (id, "image", payload, w, h, 0L, if (png) "png" else "bmp")
    }.toDF("asset_id", "media_type", "payload", "width", "height",
      "duration_ms", "codec")
  }

  /** Resize metadata transform: pure column arithmetic (a real resize
    * would be part of the decode stub; target dims and scale factors
    * are engine-side math either way).
    */
  def withResizePlan(assets: DataFrame, maxDim: Int = 224): DataFrame = {
    val scale = least(
      lit(maxDim) / greatest(col("width"), lit(1)),
      lit(maxDim) / greatest(col("height"), lit(1)),
      lit(1.0))
    assets
      .withColumn("scale", round(scale, 4))
      .withColumn("out_width", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", floor(col("height") * col("scale")).cast("int"))
  }

  /** Frame sampling for video assets: one row per sampled frame at a
    * fixed interval — posexplode of a generated offset sequence (the
    * decode of each frame would again hit the stub).
    */
  def sampleFrames(assets: DataFrame, everyMs: Long = 1000L): DataFrame = {
    val nFrames = greatest((col("duration_ms") / everyMs).cast("long"), lit(1L))
    assets
      .filter(col("media_type") === "video")
      .withColumn("frame_ts_ms",
        explode(transform(sequence(lit(0L), nFrames - 1), i => i * everyMs)))
      .select(col("asset_id"), col("frame_ts_ms"), col("width"),
        col("height"), col("codec"))
  }
}
