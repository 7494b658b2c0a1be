package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque BINARY columns with a typed
  * metadata struct, plus batch decode operators.
  *
  * Two decode tiers:
  *  - [[decodeHeaders]] is a REAL container-format parser (PNG / JPEG /
  *    GIF / RIFF-WAV magic numbers, big/little-endian dimension fields,
  *    JPEG SOF marker walk) — header sniffing needs no codec library
  *    and is exactly what a 100 TB media-ingest pipeline runs first:
  *    route by actual format (not file extension), drop/flag payloads
  *    whose bytes disagree with their claimed metadata, and size-filter
  *    without decoding pixels;
  *  - [[extractPixelFeatures]] is a REAL pixel decode for the formats
  *    the JRE ships codecs for (PNG / GIF / BMP / JPEG via
  *    `javax.imageio`): mean luma + a luma histogram per payload,
  *    computed inside the same batched `mapPartitions` shape. Payloads
  *    no JRE codec accepts (audio, unknown bytes) degrade to a flagged
  *    row carrying the deterministic byte-stub value — never a task
  *    kill;
  *  - `stubFeatures` remains the deterministic fake for feature
  *    EMBEDDINGS (a learned vision encoder is not in any JVM) and the
  *    fallback above. The Spark-side plumbing is real either way and
  *    is what matters at scale: binary payloads stay columnar in
  *    parquet, metadata travels in a typed struct so planners can
  *    prune/filter on it without touching bytes, and extraction runs
  *    as a batched mapPartitions (the JVM shape of a mapInPandas/
  *    Arrow-batch UDF: per-partition iterator, amortized per-batch
  *    setup, bounded memory).
  */
object Multimodal {

  /** Parsed container header: format tag or NULL fields when the
    * payload matches no known magic. */
  case class MediaHeader(format: String, width: Long, height: Long,
                        channels: Long)

  private def be16(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 8) | (b(i + 1) & 0xffL)
  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def le16(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** Real header parse of one payload. PNG: 8-byte signature + IHDR
    * (width/height BE32 at 16/20, color type at 25 mapped to channel
    * count). JPEG: FF D8 then a marker walk to the first SOFn
    * (C0-CF minus C4/C8/CC): height/width BE16 at +5/+7 (after the
    * 2-byte length and precision byte), component count at +9.
    * GIF87a/89a: width/height LE16 at 6/8. RIFF-WAVE: channels LE16
    * at 22, sample rate LE32 at 24 (surfaced as width=sample rate,
    * height=0 — the audio shape has no pixel dims). Anything else
    * (or a truncated header) parses to (null, null, null, null):
    * malformed bytes must yield a flaggable row, never an exception
    * that kills the ingest task. */
  def parseHeader(b: Array[Byte]): MediaHeader = {
    def png = b.length >= 26 &&
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'
    def jpeg = b.length >= 4 &&
      (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
    def gif = b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F'
    def wav = b.length >= 28 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'
    if (png) {
      val channels = (b(25) & 0xff) match {
        case 0 => 1L; case 2 => 3L; case 3 => 1L; case 4 => 2L; case 6 => 4L
        case _ => 0L
      }
      MediaHeader("png", be32(b, 16), be32(b, 20), channels)
    } else if (gif) {
      MediaHeader("gif", le16(b, 6), le16(b, 8), 3L)
    } else if (wav) {
      MediaHeader("wav", le32(b, 24), 0L, le16(b, 22))
    } else if (jpeg) {
      // marker walk: FF <marker> <len16 incl itself> payload ...
      var i = 2
      while (i + 9 < b.length && (b(i) & 0xff) == 0xff) {
        val m = b(i + 1) & 0xff
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return MediaHeader("jpeg", be16(b, i + 7), be16(b, i + 5),
            b(i + 9) & 0xffL)
        if (m == 0xff) i += 1 // fill byte: any number may pad a marker
        else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7))
          i += 2 // bare markers (SOI, TEM, RSTn) carry no length
        else if (m == 0xd9)
          // EOI ends the stream: no SOF was seen, terminate the walk
          // explicitly (EOI carries no length field — reading one would
          // advance by whatever bytes follow the stream)
          return MediaHeader("jpeg", -1L, -1L, -1L)
        else {
          // every other non-bare marker carries a 2-byte length that
          // INCLUDES itself, so < 2 is structurally corrupt — stop the
          // walk deterministically instead of skipping pseudo-randomly
          val len = be16(b, i + 2)
          if (len < 2) return MediaHeader("jpeg", -1L, -1L, -1L)
          i += 2 + len.toInt
        }
      }
      MediaHeader("jpeg", -1L, -1L, -1L) // JPEG magic but no SOF found
    } else MediaHeader(null, -1L, -1L, -1L)
  }

  /** Real header decode over (idCol, media): one row per payload with
    * (format, width, height, channels) — NULL-valued fields for
    * unparseable or NULL payloads (a NULL binary is a routine state in
    * an ingest table and must surface as a flaggable row, never an
    * NPE). Row-at-a-time mapPartitions: header sniffing has no
    * per-batch setup to amortize, unlike [[extractFeatures]]'s codec
    * slot, so no batching layer. */
  def decodeHeaders(media: DataFrame,
                    idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = media.select(col(idCol), col("media"))
    val outSchema = StructType(in.schema.head +: Seq(
      StructField("format", StringType, true),
      StructField("width", LongType, true),
      StructField("height", LongType, true),
      StructField("channels", LongType, true)))
    in.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val h =
          if (bytes == null) MediaHeader(null, -1L, -1L, -1L)
          else parseHeader(bytes)
        def n(v: Long) = if (v < 0) null else java.lang.Long.valueOf(v)
        org.apache.spark.sql.Row(r.get(0), h.format,
          if (h.format == null) null else n(h.width),
          if (h.format == null) null else n(h.height),
          if (h.format == null) null else n(h.channels))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Wrap a text corpus as fake media rows: (doc_id, media BINARY,
    * meta STRUCT<mime, n_bytes>) — the schema/partitioning shape of a real
    * image/audio table. */
  def packAsMedia(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val bytes = encode(col(textCol), "UTF-8")
    docs.select(col(idCol),
      bytes.as("media"),
      struct(lit("application/x-fake").as("mime"),
        length(bytes).cast("long").as("n_bytes")).as("meta"))
  }

  /** Deterministic fake "decode": 4 features derived from the payload's
    * md5 — stands in for a real image/audio feature extractor. */
  def stubFeatures(bytes: Array[Byte]): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(bytes).map("%02x".format(_)).mkString
    (0 until 4).toArray.map { j =>
      java.lang.Long.parseLong(hex.substring(j * 4, j * 4 + 4), 16) / 65535.0
    }
  }

  /** Batched per-partition feature extraction over (id, media) — the
    * mapInPandas-shaped operator: partitions stream in fixed-size batches
    * through the (stubbed) codec. Output: (idCol, feat0..feat3).
    * The id column passes through untyped (Row encoder over the input's
    * own id field), so long, string/UUID or any other id scheme works. */
  def extractFeatures(media: DataFrame, batchSize: Int = 64,
                      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val in = media.select(col(idCol), col("media"))
    val outSchema = StructType(in.schema.head +:
      (0 until 4).map(j => StructField(s"feat$j", DoubleType, false)))
    in.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup would init the codec once here
        batch.iterator.map { r =>
          val f = stubFeatures(r.getAs[Array[Byte]](1))
          org.apache.spark.sql.Row(r.get(0), f(0), f(1), f(2), f(3))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** REAL pixel decode over (idCol, media) via `javax.imageio` —
    * covers the JRE-native codecs (PNG, GIF, BMP, JPEG, WBMP). Output
    * one row per payload: (idCol, decoded, mean_luma, luma_hist):
    *
    *  - decodable image: decoded=true, mean_luma = the row-major mean
    *    of Rec.601 luma (0.299 R + 0.587 G + 0.114 B)/255 in [0, 1],
    *    luma_hist = `bins` equal-width luma bins as fractions summing
    *    to 1 (the standard exposure/quality signal a media curation
    *    pipeline filters on);
    *  - undecodable payload: decoded=false, mean_luma = the
    *    deterministic [[stubFeatures]] fallback (first stub feature),
    *    luma_hist NULL — flagged and routable, never a task kill;
    *  - NULL payload: decoded=false, both stats NULL.
    *
    * Batched mapPartitions like [[extractFeatures]] (ImageIO's disk
    * cache is disabled once per partition — the per-batch codec-setup
    * slot the stub documents). Decode cost is O(pixels) per payload on
    * the executor — embarrassingly parallel, no shuffle; at 100 TB the
    * scan IS the job, which is exactly right. */
  def extractPixelFeatures(media: DataFrame, batchSize: Int = 64,
                           bins: Int = 8,
                           idCol: String = "doc_id"): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, StructField, StructType}
    val in = media.select(col(idCol), col("media"))
    val outSchema = StructType(in.schema.head +: Seq(
      StructField("decoded", BooleanType, false),
      StructField("mean_luma", DoubleType, true),
      StructField("luma_hist", ArrayType(DoubleType, false), true)))
    in.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val img =
            if (bytes == null) null
            else
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              catch { case _: Exception => null } // malformed: flag, don't throw
          if (img == null || img.getWidth <= 0 || img.getHeight <= 0) {
            val fallback =
              if (bytes == null) null
              else java.lang.Double.valueOf(stubFeatures(bytes)(0))
            org.apache.spark.sql.Row(r.get(0), false, fallback, null)
          } else {
            val w = img.getWidth
            val h = img.getHeight
            val hist = new Array[Long](bins)
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val lum = (0.299 * ((rgb >> 16) & 0xff) +
                  0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)) / 255.0
                sum += lum
                hist(math.min(bins - 1, (lum * bins).toInt)) += 1
                x += 1
              }
              y += 1
            }
            val n = w.toDouble * h
            org.apache.spark.sql.Row(r.get(0), true, sum / n,
              hist.toSeq.map(_ / n))
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Frame sampling: k evenly-spaced fixed-size byte windows from each
    * payload (the video-frame-sample shape: deterministic offsets, typed
    * per-frame metadata, still one row per media item with a nested
    * frames column — explode() downstream for per-frame work). Pure
    * column ops: substring on BINARY is zero-copy into the payload. */
  def sampleFrames(media: DataFrame, k: Int = 4, frameBytes: Int = 16,
                   idCol: String = "doc_id"): DataFrame = {
    val n = col("meta.n_bytes")
    val frames = transform(sequence(lit(0), lit(k - 1)), i => {
      val offset = (i * greatest(n - frameBytes, lit(1L)) /
        lit(math.max(k - 1, 1))).cast("long")
      struct(i.cast("int").as("frame_idx"), offset.as("offset"),
        col("media").substr(offset + 1, lit(frameBytes)).as("bytes"))
    })
    media.select(col(idCol), col("meta"), frames.as("frames"))
  }

  /** The same features as a pure column projection (codegen'd, no
    * mapPartitions) — the oracle-checkable twin of extractFeatures; a
    * ScalaTest asserts both paths agree. */
  def extractFeaturesColumnar(media: DataFrame,
                              idCol: String = "doc_id"): DataFrame = {
    val hex = md5(col("media"))
    val feats = (0 until 4).map(j =>
      (conv(substring(hex, j * 4 + 1, 4), 16, 10).cast("long") / lit(65535.0))
        .as(s"feat$j"))
    media.select(col(idCol) +: feats: _*)
  }

  // ===== perceptual image dedup (dHash) =================================

  /** dHash grid geometry: 6 rows x 11 columns of pooled luma, giving
    * 6 x 10 = 60 horizontal-gradient comparison bits — 60 on purpose,
    * matching the repo's portable-hash convention ([[Dedup.simhashBits]],
    * [[Hashing.hash60]]) so the hash stays a positive BIGINT in every
    * engine (no sign-bit arithmetic anywhere) and the SimHash 4x15-bit
    * LSH chunk scheme applies unchanged. */
  val dhashRows = 6
  val dhashCols = 11

  /** 60-bit difference hash of a row-major luma grid column
    * (`array<numeric>` of length rows*cols): bit r*(cols-1)+c is set
    * when cell (r, c+1) > cell (r, c) — the classic dHash gradient
    * sign, invariant to global brightness/contrast shifts. Statically
    * unrolled sum of 60 conditionals (one codegen'd projection, no
    * UDF — the [[Layout.zorderValueN]] pattern). */
  def dhash60(grid: Column): Column =
    (for { r <- 0 until dhashRows; c <- 0 until dhashCols - 1 } yield
      when(element_at(grid, r * dhashCols + c + 2) >
           element_at(grid, r * dhashCols + c + 1),
        lit(1L << (r * (dhashCols - 1) + c))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** REAL decode -> pooled luma grid over (idCol, media): each payload
    * `javax.imageio` decodes (PNG/GIF/BMP/JPEG/WBMP) and average-pools
    * into the [[dhashRows]] x [[dhashCols]] Rec.601 luma grid dHash
    * consumes; undecodable/NULL payloads yield decoded=false and a
    * NULL grid (flagged and routable, never a task kill). Same batched
    * mapPartitions shape as [[extractPixelFeatures]]: no shuffle, the
    * scan is the job. */
  def extractLumaGrid(media: DataFrame, batchSize: Int = 64,
                      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, StructField, StructType}
    val in = media.select(col(idCol), col("media"))
    val outSchema = StructType(in.schema.head +: Seq(
      StructField("decoded", BooleanType, false),
      StructField("grid", ArrayType(DoubleType, false), true)))
    val (gr, gc) = (dhashRows, dhashCols)
    in.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val img =
            if (bytes == null) null
            else
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              catch { case _: Exception => null }
          if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
            org.apache.spark.sql.Row(r.get(0), false, null)
          else {
            val w = img.getWidth
            val h = img.getHeight
            val grid = new Array[Double](gr * gc)
            var cr = 0
            while (cr < gr) {
              val y0 = cr * h / gr
              val y1 = math.max(y0 + 1, (cr + 1) * h / gr)
              var cc = 0
              while (cc < gc) {
                val x0 = cc * w / gc
                val x1 = math.max(x0 + 1, (cc + 1) * w / gc)
                var sum = 0.0
                var y = y0
                while (y < math.min(y1, h)) {
                  var x = x0
                  while (x < math.min(x1, w)) {
                    val rgb = img.getRGB(x, y)
                    sum += (0.299 * ((rgb >> 16) & 0xff) +
                      0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)) / 255.0
                    x += 1
                  }
                  y += 1
                }
                val n = (math.min(y1, h) - y0).toDouble *
                  (math.min(x1, w) - x0)
                grid(cr * gc + cc) = sum / math.max(n, 1.0)
                cc += 1
              }
              cr += 1
            }
            org.apache.spark.sql.Row(r.get(0), true, grid.toSeq)
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** REAL RIFF-WAV PCM parse -> pooled RMS-energy grid: walks the RIFF
    * chunk list to `fmt ` (PCM format 1, 16-bit) and `data`, decodes
    * the little-endian samples of channel 0 and RMS-pools them into
    * the SAME row-major [[dhashRows]] x [[dhashCols]] grid [[dhash60]]
    * consumes — the amplitude-envelope fingerprint, so the banded
    * [[imageNearDups]] machinery applies to audio UNCHANGED (re-coded
    * or re-sampled copies of a clip pool to near-identical envelopes).
    * Non-WAV / compressed / non-16-bit / empty payloads flag
    * decoded=false with a NULL grid — same fallback contract as every
    * decode tier here. Batched mapPartitions, no shuffle. */
  def extractAudioEnvelope(media: DataFrame, batchSize: Int = 64,
                           idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, StructField, StructType}
    val in = media.select(col(idCol), col("media"))
    val outSchema = StructType(in.schema.head +: Seq(
      StructField("decoded", BooleanType, false),
      StructField("grid", ArrayType(DoubleType, false), true)))
    val nWin = dhashRows * dhashCols
    in.mapPartitions { it =>
      def le16(b: Array[Byte], o: Int): Int =
        (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      def le32(b: Array[Byte], o: Int): Long =
        (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
          ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      def envelope(b: Array[Byte]): Array[Double] = {
        if (b == null || b.length < 28 ||
          b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
          b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
          return null
        // RIFF chunk walk: [id 4][size LE32][payload, even-padded]
        var off = 12
        var fmtOk = false
        var blockAlign = 0
        var dataOff = -1
        var dataLen = 0L
        while (off + 8 <= b.length && (dataOff < 0 || !fmtOk)) {
          val size = le32(b, off + 4)
          val body = off + 8
          if (b(off) == 'f' && b(off + 1) == 'm' && b(off + 2) == 't' &&
            b(off + 3) == ' ' && body + 16 <= b.length) {
            val audioFormat = le16(b, body)
            val bits = le16(b, body + 14)
            blockAlign = le16(b, body + 12)
            fmtOk = audioFormat == 1 && bits == 16 && blockAlign >= 2
          } else if (b(off) == 'd' && b(off + 1) == 'a' &&
            b(off + 2) == 't' && b(off + 3) == 'a') {
            dataOff = body
            dataLen = size
          }
          off = body + size.toInt + (size.toInt & 1)
        }
        if (!fmtOk || dataOff < 0) return null
        val avail = math.min(dataLen, (b.length - dataOff).toLong)
        val n = (avail / blockAlign).toInt
        if (n <= 0) return null
        val grid = new Array[Double](nWin)
        var w = 0
        while (w < nWin) {
          val i0 = (w.toLong * n / nWin).toInt
          val i1 = math.max(i0 + 1, ((w + 1).toLong * n / nWin).toInt)
          var sumSq = 0.0
          var i = i0
          while (i < math.min(i1, n)) {
            val raw = le16(b, dataOff + i * blockAlign)
            val s = (if (raw >= 0x8000) raw - 0x10000 else raw) / 32768.0
            sumSq += s * s
            i += 1
          }
          grid(w) = math.sqrt(sumSq / math.max(math.min(i1, n) - i0, 1))
          w += 1
        }
        grid
      }
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val env =
            try envelope(r.getAs[Array[Byte]](1))
            catch { case _: Exception => null } // malformed: flag, don't throw
          if (env == null)
            org.apache.spark.sql.Row(r.get(0), false, null)
          else org.apache.spark.sql.Row(r.get(0), true, env.toSeq)
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Perceptual near-duplicate image pairs from a (idCol, gridCol)
    * frame: dHash each grid, LSH-band the 60-bit hash into the SimHash
    * 4 x 15-bit chunks (Hamming <= 3 pairs share a chunk by
    * pigeonhole — guaranteed candidates), then verify candidates
    * exactly with `bit_count(a XOR b) <= maxHamming`. Output
    * (a_id, b_id, hamming), a_id < b_id.
    *
    * Scale shape: identical to the SimHash text path — banded
    * equi-join on (band_id, band_key), never an all-pairs comparison;
    * the verify join touches only candidate pairs. Re-scaled or
    * re-encoded copies of an image pool to near-identical grids, so
    * this catches the transform dupes exact byte-hash dedup misses. */
  def imageNearDups(grids: DataFrame, idCol: String = "doc_id",
                    gridCol: String = "grid",
                    maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x15 banding guarantees recall only for maxHamming <= 3")
    val h = grids.select(col(idCol).as("id"),
      dhash60(col(gridCol)).as("dh"))
    val bands = h.select(col("id"), col("dh"),
      posexplode(array(Dedup.simhashChunks(col("dh")): _*))
        .as(Seq("band_id", "band_key")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("x.dh").as("a_dh"),
        col("y.id").as("b_id"), col("y.dh").as("b_dh"))
      .distinct()
    cand
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_dh").bitwiseXOR(col("b_dh"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
