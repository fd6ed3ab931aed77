package graft.operators.ext

import graft.operators.Par
import org.apache.spark.sql.{DataFrame, Dataset, Row, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: media payloads as opaque binary columns with
  * typed metadata, plus the decode/feature-extract plumbing a training-data
  * pipeline needs.
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * container): [[FakeDecoder]] is a deterministic stand-in with the same
  * shape a real decoder would have (bytes in → fixed-width feature row out).
  * Everything around it — schema, batch iteration, partition-parallel
  * execution, feature schema — is real and tested.
  *
  * 100 TB design: payloads ride in the same rows as metadata (no side
  * channel); decode runs via mapPartitions so per-partition codec state is
  * initialized once, not per row; feature extraction emits fixed-width
  * vectors so downstream similarity ops (Similarity.scala) apply unchanged.
  */
object Multimodal {

  /** Feature row produced by a [[MediaCodec]]. */
  final case class MediaFeatures(doc_id: Long, mime: String, n_bytes: Int,
                                 width: Int, height: Int, features: Array[Float])

  /** The codec seam: bytes in → fixed-width feature row out. Two impls ship:
    * [[FakeDecoder]] (md5-derived stand-in — replays exactly in DuckDB, so
    * the declared x4 replay rows keep it) and [[ImageIoDecoder]] (REAL pixel
    * decode via the JDK's javax.imageio — exercised by x4_real_decode under
    * a quality-style gate, since pixel decoding has no cross-engine replay).
    */
  trait MediaCodec extends Serializable {
    def decode(id: Long, mime: String, payload: Array[Byte]): MediaFeatures
  }

  /** Deterministic fake decoder — STUB for the real image/audio codec.
    * Derives pseudo-dimensions and a 8-dim byte-histogram "feature vector"
    * from the payload bytes alone, so tests are reproducible.
    *
    * The pseudo-dimensions are an md5-derived integer transform of the
    * payload BYTES (first 4 digest bytes as an unsigned 32-bit int, mod
    * 640/480) — not just the length — so the decode plumbing has an exact
    * cross-engine oracle: any engine with md5 can recompute them and verify
    * the payload actually flowed through the codec unchanged.
    */
  object FakeDecoder extends MediaCodec {
    def decode(id: Long, mime: String, payload: Array[Byte]): MediaFeatures = {
      val hist = new Array[Float](8)
      var i = 0
      while (i < payload.length) { hist((payload(i) & 0xff) % 8) += 1f; i += 1 }
      val n = math.max(payload.length, 1)
      var j = 0
      while (j < 8) { hist(j) /= n.toFloat; j += 1 }
      val md = java.security.MessageDigest.getInstance("MD5").digest(payload)
      val h = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
        ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
      MediaFeatures(id, mime, payload.length,
        width = (h % 640L).toInt, height = (h % 480L).toInt, features = hist)
    }
  }

  /** REAL image decoder over the JDK's javax.imageio (headless-safe, no
    * external libs): payload bytes → BufferedImage → true pixel dimensions +
    * an 8-bin LUMINANCE histogram (integer Rec.601 luma per pixel, binned by
    * /32, counts divided once by the pixel count). All arithmetic up to the
    * final division is integer, and PNG is lossless, so a decoded image
    * yields bit-identical features to the same histogram computed on the
    * source pixels — which is exactly what x4_real_decode gates on. Fails
    * loudly on undecodable bytes: silent nulls would turn codec breakage
    * into dropped rows.
    */
  object ImageIoDecoder extends MediaCodec {
    def decode(id: Long, mime: String, payload: Array[Byte]): MediaFeatures = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, s"undecodable image payload for doc $id (mime=$mime)")
      val w = img.getWidth; val h = img.getHeight
      val counts = new Array[Int](8)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          counts(lum / 32) += 1
          x += 1
        }
        y += 1
      }
      val n = (w * h).toFloat
      MediaFeatures(id, mime, payload.length, w, h, counts.map(_ / n))
    }
  }

  /** Deterministic PNG fixture generator for the real-codec gate: per doc id,
    * renders a small RGB image (size and every pixel are integer functions of
    * the id) and encodes it to REAL PNG bytes with javax.imageio, alongside
    * the EXPECTED dimensions and luminance histogram computed directly from
    * the source pixels before encoding. Runs in mapPartitions on executors —
    * the fixture scales with the corpus, nothing is rendered on the driver.
    */
  def renderPngs(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = 8 + (id % 9).toInt; val h = 8 + (id % 7).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val counts = new Array[Int](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = ((id * 31 + x * 17 + y * 7) % 256).toInt
            val g = ((id * 13 + x * 5 + y * 11) % 256).toInt
            val b = ((id * 7 + x * 3 + y * 13) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            counts((r * 299 + g * 587 + b * 114) / 1000 / 32) += 1
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, "image/png", bos.toByteArray,
          w, h, counts.map(_ / (w * h).toFloat))
      }
    }.toDF("doc_id", "mime", "payload", "exp_width", "exp_height", "exp_features")
  }

  /** Audio-side codec seam, mirroring [[MediaCodec]]: decode an audio
    * container to exact integer features (sample count + sum of absolute
    * amplitudes — both integers, so any engine agrees bit-for-bit).
    */
  trait AudioCodec extends Serializable {
    def decode(id: Long, payload: Array[Byte]): (Int, Long)
  }

  /** REAL WAV decoding via javax.sound.sampled (headless JDK, no external
    * libs): parses the RIFF/fmt chunks, streams the PCM frames, and
    * reassembles signed 16-bit little-endian samples. PCM is lossless, so
    * decoded samples equal the rendered ones exactly.
    */
  object WavDecoder extends AudioCodec {
    def decode(id: Long, payload: Array[Byte]): (Int, Long) = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
          s"doc $id: expected 16-bit mono LE PCM, got $fmt")
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        var sumAbs = 0L
        var i = 0
        while (i < n) {
          val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort
          sumAbs += math.abs(s.toLong)
          i += 1
        }
        (n, sumAbs)
      } finally in.close()
    }
  }

  /** Deterministic WAV fixture generator (the audio twin of [[renderPngs]]):
    * per doc id, synthesizes 16-bit mono PCM whose length and every sample
    * are integer functions of the id, encodes REAL WAV bytes with
    * javax.sound, and carries the expected sample count and absolute-sum
    * computed from the source samples before encoding. mapPartitions on
    * executors — the fixture scales with the corpus.
    */
  def renderWavs(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = 256 + (id % 128).toInt
        val samples = new Array[Short](n)
        var sumAbs = 0L
        var i = 0
        while (i < n) {
          val s = (((id * 31 + i.toLong * i * 7) % 65536) - 32768).toShort
          samples(i) = s
          sumAbs += math.abs(s.toLong)
          i += 1
        }
        val pcm = new Array[Byte](n * 2)
        i = 0
        while (i < n) { // little-endian signed 16-bit
          pcm(2 * i) = (samples(i) & 0xff).toByte
          pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (id, "audio/wav", bos.toByteArray, n, sumAbs)
      }
    }.toDF("doc_id", "mime", "payload", "exp_samples", "exp_sum_abs")
  }

  /** One-map-side-pass decode verification for audio payloads (same
    * payload-never-shuffles shape as [[decodeVerify]]).
    */
  def decodeVerifyWav(media: DataFrame, codec: AudioCodec): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"), col("exp_samples"), col("exp_sum_abs"))
      .mapPartitions { rows =>
        rows.map { r: Row =>
          val (n, sumAbs) = codec.decode(r.getLong(0), r.getAs[Array[Byte]](1))
          (r.getLong(0), n, sumAbs, n == r.getInt(2) && sumAbs == r.getLong(3))
        }
      }.toDF("doc_id", "n_samples", "sum_abs", "ok")
  }

  /** Decode-roundtrip verification in ONE map-side pass: each row's payload
    * is decoded by `codec` and compared against the expected dimensions and
    * features carried in the same row — so payload bytes live and die inside
    * a single task (never serialized into any exchange; the only shuffle in
    * a consuming query is the final scalar aggregate). Emits
    * (doc_id, width, height, ok).
    */
  def decodeVerify(media: DataFrame, codec: MediaCodec): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("mime"), col("payload"),
        col("exp_width"), col("exp_height"), col("exp_features"))
      .mapPartitions { rows =>
        rows.map { r: Row =>
          val f = codec.decode(r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2))
          val ok = f.width == r.getInt(3) && f.height == r.getInt(4) &&
            java.util.Arrays.equals(f.features, r.getAs[Seq[Float]](5).toArray)
          (f.doc_id, f.width, f.height, ok)
        }
      }.toDF("doc_id", "width", "height", "ok")
  }

  /** Frame-level codec seam for video-like containers, mirroring
    * [[MediaCodec]]: decode a MULTI-frame payload into per-frame integer
    * features (width, height, 8-bin luminance histogram per frame).
    */
  trait FrameCodec extends Serializable {
    def decodeFrames(id: Long, payload: Array[Byte]): Seq[(Int, Int, Array[Int])]
  }

  /** REAL multi-frame decode via the JDK's animated-GIF reader — the frame
    * twin of [[ImageIoDecoder]]: `getNumImages(true)` walks the actual GIF
    * frame sequence, each frame decodes to real pixels. Grayscale survives
    * the GIF palette losslessly (256-gray palette, and the integer
    * luminance of a gray pixel (299g+587g+114g)/1000 = g exactly), which is
    * what lets [[renderGifs]]' pre-encode expectations gate the decode
    * bit-for-bit.
    */
  object GifFrameDecoder extends FrameCodec {
    def decodeFrames(id: Long, payload: Array[Byte]): Seq[(Int, Int, Array[Int])] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"no reader for frame payload of doc $id")
      val r = readers.next()
      try {
        r.setInput(iis)
        (0 until r.getNumImages(true)).map { i =>
          val img = r.read(i)
          val w = img.getWidth; val h = img.getHeight
          val counts = new Array[Int](8)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
              counts(lum / 32) += 1
              x += 1
            }
            y += 1
          }
          (w, h, counts)
        }
      } finally { r.dispose(); iis.close() }
    }
  }

  /** Deterministic animated-GIF fixture for the frame-codec gate: per doc
    * id, renders 2 + id%4 grayscale frames (every pixel an integer function
    * of (id, frame, x, y)) and encodes them through the JDK GIF writer's
    * real sequence API (prepareWriteSequence/writeToSequence), alongside the
    * EXPECTED frame count and per-frame luminance histograms computed from
    * the source pixels before encoding. Executor-side mapPartitions —
    * nothing renders on the driver.
    */
  def renderGifs(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val nFrames = 2 + (id % 4).toInt
        val w = 8 + (id % 5).toInt; val h = 8 + (id % 3).toInt
        val expHists = new Array[Seq[Int]](nFrames)
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < nFrames) {
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val counts = new Array[Int](8)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val g = ((id * 31 + f * 97 + x * 17 + y * 7) % 256).toInt
                img.getRaster.setSample(x, y, 0, g)
                counts(g / 32) += 1
                x += 1
              }
              y += 1
            }
            expHists(f) = counts.toSeq
            writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
        } finally { writer.dispose(); ios.close() }
        (id, "image/gif", bos.toByteArray, w, h, nFrames, expHists.toSeq)
      }
    }.toDF("doc_id", "mime", "payload", "exp_width", "exp_height", "exp_frames", "exp_hists")
  }

  /** Per-row REAL frame-decode gate over a [[renderGifs]] frame: decode the
    * payload through `codec`, compare frame count, every frame's dimensions,
    * and every frame's integer luminance histogram against the pre-encode
    * expectations. One map-side pass; payload bytes never reach an exchange.
    */
  def decodeVerifyFrames(media: DataFrame, codec: FrameCodec): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"),
        col("exp_width"), col("exp_height"), col("exp_frames"), col("exp_hists"))
      .mapPartitions { rows =>
        rows.map { r: Row =>
          val frames = codec.decodeFrames(r.getLong(0), r.getAs[Array[Byte]](1))
          val expW = r.getInt(2); val expH = r.getInt(3)
          val expHists = r.getSeq[scala.collection.Seq[Int]](5)
          val ok = frames.size == r.getInt(4) &&
            frames.zip(expHists).forall { case ((w, h, hist), eh) =>
              w == expW && h == expH && hist.toSeq == eh.toSeq
            }
          (r.getLong(0), frames.size, ok)
        }
      }.toDF("doc_id", "n_frames", "ok")
  }

  /** Attach a binary payload + typed metadata map to a text table — models
    * ingesting media blobs next to their source rows. Uses encode() (real
    * bytes), not a placeholder string.
    */
  def attachPayload(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      lit("text/plain").as("mime"),
      encode(col(textCol), "UTF-8").as("payload"),
      map(lit("source"), lit("inline"), lit("codec"), lit("utf-8")).as("meta"))

  /** Decode + feature-extract over the payload column. mapPartitions keeps
    * codec initialization per-partition; the output is a typed Dataset with a
    * fixed feature schema.
    */
  def decodeFeatures(media: DataFrame): Dataset[MediaFeatures] =
    decodeFeaturesWith(media, FakeDecoder)

  /** [[decodeFeatures]] with an explicit [[MediaCodec]] — the entry point for
    * real decoders ([[ImageIoDecoder]]) over the same batch plumbing.
    */
  def decodeFeaturesWith(media: DataFrame, codec: MediaCodec): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.select("doc_id", "mime", "payload").mapPartitions { rows =>
      // codec state is per-partition, initialized once, not per row
      rows.map { r: Row =>
        codec.decode(r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2))
      }
    }
  }

  /** Per-payload band hashes: md5 over fixed byte windows of the binary
    * payload, one (doc_id, band, bh) row per FULL window (the ragged tail is
    * dropped so every hash covers exactly `windowBytes` bytes). This is the
    * image-dedup analog of SimHash banding: two payloads sharing any aligned
    * window collide on that band's hash.
    */
  def bandHashes(media: DataFrame, windowBytes: Int): DataFrame =
    media.select(col("doc_id"), posexplode(expr(
      s"case when length(payload) >= $windowBytes " +
        s"then transform(sequence(0, int(length(payload) / $windowBytes) - 1), " +
        s"i -> md5(substring(payload, i * $windowBytes + 1, $windowBytes))) " +
        "else array() end")).as(Seq("band", "bh")))

  /** X4: perceptual-hash-style near-dup over payload BYTES — band the payload
    * into fixed windows, hash each with md5, and pair documents sharing at
    * least `minMatch` aligned (band, hash) collisions. Returns
    * (id_a, id_b, n_match).
    *
    * Same narrow-candidates architecture as MinHash/SimHash banding: the
    * self-join moves (doc_id, band, 32-char hash) rows only — payload bytes
    * never shuffle — and collisions are exact window equality, so recall is
    * exact for any pair sharing an aligned window. 100 TB shape: linear scan
    * to hash, equi-join on (band, hash) for candidates; an exact-dup cluster
    * of k payloads emits ~k² candidate rows per band — the same bounded
    * local-density cost the text LSH path carries.
    */
  def bandHashPairs(media: DataFrame, windowBytes: Int, minMatch: Int): DataFrame = {
    // checkpointed once: the self-join would otherwise re-execute the
    // payload scan + hash on both sides
    val Seq(b) = Par.materialize(bandHashes(media, windowBytes))
    b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") >= minMatch)
  }

  /** Deterministic PNG fixture with PLANTED perceptual near-duplicates: ids
    * 2k and 2k+1 render the SAME base image (every pixel a function of
    * gid = id/2), with the odd id perturbing exactly one corner pixel —
    * invisible to a perceptual hash, fatal to any byte-level comparison
    * (PNG bytes differ). Base patterns vary by gid, so distinct groups are
    * perceptually far. This is the fixture a perceptual image-dedup gate
    * needs: the true near-dup pair set is EXACTLY {(2k, 2k+1)}, an
    * SQL-expressible oracle.
    */
  def renderNearDupPngs(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val gid = id / 2
        val w = 16 + (gid % 9).toInt; val h = 16 + (gid % 7).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        // pseudo-random pixels per group (integer avalanche mix — a linear
        // gradient would give every group near-identical gradient-SIGN
        // structure and spurious cross-group dHash collisions; random
        // textures put cross-group Hamming near 32 of 64)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var v = gid * 2654435761L + x * 40503L + y * 65027L
            v ^= v >>> 13; v *= 1274126177L; v ^= v >>> 16
            img.setRGB(x, y, (v & 0xffffff).toInt)
            x += 1
          }
          y += 1
        }
        if (id % 2 == 1) // the perceptually-invisible perturbation
          img.setRGB(0, 0, img.getRGB(0, 0) ^ 0x000008)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, "image/png", bos.toByteArray)
      }
    }.toDF("doc_id", "mime", "payload")
  }

  /** 64-bit difference hash (dHash) of an encoded image — the standard
    * perceptual fingerprint (gradient signs survive re-encoding, minor
    * pixel noise, and small edits that change every byte of the container):
    * decode, integer-luminance, block-mean downsample to a 9×8 grid with
    * hand-rolled integer arithmetic (floor block bounds, floor mean — NO
    * Graphics2D rescaling, whose interpolation is JDK-implementation-
    * defined), then one bit per horizontally-adjacent cell pair
    * (left < right), packed row-major into a long.
    */
  def dHash64(payload: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "undecodable image payload")
    val w = img.getWidth; val h = img.getHeight
    val cell = Array.ofDim[Long](8, 9)
    var j = 0
    while (j < 8) {
      val y0 = j * h / 8; val y1 = math.max((j + 1) * h / 8, y0 + 1)
      var i = 0
      while (i < 9) {
        val x0 = i * w / 9; val x1 = math.max((i + 1) * w / 9, x0 + 1)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            n += 1; x += 1
          }
          y += 1
        }
        cell(j)(i) = if (n == 0) 0L else sum / n
        i += 1
      }
      j += 1
    }
    var hash = 0L
    j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        if (cell(j)(i) < cell(j)(i + 1)) hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** X4: PERCEPTUAL image near-dup pairs — dHash each payload (one map-side
    * pass; payload bytes never shuffle after it), then the SimHash banding
    * idiom: 4 × 16-bit bands give pigeonhole-exact candidate recall for
    * Hamming ≤ 3, popcount verifies candidates only. The image counterpart
    * of x2_simhash_pairs, and the operator that catches re-encoded /
    * slightly-edited duplicate images where exact byte hashing
    * ([[bandHashPairs]]) sees nothing.
    */
  def imageDHashPairs(media: DataFrame, maxHamming: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => (id, dHash64(p)) })
      .toDF("doc_id", "dhash")
    bandedHammingPairs(hashes, maxHamming)
  }

  /** The 64-bit-fingerprint near-dup join shared by the image and audio
    * perceptual dedups: 4 × 16-bit bands give PIGEONHOLE-EXACT candidate
    * recall for Hamming ≤ 3 (a pair within 3 flipped bits must agree on at
    * least one untouched band), popcount verifies candidates only. Input:
    * (doc_id, dhash); the hash frame is checkpointed once so both join
    * sides read one computation (fingerprinting decodes payloads — the
    * expensive pass — and payload bytes never reach this join at all).
    */
  private def bandedHammingPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, s"4x16-bit banding is pigeonhole-exact only to Hamming 3")
    val Seq(pinned) = Par.materialize(hashes)
    val banded = pinned.select(col("doc_id"), col("dhash"),
      explode(expr("transform(sequence(0, 3), b -> named_struct(" +
        "'band', b, 'key', (dhash >> (b * 16)) & 65535))")).as("bk"))
      .select(col("doc_id"), col("dhash"), col("bk.band"), col("bk.key"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.dhash").as("ha"), col("y.dhash").as("hb"))
      .distinct()
      .withColumn("hd", expr("bit_count(ha ^ hb)"))
      .filter(col("hd") <= maxHamming)
      .select("id_a", "id_b", "hd")
  }

  /** 64-bit chromaprint-STYLE audio fingerprint: decode the WAV, lay the
    * PCM out as an 8 (time window) × 9 (sub-block) grid of mean absolute
    * amplitudes (integer floor arithmetic, floor block bounds — the audio
    * analogue of [[dHash64]]'s block-mean grid; energy means over tens of
    * samples survive re-encodes and sample-level noise the way byte hashes
    * don't), then one sign-of-difference bit per adjacent energy pair,
    * packed row-major. Chromaprint derives its bits from the sign of
    * band-energy differences over an FFT filterbank; this keeps exactly
    * that sign-of-energy-difference structure with time-domain block
    * energies, so the whole fingerprint is integer-exact and
    * implementation-stable (no FFT library, no float rounding).
    */
  def audioFingerprint64(payload: Array[Byte]): Long = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val bytes =
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
          s"expected 16-bit mono LE PCM, got $fmt")
        in.readAllBytes()
      } finally in.close()
    val n = bytes.length / 2
    require(n >= 72, s"audio too short to fingerprint: $n samples")
    val cell = Array.ofDim[Long](8, 9)
    var j = 0
    while (j < 8) {
      val s0 = j * n / 8; val s1 = math.max((j + 1) * n / 8, s0 + 1)
      val len = s1 - s0
      var i = 0
      while (i < 9) {
        val b0 = s0 + i * len / 9; val b1 = math.max(s0 + (i + 1) * len / 9, b0 + 1)
        var sum = 0L; var cnt = 0L
        var k = b0
        while (k < math.min(b1, n)) {
          val s = ((bytes(2 * k + 1) << 8) | (bytes(2 * k) & 0xff)).toShort
          sum += math.abs(s.toLong)
          cnt += 1; k += 1
        }
        cell(j)(i) = if (cnt == 0) 0L else sum / cnt
        i += 1
      }
      j += 1
    }
    var hash = 0L
    j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        if (cell(j)(i) < cell(j)(i + 1)) hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** X4: PERCEPTUAL audio near-dup pairs — [[audioFingerprint64]] each
    * payload (one map-side decode pass; payload bytes never shuffle), then
    * the shared 4×16-bit pigeonhole band join. The audio counterpart of
    * [[imageDHashPairs]]: catches re-encoded / noise-perturbed duplicate
    * recordings where exact byte banding ([[bandHashPairs]]) sees nothing.
    */
  def audioFingerprintPairs(media: DataFrame, maxHamming: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => (id, audioFingerprint64(p)) })
      .toDF("doc_id", "dhash")
    bandedHammingPairs(hashes, maxHamming)
  }

  /** Near-dup WAV fixture (the audio twin of [[renderNearDupPngs]]): ids 2k
    * and 2k+1 render the same pseudo-random PCM (integer avalanche mix per
    * group — adjacent block energies then differ by thousands, far above
    * the perturbation scale), with the odd id's samples LSB-flipped every
    * 101st sample — an amplitude-±1 change that alters every WAV byte
    * region a byte hash would band on, but moves each block's mean energy
    * by well under one unit. The true near-dup pair set is EXACTLY
    * {(2k, 2k+1)}: an SQL-expressible oracle over planted ground truth,
    * even though PCM is not SQL-reachable.
    */
  def renderNearDupWavs(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val gid = id / 2
        val n = 2048 + (gid % 512).toInt
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          var v = gid * 2654435761L + i.toLong * 40503L
          v ^= v >>> 13; v *= 1274126177L; v ^= v >>> 16
          var s = ((v & 0xffffL) - 32768).toShort
          if (id % 2 == 1 && i % 101 == 0) s = (s ^ 1).toShort // the inaudible edit
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (id, "audio/wav", bos.toByteArray)
      }
    }.toDF("doc_id", "mime", "payload")
  }

  /** Resize shape for image-like payloads: deterministic byte-stride
    * downsample — every `stride`-th byte of the payload becomes the
    * "resized" payload (STUB for a real image resample; the bytes→bytes
    * transform plumbing, the size contract, and the re-decode of the
    * resized artifact are the real parts). Map-side only: resizing never
    * shuffles, it narrows a scan by ~stride×.
    *
    * BINARY-SAFE: the strided bytes are concatenated as binary (substring
    * on a binary column slices bytes; concat over binary stays binary), so
    * any payload — not just valid UTF-8 — resizes without corruption. (A
    * previous form round-tripped through string, which rewrote every byte
    * ≥ 0x80 into the 3-byte U+FFFD replacement.)
    */
  def resizePayload(media: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, "stride must be positive")
    media.select(col("doc_id"), col("mime"), col("payload"),
      expr(s"aggregate(transform(sequence(0, int((length(payload) + $stride - 1) / $stride) - 1), " +
        s"i -> substring(payload, i * $stride + 1, 1)), X'', (acc, b) -> concat(acc, b))").as("resized"))
  }

  /** Frame sampling shape for video-like payloads: every k-th chunk of the
    * payload becomes one "frame" row (explode). Deterministic stand-in for
    * keyframe extraction; the row-explosion plumbing is the real part.
    */
  def sampleFrames(media: DataFrame, chunkBytes: Int, everyK: Int): DataFrame =
    media.select(col("doc_id"), col("mime"),
        expr(s"filter(transform(sequence(0, int(length(payload) / $chunkBytes)), " +
          s"i -> case when i % $everyK = 0 then substring(payload, i * $chunkBytes + 1, $chunkBytes) end), x -> x is not null)")
          .as("frames"))
      .select(col("doc_id"), col("mime"), posexplode(col("frames")).as(Seq("frame_no", "frame")))
}
