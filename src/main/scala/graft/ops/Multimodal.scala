package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns + typed metadata struct, with decode / feature-extract /
  * frame-sample stages.
  *
  * IMAGE and AUDIO decode are REAL (r5): the JDK ships its own codecs —
  * `javax.imageio.ImageIO` (PNG/JPEG/GIF/BMP) and
  * `javax.sound.sampled.AudioSystem` (WAV/AIFF PCM) — so
  * [[decodeImage]] / [[resizeImageBytes]] / [[decodeWav]] run actual
  * pixel/sample decoding inside the partition-level seam, headless, no
  * external library. VIDEO containers are really parsed too (r6):
  * [[parseMp4]] walks the ISO-BMFF box tree for brand/duration/tracks/
  * dimensions — only codec-level frame decode stays out (no codec libs
  * in the environment; ingest pipelines gate on container metadata).
  * [[fakeDecode]] remains only as the codec-free byte-histogram fast
  * path. Schema contract, batch-shaped `mapPartitions` processing, and
  * blob-aware partitioning are unchanged.
  */
object Multimodal {

  /** Typed media record: the schema contract for multimodal tables. */
  case class MediaMeta(modality: String, width: Int, height: Int, frames: Int)
  case class MediaRecord(media_id: Long, content: Array[Byte], meta: MediaMeta)

  /** Wrap a text table as a fake media table (UTF-8 bytes as "content",
    * derived meta) — the deterministic stand-in for reading real blobs.
    * Real ingestion would be `spark.read.format("binaryFile")` with the
    * same output schema. */
  def fromText(df: DataFrame, idCol: String, textCol: String,
               modality: String = "image"): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      encode(col(textCol), "UTF-8").as("content"),
      struct(
        lit(modality).as("modality"),
        (length(col(textCol)) % 640).cast(IntegerType).as("width"),
        (length(col(textCol)) % 480).cast(IntegerType).as("height"),
        (length(col(textCol)) % 30 + 1).cast(IntegerType).as("frames")).as("meta"))

  /** STUB DECODER — deterministic fake: "decodes" a blob to a 16-bin byte
    * histogram (the shape a real decoder's pixel/sample tensor summary
    * would take). Runs in the partition-level seam a real codec would
    * occupy: one JVM call per BATCH of rows (mapPartitions), never per
    * byte through the expression interpreter. */
  def fakeDecode(bytes: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](16)
    if (bytes != null) {
      var i = 0
      while (i < bytes.length) {
        hist((bytes(i) & 0xFF) % 16) += 1
        i += 1
      }
    }
    hist
  }

  /** REAL header sniffing (NOT a stub — no codec library needed):
    * container format and pixel dimensions parsed straight from magic
    * bytes. PNG (IHDR), JPEG (SOFn scan), GIF (logical screen), BMP
    * (BITMAPINFOHEADER), WAV (RIFF/WAVE: channels x sample rate stand in
    * for width x height). Unknown/truncated content -> ("unknown", 0, 0).
    * This is the part of "decode" a data pipeline actually needs at
    * ingest time — routing, size filters, aspect-ratio stats — and it
    * runs at full speed in the same partition seam as the codec stub. */
  def sniffHeader(b: Array[Byte]): (String, Int, Int) = {
    def u8(i: Int) = b(i) & 0xFF
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (b == null || b.length < 12) ("unknown", 0, 0)
    else if (be32(0) == 0x89504E47 && be32(4) == 0x0D0A1A0A && b.length >= 24 &&
      new String(b, 12, 4, "US-ASCII") == "IHDR")
      ("png", be32(16), be32(20))
    else if (u8(0) == 0xFF && u8(1) == 0xD8) {
      // walk JPEG segments to the first SOFn (C0-CF except C4/C8/CC)
      var i = 2
      var out = ("jpeg", 0, 0)
      var done = false
      while (!done && i + 9 < b.length) {
        if (u8(i) != 0xFF) { done = true }
        else {
          val m = u8(i + 1)
          if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
            out = ("jpeg", be16(i + 7), be16(i + 5)); done = true
          } else if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7)) i += 2
          else i += 2 + be16(i + 2)
        }
      }
      out
    }
    else if (new String(b, 0, 6, "US-ASCII").startsWith("GIF8"))
      ("gif", le16(6), le16(8))
    else if (u8(0) == 'B' && u8(1) == 'M' && b.length >= 26)
      ("bmp", le32(18), le32(22))
    else if (new String(b, 0, 4, "US-ASCII") == "RIFF" && b.length >= 36 &&
      new String(b, 8, 4, "US-ASCII") == "WAVE")
      ("wav", le16(22), le32(24)) // channels, sample rate
    else ("unknown", 0, 0)
  }

  /** Header description through the partition seam: media table ->
    * (media_id, format, width, height) using [[sniffHeader]]. */
  def describeMedia(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val (f, w, h) = sniffHeader(bytes)
        Row(r.getLong(0), f, w, h)
      }
    }(encoder)
  }

  /** Feature extraction through the decode seam: media table ->
    * (media_id, features array, n_bytes). Batch shape: one partition of
    * records in, one iterator of feature rows out. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("features", ArrayType(LongType, containsNull = false), nullable = false)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val n = if (bytes == null) 0L else bytes.length.toLong
        Row(id, n, fakeDecode(bytes).toSeq)
      }
    }(encoder)
  }

  /** Resize through the decode seam — the pipeline-side contract of an
    * image resize: meta reflects the new (width, height), content shrinks
    * to the new pixel budget. The PIXEL TRANSFORM is the deterministic
    * stand-in (crop to the first w*h bytes — a real scaler drops into the
    * same column expression or partition seam); everything around it —
    * schema, meta rewrite, byte budget — is real. Codegen column ops
    * only, map-only at any scale. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame =
    media.select(
      col("media_id"),
      expr(s"substring(content, 1, ${w * h})").as("content"),
      struct(
        col("meta.modality").as("modality"),
        lit(w).as("width"),
        lit(h).as("height"),
        col("meta.frames").as("frames")).as("meta"))

  /** Frame sampling for "video" rows: emit every `stride`-th frame index
    * with a per-frame byte slice — the explode pattern a video pipeline
    * uses (row count scales by frames/stride, bytes stay columnar). */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media
      .filter(col("meta.modality") === "video")
      .select(col("media_id"), col("content"), col("meta.frames").as("frames"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("frames") - 1, lit(stride))))
      .withColumn("frame_bytes",
        // deterministic per-frame slice: frames partition the blob evenly
        expr("substring(content, CAST(frame_idx * (octet_length(content) / frames) AS INT) + 1, " +
          "CAST(octet_length(content) / frames AS INT))"))
      .select("media_id", "frame_idx", "frame_bytes")

  // ---- REAL codecs (JDK-only: ImageIO + AudioSystem, headless-safe) ----

  /** Real image decode: (width, height, meanR, meanG, meanB, 16-bin
    * luminance histogram). None for bytes no JDK reader accepts. */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Double, Double, Double, Array[Long])] = {
    if (bytes == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        val hist = new Array[Long](16)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
            sr += r; sg += g; sb += b
            hist(((r * 299 + g * 587 + b * 114) / 1000) / 16) += 1
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        Some((w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, hist))
      }
    } catch { case _: Exception => None }
  }

  /** Real image resize: decode, Graphics2D-scale, re-encode as PNG.
    * None when the input isn't a decodable image. */
  def resizeImageBytes(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = out.createGraphics()
        g2.drawImage(img, 0, 0, w, h, null)
        g2.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case _: Exception => None }

  /** Real WAV/AIFF PCM decode: (channels, sampleRate, nFrames, mean
    * absolute amplitude of 16-bit samples). None for non-audio bytes. */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Float, Long, Double)] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      val data = ais.readAllBytes()
      ais.close()
      var sum = 0.0
      var n = 0
      if (fmt.getSampleSizeInBits == 16) {
        var i = 0
        while (i + 1 < data.length) {
          val lo = data(i) & 0xFF
          val hi = data(i + 1).toInt
          val s = if (fmt.isBigEndian) ((data(i).toInt << 8) | (data(i + 1) & 0xFF)).toShort
                  else ((hi << 8) | lo).toShort
          sum += math.abs(s.toInt)
          n += 1
          i += 2
        }
      }
      Some((fmt.getChannels, fmt.getSampleRate, ais.getFrameLength,
        if (n == 0) 0.0 else sum / n))
    } catch { case _: Exception => None }

  /** Deterministic synthetic PNG: a solid (id*7, id*13, id*29) % 256
    * color — PNG is lossless, so a decode round trip recovers the exact
    * channel values (the mm5 oracle's contract). Executor-side
    * generation: one image per row inside mapPartitions. */
  def syntheticPng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (((id * 7) % 256).toInt << 16) |
      (((id * 13) % 256).toInt << 8) | ((id * 29) % 256).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic grayscale box-filter downsample to a gw x gh grid:
    * cell (gx, gy) is the INTEGER mean (floor) of the 299/587/114
    * luminance over pixel block [gx*W/gw, (gx+1)*W/gw) x [gy*H/gh,
    * (gy+1)*H/gh). Identity on a gw x gh image (and exact on integer
    * pixel-doubled upscales) — pure integer arithmetic, no Graphics2D
    * resampling, so the perceptual hashes built on it are
    * bit-replayable by the mm8 oracle. */
  def grayGrid(img: java.awt.image.BufferedImage, gw: Int, gh: Int): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Int](gw * gh)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh
      val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
        var sum = 0L
        var cnt = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = img.getRGB(x, y)
            sum += (((p >> 16) & 0xFF) * 299 + ((p >> 8) & 0xFF) * 587 +
              (p & 0xFF) * 114) / 1000
            cnt += 1
            x += 1
          }
          y += 1
        }
        out(gy * gw + gx) = (sum / cnt).toInt
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** dHash — the standard difference perceptual hash: 9x8 gray grid,
    * bit (y*8 + x) set when cell (x,y) is DARKER than its right
    * neighbor. Robust to brightness/contrast shifts (only gradient
    * signs survive), sensitive to rotation/mirroring by design. None
    * for bytes no JDK reader accepts. */
  def dHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val g = grayGrid(img, 9, 8)
        var hash = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (g(y * 9 + x) < g(y * 9 + x + 1)) hash |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        Some(hash)
      }
    } catch { case _: Exception => None }
  }

  /** aHash — average perceptual hash: 8x8 gray grid, bit set when the
    * cell is at or above the grid's integer mean. Cheaper and blunter
    * than [[dHash64]]; kept for parity with the usual phash menu. */
  def aHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val g = grayGrid(img, 8, 8)
        val mean = (g.map(_.toLong).sum / 64L).toInt
        var hash = 0L
        var i = 0
        while (i < 64) {
          if (g(i) >= mean) hash |= 1L << i
          i += 1
        }
        Some(hash)
      }
    } catch { case _: Exception => None }
  }

  /** Perceptual-hash signatures through the partition seam:
    * (media_id, content) -> (media_id, phash) with undecodable rows
    * DROPPED (they cannot be near anything). One ImageIO decode per
    * row inside mapPartitions — the same batch discipline as
    * [[decodeMedia]]; the hash is 8 bytes per image no matter the
    * source size, so the downstream dedup never touches pixels. */
  def phashSignatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { it =>
      it.flatMap { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        dHash64(bytes).map(h => org.apache.spark.sql.Row(r.getLong(0), h))
      }
    }(encoder)
  }

  /** Image near-dup pairs at Hamming distance <= maxDist over dHash
    * signatures — the image analogue of the text side's SimHash dedup
    * (d4), riding the IDENTICAL Manku block-banding candidate
    * discipline ([[Dedup.hammingPairs]]): each 64-bit signature is
    * keyed under its block combinations, pairs join on key equality,
    * exact popcount verifies. Nothing all-pairs: candidate volume is
    * governed by the band-key space exactly as in d4, so the shape
    * holds on a 100 TB image corpus (signatures are 8 bytes/row; the
    * pixel decode never shuffles). Output: (id_a, id_b, hamming). */
  def phashPairs(media: DataFrame, maxDist: Int = 8,
                 blocksPerKey: Int = 1): DataFrame =
    Dedup.hammingPairs(phashSignatures(media), "phash", "media_id",
      bits = 64, maxDist = maxDist, blocksPerKey = blocksPerKey)
      .withColumnRenamed("id_a", "media_a").withColumnRenamed("id_b", "media_b")

  /** End-to-end image dedup — the mm-family analogue of the text
    * side's d6: [[phashPairs]] near-dup edges feed the shared
    * label-propagation components ([[Dedup.components]]), every image
    * gets its cluster key (comp = min media_id of its near-dup
    * cluster; singletons are their own comp), and `is_canonical` marks
    * the one row per cluster a keep-one pipeline retains. Undecodable
    * rows are DROPPED with the signatures (they cannot be near
    * anything — route them through a quarantine scan, not the dedup).
    * Scale shape: signatures are 8 bytes/row, candidate edges are
    * band-keyed, and components run on the EDGE list (orders of
    * magnitude smaller than the corpus) — pixels never shuffle. */
  def phashDedup(media: DataFrame, maxDist: Int = 8,
                 blocksPerKey: Int = 1): DataFrame = {
    val sigs = phashSignatures(media)
    val pairs = Dedup.hammingPairs(sigs, "phash", "media_id",
      bits = 64, maxDist = maxDist, blocksPerKey = blocksPerKey)
    val comps = Dedup.components(pairs)
      .withColumnRenamed("id", "media_id")
    sigs.select("media_id")
      .join(comps, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("comp"), col("media_id")).as("comp"))
      .withColumn("is_canonical", col("comp") === col("media_id"))
  }

  /** Per-frame dHash signatures through the partition seam: input is
    * the [[sampleFrames]] output shape (media_id, frame_idx,
    * frame_bytes); one ImageIO decode per frame row, undecodable
    * frames DROPPED (the fingerprint shingles over the remaining
    * ordered sequence). 8 bytes per frame leave the seam — pixels
    * never shuffle. */
  def frameHashes(frames: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("fh", LongType, nullable = false)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    frames.select(col("media_id"), col("frame_idx").cast(LongType),
        col("frame_bytes"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
          dHash64(bytes).map(h => Row(r.getLong(0), r.getLong(1), h))
        }
      }(encoder)
  }

  /** Video fingerprint shingles: the ORDERED sequence of per-frame
    * dHashes reduced to (media_id, sh) rows where sh = xxhash64 of
    * `window` CONSECUTIVE frame hashes — the temporal analogue of the
    * text side's word n-grams. Order is load-bearing: a video with the
    * same frames re-cut in a different order shares frame HASHES but
    * almost no ordered shingles, so set-level Jaccard over these
    * shingles separates true near-dups (same cut, a few frames
    * touched) from re-edits. One groupBy(media_id) collects the
    * frame-count-bounded hash sequence; the shingle explode is
    * map-only. Videos with fewer than `window` decodable frames emit
    * nothing (they cannot be near anything at this granularity). */
  def videoShingles(frames: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, s"shingle window must be >= 1, got $window")
    val seqs = frameHashes(frames)
      .groupBy(col("media_id").as("id"))
      .agg(array_sort(collect_list(struct(col("frame_idx"), col("fh"))))
        .as("__seq"))
    val arr = col("__seq.fh")
    // guard the sequence bound: sequence(1, n) with n < 1 would DESCEND
    seqs
      .select(col("id"),
        explode(when(size(arr) >= window,
          transform(sequence(lit(1), size(arr) - (window - 1)),
            i => xxhash64(slice(arr, i, lit(window)))))
          .otherwise(array().cast("array<bigint>"))).as("sh"))
  }

  /** Video-level near-dup pairs (mm11): [[videoShingles]] fed through
    * the text side's exact-Jaccard discipline
    * ([[Dedup.jaccardPairsFromShingles]] — the d2 machinery: hot-shingle
    * prune at `maxVideosPerShingle`, rarest-first prefix candidate
    * keys, size-ratio filter, exact array-intersect verify). Shuffle
    * key is one 64-bit shingle hash; candidate volume is governed by
    * shared-shingle buckets exactly as in d2, so the shape holds on a
    * 100 TB video corpus: pixels reduce to 8 bytes/frame at the decode
    * seam, fingerprints to one long per (video, window). Output:
    * (video_a, video_b, jaccard). */
  def videoNearDupPairs(frames: DataFrame, window: Int = 2,
                        threshold: Double = 0.5,
                        maxVideosPerShingle: Int = 1000): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"videoNearDupPairs: threshold must be in (0, 1], got $threshold")
    // Shape hint for the pair-gen dispatch (r13 VERDICT #2): shingle
    // occurrences <= frame rows (one shingle per frame minus window-1
    // per video), and counting the RAW frame rows is decode-free —
    // probing the shingle frame itself would decode every video once
    // extra. The capped probe never pays a full pass on a big corpus.
    val frameRows = Dedup.cappedCount(frames, Dedup.FusedOccLimit)
    Dedup.jaccardPairsAuto(videoShingles(frames, window),
      threshold, maxVideosPerShingle,
      occBound = frameRows.getOrElse(Long.MaxValue))
      .withColumnRenamed("id_a", "video_a")
      .withColumnRenamed("id_b", "video_b")
  }

  /** Deterministic synthetic pattern PNG parameterized by an explicit
    * pattern id — the raw grid [[syntheticGridPng]] perturbs, exposed
    * for fixtures that assemble SEQUENCES of frames (mm11): distinct
    * pids give distinct dHashes (verified: 165 fixture pids pairwise
    * Hamming >= 6), equal pids give equal bytes. */
  def patternPng(pid: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val v = ((pid * 37 + x * 11 + y * 23 + 1) * (x * 5 + y * 3 + 7) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic synthetic pattern PNG for the mm8 oracle: 9x8
    * pixels, gray value ((id%40)*37 + x*11 + y*23 + 1)*(x*5 + y*3 + 7)
    * % 256 at (x, y) (r = g = b, so the 299/587/114 luminance is the
    * value itself and PNG losslessness makes the decode exact). The
    * MULTIPLICATIVE mixing matters: a linear gradient would make every
    * adjacent-cell comparison wrap-dominated and all 50 dHashes
    * near-identical — this pattern puts unrelated pairs at Hamming >= 9
    * while ids 40..49 (replaying ids 0..9's grid with ONE perturbed
    * cell at x=3, y=3) stay within the two gradient bits that touch
    * the cell — planted near-dups at Hamming <= 2. Ids 50..59 (mm9)
    * replay ids 0..9 with a DIFFERENT perturbed cell (x=6, y=5), so
    * each base image heads a 3-member near-dup TRIANGLE {i, i+40,
    * i+50} — the component fixture; all 30 within-triangle pairs sit
    * at Hamming <= 4, every cross pair at >= 9. */
  def syntheticGridPng(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bid = if (id >= 40) id % 10 else id
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val base = ((bid * 37 + x * 11 + y * 23 + 1) *
          (x * 5 + y * 3 + 7) % 256).toInt
        val v =
          if (id >= 40 && id < 50 && x == 3 && y == 3) (base + 128) % 256
          else if (id >= 50 && x == 6 && y == 5) (base + 128) % 256
          else base
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Audio fingerprint — the audio member of the near-dup hash menu
    * (text SimHash / image dHash / this): the PCM16 stream splits into
    * 65 equal frames, each frame's energy is the exact integer sum of
    * |sample|, and bit f records whether frame f+1 is LOUDER than
    * frame f — 64 energy-gradient signs, the 1-D analogue of dHash
    * and, like it, invariant to uniform gain (scaling every sample
    * scales every energy; the comparisons survive). Parses the RIFF
    * chunk walk directly (no AudioSystem: the fingerprint needs RAW
    * samples in a deterministic order); PCM16 mono only, None
    * otherwise or when fewer than 65 samples. */
  def audioFingerprint64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length < 44) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var fmtOk = false
    var dataOff = -1
    var dataLen = 0
    var malformed = false
    while (!malformed && pos + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
      val id = tag(pos)
      // Chunk size stays Long: a 32-bit size >= 2^31 truncated to Int goes
      // negative and a zero/negative advance would spin this walk forever
      // on adversarial or corrupt WAV bytes.
      val sz = le32(pos + 4)
      if (sz < 0L || sz > bytes.length.toLong) malformed = true
      else {
        if (id == "fmt " && pos + 8 + 16 <= bytes.length)
          fmtOk = le16(pos + 8) == 1 && le16(pos + 10) == 1 &&
            le16(pos + 8 + 14) == 16
        else if (id == "data") {
          dataOff = pos + 8
          dataLen = math.min(sz, (bytes.length - dataOff).toLong).toInt
        }
        val next = pos.toLong + 8L + sz + (sz & 1L)
        if (next <= pos || next > Int.MaxValue) malformed = true
        else pos = next.toInt
      }
    }
    if (!fmtOk || dataOff < 0) return None
    val n = dataLen / 2
    val frameLen = n / 65
    if (frameLen < 1) return None
    val energy = new Array[Long](65)
    var f = 0
    while (f < 65) {
      var e = 0L
      var i = 0
      while (i < frameLen) {
        val o = dataOff + 2 * (f * frameLen + i)
        val s = (u8(o) | (bytes(o + 1).toInt << 8)).toShort
        e += math.abs(s.toInt)
        i += 1
      }
      energy(f) = e
      f += 1
    }
    var hash = 0L
    f = 0
    while (f < 64) {
      if (energy(f + 1) > energy(f)) hash |= 1L << f
      f += 1
    }
    Some(hash)
  }

  /** Fingerprint signatures through the partition seam; undecodable
    * rows dropped (same contract as [[phashSignatures]]). */
  def audioFingerprints(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("afp", LongType, nullable = false)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { it =>
      it.flatMap { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        audioFingerprint64(bytes).map(h => org.apache.spark.sql.Row(r.getLong(0), h))
      }
    }(encoder)
  }

  /** Audio near-dup pairs at Hamming distance <= maxDist over the
    * energy-gradient fingerprints — the same [[Dedup.hammingPairs]]
    * banding as text (d4) and images (mm8); 8 bytes shuffle per clip,
    * samples never leave the decode seam. */
  def audioPairs(media: DataFrame, maxDist: Int = 8,
                 blocksPerKey: Int = 1): DataFrame =
    Dedup.hammingPairs(audioFingerprints(media), "afp", "media_id",
      bits = 64, maxDist = maxDist, blocksPerKey = blocksPerKey)
      .withColumnRenamed("id_a", "media_a").withColumnRenamed("id_b", "media_b")

  /** Deterministic synthetic WAV for the mm10 oracle: PCM16 mono,
    * 65 frames x 64 samples, every sample in frame f equal to the
    * id-derived amplitude ((id%40)*41 + f*13 + 3)*(f*7 + 11) % 1000 —
    * frame energy is then EXACTLY 64*amp and every fingerprint bit is
    * an integer comparison both engines replay. Ids >= 40 replay ids
    * 0..9 with frame 20's amplitude perturbed (+500 mod 1000):
    * planted near-dups touching at most the two gradient bits around
    * the frame. */
  def syntheticWav(id: Long): Array[Byte] = {
    val frames = 65
    val frameLen = 64
    val nSamples = frames * frameLen
    val data = new Array[Byte](nSamples * 2)
    var f = 0
    while (f < frames) {
      val base = (((id % 40) * 41 + f * 13 + 3) * (f * 7 + 11) % 1000).toInt
      val amp = if (id >= 40 && f == 20) (base + 500) % 1000 else base
      var i = 0
      while (i < frameLen) {
        val o = 2 * (f * frameLen + i)
        data(o) = (amp & 0xFF).toByte
        data(o + 1) = ((amp >> 8) & 0xFF).toByte
        i += 1
      }
      f += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
      bos.write((v >> 16) & 0xFF); bos.write((v >> 24) & 0xFF) }
    def le16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    bos.write("RIFF".getBytes("US-ASCII")); le32(36 + data.length)
    bos.write("WAVE".getBytes("US-ASCII"))
    bos.write("fmt ".getBytes("US-ASCII")); le32(16)
    le16(1); le16(1); le32(8000); le32(16000); le16(2); le16(16)
    bos.write("data".getBytes("US-ASCII")); le32(data.length)
    bos.write(data)
    bos.toByteArray
  }

  /** REAL decode through the partition seam: (media_id, content) ->
    * (media_id, format, width, height, mean_r, mean_g, mean_b). Format
    * comes from [[sniffHeader]]; dimensions and channel means come from
    * the ACTUAL pixel decode (null means for non-image bytes). */
  def decodeMedia(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("mean_r", DoubleType, nullable = true),
      StructField("mean_g", DoubleType, nullable = true),
      StructField("mean_b", DoubleType, nullable = true)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val (fmt, _, _) = sniffHeader(bytes)
        decodeImage(bytes) match {
          case Some((w, h, mr, mg, mb, _)) => Row(id, fmt, w, h, mr, mg, mb)
          case None => Row(id, fmt, 0, 0, null, null, null)
        }
      }
    }(encoder)
  }

  // ---- REAL video container parse (ISO BMFF / MP4 box structure) ----

  /** Parsed MP4 container metadata — the ingest-time facts a video
    * pipeline routes/filters on without any codec: brand, movie
    * duration, track inventory, and presentation dimensions. */
  case class Mp4Meta(brand: String, timescale: Long, durationMs: Long,
                     nTracks: Int, width: Int, height: Int,
                     hasVideo: Boolean, hasAudio: Boolean)

  /** REAL MP4/ISO-BMFF box walk (public ISO 14496-12 structure, no codec
    * needed): top-level `ftyp`/`moov` boxes, `mvhd` (v0/v1) for
    * timescale+duration, per-`trak` `tkhd` 16.16 fixed-point dimensions
    * and `mdia/hdlr` handler type (vide/soun). None for bytes that are
    * not an MP4 container. This retires the last synthetic multimodal
    * corner: PNG/JPEG/GIF/BMP decode is real (ImageIO), WAV is real
    * (AudioSystem), and the video CONTAINER is now really parsed —
    * only codec-level frame decode stays out of scope (no codec libs in
    * the environment, and ingest pipelines gate on container metadata). */
  def parseMp4(b: Array[Byte]): Option[Mp4Meta] = {
    if (b == null || b.length < 16) return None
    def be32(i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int): String = new String(b, i, 4, "US-ASCII")
    if (fourcc(4) != "ftyp") return None
    var brand = ""
    var timescale = 0L; var duration = 0L
    var nTracks = 0; var width = 0; var height = 0
    var hasVideo = false; var hasAudio = false
    // walk boxes in [from, to); recurse into the container types we need
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var i = from
      while (i + 8 <= to) {
        val size32 = be32(i)
        val tpe = fourcc(i + 4)
        val (size, hdr) =
          if (size32 == 1 && i + 16 <= to) (be64(i + 8), 16)
          else if (size32 == 0) (to.toLong - i, 8) // box runs to end
          else (size32, 8)
        if (size < hdr || i + size > to) return // truncated/corrupt: stop
        val body = i + hdr
        val end = (i + size).toInt
        tpe match {
          case "ftyp" if depth == 0 =>
            if (end - body >= 4) brand = fourcc(body)
          case "moov" | "trak" | "mdia" => walk(body, end, depth + 1)
          case "mvhd" =>
            val v = b(body) & 0xFF
            if (v == 1) { timescale = be32(body + 20); duration = be64(body + 24) }
            else { timescale = be32(body + 12); duration = be32(body + 16) }
          case "tkhd" =>
            nTracks += 1
            val v = b(body) & 0xFF
            val dimOff = if (v == 1) body + 88 else body + 76
            if (dimOff + 8 <= end) {
              val w = (be32(dimOff) >> 16).toInt      // 16.16 fixed
              val h = (be32(dimOff + 4) >> 16).toInt
              if (w > 0 && h > 0) { width = w; height = h }
            }
          case "hdlr" =>
            if (body + 12 <= end) fourcc(body + 8) match {
              case "vide" => hasVideo = true
              case "soun" => hasAudio = true
              case _ =>
            }
          case _ => // mdat, free, skip
        }
        i = end
      }
    }
    walk(0, b.length, 0)
    if (timescale == 0 && nTracks == 0) None
    else Some(Mp4Meta(brand, timescale,
      if (timescale == 0) 0L else duration * 1000L / timescale,
      nTracks, width, height, hasVideo, hasAudio))
  }

  /** Deterministic synthetic MP4: real ISO-BMFF boxes (ftyp + moov with
    * mvhd/trak/tkhd/mdia/hdlr [+ audio trak] + mdat junk) — the video
    * fixture generator, exactly parseable by [[parseMp4]] and by any
    * standards-following demuxer's metadata pass. */
  def syntheticMp4(durationMs: Long, w: Int, h: Int,
                   withAudio: Boolean): Array[Byte] = {
    def be32(v: Long) = Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ tpe.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(512) ++
      "isomiso2mp41".getBytes("US-ASCII"))
    val mvhd = box("mvhd", Array.fill(4)(0.toByte) ++ // v0 + flags
      be32(0) ++ be32(0) ++               // creation, modification
      be32(1000) ++ be32(durationMs) ++   // timescale 1000 -> duration in ms
      be32(0x00010000L) ++ Array.fill(2)(0.toByte) ++ // rate, volume
      Array.fill(10)(0.toByte) ++                     // reserved
      (Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
        .flatMap(be32).toArray) ++                    // identity matrix
      Array.fill(24)(0.toByte) ++ be32(3))            // predefined, next track
    def tkhd(trackId: Int, tw: Int, th: Int) = box("tkhd",
      Array[Byte](0, 0, 0, 7) ++          // v0, flags: enabled|in-movie
        be32(0) ++ be32(0) ++ be32(trackId) ++ be32(0) ++ be32(durationMs) ++
        Array.fill(8)(0.toByte) ++        // reserved
        Array.fill(8)(0.toByte) ++        // layer, altgroup, volume, reserved
        (Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
          .flatMap(be32).toArray) ++
        be32(tw.toLong << 16) ++ be32(th.toLong << 16)) // 16.16 fixed
    def hdlr(kind: String) = box("hdlr", Array.fill(4)(0.toByte) ++ be32(0) ++
      kind.getBytes("US-ASCII") ++ Array.fill(12)(0.toByte) ++
      Array(0.toByte)) // empty name
    def trak(trackId: Int, kind: String, tw: Int, th: Int) =
      box("trak", tkhd(trackId, tw, th) ++ box("mdia", hdlr(kind)))
    val traks = trak(1, "vide", w, h) ++
      (if (withAudio) trak(2, "soun", 0, 0) else Array.empty[Byte])
    val moov = box("moov", mvhd ++ traks)
    val mdat = box("mdat", Array.tabulate(32)(i => (i * 7).toByte))
    ftyp ++ moov ++ mdat
  }

  /** Video container metadata through the partition seam: (media_id,
    * content) -> per-container facts; non-MP4 bytes surface as nulls.
    * Map-only at any scale, like [[decodeMedia]]. */
  def describeVideo(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("brand", StringType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("n_tracks", IntegerType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("has_video", BooleanType, nullable = true),
      StructField("has_audio", BooleanType, nullable = true)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        parseMp4(bytes) match {
          case Some(m) => Row(r.getLong(0), m.brand, m.durationMs, m.nTracks,
            m.width, m.height, m.hasVideo, m.hasAudio)
          case None => Row(r.getLong(0), null, null, null, null, null, null, null)
        }
      }
    }(encoder)
  }

  /** Repartition helper for media tables: blobs are large and row sizes
    * skewed — range-partition by id so each task carries a bounded byte
    * volume (at 100 TB: tune target rows/partition by avg blob size). */
  def repartitionForBlobs(media: DataFrame, rowsPerPartition: Long): DataFrame = {
    val n = math.max(1L, media.count() / rowsPerPartition).toInt
    media.repartitionByRange(n, col("media_id"))
  }

  /** Parsed EXIF facts (the image twin of [[Mp4Meta]]). */
  case class ExifMeta(orientation: Int, pixelX: Int, pixelY: Int,
                      make: String, dateTime: String)

  /** REAL EXIF parse: JPEG APP1 segment walk -> TIFF header (both
    * byte orders) -> IFD0 (Make 0x010F, Orientation 0x0112, DateTime
    * 0x0132, Exif-IFD pointer 0x8769) -> Exif IFD (PixelXDimension
    * 0xA002, PixelYDimension 0xA003). Truncation/corruption-safe
    * (returns None); unknown tags skipped; SHORT and LONG accepted for
    * the dimensions, inline and offset ASCII values for the strings.
    * Map-only per row — the camera-metadata extraction an image corpus
    * runs at scan speed. */
  def parseExif(b: Array[Byte]): Option[ExifMeta] = {
    if (b == null || b.length < 4) return None
    def u8(i: Int) = b(i) & 0xFF
    if (u8(0) != 0xFF || u8(1) != 0xD8) return None // not JPEG
    try {
      // JPEG segment walk: lengths are ALWAYS big-endian
      var i = 2
      var tiff = -1
      while (tiff < 0 && i + 4 <= b.length && u8(i) == 0xFF) {
        val marker = u8(i + 1)
        if (marker == 0xD9 || marker == 0xDA) return None // no APP1 found
        val len = (u8(i + 2) << 8) | u8(i + 3)
        if (marker == 0xE1 && len >= 8 + 6 &&
            new String(b, i + 4, 6, "US-ASCII") == "Exif\u0000\u0000")
          tiff = i + 10
        else i += 2 + len
      }
      if (tiff < 0) return None
      val little = new String(b, tiff, 2, "US-ASCII") match {
        case "II" => true
        case "MM" => false
        case _ => return None
      }
      def u16(i: Int): Int =
        if (little) u8(i) | (u8(i + 1) << 8) else (u8(i) << 8) | u8(i + 1)
      def u32(i: Int): Long =
        if (little) u16(i).toLong | (u16(i + 2).toLong << 16)
        else (u16(i).toLong << 16) | u16(i + 2).toLong
      if (u16(tiff + 2) != 42) return None
      var orientation = 1
      var px = -1; var py = -1
      var make = ""; var dt = ""
      def readAscii(count: Int, valueOff: Int): String = {
        val at = if (count <= 4) valueOff else tiff + u32(valueOff).toInt
        val raw = new String(b, at, count, "US-ASCII")
        raw.takeWhile(_ != '\u0000')
      }
      def readIfd(off: Int, exifLevel: Boolean): Unit = {
        val n = u16(off)
        var e = 0
        while (e < n) {
          val at = off + 2 + 12 * e
          val tag = u16(at); val tpe = u16(at + 2)
          val count = u32(at + 4).toInt
          val vOff = at + 8
          def shortOrLong: Int =
            if (tpe == 3) u16(vOff) else u32(vOff).toInt
          tag match {
            case 0x010F if tpe == 2 => make = readAscii(count, vOff)
            case 0x0112 if tpe == 3 => orientation = u16(vOff)
            case 0x0132 if tpe == 2 => dt = readAscii(count, vOff)
            case 0x8769 if !exifLevel =>
              readIfd(tiff + u32(vOff).toInt, exifLevel = true)
            case 0xA002 => px = shortOrLong
            case 0xA003 => py = shortOrLong
            case _ => ()
          }
          e += 1
        }
      }
      readIfd(tiff + u32(tiff + 4).toInt, exifLevel = false)
      Some(ExifMeta(orientation, px, py, make, dt))
    } catch { case _: Throwable => None }
  }

  /** Minimal standards-shaped JPEG carrying an APP1/Exif TIFF block with
    * IFD0 {Make, Orientation, DateTime, ExifIFD} and Exif IFD
    * {PixelX/YDimension}; `little` picks the TIFF byte order. */
  def syntheticJpegExif(orientation: Int, px: Int, py: Int, make: String,
                        dateTime: String, little: Boolean): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def w8(v: Int): Unit = buf += (v & 0xFF).toByte
    def w16(v: Int): Unit =
      if (little) { w8(v); w8(v >> 8) } else { w8(v >> 8); w8(v) }
    def w32(v: Long): Unit =
      if (little) { w16(v.toInt); w16((v >> 16).toInt) }
      else { w16((v >> 16).toInt); w16(v.toInt) }
    // TIFF block (offsets relative to its own start)
    buf ++= (if (little) "II" else "MM").getBytes("US-ASCII")
    w16(42); w32(8L)
    val makeZ = make + "\u0000"
    val dtZ = dateTime + "\u0000"
    val ifd0 = 8; val ifd0Size = 2 + 4 * 12 + 4
    val exifIfd = ifd0 + ifd0Size
    val exifSize = 2 + 2 * 12 + 4
    val oMake = exifIfd + exifSize
    val oDt = oMake + makeZ.length
    // IFD0: 4 entries in ascending tag order
    w16(4)
    w16(0x010F); w16(2); w32(makeZ.length.toLong); w32(oMake.toLong)
    // SHORT values are left-justified in the 4-byte field either way
    w16(0x0112); w16(3); w32(1L); w16(orientation); w16(0)
    w16(0x0132); w16(2); w32(dtZ.length.toLong); w32(oDt.toLong)
    w16(0x8769); w16(4); w32(1L); w32(exifIfd.toLong)
    w32(0L) // next-IFD pointer
    // Exif IFD: 2 entries (LONG, inline)
    w16(2)
    w16(0xA002); w16(4); w32(1L); w32(px.toLong)
    w16(0xA003); w16(4); w32(1L); w32(py.toLong)
    w32(0L)
    buf ++= makeZ.getBytes("US-ASCII")
    buf ++= dtZ.getBytes("US-ASCII")
    val tiffBytes = buf.toArray
    val payload = "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiffBytes
    val app1Len = payload.length + 2
    Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE1.toByte,
      ((app1Len >> 8) & 0xFF).toByte, (app1Len & 0xFF).toByte) ++
      payload ++ Array(0xFF.toByte, 0xD9.toByte)
  }

  /** EXIF description through the partition seam (the [[describeMedia]]
    * shape): (media_id, orientation, pixel_x, pixel_y, make, date_time);
    * non-JPEG / EXIF-less rows null out. */
  def describeExif(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("orientation", IntegerType, nullable = true),
      StructField("pixel_x", IntegerType, nullable = true),
      StructField("pixel_y", IntegerType, nullable = true),
      StructField("make", StringType, nullable = true),
      StructField("date_time", StringType, nullable = true)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "content").mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        parseExif(bytes) match {
          case Some(m) => Row(r.getLong(0), m.orientation, m.pixelX,
            m.pixelY, m.make, m.dateTime)
          case None => Row(r.getLong(0), null, null, null, null, null)
        }
      }
    }(encoder)
  }
}
