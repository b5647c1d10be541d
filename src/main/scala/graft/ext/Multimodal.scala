package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.io.StandingIndex

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns plus a typed metadata struct, with decode/feature-extraction
  * as partition-batched functions.
  *
  * The image and audio payloads are REAL containers — 24-bit
  * uncompressed BMP and RIFF/WAVE PCM-8 — and [[MediaCodec]] genuinely
  * parses them (magic, headers, bottom-up rows, stride padding, chunk
  * walking); phash/dedup/features run on the DECODED samples. What
  * stays synthetic is the pixel content (the harness renders document
  * text bytes as grayscale luma — no real photographs exist here) and
  * the video path (format "raw", identity decode). Swapping in
  * JPEG/PNG/H.264 bindings (JNI / ONNX / Python worker) replaces the
  * decode functions without touching the plumbing.
  */
object Multimodal {

  /** Typed metadata carried next to the opaque payload. */
  case class MediaMeta(format: String, width: Int, height: Int, sampleRate: Int)

  /** One multimodal asset row: payload + typed metadata. */
  case class Asset(asset_id: Long, kind: String, bytes: Array[Byte], meta: MediaMeta)

  /** Extracted feature record (what a real image/audio model would emit). */
  case class AssetFeatures(
      asset_id: Long,
      kind: String,
      n_bytes: Int,
      mean_byte: Double,
      histogram: Array[Double])

  /** Width of the synthesized BMP assets: 15 pixels → 45 data bytes per
    * row → stride 48, so EVERY image asset exercises the 4-byte row
    * padding of the real bitmap layout.
    */
  val BmpWidth = 15

  /** Build an asset table from `documents`: image docs (doc_id % 3 == 0)
    * alternate between a REAL 24-bit uncompressed BMP and a REAL
    * zlib-compressed PNG (8-bit grayscale) whose luma pixels are the
    * text bytes (plus black tail padding to fill the last row) — the
    * SAME pixels in two container formats, so every decoded-sample gate
    * (phash, content hash, features) also asserts container invariance.
    * Audio docs carry a REAL RIFF/WAVE PCM-8 file whose samples are the
    * text bytes, video docs the raw bytes (format "raw"). At 100 TB the
    * payloads come from object storage; the column shape is identical.
    */
  def assetsFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"), col("n_chars").cast("long"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val raw = text.getBytes("UTF-8")
        (id % 3) match {
          case 0 =>
            // matches the encoders' empty-luma clamp: an empty doc is
            // one all-black row, never a zero-dimension container
            val h = math.max(1, (raw.length + BmpWidth - 1) / BmpWidth)
            if ((id / 3) % 2 == 0)
              Asset(id, "image", MediaCodec.encodeBmp(raw, BmpWidth),
                MediaMeta("bmp", BmpWidth, h, 0))
            else
              Asset(id, "image", MediaCodec.encodePng(raw, BmpWidth),
                MediaMeta("png", BmpWidth, h, 0))
          case 1 =>
            Asset(id, "audio", MediaCodec.encodeWav(raw, 16000),
              MediaMeta("wav", 0, 0, 16000))
          case _ =>
            Asset(id, "video", raw,
              MediaMeta("raw", ((nChars % 64) + 16).toInt,
                ((nChars % 48) + 16).toInt, 16000))
        }
      }
      .toDF()
  }

  /** Batched decode/feature-extract over partitions: groups rows into
    * fixed-size batches (the shape a vectorized UDF / model server wants)
    * and emits one feature row per asset. Partition-local, no shuffle.
    */
  def extractFeatures(assets: Dataset[Asset], batchSize: Int = 64): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // One model invocation per batch in a real deployment.
        batch.iterator.map(a => MediaCodec.decodeFeatures(a))
      }
    }
  }

  /** Batched perceptual hashing over partitions — the same vectorized
    * codec-boundary shape as [[extractFeatures]], emitting one
    * (asset_id, phash, n_bytes) row per asset. Partition-local, no
    * shuffle; the hash is 8 bytes, so everything downstream (banding,
    * hamming verification) shuffles signatures, never payloads.
    */
  def perceptualHashes(assets: Dataset[Asset], batchSize: Int = 64): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { a =>
          // decode ONCE per asset: hash and sample count share the parse
          val s = MediaCodec.decodedSamples(a)
          (a.asset_id, MediaCodec.perceptualHashOf(s), s.length)
        }
      }
    }.toDF("asset_id", "phash", "n_bytes")
  }

  /** Frame sampling for 'video' payloads: every `stride`-th fixed-size
    * chunk of the payload as its own binary "frame" — the partition-local
    * slicing pattern real frame extraction follows.
    */
  def sampleFrames(assets: Dataset[Asset], frameBytes: Int = 32, stride: Int = 4): DataFrame = {
    import assets.sparkSession.implicits._
    assets
      .filter(_.kind == "video")
      .flatMap { a =>
        a.bytes.grouped(frameBytes).zipWithIndex
          .filter { case (_, i) => i % stride == 0 }
          .map { case (frame, i) => (a.asset_id, i, frame) }
      }
      .toDF("asset_id", "frame_no", "frame_bytes")
  }

  // ------------------------------------------------------------------
  // Standing multimodal dedup index — phash + content-hash signatures
  // with the full lifecycle (build / refresh / retract / compact /
  // stream via graft.streaming.MmIngest). The payload bytes cross the
  // codec boundary EXACTLY ONCE, at admission: everything the index
  // stores is 8-byte perceptual hashes (banded for candidate pruning)
  // and 16-byte content digests, so at 100 TB the standing artifact is
  // ~10^-4 of the corpus and every serve moves signatures, never media.
  // ------------------------------------------------------------------

  /** Banded signature rows for one asset batch: `(asset_id, phash,
    * band, key)`, 4 rows per non-empty asset (the mm_phash_neardup
    * banding: 4×15-bit keys of the 60-bit average-hash — a pair within
    * hamming ≤ 10 whose flipped bits fall in ≤ 3 bands meets on ≥ 1
    * exact band key). Assets with ZERO decoded samples (empty audio/
    * video payloads) are not indexed — nothing decodes; an empty IMAGE
    * doc does decode (the encoders' one-black-row clamp) and indexes
    * like any other all-black frame.
    */
  private def bandedPhashRows(assets: Dataset[Asset]): DataFrame = {
    val ph = perceptualHashes(assets)
      .filter(col("n_bytes") > 0).select("asset_id", "phash")
    ph.select(col("asset_id"), col("phash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("phash"), 15 * b)
              .bitwiseAND(lit(0x7FFFL)).as("key"))): _*)).as("bk"))
      .select(col("asset_id"), col("phash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Content-hash rows for exact payload dedup: `(asset_id, kind, h)`
    * where `h` digests the leading 16 DECODED samples (the thumbnail/
    * preview prefix the mm_dedup gate established as the identity key).
    * Decoded, not container, bytes: two containers of the same pixels
    * must collide, and the container header (size fields) must never
    * split a dup group.
    *
    * The digest is `md5(hex(prefix))` — the md5 of the UPPERCASE HEX of
    * the prefix bytes, not of the raw bytes — so the identity is
    * byte-exact replayable by an independent SQL engine whose `md5`
    * only accepts strings (zero padding bytes from the image row fill
    * can't live in a VARCHAR). This is THE content identity: the inline
    * `mm_dedup` query, this standing index, and both oracles share it —
    * a single definition so a short or non-ASCII document can never
    * make the served answer diverge from the inline one.
    */
  def contentHashes(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets
      .map(a => (a.asset_id, a.kind, MediaCodec.decodedSamples(a).take(16)))
      .toDF("asset_id", "kind", "prefix")
      .select(col("asset_id"), col("kind"), md5(hex(col("prefix"))).as("h"))
  }

  /** Build the standing index: `sigs/` (banded phash rows) + `chash/`
    * (content digests) as batch-0 files.
    */
  def writeMmIndex(assets: Dataset[Asset], dir: String): Unit = {
    graft.io.BatchFiles.land(bandedPhashRows(assets), s"$dir/sigs", batchId = 0L)
    graft.io.BatchFiles.land(contentHashes(assets), s"$dir/chash", batchId = 0L)
  }

  /** Admit a batch of NEW assets: one codec pass over the batch, rows
    * land as replay-idempotent batch files ([[graft.io.BatchFiles]] —
    * a retried admission replaces its own files; the same `batchId`
    * keys both tables so candidates and digests stay row-consistent).
    * Signatures are PER-ASSET (no cross-asset state), so the streamed
    * layout IS the batch layout — the [[graft.streaming.AnnIngest]]
    * posture. Same new-asset_ids-only admission contract as every
    * standing index.
    */
  def refreshMmIndex(assets: Dataset[Asset], dir: String, batchId: Long): Unit = {
    graft.io.BatchFiles.land(bandedPhashRows(assets), s"$dir/sigs", batchId)
    graft.io.BatchFiles.land(contentHashes(assets), s"$dir/chash", batchId)
  }

  /** Retract assets as [[StandingIndex]] tombstones; serving applies
    * them merge-on-read and [[compactMmIndex]] applies them physically.
    * Right-to-be-forgotten for media: the index never held payload
    * bytes, so dropping the signature rows IS the erasure.
    */
  def retractFromMmIndex(assetIds: DataFrame, dir: String): Unit =
    StandingIndex.retract(assetIds.select(col("asset_id").cast("long").as("asset_id")), dir)

  /** Perceptual near-dup pairs served from the STANDING index —
    * identical pairs to the inline mm_phash_neardup computation over
    * the live asset set (build ∪ refreshes − tombstones): candidates
    * meet on (band, key) equi-joins over the signature table, hamming
    * verifies candidates only, and tombstones are anti-joined
    * BROADCAST-side before banding so a retracted asset neither
    * generates nor receives matches. Cost rides band collisions
    * (expected corpus²/2¹⁵ per band at uniform keys), never pairs.
    */
  def phashNearDupIndexed(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      maxHamming: Int = 10): DataFrame = {
    val sigs = Tables.read(spark, s"$dir/sigs")
    val live = StandingIndex.dropRetracted(sigs,
      StandingIndex.tombstones(spark, dir, "asset_id"), "asset_id")
    val a = live.select(col("band"), col("key"),
      col("asset_id").as("asset_a"), col("phash").as("ph_a"))
    val b = live.select(col("band"), col("key"),
      col("asset_id").as("asset_b"), col("phash").as("ph_b"))
    // shuffle_hash, engine-pinned: both sides are the corpus-sized
    // signature table (never broadcastable at scale — AQE's
    // compressed-size estimate under a raised broadcast threshold
    // would collect it onto the driver, the SCALING.md round-16
    // hazard), and both hash-partition on (band, key) with no sort
    // needed. Same pin as semanticDupPairs' cell self-join.
    a.hint("shuffle_hash").join(b, Seq("band", "key"))
      .filter(col("asset_a") < col("asset_b"))
      .dropDuplicates("asset_a", "asset_b")
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("asset_a", "asset_b", "hamming")
  }

  /** Exact payload dedup served from the STANDING content-hash table:
    * the mm_dedup rollup (refs, canonical owner, kind spread) over the
    * live rows. One digest-keyed aggregate — payloads were never stored.
    */
  def contentDedupIndexed(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val ch = Tables.read(spark, s"$dir/chash")
    val live = StandingIndex.dropRetracted(ch,
      StandingIndex.tombstones(spark, dir, "asset_id"), "asset_id")
    live.groupBy("h")
      .agg(count(lit(1)).as("n_refs"),
        min("asset_id").as("canonical_doc"),
        count_distinct(col("kind")).as("n_kinds"))
      .filter(col("n_refs") >= 2)
  }

  /** Squash the index ([[StandingIndex.compact]]): `sigs/` and
    * `chash/` drop tombstoned rows and collapse their batch files.
    */
  def compactMmIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    StandingIndex.compact(spark, dir) { tmp =>
      val tombs = StandingIndex.tombstones(spark, dir, "asset_id")
      Seq("sigs" -> Seq("asset_id", "phash", "band", "key"),
          "chash" -> Seq("asset_id", "kind", "h"))
        .foreach { case (t, cols) =>
          StandingIndex.dropRetracted(Tables.read(spark, s"$dir/$t"), tombs, "asset_id")
            .select(cols.map(col): _*)
            .write.parquet(s"$tmp/$t")
        }
    }
}

/** The codec boundary. Images and audio are REAL containers parsed for
  * real — a minimal 24-bit uncompressed BMP (bottom-up rows, 4-byte row
  * stride padding, the actual Windows bitmap layout) and a minimal
  * RIFF/WAVE PCM-8 file (chunk-walked, not offset-assumed) — so the
  * phash/dedup/feature paths run on DECODED SAMPLES, not container
  * bytes. What remains synthetic is the PIXEL CONTENT (the test corpus
  * renders document text bytes as grayscale luma — there are no real
  * photographs in the harness) and the video path (format "raw", an
  * identity decode). Swapping in JPEG/PNG/H.264 bindings replaces the
  * two decode functions; every batch shape, schema, and downstream
  * relational contract is unchanged.
  */
object MediaCodec {

  private def le16(v: Int): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def readLe16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def readLe32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Encode a grayscale luma array as a REAL 24-bit uncompressed BMP:
    * 14-byte file header + 40-byte BITMAPINFOHEADER + bottom-up pixel
    * rows with each row padded to a 4-byte boundary (width 15 → 45 data
    * bytes + 3 pad bytes per row, so the padding path is exercised by
    * every asset). Luma shorter than width·height is padded with black
    * pixels (the tail of the last row); EMPTY luma encodes as one
    * all-black row — the spec forbids zero dimensions, and an empty
    * upstream document must still yield a decodable container
    * (differential fuzz found the 0-height crash on empty text, r17).
    */
  def encodeBmp(gray: Array[Byte], width: Int): Array[Byte] = {
    require(width > 0, "BMP width must be positive")
    val h = math.max(1, (gray.length + width - 1) / width)
    val stride = ((width * 3 + 3) / 4) * 4
    val imageSize = stride * h
    val out = new Array[Byte](54 + imageSize)
    out(0) = 'B'; out(1) = 'M'
    System.arraycopy(le32(out.length), 0, out, 2, 4)
    System.arraycopy(le32(54), 0, out, 10, 4) // pixel data offset
    System.arraycopy(le32(40), 0, out, 14, 4) // info header size
    System.arraycopy(le32(width), 0, out, 18, 4)
    System.arraycopy(le32(h), 0, out, 22, 4) // positive = bottom-up
    System.arraycopy(le16(1), 0, out, 26, 2) // planes
    System.arraycopy(le16(24), 0, out, 28, 2) // bpp
    System.arraycopy(le32(0), 0, out, 30, 4) // BI_RGB, uncompressed
    System.arraycopy(le32(imageSize), 0, out, 34, 4)
    System.arraycopy(le32(2835), 0, out, 38, 4)
    System.arraycopy(le32(2835), 0, out, 42, 4)
    var r = 0
    while (r < h) {
      val base = 54 + (h - 1 - r) * stride // bottom-up
      var c = 0
      while (c < width) {
        val p = r * width + c
        val v: Byte = if (p < gray.length) gray(p) else 0
        out(base + 3 * c) = v; out(base + 3 * c + 1) = v; out(base + 3 * c + 2) = v
        c += 1
      }
      r += 1
    }
    out
  }

  /** Decode a 24-bit uncompressed BMP to (width, height, row-major
    * luma). A REAL parse: magic, pixel-data offset, dimensions and
    * format read from the headers; row stride recomputed from the
    * width; rows walked bottom-up (or top-down for the negative-height
    * variant); luma = (r+g+b)/3. Unsupported containers fail LOUDLY —
    * a 100 TB ingest must quarantine bad media, not hash garbage.
    */
  def decodeBmp(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      "not a BMP payload: bad magic/size")
    val offset = readLe32(bytes, 10)
    val width = readLe32(bytes, 18)
    val hRaw = readLe32(bytes, 22)
    val bpp = readLe16(bytes, 28)
    val comp = readLe32(bytes, 30)
    require(bpp == 24 && comp == 0,
      s"unsupported BMP variant: bpp=$bpp compression=$comp (this codec " +
        "handles 24-bit uncompressed only)")
    val h = math.abs(hRaw)
    val stride = ((width * 3 + 3) / 4) * 4
    require(offset >= 54 && bytes.length >= offset + stride * h,
      "truncated BMP: pixel array shorter than the header claims")
    val luma = new Array[Byte](width * h)
    var r = 0
    while (r < h) {
      val srcRow = if (hRaw > 0) h - 1 - r else r
      val base = offset + srcRow * stride
      var c = 0
      while (c < width) {
        val b = bytes(base + 3 * c) & 0xff
        val g = bytes(base + 3 * c + 1) & 0xff
        val rr = bytes(base + 3 * c + 2) & 0xff
        luma(r * width + c) = ((b + g + rr) / 3).toByte
        c += 1
      }
      r += 1
    }
    (width, h, luma)
  }

  private def be32(v: Int): Array[Byte] =
    Array[Byte](((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def readBe32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private val PngSignature =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  /** Encode a grayscale luma array as a REAL PNG — the COMPRESSED
    * container twin of [[encodeBmp]]: 8-byte signature, IHDR (8-bit
    * grayscale, no interlace), one zlib-deflated IDAT of filter-0
    * scanlines, IEND — each chunk with its genuine CRC-32 over
    * type+data (`java.util.zip.{Deflater, CRC32}`, pure JDK). Luma
    * shorter than width·height pads with black exactly like the BMP
    * encoder (empty luma ⇒ one all-black row — zero dimensions are
    * invalid PNG), so the DECODED samples of the two containers are
    * byte-identical — container-invariance is what the mm gates assert.
    */
  def encodePng(gray: Array[Byte], width: Int): Array[Byte] = {
    require(width > 0, "PNG width must be positive")
    val h = math.max(1, (gray.length + width - 1) / width)
    val raw = new Array[Byte](h * (width + 1)) // filter byte + row bytes
    var r = 0
    while (r < h) {
      raw(r * (width + 1)) = 0 // filter type 0 (None)
      var c = 0
      while (c < width) {
        val p = r * width + c
        raw(r * (width + 1) + 1 + c) = if (p < gray.length) gray(p) else 0
        c += 1
      }
      r += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val zOut = new java.io.ByteArrayOutputStream()
    while (!deflater.finished()) zOut.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val ihdr = be32(width) ++ be32(h) ++ Array[Byte](8, 0, 0, 0, 0)
    def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val t = tpe.getBytes("US-ASCII")
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }
    PngSignature ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zOut.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Decode a PNG to (width, height, row-major luma) — a REAL parse of
    * the compressed container: signature check, chunk walk with CRC-32
    * verified on EVERY chunk, IHDR validation (this codec handles 8-bit
    * grayscale non-interlaced), multi-IDAT zlib inflate
    * (`java.util.zip.Inflater`), and full scanline UNFILTERING — all
    * five standard filter types (None/Sub/Up/Average/Paeth), so files
    * from real encoders (which pick filters per row) decode, not just
    * our own filter-0 output. Failure modes are LOUD, per the codec
    * contract: bad signature, CRC mismatch, truncated chunk, negative
    * length, unknown CRITICAL chunk, inflated size mismatch, bad filter
    * type — a 100 TB ingest quarantines bad media, never hashes garbage.
    */
  def decodePng(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes.length >= 8 && PngSignature.indices.forall(i => bytes(i) == PngSignature(i)),
      "not a PNG payload: bad signature")
    var off = 8
    var width = -1; var height = -1
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawIend) {
      require(off + 8 <= bytes.length, "truncated PNG: chunk header past EOF")
      val len = readBe32(bytes, off)
      require(len >= 0, s"malformed PNG chunk: negative length $len")
      require(off + 12 + len <= bytes.length, "truncated PNG: chunk data past EOF")
      val tpe = new String(bytes.slice(off + 4, off + 8), "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, off + 4, 4 + len)
      require(crc.getValue.toInt == readBe32(bytes, off + 8 + len),
        s"corrupt PNG: CRC mismatch on $tpe chunk")
      tpe match {
        case "IHDR" =>
          require(!sawIhdr, "malformed PNG: duplicate IHDR")
          require(len == 13, "malformed PNG: IHDR length != 13")
          width = readBe32(bytes, off + 8); height = readBe32(bytes, off + 12)
          val bitDepth = bytes(off + 16); val colorType = bytes(off + 17)
          val interlace = bytes(off + 20)
          require(width > 0 && height > 0, "malformed PNG: non-positive dimensions")
          require(bitDepth == 8 && colorType == 0 && interlace == 0,
            s"unsupported PNG variant: bitDepth=$bitDepth colorType=$colorType " +
              s"interlace=$interlace (this codec handles 8-bit grayscale " +
              "non-interlaced only)")
          sawIhdr = true
        case "IDAT" =>
          require(sawIhdr, "malformed PNG: IDAT before IHDR")
          idat.write(bytes, off + 8, len)
        case "IEND" => sawIend = true
        case other =>
          // ancillary chunks (lowercase first letter: tEXt, pHYs…) skip;
          // an unknown CRITICAL chunk means we cannot render faithfully
          require((other.charAt(0) & 0x20) != 0,
            s"unsupported PNG: unknown critical chunk $other")
      }
      off += 12 + len
    }
    require(sawIhdr, "malformed PNG: no IHDR")
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val expected = height * (width + 1)
    val raw = new Array[Byte](expected)
    var got = 0
    while (got < expected && !inflater.finished()) {
      val n = inflater.inflate(raw, got, expected - got)
      require(n > 0 || !inflater.needsInput(), "truncated PNG: IDAT stream incomplete")
      got += n
    }
    val extra = inflater.inflate(new Array[Byte](1))
    inflater.end()
    require(got == expected && extra == 0,
      s"corrupt PNG: inflated ${got + extra} bytes, scanlines need $expected")
    // unfilter: bpp = 1 (grayscale-8), a = left, b = up, c = up-left
    val luma = new Array[Byte](width * height)
    var r = 0
    while (r < height) {
      val ft = raw(r * (width + 1)) & 0xff
      require(ft <= 4, s"corrupt PNG: unknown filter type $ft on row $r")
      var c = 0
      while (c < width) {
        val x = raw(r * (width + 1) + 1 + c) & 0xff
        val a = if (c > 0) luma(r * width + c - 1) & 0xff else 0
        val b = if (r > 0) luma((r - 1) * width + c) & 0xff else 0
        val cc = if (r > 0 && c > 0) luma((r - 1) * width + c - 1) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case _ =>
            val p = a + b - cc
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - cc)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else cc)
        }
        luma(r * width + c) = (v & 0xff).toByte
        c += 1
      }
      r += 1
    }
    (width, height, luma)
  }

  /** Container bytes minus the entropy-coded stream: signature, chunk
    * length/type/CRC framing, IHDR and IEND — the part of a COMPRESSED
    * container whose size IS deterministically modelable (deflate
    * output length is data-dependent; the framing is arithmetic). For
    * [[encodePng]]'s single-IDAT layout this is exactly 8 + 25 + 12 +
    * 12 = 57 — the mm_binary_meta gate's PNG analog of BMP's
    * 54 + stride·rows, so a wrong length field or chunk layout in the
    * encoder breaks the gate. Walks the real chunk list (multi-IDAT
    * files report their true framing, not a constant).
    */
  def pngFramingBytes(bytes: Array[Byte]): Int = {
    require(bytes.length >= 8 && PngSignature.indices.forall(i => bytes(i) == PngSignature(i)),
      "not a PNG payload: bad signature")
    var off = 8
    var idatTotal = 0L
    var sawIend = false
    while (!sawIend) {
      require(off + 8 <= bytes.length, "truncated PNG: chunk header past EOF")
      val len = readBe32(bytes, off)
      require(len >= 0, s"malformed PNG chunk: negative length $len")
      require(off + 12 + len <= bytes.length, "truncated PNG: chunk data past EOF")
      val tpe = new String(bytes.slice(off + 4, off + 8), "US-ASCII")
      if (tpe == "IDAT") idatTotal += len
      if (tpe == "IEND") sawIend = true
      off += 12 + len
    }
    (bytes.length - idatTotal).toInt
  }

  /** Encode PCM samples as a REAL RIFF/WAVE file: RIFF header, `fmt `
    * chunk (PCM, mono, 8-bit) and `data` chunk.
    */
  def encodeWav(samples: Array[Byte], sampleRate: Int): Array[Byte] = {
    val n = samples.length
    val out = new Array[Byte](44 + n)
    def put(off: Int, s: String): Unit = {
      var i = 0; while (i < s.length) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    put(0, "RIFF"); System.arraycopy(le32(36 + n), 0, out, 4, 4); put(8, "WAVE")
    put(12, "fmt "); System.arraycopy(le32(16), 0, out, 16, 4)
    System.arraycopy(le16(1), 0, out, 20, 2) // PCM
    System.arraycopy(le16(1), 0, out, 22, 2) // mono
    System.arraycopy(le32(sampleRate), 0, out, 24, 4)
    System.arraycopy(le32(sampleRate), 0, out, 28, 4) // byte rate (8-bit mono)
    System.arraycopy(le16(1), 0, out, 32, 2) // block align
    System.arraycopy(le16(8), 0, out, 34, 2) // bits per sample
    put(36, "data"); System.arraycopy(le32(n), 0, out, 40, 4)
    System.arraycopy(samples, 0, out, 44, n)
    out
  }

  /** Decode a RIFF/WAVE PCM-8 mono file to its sample bytes by WALKING
    * THE CHUNK LIST (a real WAV can carry LIST/INFO chunks before
    * `data` — fixed offsets are how parsers break), validating the
    * `fmt ` chunk before accepting samples.
    */
  def decodeWav(bytes: Array[Byte]): Array[Byte] = {
    require(bytes.length >= 12 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E',
      "not a WAV payload: bad RIFF/WAVE magic")
    var off = 12
    var fmtOk = false
    var data: Array[Byte] = null
    while (off + 8 <= bytes.length && data == null) {
      val id = new String(bytes.slice(off, off + 4), "US-ASCII")
      val size = readLe32(bytes, off + 4)
      // A negative LE32 size would make the walk non-increasing (an
      // infinite loop on an executor); the codec contract is LOUD
      // failure on malformed containers, never a hang.
      require(size >= 0, s"malformed WAV chunk '$id': negative size $size")
      id match {
        case "fmt " =>
          require(size >= 16, "malformed fmt chunk")
          val audioFormat = readLe16(bytes, off + 8)
          val channels = readLe16(bytes, off + 10)
          val bits = readLe16(bytes, off + 22)
          require(audioFormat == 1 && channels == 1 && bits == 8,
            s"unsupported WAV variant: format=$audioFormat channels=$channels " +
              s"bits=$bits (this codec handles PCM-8 mono only)")
          fmtOk = true
        case "data" =>
          require(fmtOk, "WAV data chunk before fmt chunk")
          require(off + 8 + size <= bytes.length, "truncated WAV data chunk")
          data = bytes.slice(off + 8, off + 8 + size)
        case _ => // skip unknown chunk (LIST/INFO/fact...)
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(data != null, "WAV has no data chunk")
    data
  }

  /** The decoded sample stream of an asset — REAL container parse per
    * `meta.format`: BMP → row-major luma, WAV → PCM samples, anything
    * else → the raw bytes (the video/raw identity path, the one decode
    * still synthetic in this harness).
    */
  def decodedSamples(a: Multimodal.Asset): Array[Byte] = a.meta.format match {
    case "bmp" => decodeBmp(a.bytes)._3
    case "png" => decodePng(a.bytes)._3
    case "wav" => decodeWav(a.bytes)
    case _ => a.bytes
  }

  /** 60-bit perceptual AVERAGE-HASH over a decoded sample stream — the
    * aHash shape (resize to a fixed grid, threshold each cell against
    * the global mean): samples split into 60 equal spans (cell j of
    * sample i = ⌊i·60/n⌋), bit j set when cell j's mean exceeds the
    * stream mean. The comparison runs on INTEGER cross-products
    * (sum_j·n > total·cnt_j — exact, no doubles), so the DuckDB oracle
    * replays every bit from the decoded-sample model.
    */
  def perceptualHashOf(samples: Array[Byte]): Long = {
    val n = samples.length
    if (n == 0) return 0L
    val sums = new Array[Long](60)
    val cnts = new Array[Long](60)
    var tot = 0L
    var i = 0
    while (i < n) {
      val j = (i.toLong * 60 / n).toInt
      val v = (samples(i) & 0xff).toLong
      sums(j) += v; cnts(j) += 1; tot += v
      i += 1
    }
    var h = 0L
    var j = 0
    while (j < 60) {
      if (cnts(j) > 0 && sums(j) * n > tot * cnts(j)) h |= 1L << j
      j += 1
    }
    h
  }

  /** Perceptual hash of an asset: container parse, then [[perceptualHashOf]]
    * over the decoded samples.
    */
  def perceptualHash(a: Multimodal.Asset): Long = perceptualHashOf(decodedSamples(a))

  /** Decode + feature-extract one asset: container parse, then
    * deterministic per-sample stats (the feature-model stand-in —
    * n_bytes is the DECODED sample count, mean/histogram run over
    * decoded samples, so a broken container parse breaks the gates).
    */
  def decodeFeatures(a: Multimodal.Asset): Multimodal.AssetFeatures = {
    val s = decodedSamples(a)
    val n = s.length
    val mean = if (n == 0) 0.0 else s.map(b => (b & 0xff).toDouble).sum / n
    val hist = new Array[Double](8)
    s.foreach(b => hist((b & 0xff) / 32) += 1.0)
    Multimodal.AssetFeatures(a.asset_id, a.kind, n, mean, hist.map(h => if (n == 0) 0.0 else h / n))
  }
}
