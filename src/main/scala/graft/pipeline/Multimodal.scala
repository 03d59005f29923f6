package graft.pipeline

import graft.core.{Graft, Memo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata; decode / feature-extraction is a
  * clearly-marked deterministic STUB (this container has no codec
  * libraries), while everything Spark-side - schema, narrow per-row
  * shape, explode-based frame fan-out, partition-friendly keys - is
  * real and oracle-checked.
  *
  * The `documents.text` bytes stand in for the media payload; at 100 TB
  * the same plan shape applies to real image/audio/video bytes.
  */
object Multimodal {

  val frameSizeBytes = 1000
  val frameStride = 2

  /** STUB decode: width/height/format derived deterministically from
    * the content digest, standing in for an image-header parse.
    */
  def binaryStats(spark: SparkSession, sfDir: String): DataFrame =
    Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", expr("octet_length(payload)").cast(LongType))
      .withColumn("digest", md5(col("payload")))
      .withColumn("width", expr(
        "CAST(64 + (instr('0123456789abcdef', substring(digest, 1, 1)) - 1) * 16 + (instr('0123456789abcdef', substring(digest, 2, 1)) - 1) AS BIGINT)"))
      .withColumn("height", expr(
        "CAST(64 + (instr('0123456789abcdef', substring(digest, 3, 1)) - 1) * 16 + (instr('0123456789abcdef', substring(digest, 4, 1)) - 1) AS BIGINT)"))
      .withColumn("format", expr(
        "element_at(array('jpeg', 'png', 'webp'), CAST((instr('0123456789abcdef', substring(digest, 5, 1)) - 1) % 3 AS INT) + 1)"))
      .withColumn("n_frames",
        (col("n_bytes") / frameSizeBytes).cast(LongType) + 1)
      .select(col("doc_id"), col("n_bytes"), col("digest"), col("width"),
        col("height"), col("format"), col("n_frames"))
      .orderBy(col("doc_id"))

  val binaryStatsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |         md5(text) AS digest
       |  FROM documents
       |)
       |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, digest,
       |  CAST(64 + (strpos('0123456789abcdef', substr(digest, 1, 1)) - 1) * 16
       |       + (strpos('0123456789abcdef', substr(digest, 2, 1)) - 1)
       |       AS BIGINT) AS width,
       |  CAST(64 + (strpos('0123456789abcdef', substr(digest, 3, 1)) - 1) * 16
       |       + (strpos('0123456789abcdef', substr(digest, 4, 1)) - 1)
       |       AS BIGINT) AS height,
       |  ['jpeg', 'png', 'webp']
       |    [((strpos('0123456789abcdef', substr(digest, 5, 1)) - 1) % 3) + 1]
       |    AS format,
       |  CAST(n_bytes // $frameSizeBytes + 1 AS BIGINT) AS n_frames
       |FROM t ORDER BY doc_id""".stripMargin

  /** Typed rows for the batched-decode path. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class DecodedRow(doc_id: Long, n_bytes: Long, digest: String,
                              width: Long, height: Long, format: String)

  /** Batched decode via mapPartitions - the Scala analog of a
    * mapInPandas decode stage: the (expensive) codec is initialized
    * ONCE per partition and the partition's rows stream through it as
    * one batch. The codec itself is a deterministic STUB (md5-derived
    * header fields, same derivation as `binaryStats`, so the same
    * oracle applies); swapping in a real image/audio decoder changes
    * only the body of `decodeOne`.
    */
  def decodeBatched(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    val hexv = "0123456789abcdef"
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRow]
      .mapPartitions { rows =>
        // per-partition init ≙ loading codec/model weights once
        val md = java.security.MessageDigest.getInstance("MD5")
        def decodeOne(r: MediaRow): DecodedRow = {
          md.reset()
          val digest = md.digest(r.payload).map(b => f"$b%02x").mkString
          def nib(i: Int): Int = hexv.indexOf(digest.charAt(i))
          DecodedRow(r.doc_id, r.payload.length.toLong, digest,
            64L + nib(0) * 16 + nib(1), 64L + nib(2) * 16 + nib(3),
            Seq("jpeg", "png", "webp")(nib(4) % 3))
        }
        rows.map(decodeOne)
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Same header fields as binaryStats - the mapPartitions decode and
    * the declarative derivation must agree.
    */
  val decodeBatchedSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |         md5(text) AS digest
       |  FROM documents
       |)
       |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, digest,
       |  CAST(64 + (strpos('0123456789abcdef', substr(digest, 1, 1)) - 1) * 16
       |       + (strpos('0123456789abcdef', substr(digest, 2, 1)) - 1)
       |       AS BIGINT) AS width,
       |  CAST(64 + (strpos('0123456789abcdef', substr(digest, 3, 1)) - 1) * 16
       |       + (strpos('0123456789abcdef', substr(digest, 4, 1)) - 1)
       |       AS BIGINT) AS height,
       |  ['jpeg', 'png', 'webp']
       |    [((strpos('0123456789abcdef', substr(digest, 5, 1)) - 1) % 3) + 1]
       |    AS format
       |FROM t ORDER BY doc_id""".stripMargin

  // ---- mm_bmp_decode: a REAL image codec (no stub) -------------------

  /** Pure-JVM BMP writer: 24-bit uncompressed BI_RGB, bottom-up rows,
    * 4-byte row padding - a genuine, ImageIO-readable image file. The
    * pixel pattern is doc-derived: blue = x + y, green = 2(x + y),
    * red = docId % 200 (dims stay < 256 so no channel wraps), which
    * gives the decoder's output a closed form the DuckDB oracle can
    * recompute from doc_id alone.
    */
  private[pipeline] def bmpEncode(docId: Long, w: Int, h: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    val red = (docId % 200).toByte
    var y = h - 1 // bottom-up: last image row is stored first
    while (y >= 0) {
      var x = 0
      while (x < w) {
        b.put((x + y).toByte).put((2 * (x + y)).toByte).put(red) // B G R
        x += 1
      }
      var p = w * 3
      while (p < rowBytes) { b.put(0.toByte); p += 1 }
      y -= 1
    }
    b.array()
  }

  /** Decoded header + exact integer pixel aggregates. `tl_blue` is the
    * blue channel of the TOP-LEFT image pixel - in a bottom-up BMP that
    * byte sits at the start of the LAST stored row, so a parser that
    * ignores row order gets it wrong even though the sums hide it.
    */
  final case class BmpDecoded(doc_id: Long, width: Long, height: Long,
                              bpp: Long, sum_red: Long, sum_green: Long,
                              sum_blue: Long, tl_blue: Long)

  /** Pure-JVM BMP parser: validates the magic, reads the little-endian
    * header (pixel offset, dims, bpp, BI_RGB only), then walks the
    * padded bottom-up pixel rows. No library, no stub - this reads any
    * 24-bit uncompressed BMP, not just `bmpEncode`'s (the spec pins it
    * against the JDK's own ImageIO BMP reader as an independent
    * referee).
    */
  private[pipeline] def bmpDecode(docId: Long, bytes: Array[Byte]): BmpDecoded = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B'.toByte &&
      b.get(1) == 'M'.toByte, s"doc $docId: not a BMP payload")
    val pixOff = b.getInt(10)
    val w = b.getInt(18)
    val h = b.getInt(22)
    val bpp = b.getShort(28).toInt
    require(bpp == 24 && b.getInt(30) == 0,
      s"doc $docId: only 24-bit BI_RGB supported, got bpp=$bpp")
    val rowBytes = (w * 3 + 3) / 4 * 4
    var (sr, sg, sb) = (0L, 0L, 0L)
    var stored = 0 // stored-row index; image row y = h - 1 - stored
    while (stored < h) {
      var x = 0
      val base = pixOff + stored * rowBytes
      while (x < w) {
        sb += bytes(base + x * 3) & 0xff
        sg += bytes(base + x * 3 + 1) & 0xff
        sr += bytes(base + x * 3 + 2) & 0xff
        x += 1
      }
      stored += 1
    }
    // top-left image pixel = first pixel of the last STORED row
    val tl = bytes(pixOff + (h - 1) * rowBytes) & 0xff
    BmpDecoded(docId, w, h, bpp, sr, sg, sb, tl)
  }

  /** End-to-end real-codec path: encode each document's doc-derived
    * image as genuine BMP bytes (the binary media column), then decode
    * header + pixels back with the real parser. Encoder and parser are
    * independent code paths, so a parse bug (padding, row order,
    * endianness, header offset) breaks the closed-form oracle match.
    * Same mapPartitions batch shape as `decodeBatched` - per-partition
    * codec init, rows streamed through.
    */
  def bmpDecodeE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + (id % 17).toInt
          val h = 8 + (id % 11).toInt
          bmpDecode(id, bmpEncode(id, w, h))
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Closed forms: width/height from doc_id; channel sums over the
    * gradient - sum(x+y) = h*w(w-1)/2 + w*h(h-1)/2, green doubles it,
    * red is constant per image, top-left blue is 0 by construction.
    */
  val bmpDecodeE2eSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         16 + doc_id % 17 AS w,
      |         8 + doc_id % 11 AS h
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(24 AS BIGINT) AS bpp,
      |  CAST(w * h * (doc_id % 200) AS BIGINT) AS sum_red,
      |  CAST(2 * (h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2))
      |       AS BIGINT) AS sum_green,
      |  CAST(h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
      |       AS BIGINT) AS sum_blue,
      |  CAST(0 AS BIGINT) AS tl_blue
      |FROM t ORDER BY doc_id""".stripMargin

  // ---- mm_resize: nearest-neighbor raster resize ----------------------

  /** Fixed resize target: mixed regime by construction — widths
    * (16..32) always downsample to 12, heights (8..18) straddle it, so
    * both the row-duplication (upsample) and row-skip (downsample)
    * paths run on the gate corpus.
    */
  val resizeTw = 12
  val resizeTh = 12

  final case class BmpResized(doc_id: Long, width: Long, height: Long,
                              sum_red: Long, sum_green: Long,
                              sum_blue: Long, br_blue: Long)

  /** Nearest-neighbor resize of a real 24-bit BMP payload: parse the
    * header (same validation as `bmpDecode`), then sample source pixel
    * (⌊ox·w/tw⌋, ⌊oy·h/th⌋) for every target pixel — THE standard
    * training-data image normalization (fixed input dims for a vision
    * tower), run against genuine bytes, not a stub. Output is the
    * resized raster's exact integer channel sums + the bottom-right
    * pixel's blue (a single-pixel probe that catches an off-by-one in
    * the index map that symmetric sums could hide). The bottom-up
    * stored-row addressing must compose with the index map — a parser
    * that conflates image y with stored y breaks `br_blue` on every
    * non-square-scaled doc.
    */
  private[pipeline] def bmpResizeNearest(docId: Long, bytes: Array[Byte],
                                         tw: Int, th: Int): BmpResized = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B'.toByte &&
      b.get(1) == 'M'.toByte, s"doc $docId: not a BMP payload")
    val pixOff = b.getInt(10)
    val w = b.getInt(18)
    val h = b.getInt(22)
    require(b.getShort(28).toInt == 24 && b.getInt(30) == 0,
      s"doc $docId: only 24-bit BI_RGB supported")
    val rowBytes = (w * 3 + 3) / 4 * 4
    def px(x: Int, y: Int): Int = pixOff + (h - 1 - y) * rowBytes + x * 3
    var (sr, sg, sb) = (0L, 0L, 0L)
    var oy = 0
    while (oy < th) {
      val sy = oy * h / th
      var ox = 0
      while (ox < tw) {
        val base = px(ox * w / tw, sy)
        sb += bytes(base) & 0xff
        sg += bytes(base + 1) & 0xff
        sr += bytes(base + 2) & 0xff
        ox += 1
      }
      oy += 1
    }
    val br = bytes(px((tw - 1) * w / tw, (th - 1) * h / th)) & 0xff
    BmpResized(docId, tw.toLong, th.toLong, sr, sg, sb, br.toLong)
  }

  /** End-to-end: encode the doc-derived BMP, resize it for real. Same
    * mapPartitions shape as `bmpDecodeE2e` — narrow, no shuffle, per-row
    * cost constant in the corpus (the 100 TB claim the corpus anchor
    * measures for the codec family).
    */
  def resizeE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + (id % 17).toInt
          val h = 8 + (id % 11).toInt
          bmpResizeNearest(id, bmpEncode(id, w, h), resizeTw, resizeTh)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Closed forms over the gradient image: a resized pixel's blue is
    * ⌊ox·w/tw⌋ + ⌊oy·h/th⌋, so sum_blue = th·Σ_ox⌊ox·w/tw⌋ +
    * tw·Σ_oy⌊oy·h/th⌋ (the floor sums unroll over generate_series),
    * green doubles it, red is constant per image, and br_blue is the
    * index map evaluated at the last target pixel.
    */
  val resizeE2eSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         16 + doc_id % 17 AS w,
       |         8 + doc_id % 11 AS h
       |  FROM documents
       |), ser AS (
       |  SELECT unnest(generate_series(0, ${resizeTw - 1})) AS i
       |), fx AS (
       |  SELECT doc_id, sum((i * w) // $resizeTw) AS sxx
       |  FROM t CROSS JOIN ser GROUP BY doc_id
       |), fy AS (
       |  SELECT doc_id, sum((i * h) // $resizeTh) AS syy
       |  FROM t CROSS JOIN ser WHERE i < $resizeTh GROUP BY doc_id
       |)
       |SELECT t.doc_id,
       |  CAST($resizeTw AS BIGINT) AS width,
       |  CAST($resizeTh AS BIGINT) AS height,
       |  CAST($resizeTw * $resizeTh * (t.doc_id % 200) AS BIGINT)
       |    AS sum_red,
       |  CAST(2 * ($resizeTh * fx.sxx + $resizeTw * fy.syy) AS BIGINT)
       |    AS sum_green,
       |  CAST($resizeTh * fx.sxx + $resizeTw * fy.syy AS BIGINT)
       |    AS sum_blue,
       |  CAST((${resizeTw - 1} * t.w) // $resizeTw
       |       + (${resizeTh - 1} * t.h) // $resizeTh AS BIGINT)
       |    AS br_blue
       |FROM t JOIN fx USING (doc_id) JOIN fy USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  // ---- mm_ahash: perceptual image near-dup detection ------------------

  /** aHash grid: 8×6 = 48 bits, so the signature drops straight into
    * the dedup family's 48-bit Hamming machinery (4×12-bit chunk
    * blocking, threshold 6 — `Dedup.simhashPairsFrom` verbatim).
    */
  val ahashGw = 8
  val ahashGh = 6

  /** Scene count for the textured corpus: 97 content classes, so the
    * near-dup relation is scene-quantized (≈ corpus/97 docs per scene)
    * rather than the degenerate everything-matches the plain gradient
    * would give (measured: the gradient corpus put 98k of 125k
    * possible pairs within the threshold — a hash that cannot
    * discriminate is not a dedup signature).
    */
  val ahashScenes = 97L

  /** Textured sibling of `bmpEncode` for the perceptual-hash path:
    * same genuine BMP container, blue plane carries a doc-derived
    * SCENE — base gradient plus a scene-keyed interference pattern,
    * p(x,y) = ((x+y) + 17·((2x+3y+s) mod 6)) mod 200 with
    * s = docId mod 97 — so two docs share content iff they share a
    * scene, at (usually) different dims. Integer closed form at every
    * pixel, which is all the oracle needs: it evaluates the formula
    * at the 48 sampled grid points only.
    */
  private[pipeline] def bmpEncodeScene(docId: Long, w: Int,
                                       h: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    val s = (docId % ahashScenes).toInt
    val red = (docId % 200).toByte
    var y = h - 1
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val p = (((x + y) + 17 * ((2 * x + 3 * y + s) % 6)) % 200).toByte
        b.put(p).put(p).put(red) // B G R
        x += 1
      }
      var pd = w * 3
      while (pd < rowBytes) { b.put(0.toByte); pd += 1 }
      y -= 1
    }
    b.array()
  }

  /** AVERAGE-HASH of a real BMP payload: nearest-neighbor sample the
    * blue plane onto the 8×6 grid (the `mm_resize` index map), then
    * one bit per cell — 1 iff the cell is strictly brighter than the
    * grid mean (48·p > Σp keeps the comparison in exact integers; an
    * exactly-mean cell is 0, deterministically). The canonical
    * image-dedup signature: invariant to uniform brightness shifts by
    * construction (a constant offset moves every cell and the mean
    * equally), robust to small rescales because the grid sample moves
    * only at floor-index boundaries.
    */
  /** The shared 8×6 blue-plane grid sample of a real BMP payload —
    * the front half of both perceptual hashes (average and DCT).
    */
  private[pipeline] def bmpCells48(docId: Long,
                                   bytes: Array[Byte]): Array[Long] = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B'.toByte &&
      b.get(1) == 'M'.toByte, s"doc $docId: not a BMP payload")
    val pixOff = b.getInt(10)
    val w = b.getInt(18)
    val h = b.getInt(22)
    require(b.getShort(28).toInt == 24 && b.getInt(30) == 0,
      s"doc $docId: only 24-bit BI_RGB supported")
    val rowBytes = (w * 3 + 3) / 4 * 4
    val cells = Array.ofDim[Long](ahashGw * ahashGh)
    var oy = 0
    while (oy < ahashGh) {
      val sy = oy * h / ahashGh
      var ox = 0
      while (ox < ahashGw) {
        cells(oy * ahashGw + ox) = (bytes(pixOff + (h - 1 - sy) *
          rowBytes + (ox * w / ahashGw) * 3) & 0xff).toLong
        ox += 1
      }
      oy += 1
    }
    cells
  }

  private[pipeline] def bmpAhash48(docId: Long, bytes: Array[Byte]): Long = {
    val cells = bmpCells48(docId, bytes)
    var tot = 0L
    var i = 0
    while (i < cells.length) { tot += cells(i); i += 1 }
    var sim = 0L
    i = 0
    while (i < cells.length) {
      if (cells.length * cells(i) > tot) sim |= 1L << i
      i += 1
    }
    sim
  }

  // ---- mm_phash: DCT perceptual hash ----------------------------------

  /** Kept DCT coefficients: the low-frequency block u < 4, v < 3 with
    * DC dropped — 11 bits, (v, u)-lexicographic bit order (bit
    * i = v·4 + u − 1).
    */
  private[pipeline] val phashKeep: Seq[(Int, Int)] =
    for { v <- 0 until 3; u <- 0 until 4; if !(u == 0 && v == 0) }
      yield (u, v)

  /** Micro-unit DCT-II basis tables, generated ONCE here and spliced
    * as literals into the oracle — the periodogram discipline: the
    * cosine never runs cross-engine, so every coefficient is exact
    * integer arithmetic in both.
    */
  private[pipeline] lazy val phashCosW: Array[Array[Long]] =
    Array.tabulate(ahashGw, ahashGw) { (u, x) =>
      math.floor(math.cos(
        math.Pi * (2 * x + 1) * u / (2.0 * ahashGw)) * 1e6 + 0.5).toLong
    }
  private[pipeline] lazy val phashCosH: Array[Array[Long]] =
    Array.tabulate(ahashGh, ahashGh) { (v, y) =>
      math.floor(math.cos(
        math.Pi * (2 * y + 1) * v / (2.0 * ahashGh)) * 1e6 + 0.5).toLong
    }

  /** DCT PERCEPTUAL HASH of a real BMP payload — the frequency-domain
    * upgrade of `bmpAhash48` (aHash reads raw cell brightness, so
    * high-frequency texture flips bits; pHash reads the 11
    * lowest-frequency DCT coefficients against their LOWER median, so
    * the bits encode coarse STRUCTURE — the standard pHash argument):
    * integer 2-D DCT-II over the shared 8×6 grid in micro² units,
    * bit i = coeff_i > median. Coefficient magnitude ≤ 48·255·10¹² —
    * exact in BIGINT on both engines.
    */
  private[pipeline] def bmpPhash(docId: Long, bytes: Array[Byte]): Long = {
    val cells = bmpCells48(docId, bytes)
    val coeffs = phashKeep.map { case (u, v) =>
      var s = 0L
      var y = 0
      while (y < ahashGh) {
        var x = 0
        while (x < ahashGw) {
          s += cells(y * ahashGw + x) * phashCosW(u)(x) * phashCosH(v)(y)
          x += 1
        }
        y += 1
      }
      s
    }
    val med = coeffs.sorted.apply((coeffs.length + 1) / 2 - 1)
    var sim = 0L
    coeffs.indices.foreach { i =>
      if (coeffs(i) > med) sim |= 1L << i
    }
    sim
  }

  /** Image near-dup pairs over the corpus's real BMP bytes — the
    * multimodal member of the dedup family: encode, hash, then the
    * SAME chunk-blocked Hamming join text dedup uses
    * (`Dedup.simhashPairsFrom` — one shared pairing core across
    * modalities). On this synthetic corpus the gradient scene is
    * determined by (w, h) and brightness by doc_id, so docs sharing
    * dims are true brightness-shifted near-dups (hamming 0) and
    * adjacent dims land within the threshold — the fixture's pair
    * volume quantizes by the 17×11 dim classes, a generator artifact
    * a real corpus doesn't have (documented, not hidden).
    */
  def ahashPairs(spark: SparkSession, sfDir: String): DataFrame =
    ahashPairsTier(spark, sfDir)

  /** Session-shared materialized aHash signature tier (the simhash
    * sims tier's image twin): one encode+hash pass per (session,
    * corpus) read by the pair join, the route pricing, and the
    * caption-consistency composition.
    */
  private[graft] def ahashSimsMat(spark: SparkSession,
                                  sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "ahash-sims")(
      ahashSims(spark, sfDir))

  /** Session-shared blocked pair relation: mm_ahash_pairs emits it
    * and mm_caption_consistency's image axis reads the same
    * materialization instead of re-running the blocked join.
    */
  private[graft] def ahashPairsTier(spark: SparkSession,
                                    sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "ahash-pairs")(
      Dedup.simhashPairsFromMat(ahashSims(spark, sfDir),
        ahashSimsMat(spark, sfDir)))

  /** The (doc_id, sim) aHash signature relation the pair join and the
    * scheme router price — narrow encode+hash per row, no shuffle.
    * A `Memo` entry per (session, corpus dir): not for the compute
    * (narrow, cheap) but for PLAN IDENTITY — the scheme router's memo
    * keys on the canonicalized plan, and a fresh mapPartitions closure
    * per call would never compare equal, re-billing the route fee.
    */
  private[graft] def ahashSims(spark: SparkSession,
                               sfDir: String): DataFrame =
    Memo(spark, sfDir, "ahash-sim-plan") {
      val s2 = Graft.ensureConf(spark)
      import s2.implicits._
      Graft.tableParallel(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val w = 16 + (id % 17).toInt
            val h = 8 + (id % 11).toInt
            (id, bmpAhash48(id, bmpEncodeScene(id, w, h)))
          }
        }
        .toDF("doc_id", "sim")
    }

  /** Per-doc DCT perceptual hash over the corpus's real BMP bytes —
    * encode the scene, decode, sample the shared 8×6 grid, integer
    * DCT against the literal micro cos tables, 11 bits vs the lower
    * median. The signature relation image near-dup policies key on
    * when texture robustness matters more than brightness (aHash's
    * regime); emitted with its popcount for readability.
    *
    * 100 TB shape: mapPartitions-narrow, per-row constant cost, no
    * shuffle — the multimodal family's plan.
    */
  def phash(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + (id % 17).toInt
          val h = 8 + (id % 11).toInt
          val ph = bmpPhash(id, bmpEncodeScene(id, w, h))
          (id, ph, java.lang.Long.bitCount(ph).toLong)
        }
      }
      .toDF("doc_id", "phash", "n_set")
      .orderBy(col("doc_id"))
  }

  val phashSql: String = {
    val ctw = phashCosW.zipWithIndex.flatMap { case (row, u) =>
      row.zipWithIndex.map { case (c, x) => s"($u, $x, ${c})" }
    }.mkString(", ")
    val cth = phashCosH.zipWithIndex.flatMap { case (row, v) =>
      row.zipWithIndex.map { case (c, y) => s"($v, $y, ${c})" }
    }.mkString(", ")
    val keep = phashKeep.zipWithIndex
      .map { case ((u, v), i) => s"($u, $v, $i)" }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         16 + doc_id % 17 AS w,
       |         8 + doc_id % 11 AS h
       |  FROM documents
       |), gx AS (
       |  SELECT unnest(generate_series(0, ${ahashGw - 1})) AS ox
       |), gy AS (
       |  SELECT unnest(generate_series(0, ${ahashGh - 1})) AS oy
       |), px AS (
       |  SELECT doc_id, ox, oy,
       |         ((sx + sy) + 17 * ((2 * sx + 3 * sy + sc) % 6)) % 200
       |           AS p
       |  FROM (
       |    SELECT t.doc_id, ox, oy,
       |           (ox * t.w) // $ahashGw AS sx,
       |           (oy * t.h) // $ahashGh AS sy,
       |           t.doc_id % $ahashScenes AS sc
       |    FROM t CROSS JOIN gx CROSS JOIN gy
       |  )
       |), ctw(u, x, c) AS (VALUES $ctw),
       |cth(v, y, c) AS (VALUES $cth),
       |keep(u, v, i) AS (VALUES $keep),
       |co AS (
       |  SELECT px.doc_id, k.i,
       |    CAST(sum(px.p * w.c * h.c) AS BIGINT) AS coeff
       |  FROM px
       |  JOIN keep k ON TRUE
       |  JOIN ctw w ON w.u = k.u AND w.x = px.ox
       |  JOIN cth h ON h.v = k.v AND h.y = px.oy
       |  GROUP BY 1, 2
       |), med AS (
       |  SELECT doc_id, coeff AS med FROM (
       |    SELECT doc_id, coeff,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY coeff) AS rn
       |    FROM co
       |  ) WHERE rn = ${(phashKeep.length + 1) / 2}
       |), sims AS (
       |  SELECT co.doc_id,
       |    CAST(coalesce(sum(CASE WHEN co.coeff > m.med
       |      THEN (CAST(1 AS BIGINT) << co.i) ELSE 0 END), 0) AS BIGINT)
       |      AS phash
       |  FROM co JOIN med m USING (doc_id) GROUP BY 1
       |)
       |SELECT doc_id, phash,
       |  CAST(bit_count(phash) AS BIGINT) AS n_set
       |FROM sims ORDER BY doc_id""".stripMargin
  }

  /** Closed forms: cell p(ox, oy) = ⌊ox·w/8⌋ + ⌊oy·h/6⌋ (the gradient
    * under the grid index map), the mean test in integers, the pack a
    * 48-bit sum, and the pair join the simhash oracle's chunk scheme.
    */
  /** The scheme router's decision row for the IMAGE corpus — the
    * `dd_simhash_route` twin over the aHash signature relation (one
    * router, every 48-bit Hamming modality; the image corpus clumps
    * by its 17x11 dim classes, so its volumes and route can differ
    * from the text corpus's on the same day). Same observable shape,
    * same integer predicate, same budget.
    */
  def ahashRoute(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashRouteFaceFor(ahashSimsMat(spark, sfDir))

  lazy val ahashRouteSql: String =
    s"""WITH $ahashSimsCtesSql,
       |${Dedup.simhashRouteTailSql}""".stripMargin

  /** The aHash `sims(doc_id, sim)` CTE chain — shared by the pair
    * oracle and the route oracle.
    */
  private lazy val ahashSimsCtesSql: String =
    s"""t AS (
       |  SELECT doc_id,
       |         16 + doc_id % 17 AS w,
       |         8 + doc_id % 11 AS h
       |  FROM documents
       |), gx AS (
       |  SELECT unnest(generate_series(0, ${ahashGw - 1})) AS ox
       |), gy AS (
       |  SELECT unnest(generate_series(0, ${ahashGh - 1})) AS oy
       |), px AS (
       |  SELECT doc_id, b,
       |         ((sx + sy) + 17 * ((2 * sx + 3 * sy + sc) % 6)) % 200
       |           AS p
       |  FROM (
       |    SELECT t.doc_id, oy * $ahashGw + ox AS b,
       |           (ox * t.w) // $ahashGw AS sx,
       |           (oy * t.h) // $ahashGh AS sy,
       |           t.doc_id % $ahashScenes AS sc
       |    FROM t CROSS JOIN gx CROSS JOIN gy
       |  )
       |), tot AS (
       |  SELECT doc_id, sum(p) AS s FROM px GROUP BY doc_id
       |), sims AS MATERIALIZED (
       |  SELECT p.doc_id,
       |    CAST(sum(CASE WHEN ${ahashGw * ahashGh} * p.p > t.s
       |             THEN (CAST(1 AS BIGINT) << p.b) ELSE 0 END)
       |      AS BIGINT) AS sim
       |  FROM px p JOIN tot t USING (doc_id) GROUP BY p.doc_id
       |)""".stripMargin

  val ahashPairsSql: String = {
    val chunkBranches = Dedup.simhashChunkBranchesSql("sims")
    s"""WITH $ahashSimsCtesSql, chunks AS (
       |${chunkBranches.mkString("\n  UNION ALL\n")}
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= ${Dedup.hammingThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- mm_caption_consistency: cross-modal composed face -------------

  /** CAPTION↔IMAGE CONSISTENCY scorecard — the cross-modal composed
    * face (the `pipe_corpus_clean` composition precedent: two shipped
    * relations composed as ONE declarative plan, no new machinery):
    * for every image near-dup pair (the blocked aHash join, shared
    * pairing core with text dedup), how much do the two documents'
    * CAPTIONS agree, measured as Jaccard over their winnowing
    * fingerprints (`txt_fingerprint` — the near-copy sketch)? Pairs
    * whose images match but whose fingerprints share nothing are the
    * mislabel/mismatched-caption suspects a multimodal curation run
    * routes to review; pairs that agree on both axes are true
    * cross-modal duplicates (drop candidates beyond what either
    * modality alone proves).
    *
    * Consistency is scored over DISCRIMINATIVE fingerprints only:
    * a fingerprint carried by more than `captionFpMaxDf` documents
    * is boilerplate (the MOSS convention — plagiarism/copy detectors
    * ignore ubiquitous shingles), so it neither proves caption
    * agreement (every template pair would "match") nor belongs in
    * the Jaccard denominator. The cap is also what makes the plan
    * scale-safe: the overlap self-join's output is Σ_fp df² ≤
    * cap·|fp rows| — LINEAR in the corpus — where the uncapped join
    * is quadratic in template multiplicity. Measured at the 10×
    * anchor (this synthetic corpus, mean df ≈ 5.4): naive
    * pairs-×-fingerprints 20.5 s → uncapped self-join 15.0 s →
    * df-capped + checkpointed 8.3 s, and the remainder decomposes
    * into the linear components (blocked pair join ~3 s, winnowing
    * fingerprints ~3.5 s, capped joins ~1.5 s).
    *
    * 100 TB shape: the pair relation is the BLOCKED join's bounded
    * output; the overlap comes from the df-capped FP-KEYED self-join
    * (the AllPairs lesson: key on the rare signature), semi-joined
    * to the image pairs; one fp-keyed df count rides the same
    * exchange. Nothing re-reads bytes or text (both inputs are the
    * session-shared relations the suite already pays).
    */
  val captionFpMaxDf = 16L

  def captionConsistency(spark: SparkSession, sfDir: String): DataFrame = {
    // both input relations are session tiers (flat materialized
    // leaves shared with mm_ahash_pairs and txt_fingerprint) — no
    // per-face re-derivation or defensive checkpoint needed
    val pairs = ahashPairsTier(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val fpAll = TextAnalysis.fingerprintTier(spark, sfDir)
      .select(col("doc_id"), col("fp"))
    val keep = fpAll.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(captionFpMaxDf))
      .select(col("fp"))
    val fp = fpAll.join(keep, Seq("fp"), "left_semi").localCheckpoint()
    val nfp = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val shared = fp.select(col("doc_id").as("doc_a"), col("fp"))
      .join(fp.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(pairs.select(col("doc_a"), col("doc_b")),
        Seq("doc_a", "doc_b"), "left_semi")
    pairs
      .join(nfp.select(col("doc_id").as("doc_a"),
        col("n_fp").as("n_fp_a")), Seq("doc_a"), "left")
      .join(nfp.select(col("doc_id").as("doc_b"),
        col("n_fp").as("n_fp_b")), Seq("doc_b"), "left")
      .join(shared, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        coalesce(col("n_fp_a"), lit(0L)).as("n_fp_a"),
        coalesce(col("n_fp_b"), lit(0L)).as("n_fp_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("n_fp_a"), col("n_fp_b"), col("n_shared"),
        when(col("n_fp_a") + col("n_fp_b") - col("n_shared") > 0L,
          graft.pipeline.ParityMath.q6(
            col("n_shared").cast("double") /
              (col("n_fp_a") + col("n_fp_b") - col("n_shared"))
                .cast("double"))).as("fp_jaccard"),
        (col("n_shared") > 0L).as("caption_match"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val captionConsistencySql: String = {
    val chunkBranches = Dedup.simhashChunkBranchesSql("sims")
    s"""WITH $ahashSimsCtesSql, chunks AS (
       |${chunkBranches.mkString("\n  UNION ALL\n")}
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
       |), ip AS (
       |  SELECT doc_a, doc_b, hamming FROM pairs
       |  WHERE hamming <= ${Dedup.hammingThreshold}
       |), ft AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
       |  FROM documents
       |  WHERE len(regexp_extract_all(text, '\\S+')) >= 6
       |), fh AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(toks) - 1),
       |      i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |      AS hashes
       |  FROM ft
       |), fw AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(hashes) - 2),
       |      i -> list_min(hashes[i:i+3]))) AS fps
       |  FROM fh
       |), fp0 AS (
       |  SELECT doc_id, unnest(fps) AS fp FROM fw
       |), fp AS MATERIALIZED (
       |  SELECT f.doc_id, f.fp FROM fp0 f
       |  JOIN (SELECT fp FROM fp0 GROUP BY fp
       |        HAVING count(*) <= $captionFpMaxDf) k USING (fp)
       |), nfp AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
       |  FROM fp GROUP BY doc_id
       |), shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM fp a JOIN fp b ON b.fp = a.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT p.doc_a, p.doc_b, p.hamming,
       |  coalesce(na.n_fp, 0) AS n_fp_a,
       |  coalesce(nb.n_fp, 0) AS n_fp_b,
       |  coalesce(s.n_shared, 0) AS n_shared,
       |  CASE WHEN coalesce(na.n_fp, 0) + coalesce(nb.n_fp, 0)
       |            - coalesce(s.n_shared, 0) > 0
       |  THEN ${graft.pipeline.ParityMath.q6Sql(
            """CAST(coalesce(s.n_shared, 0) AS DOUBLE)
              |/ CAST(coalesce(na.n_fp, 0) + coalesce(nb.n_fp, 0)
              |       - coalesce(s.n_shared, 0) AS DOUBLE)""".stripMargin)}
       |  END AS fp_jaccard,
       |  coalesce(s.n_shared, 0) > 0 AS caption_match
       |FROM ip p
       |LEFT JOIN nfp na ON na.doc_id = p.doc_a
       |LEFT JOIN nfp nb ON nb.doc_id = p.doc_b
       |LEFT JOIN shared s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin
  }

  // ---- mm_sobel: edge-energy feature over the decoded raster ---------

  final case class BmpSobel(doc_id: Long, width: Long, height: Long,
                            edge_sum: Long, edge_max: Long)

  /** Sobel 3×3 edge energy (|Gx| + |Gy| summed over interior pixels,
    * plus the max) of the blue plane — THE classic image-quality /
    * blur-detection feature a vision-data pipeline computes per image
    * (a blurry or blank frame has low edge energy; `pipe_gate`-style
    * cuts run on exactly this signal). Runs against genuine decoded
    * BMP bytes through the same header-validating parse as the resize
    * face. The SCENE-textured corpus, not the plain gradient, on
    * purpose: a linear ramp has CONSTANT Sobel response (16
    * everywhere — the ahash lesson: a measure that cannot
    * discriminate is not a feature), while the scene interference
    * pattern gives every content class its own energy signature the
    * closed-form oracle replays at each interior grid point.
    */
  private[pipeline] def bmpSobelEnergy(docId: Long,
                                       bytes: Array[Byte]): BmpSobel = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B'.toByte &&
      b.get(1) == 'M'.toByte, s"doc $docId: not a BMP payload")
    val pixOff = b.getInt(10)
    val w = b.getInt(18)
    val h = b.getInt(22)
    require(b.getShort(28).toInt == 24 && b.getInt(30) == 0,
      s"doc $docId: only 24-bit BI_RGB supported")
    val rowBytes = (w * 3 + 3) / 4 * 4
    def blue(x: Int, y: Int): Int =
      bytes(pixOff + (h - 1 - y) * rowBytes + x * 3) & 0xff
    var (sum, mx) = (0L, 0L)
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val gx = (blue(x + 1, y - 1) + 2 * blue(x + 1, y) +
          blue(x + 1, y + 1)) - (blue(x - 1, y - 1) +
          2 * blue(x - 1, y) + blue(x - 1, y + 1))
        val gy = (blue(x - 1, y + 1) + 2 * blue(x, y + 1) +
          blue(x + 1, y + 1)) - (blue(x - 1, y - 1) +
          2 * blue(x, y - 1) + blue(x + 1, y - 1))
        val e = math.abs(gx).toLong + math.abs(gy).toLong
        sum += e
        if (e > mx) mx = e
        x += 1
      }
      y += 1
    }
    BmpSobel(docId, w.toLong, h.toLong, sum, mx)
  }

  /** End-to-end: encode the scene BMP, convolve the decoded raster.
    * Same mapPartitions shape as the codec family — narrow, no
    * shuffle, per-row cost constant in the corpus.
    */
  def sobelE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + (id % 17).toInt
          val h = 8 + (id % 11).toInt
          bmpSobelEnergy(id, bmpEncodeScene(id, w, h))
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Closed form: the oracle re-evaluates the scene formula
    * p(x,y) = ((x+y) + 17·((2x+3y+s) mod 6)) mod 200 at every
    * interior pixel (bounded series with the per-doc dim filter — the
    * resize oracle's scheme) and replays the convolution in exact
    * integers.
    */
  val sobelE2eSql: String = {
    def p(dx: Int, dy: Int): String = {
      val xx = if (dx == 0) "x" else s"(x + ($dx))"
      val yy = if (dy == 0) "y" else s"(y + ($dy))"
      s"((($xx + $yy) + 17 * ((2 * $xx + 3 * $yy + s) % 6)) % 200)"
    }
    val gx = s"((${p(1, -1)} + 2 * ${p(1, 0)} + ${p(1, 1)})" +
      s" - (${p(-1, -1)} + 2 * ${p(-1, 0)} + ${p(-1, 1)}))"
    val gy = s"((${p(-1, 1)} + 2 * ${p(0, 1)} + ${p(1, 1)})" +
      s" - (${p(-1, -1)} + 2 * ${p(0, -1)} + ${p(1, -1)}))"
    s"""WITH t AS (
       |  SELECT doc_id,
       |         16 + doc_id % 17 AS w,
       |         8 + doc_id % 11 AS h,
       |         doc_id % $ahashScenes AS s
       |  FROM documents
       |), sx AS (SELECT unnest(generate_series(1, 30)) AS x),
       |sy AS (SELECT unnest(generate_series(1, 16)) AS y),
       |e AS (
       |  SELECT doc_id, abs($gx) + abs($gy) AS en
       |  FROM t CROSS JOIN sx CROSS JOIN sy
       |  WHERE x <= w - 2 AND y <= h - 2
       |), a AS (
       |  SELECT doc_id, sum(en) AS es, max(en) AS em FROM e GROUP BY 1
       |)
       |SELECT t.doc_id, CAST(t.w AS BIGINT) AS width,
       |  CAST(t.h AS BIGINT) AS height,
       |  CAST(coalesce(a.es, 0) AS BIGINT) AS edge_sum,
       |  CAST(coalesce(a.em, 0) AS BIGINT) AS edge_max
       |FROM t LEFT JOIN a USING (doc_id) ORDER BY t.doc_id""".stripMargin
  }

  // ---- mm_histeq: histogram equalization over the decoded raster -----

  final case class BmpHisteq(doc_id: Long, width: Long, height: Long,
                             eq_sum: Long, eq_max: Long, eq_tl: Long)

  /** HISTOGRAM EQUALIZATION of the blue plane — the contrast
    * normalization a vision-data pipeline runs before feature
    * extraction (the OpenCV `equalizeHist` convention): remap each
    * value v to (cdf(v) − cdf_min)·255 DIV (npix − cdf_min), where
    * cdf is the cumulative pixel-value histogram and cdf_min the CDF
    * at the smallest PRESENT value. Everything is integer counting +
    * one floor division on non-negative operands, so the gate is
    * bit-exact through the real codec path (decode → per-image
    * histogram → remap), and the oracle replays the histogram/CDF/
    * remap chain over the closed-form scene texture in SQL. A
    * constant image (npix == cdf_min) maps to 0 by convention —
    * spec-pinned.
    */
  private[pipeline] def bmpHisteq(docId: Long,
                                  bytes: Array[Byte]): BmpHisteq = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B'.toByte &&
      b.get(1) == 'M'.toByte, s"doc $docId: not a BMP payload")
    val pixOff = b.getInt(10)
    val w = b.getInt(18)
    val h = b.getInt(22)
    require(b.getShort(28).toInt == 24 && b.getInt(30) == 0,
      s"doc $docId: only 24-bit BI_RGB supported")
    val rowBytes = (w * 3 + 3) / 4 * 4
    val hist = new Array[Long](256)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        hist(bytes(pixOff + (h - 1 - y) * rowBytes + x * 3) & 0xff) += 1
        x += 1
      }
      y += 1
    }
    val npix = w.toLong * h
    var vmin = 0
    while (hist(vmin) == 0L) vmin += 1
    val cdfMin = hist(vmin)
    val eq = new Array[Long](256)
    var cdf = 0L
    var v = 0
    while (v < 256) {
      cdf += hist(v)
      eq(v) =
        if (npix == cdfMin) 0L
        else (cdf - cdfMin) * 255L / (npix - cdfMin)
      v += 1
    }
    var (sum, mx) = (0L, 0L)
    v = 0
    while (v < 256) {
      if (hist(v) > 0) {
        sum += hist(v) * eq(v)
        if (eq(v) > mx) mx = eq(v)
      }
      v += 1
    }
    val tl = bytes(pixOff + (h - 1) * rowBytes) & 0xff
    BmpHisteq(docId, w.toLong, h.toLong, sum, mx, eq(tl))
  }

  /** End-to-end over the scene corpus — the codec family's
    * mapPartitions shape.
    */
  def histeqE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + (id % 17).toInt
          val h = 8 + (id % 11).toInt
          bmpHisteq(id, bmpEncodeScene(id, w, h))
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Oracle: histogram of the closed-form scene values over bounded
    * series, CDF by window, the same remap, then Σ cnt(v)·eq(v).
    */
  val histeqE2eSql: String = {
    val p = "(((x + y) + 17 * ((2 * x + 3 * y + s) % 6)) % 200)"
    s"""WITH t AS (
       |  SELECT doc_id,
       |         16 + doc_id % 17 AS w,
       |         8 + doc_id % 11 AS h,
       |         doc_id % $ahashScenes AS s
       |  FROM documents
       |), sx AS (SELECT unnest(generate_series(0, 32)) AS x),
       |sy AS (SELECT unnest(generate_series(0, 18)) AS y),
       |hist AS (
       |  SELECT doc_id, w, h, $p AS v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM t CROSS JOIN sx CROSS JOIN sy
       |  WHERE x < w AND y < h GROUP BY 1, 2, 3, 4
       |), c AS (
       |  SELECT doc_id, w, h, v, cnt,
       |    sum(cnt) OVER (PARTITION BY doc_id ORDER BY v) AS cdf,
       |    first_value(cnt) OVER (PARTITION BY doc_id ORDER BY v)
       |      AS cdf_min,
       |    CAST(w * h AS BIGINT) AS npix
       |  FROM hist
       |), e AS (
       |  SELECT doc_id, w, h, v, cnt,
       |    CASE WHEN npix = cdf_min THEN 0
       |         ELSE ((cdf - cdf_min) * 255) // (npix - cdf_min)
       |    END AS eq
       |  FROM c
       |), a AS (
       |  SELECT doc_id, sum(cnt * eq) AS es, max(eq) AS em
       |  FROM e GROUP BY 1
       |), tl AS (
       |  SELECT t.doc_id, (17 * (t.s % 6)) % 200 AS vtl FROM t
       |)
       |SELECT t.doc_id, CAST(t.w AS BIGINT) AS width,
       |  CAST(t.h AS BIGINT) AS height,
       |  CAST(a.es AS BIGINT) AS eq_sum,
       |  CAST(a.em AS BIGINT) AS eq_max,
       |  CAST(e.eq AS BIGINT) AS eq_tl
       |FROM t
       |JOIN a USING (doc_id)
       |JOIN tl ON tl.doc_id = t.doc_id
       |JOIN e ON e.doc_id = t.doc_id AND e.v = tl.vtl
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---- mm_wav_decode: a REAL audio codec (no stub) -------------------

  /** Pure-JVM WAV writer: canonical RIFF/WAVE, 16-bit PCM mono,
    * little-endian - a genuine file javax.sound can open. Doc-derived
    * waveform with a closed form: sample i = 50·((docId%100) + i%period),
    * n = 500 + docId%300 samples, rate 8000 + (docId%4)·4000 Hz. The
    * default period 100 is the feature corpus; the pitch corpus varies
    * it per doc (see `audioPitch`).
    */
  private[pipeline] def wavEncode(docId: Long,
                                  period: Int = 100): Array[Byte] = {
    val n = (500 + docId % 300).toInt
    val rate = (8000 + (docId % 4) * 4000).toInt
    val base = (docId % 100).toInt
    val b = java.nio.ByteBuffer.allocate(44 + 2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + 2 * n).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(2 * n)
    var i = 0
    while (i < n) {
      b.putShort((50 * (base + i % period)).toShort)
      i += 1
    }
    b.array()
  }

  final case class WavDecoded(doc_id: Long, sample_rate: Long,
                              channels: Long, bits: Long, n_samples: Long,
                              sum_samples: Long, peak: Long)

  /** Pure-JVM WAV parser: validates RIFF/WAVE, then WALKS the chunk
    * list generically (fmt may be followed by LIST/fact/etc. in the
    * wild - chunks are skipped by their declared size, word-aligned)
    * rather than assuming the canonical 44-byte layout; 16-bit PCM
    * mono only. Exact integer aggregates over the samples.
    */
  private[pipeline] def wavDecode(docId: Long, bytes: Array[Byte]): WavDecoded = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(bytes, off, 4, "US-ASCII")
    require(bytes.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"doc $docId: not a WAV payload")
    var off = 12
    var rate, channels, bits = -1
    var dataOff, dataLen = -1
    while (off + 8 <= bytes.length && (rate < 0 || dataOff < 0)) {
      val id = tag(off)
      val len = b.getInt(off + 4)
      id match {
        case "fmt " =>
          require(b.getShort(off + 8) == 1,
            s"doc $docId: only PCM supported")
          channels = b.getShort(off + 10)
          rate = b.getInt(off + 12)
          bits = b.getShort(off + 22)
        case "data" => dataOff = off + 8; dataLen = len
        case _ => // unknown chunk: skip
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    require(rate > 0 && dataOff > 0, s"doc $docId: missing fmt/data chunk")
    require(bits == 16 && channels == 1,
      s"doc $docId: only 16-bit mono supported, got $bits/$channels")
    val n = dataLen / 2
    var (sum, peak) = (0L, Long.MinValue)
    var i = 0
    while (i < n) {
      val s = b.getShort(dataOff + 2 * i).toLong
      sum += s
      if (s > peak) peak = s
      i += 1
    }
    WavDecoded(docId, rate, channels, bits, n, sum, peak)
  }

  /** End-to-end real audio codec path, same shape as `bmpDecodeE2e`:
    * genuine WAV bytes in, independent parse out, closed-form oracle.
    */
  def wavDecodeE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(ids => ids.map(id => wavDecode(id, wavEncode(id))))
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Closed forms: n = 500 + id%300 >= 500 covers a full 100-sample
    * cycle, so peak = 50·(id%100 + 99); sum = 50·(n·(id%100) + q·4950
    * + r(r−1)/2) with n = 100q + r.
    */
  val wavDecodeE2eSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         500 + doc_id % 300 AS n,
      |         doc_id % 100 AS base,
      |         8000 + (doc_id % 4) * 4000 AS rate
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(rate AS BIGINT) AS sample_rate,
      |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(50 * (n * base + (n // 100) * 4950
      |       + (n % 100) * ((n % 100) - 1) // 2) AS BIGINT) AS sum_samples,
      |  CAST(50 * (base + 99) AS BIGINT) AS peak
      |FROM t ORDER BY doc_id""".stripMargin

  // ---- mm_audio_features: frame features over the decoded PCM --------

  /** Analysis frame length (samples). */
  val audioFrameLen: Int = 100

  final case class AudioFrame(doc_id: Long, frame: Long, n_samples: Long,
                              sum_samples: Long, energy: Long, peak: Long)

  /** Frame slicer + exact integer features over an already-parsed
    * 16-bit PCM buffer: per fixed-length frame, sample sum, energy
    * (sum of squares — the integer RMS numerator) and peak. The
    * feature-extraction stage every audio pipeline runs after decode
    * (VAD thresholds, loudness normalization, silence trimming).
    */
  private[pipeline] def audioFrames(docId: Long,
                                    bytes: Array[Byte]): Seq[AudioFrame] = {
    val d = wavDecode(docId, bytes)
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // data chunk offset re-derived the same way the parser found it:
    // trust the decode's n_samples, locate data by scanning chunks
    var off = 12
    var dataOff = -1
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    while (dataOff < 0 && off + 8 <= bytes.length) {
      val len = b.getInt(off + 4)
      // a corrupt negative chunk length would stop the scan advancing
      // (off += 8 + len + pad can be <= 0) and spin this loop forever
      require(len >= 0, s"doc $docId: negative RIFF chunk length $len")
      if (tag(off) == "data") dataOff = off + 8
      else off += 8 + len + (len & 1)
    }
    val n = d.n_samples.toInt
    (0 until (n + audioFrameLen - 1) / audioFrameLen).map { j =>
      val lo = j * audioFrameLen
      val hi = math.min(lo + audioFrameLen, n)
      var (sum, energy, peak) = (0L, 0L, Long.MinValue)
      var i = lo
      while (i < hi) {
        val s = b.getShort(dataOff + 2 * i).toLong
        sum += s
        energy += s * s
        if (s > peak) peak = s
        i += 1
      }
      AudioFrame(docId, j.toLong, (hi - lo).toLong, sum, energy, peak)
    }
  }

  /** Bursty sibling of `wavEncode` for the activity-detection path:
    * same genuine WAV container, but the ramp only plays in 2-of-3
    * frame slots (phase doc-derived) and the remaining slots are
    * EXACT digital silence — sample i is 50·(base + i mod 100) when
    * ((i div 100) + docId mod 3) mod 3 < 2, else 0. A uniformly-loud
    * corpus cannot exercise a voice-activity detector (the ahash
    * can't-discriminate lesson), and 2-frame bursts with 1-frame gaps
    * make the island merge do real work.
    */
  private[pipeline] def wavEncodeBursty(docId: Long): Array[Byte] = {
    val n = (500 + docId % 300).toInt
    val rate = (8000 + (docId % 4) * 4000).toInt
    val base = (docId % 100).toInt
    val ph = (docId % 3).toInt
    val b = java.nio.ByteBuffer.allocate(44 + 2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + 2 * n).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(2 * n)
    var i = 0
    while (i < n) {
      val active = (i / 100 + ph) % 3 < 2
      b.putShort(if (active) (50 * (base + i % 100)).toShort else 0)
      i += 1
    }
    b.array()
  }

  final case class VadSegment(doc_id: Long, seg: Long, start_frame: Long,
                              end_frame: Long, n_frames: Long,
                              seg_samples: Long)

  /** VOICE/ACTIVITY-DETECTION segmentation — the audio family's
    * segmentation member next to decode (39e1), frame features (39f1)
    * and pitch (39e7), and the audio twin of the video scene cut: a
    * frame is active when its energy exceeds the silence threshold
    * (digital zero here — the corpus's silence is exact, so the
    * threshold is the degenerate `> 0`; a real deployment sets the
    * same knob in mean-square units), and consecutive active frames
    * merge into segments (the dup-spans island rule on the frame
    * axis). Runs end to end against genuine WAV bytes: encode →
    * independent parse → frame energies → threshold → merge, all
    * inside one narrow mapPartitions — segments never materialize as
    * rows before their features do.
    */
  def audioVad(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val frames = audioFrames(id, wavEncodeBursty(id))
          val segs = scala.collection.mutable.ArrayBuffer
            .empty[VadSegment]
          frames.foreach { f =>
            if (f.energy > 0L) {
              if (segs.nonEmpty &&
                  segs.last.end_frame == f.frame - 1) {
                val s0 = segs.last
                segs(segs.length - 1) = s0.copy(
                  end_frame = f.frame,
                  n_frames = s0.n_frames + 1,
                  seg_samples = s0.seg_samples + f.sum_samples)
              } else segs += VadSegment(id, segs.length + 1L, f.frame,
                f.frame, 1L, f.sum_samples)
            }
          }
          segs
        }
      }
      .toDF()
      .orderBy(col("doc_id"), col("seg"))
  }

  /** Closed forms: frame j is active iff (j + phase) mod 3 < 2; an
    * active full frame's sample sum is 50·(100·base + 4950), the tail
    * frame's the partial ramp sum; islands via the classic
    * j − row_number grouping.
    */
  val audioVadSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, 500 + doc_id % 300 AS n, doc_id % 100 AS base,
       |         doc_id % 3 AS ph
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, n, base, ph,
       |    unnest(range(0, (n + 99) // 100)) AS j
       |  FROM t
       |), a AS (
       |  SELECT doc_id, j,
       |    CASE WHEN (j + 1) * 100 <= n THEN 100 ELSE n - j * 100 END
       |      AS m, base
       |  FROM f WHERE (j + ph) % 3 < 2
       |), g AS (
       |  SELECT doc_id, j,
       |    50 * (m * base + (m * (m - 1)) // 2) AS fsum,
       |    j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS grp
       |  FROM a
       |), seg AS (
       |  SELECT doc_id, grp, min(j) AS start_frame, max(j) AS end_frame,
       |    CAST(count(*) AS BIGINT) AS n_frames,
       |    CAST(sum(fsum) AS BIGINT) AS seg_samples
       |  FROM g GROUP BY 1, 2
       |)
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY start_frame) AS BIGINT) AS seg,
       |  CAST(start_frame AS BIGINT) AS start_frame,
       |  CAST(end_frame AS BIGINT) AS end_frame, n_frames, seg_samples
       |FROM seg ORDER BY doc_id, seg""".stripMargin

  /** Frame-feature extraction over REAL WAV bytes: encode → parse →
    * slice → exact integer features, one narrow mapPartitions (the
    * decode-adjacent stage stays fused with the decode at 100 TB —
    * frames never materialize as rows before their features do).
    * Oracle: the generator waveform is 100-periodic and frames are
    * 100-aligned, so every frame's sum/energy/peak has a closed form.
    */
  def audioFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(ids =>
        ids.flatMap(id => audioFrames(id, wavEncode(id))))
      .toDF()
      .orderBy(col("doc_id"), col("frame"))
  }

  val audioFeaturesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, 500 + doc_id % 300 AS n, doc_id % 100 AS base
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, n, base,
       |    unnest(range(0, (n + ${audioFrameLen - 1}) // $audioFrameLen))
       |      AS frame
       |  FROM t
       |), x AS (
       |  SELECT doc_id, frame, base,
       |    CASE WHEN (frame + 1) * $audioFrameLen <= n
       |         THEN $audioFrameLen ELSE n - frame * $audioFrameLen END
       |      AS m
       |  FROM f
       |)
       |SELECT doc_id, CAST(frame AS BIGINT) AS frame,
       |  CAST(m AS BIGINT) AS n_samples,
       |  CAST(50 * (m * base + m * (m - 1) // 2) AS BIGINT)
       |    AS sum_samples,
       |  CAST(2500 * (m * base * base + 2 * base * (m * (m - 1) // 2)
       |       + (m - 1) * m * (2 * m - 1) // 6) AS BIGINT) AS energy,
       |  CAST(50 * (base + m - 1) AS BIGINT) AS peak
       |FROM x ORDER BY doc_id, frame""".stripMargin

  // ---- mm_audio_pitch: AMDF pitch detection over the decoded PCM ----

  /** Candidate lag range (samples) the detector scans, half-open. The
    * pitch corpus' per-doc period 50 + docId%70 ∈ [50, 120) sits
    * strictly inside it, and for periods ≤ 59 the doubled lag 2p also
    * lands in range with the SAME zero difference — the octave
    * ambiguity every lag-domain pitch tracker has, resolved here by
    * the smallest-lag tie-break (spec-pinned).
    */
  val pitchTauMin = 40
  val pitchTauMax = 120

  final case class PitchRow(doc_id: Long, period: Long, d_min: Long,
                            pitch_mhz: Long)

  /** AMDF pitch detector over an already-encoded 16-bit PCM buffer:
    * for each candidate lag τ the average-magnitude-difference
    * D(τ) = Σ_{i<n−τ} |s[i] − s[i+τ]| (exact integer — no FFT, no
    * float), the detected period the argmin with ties to the SMALLEST
    * lag, pitch = (1000·rate) DIV τ in exact milli-Hz. The lag-domain
    * twin of autocorrelation pitch tracking (AMDF: Ross 1974; the
    * difference function is also YIN's first step), chosen over raw
    * autocorrelation because the DC-offset corpus would bias R(τ)
    * toward small lags while D(τ) hits an EXACT integer zero at the
    * true period.
    */
  private[pipeline] def pitchDetect(docId: Long,
                                    bytes: Array[Byte]): PitchRow = {
    val d = wavDecode(docId, bytes)
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var dataOff = -1
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    while (dataOff < 0 && off + 8 <= bytes.length) {
      val len = b.getInt(off + 4)
      require(len >= 0, s"doc $docId: negative RIFF chunk length $len")
      if (tag(off) == "data") dataOff = off + 8
      else off += 8 + len + (len & 1)
    }
    val n = d.n_samples.toInt
    var (bestTau, bestD) = (-1, Long.MaxValue)
    var tau = pitchTauMin
    while (tau < pitchTauMax) {
      var acc = 0L
      var i = 0
      while (i < n - tau) {
        acc += math.abs(b.getShort(dataOff + 2 * i).toLong -
          b.getShort(dataOff + 2 * (i + tau)).toLong)
        i += 1
      }
      if (acc < bestD) { bestD = acc; bestTau = tau } // strict: ties
      tau += 1                                        // keep smaller τ
    }
    PitchRow(docId, bestTau.toLong, bestD,
      1000L * d.sample_rate / bestTau)
  }

  /** Pitch detection over REAL WAV bytes: per-doc period
    * 50 + docId%70, encode → parse → full AMDF lag scan, one fused
    * narrow mapPartitions (the decode-adjacent posture of
    * `audioFeatures`; per-doc cost n·|lags| ≈ 5·10⁴ integer ops — far
    * below the codec's own cost, so the scan stays in the decode
    * pass at 100 TB rather than materializing PCM rows).
    *
    * Oracle: on the sawtooth the base offset cancels in every
    * difference, and with τ' = τ mod p each overlap position
    * contributes 50·τ' (phase < p−τ') or 50·(p−τ') (phase ≥ p−τ'), so
    * D(τ) = 50·(c₁·τ' + c₂·(p−τ')) with c₂ counted by floor division
    * — a closed form the oracle evaluates per (doc, τ) with no sample
    * replay.
    */
  def audioPitch(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(ids => ids.map(id =>
        pitchDetect(id, wavEncode(id, (50 + id % 70).toInt))))
      .toDF()
      .orderBy(col("doc_id"))
  }

  val audioPitchSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, 500 + doc_id % 300 AS n, 50 + doc_id % 70 AS p,
       |         8000 + (doc_id % 4) * 4000 AS rate
       |  FROM documents
       |), l AS (
       |  SELECT doc_id, n, p, rate,
       |         unnest(range($pitchTauMin, $pitchTauMax)) AS tau
       |  FROM t
       |), d AS (
       |  SELECT doc_id, rate, tau, n - tau AS m, p, tau % p AS tp
       |  FROM l
       |), s AS (
       |  SELECT doc_id, rate, tau,
       |    (m // p) * tp + greatest(0, m % p - (p - tp)) AS c2, m, p, tp
       |  FROM d
       |)
       |SELECT doc_id, CAST(tau AS BIGINT) AS period,
       |  CAST(50 * ((m - c2) * tp + c2 * (p - tp)) AS BIGINT) AS d_min,
       |  CAST((1000 * rate) // tau AS BIGINT) AS pitch_mhz
       |FROM s
       |QUALIFY row_number() OVER (
       |  PARTITION BY doc_id
       |  ORDER BY 50 * ((m - c2) * tp + c2 * (p - tp)) ASC, tau ASC) = 1
       |ORDER BY doc_id""".stripMargin

  // ---- mm_mel: mel-filterbank band energies over the decoded PCM ----

  /** Analysis frame (samples, = DFT size), spectrum bins (k = 1..32,
    * bin 32 = Nyquist) and mel band count for the filterbank feature.
    */
  val melFrameLen = 64
  val melBins = 32
  val melFilters = 6

  /** The shared micro-unit DFT twiddle table: r → (cos, sin) at
    * 2πr/64, quantized once in Scala and spliced as literals into
    * both engines (the q_periodogram discipline — cos/sin never run
    * in either engine). e^{-2πi·ki/N} depends only on k·i mod N, so
    * 64 rows serve every (bin, sample) pair.
    */
  private[graft] lazy val melTrig: Seq[(Int, Long, Long)] =
    (0 until melFrameLen).map { r =>
      val th = 2.0 * math.Pi * r / melFrameLen
      (r, math.floor(math.cos(th) * 1e6 + 0.5).toLong,
        math.floor(math.sin(th) * 1e6 + 0.5).toLong)
    }

  /** Triangular mel filterbank weights per sample-rate index
    * (ri = docId % 4 → 8/12/16/20 kHz): `melFilters` filters with
    * centers equally spaced on the mel scale (Stevens–Volkmann
    * 2595·log10(1 + f/700)) between 0 Hz and Nyquist, evaluated at
    * the bin frequencies k·rate/64 and micro-quantized — like the
    * twiddles, generated ONCE driver-side so the transcendentals
    * never run in a plan. Rows: (ri, m, k, w_mu), zero weights
    * dropped. The rate-dependence is the real thing a multi-rate
    * corpus forces on a mel frontend: the same bin index maps to a
    * different frequency, hence different band membership, per rate.
    */
  private[graft] lazy val melWeights: Seq[(Int, Int, Int, Long)] = {
    def mel(f: Double) = 2595.0 * math.log10(1.0 + f / 700.0)
    def inv(m: Double) = 700.0 * (math.pow(10.0, m / 2595.0) - 1.0)
    for {
      ri <- 0 until 4
      rate = 8000 + ri * 4000
      centers = {
        val mMax = mel(rate / 2.0)
        (0 to melFilters + 1).map(j => inv(j * mMax / (melFilters + 1)))
      }
      m <- 1 to melFilters
      k <- 1 to melBins
      fk = k * rate / 64.0
      w = if (fk <= centers(m - 1) || fk >= centers(m + 1)) 0.0
          else if (fk <= centers(m))
            (fk - centers(m - 1)) / (centers(m) - centers(m - 1))
          else (centers(m + 1) - fk) / (centers(m + 1) - centers(m))
      wq = math.floor(w * 1e6 + 0.5).toLong
      if wq > 0
    } yield (ri, m, k, wq)
  }

  /** Per-doc DFT coefficients over the first analysis frame of an
    * already-encoded 16-bit PCM buffer: for k = 1..`melBins`,
    * (a, b) = Σ_i s[i]·(cos, sin)(2πki/64) in exact micro-trig
    * integers (|a| ≤ 64·|s|max·10⁶ ≈ 7·10¹¹ — Long-safe; the squares
    * move to DECIMAL(38,0) in the PLAN, never here). Emitting the
    * 32 coefficient rows per doc and folding the filterbank as a
    * broadcast join keeps every wide-integer step in the engine
    * where the oracle can replay it bit-for-bit.
    */
  private[pipeline] def melDft(docId: Long, bytes: Array[Byte])
      : Seq[(Long, Int, Int, Long, Long)] = {
    val d = wavDecode(docId, bytes)
    require(d.n_samples >= melFrameLen,
      s"doc $docId: ${d.n_samples} samples < mel frame $melFrameLen")
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var dataOff = -1
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    while (dataOff < 0 && off + 8 <= bytes.length) {
      val len = b.getInt(off + 4)
      require(len >= 0, s"doc $docId: negative RIFF chunk length $len")
      if (tag(off) == "data") dataOff = off + 8
      else off += 8 + len + (len & 1)
    }
    val s = Array.tabulate(melFrameLen)(i =>
      b.getShort(dataOff + 2 * i).toLong)
    val tc = melTrig.map(_._2).toArray
    val ts = melTrig.map(_._3).toArray
    (1 to melBins).map { k =>
      var a = 0L
      var bb = 0L
      var i = 0
      while (i < melFrameLen) {
        val r = (k * i) & (melFrameLen - 1)
        a += s(i) * tc(r)
        bb += s(i) * ts(r)
        i += 1
      }
      (docId, (docId % 4).toInt, k, a, bb)
    }
  }

  /** MEL-FILTERBANK BAND ENERGIES over real WAV bytes — the
    * embedding-input feature every audio pipeline computes between
    * decode and a model (MFCC's filterbank stage; pitch reads the
    * lag domain, VAD the energy envelope, this the spectral SHAPE):
    * encode the per-doc-period sawtooth (the pitch corpus, so
    * spectra genuinely differ per doc) → parse → 64-point DFT of the
    * first frame in exact micro-trig integers (one fused narrow
    * mapPartitions, decode-adjacent — per-doc cost 64·32 integer
    * multiply-adds, far below the codec's own) → triangular mel
    * weights as a broadcast literal join → band energy
    * e_m = Σ_k (a_k² + b_k²)·w_{m,k} accumulated in DECIMAL(38,0) ≙
    * HUGEINT, cast to DOUBLE only at output (both engines cast the
    * IDENTICAL exact integer — the q_periodogram hash-stability
    * scheme).
    *
    * 100 TB shape: mapPartitions-narrow per-row constant cost, one
    * 32-rows/doc coefficient relation joined against a ≤ ~500-row
    * broadcast weight table, one (doc, m)-keyed map-combinable agg —
    * the multimodal family's plan with the periodogram's arithmetic.
    */
  /** The landed fact both audio-feature views read: exact
    * DECIMAL(38,0) band energies (doc_id, m, e) from the fused
    * decode→DFT pass and the broadcast filterbank join. One relation,
    * two views (mm_mel energies, mm_mfcc cepstrum) — the
    * pooledRankSums convention.
    */
  private[pipeline] def melBandEnergies(spark: SparkSession,
      sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    val dft = Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(ids => ids.flatMap(id =>
        melDft(id, wavEncode(id, (50 + id % 70).toInt))))
      .toDF("doc_id", "ri", "k", "a", "b")
    val mw = melWeights.toDF("ri", "m", "k", "w")
    val d20 = "decimal(20,0)"
    val d38 = "decimal(38,0)"
    dft.join(broadcast(mw), Seq("ri", "k"))
      .select(col("doc_id"), col("m"),
        ((col("a").cast(d20) * col("a").cast(d20) +
          col("b").cast(d20) * col("b").cast(d20)).cast(d38) *
          col("w").cast("decimal(7,0)")).as("pw"))
      .groupBy(col("doc_id"), col("m"))
      .agg(sum(col("pw")).cast(d38).as("e"))
  }

  def audioMel(spark: SparkSession, sfDir: String): DataFrame =
    melBandEnergies(spark, sfDir)
      .select(col("doc_id"), col("m").cast("long").as("mel"),
        col("e").cast("double").as("energy"))
      .orderBy(col("doc_id"), col("mel"))

  /** Oracle: replays the closed-form pitch-corpus samples
    * s_i = 50·(base + i mod p) for the first 64 sample positions, the
    * frozen twiddle/weight literals, and the identical exact-integer
    * chain — no WAV bytes, no transcendentals, HUGEINT throughout.
    */
  /** Shared oracle CTE chain ending in `bande(doc_id, m, e)` — the
    * HUGEINT twin of [[melBandEnergies]]; both audio-feature oracles
    * append their view to it.
    */
  private lazy val melEnergyCtes: String = {
    val trig = melTrig.map { case (r, c, s) => s"($r, $c, $s)" }
      .mkString(", ")
    val ws = melWeights.map { case (ri, m, k, w) => s"($ri, $m, $k, $w)" }
      .mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % 100 AS base, 50 + doc_id % 70 AS p,
       |         doc_id % 4 AS ri
       |  FROM documents
       |), x AS (
       |  SELECT doc_id, ri,
       |         CAST(50 * (base + i % p) AS BIGINT) AS s, i
       |  FROM t, unnest(range(0, $melFrameLen)) AS u(i)
       |), tr(r, cq, sq) AS (VALUES $trig),
       |ks AS (
       |  SELECT doc_id, ri, s, i, k
       |  FROM x, unnest(range(1, ${melBins + 1})) AS v(k)
       |), bins AS MATERIALIZED (
       |  SELECT doc_id, ri, k,
       |    sum(ks.s * tr.cq) AS a, sum(ks.s * tr.sq) AS b
       |  FROM ks JOIN tr ON tr.r = (k * ks.i) % $melFrameLen
       |  GROUP BY 1, 2, 3
       |), mw(ri, m, k, w) AS (VALUES $ws),
       |bande AS (
       |  SELECT b.doc_id, mw.m,
       |    sum((CAST(b.a AS HUGEINT) * b.a + CAST(b.b AS HUGEINT) * b.b)
       |        * mw.w) AS e
       |  FROM bins b JOIN mw ON mw.ri = b.ri AND mw.k = b.k
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  lazy val audioMelSql: String =
    s"""$melEnergyCtes
       |SELECT doc_id, CAST(m AS BIGINT) AS mel, CAST(e AS DOUBLE) AS energy
       |FROM bande
       |ORDER BY doc_id, mel""".stripMargin

  // ---- mm_mfcc: DCT-II cepstrum over the log-mel energies ------------

  /** Cepstral coefficients kept (q = 0..3; c0 = the log-energy sum). */
  val mfccCoefs = 4

  /** DCT-II basis cos(π·q·(2m−1)/(2M)) over the `melFilters` bands,
    * micro-quantized once driver-side (the melTrig discipline — the
    * cosines never run in a plan). Rows: (q, m, w_mu).
    */
  private[graft] lazy val mfccDct: Seq[(Int, Int, Long)] =
    for { q <- 0 until mfccCoefs; m <- 1 to melFilters }
      yield (q, m, math.floor(math.cos(
        math.Pi * q * (2 * m - 1) / (2.0 * melFilters)) * 1e6 + 0.5).toLong)

  /** MFCC — the cepstral embedding front-end over [[melBandEnergies]]
    * (decode → DFT → filterbank → log → DCT-II, the full classical
    * chain): per band, log-energy quantizes to INTEGER micro-nats
    * lme = floor(ln(1 + e)·1e6 + 0.5) — e is the IDENTICAL exact
    * DECIMAL(38,0)/HUGEINT integer in both engines, so ln() sees the
    * same double and the NLL family's argument applies (quantization
    * absorbs last-ulp differences; everything after is exact integer
    * arithmetic). The DCT folds as a ≤ 24-row broadcast literal join:
    * c_q = Σ_m lme_m·w_{q,m}, |c_q| ≤ 6·7.2e7·1e6 ≈ 4.4e14 —
    * Long-safe and double-exact; output divides the exact integer by
    * 1e12 (micro-nats × micro-weights), one identical IEEE op per
    * engine.
    *
    * 100 TB shape: inherits mm_mel's (narrow fused decode+DFT, two
    * broadcast literal joins, one map-combinable (doc, q) agg) — the
    * cepstrum costs one more ≤ 24-row broadcast over the 6-rows/doc
    * band relation.
    */
  def audioMfcc(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    val dct = mfccDct.toDF("q", "m", "w")
    melBandEnergies(spark, sfDir)
      .select(col("doc_id"), col("m"),
        expr("CAST(floor(ln(1.0 + CAST(e AS DOUBLE)) * 1000000.0 + 0.5) " +
          "AS BIGINT)").as("lme"))
      .join(broadcast(dct), Seq("m"))
      .groupBy(col("doc_id"), col("q"))
      .agg(sum(col("lme") * col("w")).as("cmu"))
      .select(col("doc_id"), col("q").cast("long").as("coef"),
        (col("cmu").cast("double") / lit(1.0e12)).as("mfcc"))
      .orderBy(col("doc_id"), col("coef"))
  }

  /** Oracle: the shared `bande` HUGEINT chain + the identical
    * micro-nat ln quantization + the frozen DCT literals.
    */
  lazy val audioMfccSql: String = {
    val dw = mfccDct.map { case (q, m, w) => s"($q, $m, $w)" }
      .mkString(", ")
    s"""$melEnergyCtes,
       |lm AS (
       |  SELECT doc_id, m,
       |    CAST(floor(ln(1.0 + CAST(e AS DOUBLE)) * 1000000.0 + 0.5)
       |      AS BIGINT) AS lme
       |  FROM bande
       |), dw(q, m, w) AS (VALUES $dw)
       |SELECT lm.doc_id, CAST(dw.q AS BIGINT) AS coef,
       |  CAST(sum(lm.lme * dw.w) AS DOUBLE) / 1000000000000.0 AS mfcc
       |FROM lm JOIN dw ON dw.m = lm.m
       |GROUP BY 1, 2
       |ORDER BY doc_id, coef""".stripMargin
  }

  // ---- mm_png_decode: a REAL compressed-image codec (no stub) --------

  /** PNG Paeth predictor (RFC 2083 §6.6) - shared by the encoder's
    * filter pass and the parser's reconstruction.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a)
    val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def crc32(bytes: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(bytes, off, len)
    c.getValue
  }

  /** Pure-JVM PNG writer: 8-bit truecolor RGB, non-interlaced, zlib
    * (java.util.zip.Deflater) IDAT - a genuine, ImageIO-readable PNG.
    * Each row's filter type is y % 5, so every image exercises ALL
    * FIVE PNG filters (None/Sub/Up/Average/Paeth); a decoder that
    * mishandles any reconstruction breaks the closed-form sums. Pixel
    * pattern: red = docId % 200, green = 2x + y, blue = x + 2y (dims
    * bounded so no channel wraps) - closed forms from doc_id alone.
    */
  private[pipeline] def pngEncode(docId: Long, w: Int, h: Int): Array[Byte] = {
    val stride = w * 3
    val raw = new Array[Byte](h * stride)
    val red = (docId % 200).toByte
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * stride + x * 3
        raw(i) = red
        raw(i + 1) = (2 * x + y).toByte
        raw(i + 2) = (x + 2 * y).toByte
        x += 1
      }
      y += 1
    }
    // filter pass: one filter-type byte + filtered bytes per scanline
    val filtered = new Array[Byte](h * (stride + 1))
    y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (stride + 1)) = ft.toByte
      var i = 0
      while (i < stride) {
        val cur = raw(y * stride + i) & 0xff
        val left = if (i >= 3) raw(y * stride + i - 3) & 0xff else 0
        val up = if (y > 0) raw((y - 1) * stride + i) & 0xff else 0
        val ul =
          if (y > 0 && i >= 3) raw((y - 1) * stride + i - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        filtered(y * (stride + 1) + 1 + i) = ((cur - pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered)
    defl.finish()
    val zbuf = new Array[Byte](filtered.length + 1024)
    var zn = 0
    while (!defl.finished()) zn += defl.deflate(zbuf, zn, zbuf.length - zn)
    defl.end()
    val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 + zn + 12)
    out.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    def chunk(tag: String, data: Array[Byte]): Unit = {
      out.putInt(data.length).put(tag.getBytes("US-ASCII")).put(data)
      val body = tag.getBytes("US-ASCII") ++ data
      out.putInt(crc32(body, 0, body.length).toInt)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    chunk("IHDR", ihdr)
    chunk("IDAT", java.util.Arrays.copyOf(zbuf, zn))
    chunk("IEND", Array.emptyByteArray)
    out.array()
  }

  final case class PngDecoded(doc_id: Long, width: Long, height: Long,
                              bit_depth: Long, color_type: Long,
                              sum_red: Long, sum_green: Long,
                              sum_blue: Long, tl_blue: Long)

  /** Pure-JVM PNG parser: signature + chunk walk with CRC32
    * verification, multi-IDAT zlib inflate (java.util.zip.Inflater),
    * full five-filter scanline reconstruction - this reads any 8-bit
    * non-interlaced truecolor PNG, not just `pngEncode`'s (the spec
    * referees both directions against the JDK's ImageIO PNG codec,
    * whose own filter choices differ from ours). `tl_blue` (blue of
    * the TOP-LEFT pixel) pins PNG's top-down row order - the opposite
    * of BMP's bottom-up, and invisible to the sums.
    */
  private[pipeline] def pngDecode(docId: Long, bytes: Array[Byte]): PngDecoded = {
    val b = java.nio.ByteBuffer.wrap(bytes) // PNG ints are big-endian
    require(bytes.length > 8 && b.getLong(0) == 0x89504e470d0a1a0aL,
      s"doc $docId: not a PNG payload")
    var off = 8
    var w, h, bitDepth, colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && off + 12 <= bytes.length) {
      val len = b.getInt(off)
      val tag = new String(bytes, off + 4, 4, "US-ASCII")
      require(len >= 0 && off + 12 + len <= bytes.length,
        s"doc $docId: truncated $tag chunk")
      val crcStored = b.getInt(off + 8 + len) & 0xffffffffL
      require(crc32(bytes, off + 4, 4 + len) == crcStored,
        s"doc $docId: CRC mismatch in $tag chunk")
      tag match {
        case "IHDR" =>
          w = b.getInt(off + 8)
          h = b.getInt(off + 12)
          bitDepth = bytes(off + 16) & 0xff
          colorType = bytes(off + 17) & 0xff
          require((bytes(off + 18) & 0xff) == 0 &&
            (bytes(off + 19) & 0xff) == 0 && (bytes(off + 20) & 0xff) == 0,
            s"doc $docId: unsupported compression/filter/interlace")
        case "IDAT" => idat.write(bytes, off + 8, len)
        case "IEND" => done = true
        case _ => // ancillary chunk: skip
      }
      off += 12 + len
    }
    require(w > 0 && done, s"doc $docId: missing IHDR/IEND")
    require(bitDepth == 8 && colorType == 2,
      s"doc $docId: only 8-bit truecolor supported, " +
        s"got depth=$bitDepth type=$colorType")
    val stride = w * 3
    val infl = new java.util.zip.Inflater()
    infl.setInput(idat.toByteArray)
    val scan = new Array[Byte](h * (stride + 1))
    var n = 0
    while (n < scan.length && !infl.finished()) {
      val k = infl.inflate(scan, n, scan.length - n)
      require(k > 0 || infl.finished(), s"doc $docId: truncated IDAT")
      n += k
    }
    infl.end()
    require(n == scan.length, s"doc $docId: short IDAT ($n/${scan.length})")
    // reverse the per-row filters into raw RGB
    val raw = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val ft = scan(y * (stride + 1)) & 0xff
      var i = 0
      while (i < stride) {
        val v = scan(y * (stride + 1) + 1 + i) & 0xff
        val left = if (i >= 3) raw(y * stride + i - 3) & 0xff else 0
        val up = if (y > 0) raw((y - 1) * stride + i) & 0xff else 0
        val ul =
          if (y > 0 && i >= 3) raw((y - 1) * stride + i - 3) & 0xff else 0
        val rec = ft match {
          case 0 => v
          case 1 => v + left
          case 2 => v + up
          case 3 => v + (left + up) / 2
          case 4 => v + paeth(left, up, ul)
          case other =>
            throw new IllegalArgumentException(
              s"doc $docId: bad filter type $other")
        }
        raw(y * stride + i) = (rec & 0xff).toByte
        i += 1
      }
      y += 1
    }
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i < raw.length) {
      sr += raw(i) & 0xff
      sg += raw(i + 1) & 0xff
      sb += raw(i + 2) & 0xff
      i += 3
    }
    PngDecoded(docId, w, h, bitDepth, colorType, sr, sg, sb, raw(2) & 0xff)
  }

  /** End-to-end real compressed-image codec path, same mapPartitions
    * batch shape as `bmpDecodeE2e`: genuine zlib-compressed PNG bytes
    * in, independent chunk-walking/inflating/unfiltering parse out,
    * closed-form oracle from doc_id alone. Encoder and parser share no
    * state beyond the Paeth function, so a bug in either side of the
    * filter/compress round-trip breaks the gate.
    */
  def pngDecodeE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 12 + (id % 21).toInt
          val h = 9 + (id % 13).toInt
          pngDecode(id, pngEncode(id, w, h))
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Closed forms: red constant per image; Σ(2x+y) = 2h·Sx + w·Sy and
    * Σ(x+2y) = h·Sx + 2w·Sy with Sx = w(w−1)/2, Sy = h(h−1)/2;
    * top-left blue = 0 by construction (and ≠ the bottom-left value,
    * so a row-order flip fails).
    */
  val pngDecodeE2eSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         12 + doc_id % 21 AS w,
      |         9 + doc_id % 13 AS h
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(8 AS BIGINT) AS bit_depth, CAST(2 AS BIGINT) AS color_type,
      |  CAST(w * h * (doc_id % 200) AS BIGINT) AS sum_red,
      |  CAST(2 * h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
      |       AS BIGINT) AS sum_green,
      |  CAST(h * (w * (w - 1) // 2) + 2 * w * (h * (h - 1) // 2)
      |       AS BIGINT) AS sum_blue,
      |  CAST(0 AS BIGINT) AS tl_blue
      |FROM t ORDER BY doc_id""".stripMargin

  /** Frame-sampling plumbing: each payload fans out to stride-sampled
    * frame-index rows (explode = the distributed flatMap); the per-frame
    * "feature" is a STUB digest. Narrow: no shuffle at any width.
    */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame =
    binaryStats(spark, sfDir)
      .select(col("doc_id"), col("digest"), col("n_frames"))
      .withColumn("frame_idx",
        explode(expr(s"sequence(0L, n_frames - 1, $frameStride)")))
      .withColumn("frame_feature",
        md5(concat(col("digest"), lit(":"), col("frame_idx"))))
      .select(col("doc_id"), col("frame_idx"), col("frame_feature"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val frameSampleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(text) AS digest,
       |         octet_length(encode(text)) // $frameSizeBytes + 1 AS n_frames
       |  FROM documents
       |)
       |SELECT doc_id, CAST(unnest(range(0, n_frames, $frameStride)) AS BIGINT)
       |         AS frame_idx,
       |       md5(digest || ':'
       |           || CAST(unnest(range(0, n_frames, $frameStride)) AS VARCHAR))
       |         AS frame_feature
       |FROM t ORDER BY doc_id, frame_idx""".stripMargin
}
