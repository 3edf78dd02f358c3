package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column operators: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by scan-stage kernels.
  *
  * The image path is REAL end to end: payloads are encoded PNG bytes,
  * decoded with the JDK's `javax.imageio` ([[MediaCodec]]) inside the
  * consuming projection — features, perceptual hashes, and resizes all
  * compute over actual decoded pixels. Because PNG is lossless and the
  * fixture pixel field is a closed-form integer function, the DuckDB
  * oracles replay the full encode → decode → arithmetic chain exactly.
  *
  * Scale notes: media bytes are the dominant payload — every transform
  * here is narrow (no shuffle); the bytes column is consumed and
  * dropped inside a single projection, so blobs never cross a stage
  * boundary and downstream stages shuffle only fixed-size vectors or
  * 8-byte hashes.
  */
object Multimodal {

  /** media-table schema: (id, modality, bytes, meta{width,height,
    * channels, sample_rate, n_frames}). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))))))

  /** Wrap any (id, string-payload) table as a media table — the
    * byte-payload adapter for modality-agnostic plumbing (frame
    * slicing operates on raw bytes whatever the codec). */
  def asMedia(df: DataFrame, id: String, payload: String,
              modality: String): DataFrame =
    df.select(
      col(id).cast("long").as("media_id"),
      lit(modality).as("modality"),
      col(payload).cast("binary").as("bytes"),
      struct(
        (length(col(payload)) % 640 + 1).cast("int").as("width"),
        (length(col(payload)) % 480 + 1).cast("int").as("height"),
        lit(3).as("channels"),
        lit(16000).as("sample_rate"),
        (length(col(payload)) % 16 + 1).cast("int").as("n_frames")).as("meta"))

  // ----------------------------------------------------- image fixtures

  /** Closed-form fixture pixel field — deterministic integer
    * arithmetic, so an ANSI-SQL oracle regenerates the exact pixels the
    * PNG round-trip must preserve. */
  private[graft] def synthPixel(seed: Long, x: Int, y: Int, c: Int): Int =
    ((seed * 7919L + x * 104729L + y * 1299709L + c * 15485863L) % 256L).toInt

  private[graft] def synthDims(seed: Long): (Int, Int) =
    ((seed % 24 + 9).toInt, (seed % 16 + 9).toInt)

  /** Render the fixture field for `seed` as real encoded PNG bytes. */
  private[graft] def synthPng(seed: Long): Array[Byte] = {
    val (w, h) = synthDims(seed)
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          rgb((y * w + x) * 3 + c) = synthPixel(seed, x, y, c).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    MediaCodec.encodePng(w, h, rgb)
  }

  /** Media table of real PNG images, one per row of `df`: pixel content
    * is keyed by `id % 100000` (so a re-ingest under a shifted id — the
    * re-crawl scenario — carries byte-identical image content). The
    * encode happens in the scan stage; each partition encodes only its
    * own rows. */
  def syntheticImages(df: DataFrame, id: String): DataFrame = {
    // floorMod/pmod: a negative media id must yield the same
    // nonnegative seed in the UDF and the meta struct — signed % would
    // produce a negative synthDims (NegativeArraySizeException in the
    // encoder) and a meta/payload mismatch.
    val mk = udf((mid: Long) => synthPng(java.lang.Math.floorMod(mid, 100000L)))
    val seed = pmod(col(id).cast("long"), lit(100000L))
    // The ids are repartitioned BEFORE the per-row encode: the fixture
    // table often arrives as one small parquet split, which would run
    // the whole synthesis single-threaded. Only 8-byte ids shuffle —
    // the encoded blobs are born after the exchange, preserving the
    // blobs-never-shuffle rule. (A production ingest reads many splits
    // and skips this; it's the id-keyed generator that concentrates.)
    df.select(col(id))
      .transform(Frames.spread)
      .select(
      col(id).cast("long").as("media_id"),
      lit("image").as("modality"),
      mk(col(id).cast("long")).as("bytes"),
      struct(
        (seed % 24 + 9).cast("int").as("width"),
        (seed % 16 + 9).cast("int").as("height"),
        lit(3).as("channels"),
        lit(null).cast("int").as("sample_rate"),
        lit(1).as("n_frames")).as("meta"))
  }

  // ---------------------------------------------------------- operators

  /** Feature extraction over REAL decoded pixels: the payload is
    * decoded with `javax.imageio`, and feature j is the exact integer
    * sum of every channel byte whose flat index ≡ j (mod `dim`) — a
    * fixed-`dim` projection of the pixel stream (sums are order-free
    * and integral, so cross-engine comparison needs no float
    * discipline). One narrow projection: the kernel is a typed Scala
    * UDF invoked from generated code on UnsafeRow data (no
    * `DeserializeToObject`/RDD round-trip), and the bytes column is
    * dropped in the same projection — the blob never crosses a stage
    * boundary. */
  def extractFeatures(media: DataFrame, dim: Int): DataFrame = {
    val decode = udf((bytes: Array[Byte]) => {
      val (_, _, rgb) = MediaCodec.decodeRgb(bytes)
      val out = new Array[Long](dim)
      var k = 0
      while (k < rgb.length) {
        out(k % dim) += (rgb(k) & 0xFF).toLong
        k += 1
      }
      out
    })
    media.select(col("media_id"), col("modality"),
      decode(col("bytes")).as("feature"))
  }

  /** Real image resize by exact block-average pooling: source pixel
    * (x, y) pools into target cell (x·W ÷ w, y·H ÷ h) (integer
    * division), each channel averaged with floor division — then
    * re-encoded as PNG. Integer-exact, so the SQL oracle replays the
    * pooled pixels. Downscale only (W ≤ w, H ≤ h). Narrow: decode,
    * pool, and re-encode live in one projection. */
  def resize(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val pool = udf((bytes: Array[Byte]) => {
      val (w, h, rgb) = MediaCodec.decodeRgb(bytes)
      require(targetW <= w && targetH <= h,
        s"resize is downscale-only: ${w}x$h -> ${targetW}x$targetH")
      val sums = new Array[Long](targetW * targetH * 3)
      val cnts = new Array[Long](targetW * targetH)
      var y = 0
      while (y < h) {
        val ty = y * targetH / h
        var x = 0
        while (x < w) {
          val cell = ty * targetW + x * targetW / w
          cnts(cell) += 1
          var c = 0
          while (c < 3) {
            sums(cell * 3 + c) += (rgb((y * w + x) * 3 + c) & 0xFF).toLong
            c += 1
          }
          x += 1
        }
        y += 1
      }
      val out = new Array[Byte](targetW * targetH * 3)
      var i = 0
      while (i < out.length) {
        out(i) = (sums(i) / cnts(i / 3)).toByte
        i += 1
      }
      MediaCodec.encodePng(targetW, targetH, out)
    })
    media
      .withColumn("bytes", pool(col("bytes")))
      .withColumn("meta",
        struct(lit(targetW).as("width"), lit(targetH).as("height"),
          col("meta.channels").as("channels"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.n_frames").as("n_frames")))
  }

  /** Frame sampling for video-like payloads: split bytes into
    * meta.n_frames equal chunks, emit every `stride`-th as its own row
    * (media_id, frame_idx, frame_bytes). Pure explode plumbing — one
    * narrow stage. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame = {
    val n = col("meta.n_frames")
    // Integer division (SQL '/' is double division; truncating i*len
    // separately would drift chunk boundaries when length % n != 0).
    val frameLen =
      greatest(floor(length(col("bytes")) / n).cast("int"), lit(1))
    media
      .select(col("media_id"), col("bytes"), n.as("nf"), frameLen.as("fl"))
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), col("nf") - 1),
          i => substring_index_bytes(col("bytes"), i, col("fl"))))
          .as(Seq("frame_idx", "frame_bytes")))
      .filter(col("frame_idx") % stride === 0)
  }

  /** Byte-slice helper: frame i of (integer) length `len` from a binary
    * column — all-int arithmetic, so chunk boundaries are exact. */
  private def substring_index_bytes(bytes: Column, i: Column, len: Column) =
    bytes.substr(i * len + 1, len)

  /** Perceptual hash (average hash) over REAL decoded pixels — the
    * kernel lives in [[graft.functions.MediaKernels.phash64]] so the
    * codegen'd [[graft.functions.Phash64]] expression and this
    * test-surface forwarder share one implementation. */
  private[graft] def phash64(bytes: Array[Byte]): Long =
    graft.functions.MediaKernels.phash64(bytes)

  /** Image near-dup detection by perceptual hash: pairs of media whose
    * 64-bit pHashes differ in at most `maxHamming` ≤ 3 bits.
    *
    * Scale shape: hashes are 8 bytes per media — the blob never leaves
    * its scan stage. Exact-equal hashes collapse FIRST (one groupBy;
    * identical media — the overwhelming dup mode — costs linear work
    * and kills the banding skew a hot constant image would cause).
    * Near pairs then band the DISTINCT hashes 4×16 bits (pigeonhole:
    * ≤ 3 flipped bits leave one chunk intact, so recall is exact, not
    * probabilistic), bucket-join, and verify with bit_count(xor).
    *
    * Returns (id_a, id_b, dist): dist 0 rows pair each identical-hash
    * member with its min-id representative (linear in group size, not
    * quadratic); dist ≥ 1 rows pair the representatives of two distinct
    * hashes. */
  def phashDedup(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    // Hash ONCE: the (id, hash) table feeds four places in the pair
    // plan (group reps, the identical-member join, both sides of the
    // banding self-join), and exchange reuse does not deduplicate them
    // — without staging, every branch re-decodes every payload. The
    // staged table is 16 bytes/row regardless of payload size, so
    // persisting it is the scale-correct trade at any corpus size.
    val hashes = media.select(col("media_id"),
        graft.functions.MediaFunctions.phash64(col("bytes")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Staged result, blocking-dropped hashes: the dedup pipelines'
    // lifecycle.
    try Frames.stage(hashPairs(hashes, maxHamming))
    finally hashes.unpersist(true)
  }

  /** The banding/verify stage of [[phashDedup]] over precomputed
    * (media_id, h) hashes — split out so the pigeonhole-recall
    * guarantee is testable with crafted hashes (the fixture pixel field
    * has full avalanche, so organic near-but-unequal pairs can't
    * occur). */
  private[graft] def hashPairs(hashes: DataFrame,
                               maxHamming: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      "4x16 banding guarantees recall only for maxHamming <= 3")
    val groups = hashes.groupBy(col("h")).agg(min(col("media_id")).as("rep"))
    val identical = hashes.join(groups, "h")
      .filter(col("media_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("media_id").as("id_b"),
        lit(0).as("dist"))
    val chunks = groups.select(col("h"), col("rep"),
        explode(sequence(lit(0), lit(3))).as("ci"))
      .select(col("h"), col("rep"), col("ci"),
        expr("shiftrightunsigned(h, ci * 16) & 65535").as("cv"))
    val near = chunks.as("a")
      .join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("id_a"), col("b.rep").as("id_b"),
        expr("bit_count(a.h ^ b.h)").as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
    identical.unionByName(near)
  }
}
