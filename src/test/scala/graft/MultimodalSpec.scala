package graft

import org.apache.spark.sql.functions._
import graft.operators.{MediaCodec, Multimodal}

/** Multimodal columns: REAL image codec (javax.imageio PNG) for
  * features / resize / perceptual hash; byte-payload plumbing for
  * frame slicing. */
class MultimodalSpec extends SparkSpec {

  // byte-payload fixture (frame plumbing is codec-agnostic)
  private lazy val media = {
    import spark.implicits._
    val df = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789"),
      (2L, "shorter payload")).toDF("doc_id", "text")
    Multimodal.asMedia(df, "doc_id", "text", "image")
  }

  // real-PNG fixture
  private lazy val images = {
    import spark.implicits._
    Multimodal.syntheticImages(
      Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id")
  }

  test("asMedia produces the typed media schema") {
    val f = media.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(f("media_id") == "long" && f("bytes") == "binary" &&
      f("meta") == "struct")
    assert(media.count() == 2)
  }

  test("MediaCodec: PNG encode/decode round-trips pixels losslessly") {
    val rgb = Array.tabulate(4 * 3 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val png = MediaCodec.encodePng(4, 3, rgb)
    // real PNG container: 8-byte signature
    assert(png.take(8).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte,
      'G'.toByte, '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte))
    val (w, h, back) = MediaCodec.decodeRgb(png)
    assert(w == 4 && h == 3)
    assert(back.toSeq == rgb.toSeq)
  }

  test("syntheticImages: payload decodes to the closed-form pixel field") {
    val rows = images.orderBy("media_id").collect()
    val bytes = rows(0).getAs[Array[Byte]]("bytes")
    val (w, h, rgb) = MediaCodec.decodeRgb(bytes)
    val (ew, eh) = Multimodal.synthDims(1L)
    assert((w, h) == (ew, eh))
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      assert((rgb((y * w + x) * 3 + c) & 0xFF) ==
        Multimodal.synthPixel(1L, x, y, c))
    // meta matches actual encoded dimensions
    assert(rows(0).getStruct(3).getInt(0) == w)
    assert(rows(0).getStruct(3).getInt(1) == h)
  }

  test("extractFeatures: exact residue-class sums over decoded pixels") {
    val feats = Multimodal.extractFeatures(images, dim = 8)
    assert(!feats.columns.contains("bytes"))
    val got = feats.orderBy("media_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2))
    assert(got.forall(_._2.length == 8))
    // hand-computed expectation from the pixel field
    val (w, h) = Multimodal.synthDims(2L)
    val exp = new Array[Long](8)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      exp(((y * w + x) * 3 + c) % 8) += Multimodal.synthPixel(2L, x, y, c)
    assert(got.find(_._1 == 2L).get._2 == exp.toSeq)
  }

  test("extractFeatures stays in Tungsten (no RDD/object round-trip)") {
    val plan = Multimodal.extractFeatures(images, dim = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject"), plan)
    assert(!plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("MapPartitions"), plan)
  }

  test("resize: exact block-average pooling, re-encoded as real PNG") {
    import spark.implicits._
    // 2x2 -> 1x1: the single output pixel is the floor-average
    val rgb = Array[Byte](10, 20, 30, 11, 21, 31, 13, 23, 33, 14, 24, 35)
    val src = Seq((1L, MediaCodec.encodePng(2, 2, rgb))).toDF("media_id", "bytes")
      .select(col("media_id"), lit("image").as("modality"), col("bytes"),
        struct(lit(2).as("width"), lit(2).as("height"),
          lit(3).as("channels"), lit(null).cast("int").as("sample_rate"),
          lit(1).as("n_frames")).as("meta"))
    val out = Multimodal.resize(src, 1, 1).collect()(0)
    val (w, h, pooled) = MediaCodec.decodeRgb(out.getAs[Array[Byte]]("bytes"))
    assert(w == 1 && h == 1)
    assert(pooled.toSeq == Seq[Byte](12, 22, 32)) // floor((10+11+13+14)/4)…
    assert(out.getStruct(3).getInt(0) == 1 && out.getStruct(3).getInt(1) == 1)
  }

  test("sampleFrames emits every stride-th chunk") {
    val frames = Multimodal.sampleFrames(media, stride = 2)
    val byId = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n_frames = len % 16 + 1; 36 % 16 + 1 = 5 frames -> idx 0,2,4 = 3
    assert(byId(1L) == 3)
    val idx = frames.filter(col("media_id") === 1)
      .select("frame_idx").collect().map(_.getInt(0)).sorted.toSeq
    assert(idx == Seq(0, 2, 4))
  }

  test("frame chunks are contiguous and non-overlapping (int arithmetic)") {
    // 36 bytes / 5 frames → frameLen 7; offsets 0,7,14,21,28 — with
    // double division (36/5=7.2) truncated offsets would drift.
    val frames = Multimodal.sampleFrames(media, stride = 1)
      .filter(col("media_id") === 1)
      .orderBy("frame_idx").collect()
      .map(r => new String(r.getAs[Array[Byte]]("frame_bytes")))
    assert(frames.forall(_.length == 7))
    assert(frames.mkString == "abcdefghijklmnopqrstuvwxyz0123456789".take(35))
  }

  test("phash64: deterministic aHash over real decoded pixels") {
    val a = Multimodal.phash64(Multimodal.synthPng(7L))
    val b = Multimodal.phash64(Multimodal.synthPng(7L))
    val c = Multimodal.phash64(Multimodal.synthPng(8L))
    assert(a == b && a != c)
    // hand-check one bit: cell mean vs global mean, cross-multiplied
    val (w, h) = Multimodal.synthDims(7L)
    val sums = new Array[Long](64); val cnts = new Array[Long](64)
    var total = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val s = (0 until 3).map(Multimodal.synthPixel(7L, x, y, _)).sum
      val j = (y * 8 / h) * 8 + x * 8 / w
      sums(j) += s; cnts(j) += 1; total += s
    }
    val expBit0 = sums(0) * (w.toLong * h) > total * cnts(0)
    assert(((a & 1L) == 1L) == expBit0)
  }

  test("PNG reader agrees with an independent codec, both directions") {
    // our writer -> javax.imageio reader, and javax.imageio writer ->
    // our reader: the direct spec implementation is pinned against the
    // JDK's, so a byte error in either direction of the fast path
    // can't hide.
    val rgb = Array.tabulate(9 * 7 * 3)(i => ((i * 73 + 5) % 256).toByte)
    val img = new java.awt.image.BufferedImage(
      9, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 7; x <- 0 until 9) {
      val k = (y * 9 + x) * 3
      img.setRGB(x, y, ((rgb(k) & 0xFF) << 16) |
        ((rgb(k + 1) & 0xFF) << 8) | (rgb(k + 2) & 0xFF))
    }
    val iio = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", iio)
    val (w1, h1, p1) = MediaCodec.decodeRgb(iio.toByteArray)
    assert((w1, h1) == (9, 7) && p1.toSeq == rgb.toSeq)

    val ours = MediaCodec.encodePng(9, 7, rgb)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ours))
    assert(back != null && back.getWidth == 9 && back.getHeight == 7)
    for (y <- 0 until 7; x <- 0 until 9) {
      val k = (y * 9 + x) * 3
      assert(back.getRGB(x, y) == (0xFF000000 | ((rgb(k) & 0xFF) << 16) |
        ((rgb(k + 1) & 0xFF) << 8) | (rgb(k + 2) & 0xFF)))
    }
  }

  test("PNG reader reverses every spec filter type (None/Sub/Up/Avg/Paeth)") {
    // Forward-filter known pixels per the PNG spec, wrap in a real
    // container, and assert the reader reconstructs them — covers rows
    // an adaptive external encoder could emit that our writer doesn't.
    val (w, h) = (5, 4)
    val stride = w * 3
    val rgb = Array.tabulate(h * stride)(i => ((i * 31 + 17) % 256).toByte)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    for (filters <- Seq(Seq(0, 1, 2, 3), Seq(4, 3, 2, 1), Seq(4, 4, 4, 4))) {
      val raw = new Array[Byte](h * (stride + 1))
      for (y <- 0 until h) {
        val f = filters(y)
        raw(y * (stride + 1)) = f.toByte
        for (i <- 0 until stride) {
          val cur = rgb(y * stride + i) & 0xFF
          val left = if (i >= 3) rgb(y * stride + i - 3) & 0xFF else 0
          val up = if (y > 0) rgb((y - 1) * stride + i) & 0xFF else 0
          val ul = if (i >= 3 && y > 0) rgb((y - 1) * stride + i - 3) & 0xFF
                   else 0
          val pred = f match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) >> 1
            case 4 => paeth(left, up, ul)
          }
          raw(y * (stride + 1) + 1 + i) = (cur - pred).toByte
        }
      }
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
      d.end()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte), 0, 8)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        def be(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
          (v >>> 8).toByte, v.toByte)
        out.write(be(data.length), 0, 4)
        out.write(typ.getBytes("US-ASCII"), 0, 4)
        out.write(data, 0, data.length)
        val crc = new java.util.zip.CRC32()
        crc.update(typ.getBytes("US-ASCII")); crc.update(data)
        out.write(be(crc.getValue.toInt), 0, 4)
      }
      val ihdr = new Array[Byte](13)
      ihdr(3) = w.toByte; ihdr(7) = h.toByte; ihdr(8) = 8; ihdr(9) = 2
      chunk("IHDR", ihdr); chunk("IDAT", comp.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      val (gw, gh, got) = MediaCodec.decodeRgb(out.toByteArray)
      assert((gw, gh) == (w, h), s"filters $filters")
      assert(got.toSeq == rgb.toSeq, s"filters $filters")
    }
  }

  test("graft_phash64 SQL round-trips the native expression") {
    import spark.implicits._
    Seq(Tuple1(Multimodal.synthPng(7L)), Tuple1(Multimodal.synthPng(8L)))
      .toDF("bytes").createOrReplaceTempView("phv")
    val got = spark.sql("SELECT graft_phash64(bytes) h FROM phv")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(Multimodal.phash64(Multimodal.synthPng(7L)),
      Multimodal.phash64(Multimodal.synthPng(8L))))
  }

  test("phashDedup plan hashes via the native expression, not a ScalaUDF") {
    import spark.implicits._
    // pre-encoded payloads behind a real scan (a LocalRelation of
    // literals gets constant-folded — which hides the kernel): the
    // only compute left in the plan should be the codegen'd
    // graft_phash64 expression
    val dir = scratchDir("phash_plan").toString
    Seq((1L, Multimodal.synthPng(1L)), (2L, Multimodal.synthPng(2L)))
      .toDF("media_id", "bytes").write.mode("overwrite").parquet(dir)
    val pre = spark.read.parquet(dir)
    // phashDedup returns an eagerly-checkpointed frame (flat
    // LogicalRDD), so the hashing expression lives in the plans that
    // EXECUTED during the call — including the persisted (media_id, h)
    // staging table's cached plan, unwrapped explicitly.
    val qes = PlanCapture.during(spark) {
      Multimodal.phashDedup(pre, maxHamming = 3).count()
    }
    def fullText(qe: org.apache.spark.sql.execution.QueryExecution): String = {
      val cached = qe.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cachedPlan.toString }
      (qe.optimizedPlan.toString +: cached).mkString("\n")
    }
    val texts = qes.map(fullText)
    assert(texts.exists(_.contains("graft_phash64")), texts.mkString("\n---\n"))
    assert(!texts.exists(_.contains("UDF")), texts.mkString("\n---\n"))
  }

  test("hashPairs: identical collapse is linear, banding finds <=3-bit flips") {
    import spark.implicits._
    val base = 0x0123456789ABCDEFL
    val hashes = Seq(
      1L -> base, 2L -> base, 3L -> base,      // identical group, rep=1
      4L -> (base ^ 7L),                       // 3 bits flipped → near
      5L -> (base ^ 0x8001000100010001L),      // 4 chunks touched → out
      6L -> 0x7777000011112222L                // unrelated
    ).toDF("media_id", "h")
    val got = Multimodal.hashPairs(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 0), (1L, 3L, 0), (1L, 4L, 3)))
  }

  test("re-crawl ids share image content: phashDedup collapses them") {
    import spark.implicits._
    val ids = Seq(3L, 4L, 100003L).toDF("doc_id") // 100003 % 100000 == 3
    val got = Multimodal.phashDedup(
      Multimodal.syntheticImages(ids, "doc_id"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.contains((3L, 100003L, 0)))
  }
}
