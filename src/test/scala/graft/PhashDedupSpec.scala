package graft

import graft.multimodal.{MediaAsset, Multimodal}
import graft.operators.{Dedup, PhashDedup}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** Image perceptual-hash near-dup (round 18): REAL decoded-raster
  * dHashes — re-encodes of one picture collide, distinct pictures
  * don't — plus the banded pair join and the inherited band-index
  * lifecycle on hash rows. */
class PhashDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 64x48 test picture k: a smooth two-frequency sine
    * field (per-k frequencies/phase), gray across all three channels —
    * rich enough that the 9x8 gradient grid carries ~balanced bits and
    * two different k land far apart in hamming. */
  private def picture(k: Int, w: Int = 64, h: Int = 48)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    // low frequencies: dHash (like any gradient hash) keys on SMOOTH
    // structure — a field oscillating near the 9x8 grid's Nyquist rate
    // legitimately drifts past the operating point under resampling
    val (f1, f2, ph) = (1.0 + (k % 3), 1.0 + ((k / 3) % 3), k * 0.7)
    for (y <- 0 until h; x <- 0 until w) {
      val v = 128 + (100 * math.sin(
        2 * math.Pi * (f1 * x / w + f2 * y / h) + ph)).toInt
      val c = math.max(0, math.min(255, v))
      img.setRGB(x, y, (c << 16) | (c << 8) | c)
    }
    img
  }

  private def encode(fmt: String,
      img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  private def resized(img: java.awt.image.BufferedImage, w: Int, h: Int)
      : java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, w, h, null)
    g.dispose()
    out
  }

  private def hamming(a: String, b: String): Int =
    a.zip(b).count(p => p._1 != p._2)

  private implicit val enc: org.apache.spark.sql.Encoder[MediaAsset] =
    Encoders.product[MediaAsset]

  private def hashesOf(assets: Seq[MediaAsset])
      : Map[Long, String] =
    Multimodal.perceptualHash(spark.createDataset(assets)(enc))
      .as[(Long, String)].collect().toMap

  test("re-encodes of one picture collide, distinct pictures don't: " +
      "PNG==BMP exactly (lossless twins), JPEG and a mild resize within " +
      "the banding operating point, cross-picture hashes far apart") {
    val imgs = (1 to 6).map(k => k -> picture(k)).toMap
    val h = imgs.map { case (k, img) =>
      k -> Multimodal.dHashImage(img) }
    h.values.foreach(s => assert(s.length === 64 &&
      s.forall(c => c == '0' || c == '1')))
    for (k <- 1 to 6) {
      // lossless re-encode decodes to the same raster -> hamming 0
      val png = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encode("png", imgs(k))))
      val bmp = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encode("bmp", imgs(k))))
      assert(Multimodal.dHashImage(png) === h(k))
      assert(Multimodal.dHashImage(bmp) === h(k))
      // lossy re-encode and a 25% downscale: gradient signs survive
      val jpg = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encode("jpg", imgs(k))))
      assert(hamming(Multimodal.dHashImage(jpg), h(k)) <= 6,
        s"jpeg re-encode of $k drifted past the operating point")
      assert(hamming(
        Multimodal.dHashImage(resized(imgs(k), 48, 36)), h(k)) <= 6,
        s"resize of $k drifted past the operating point")
    }
    for (a <- 1 to 6; b <- (a + 1) to 6)
      assert(hamming(h(a), h(b)) > 6,
        s"distinct pictures $a/$b within the near-dup threshold " +
          s"(${hamming(h(a), h(b))})")
  }

  test("perceptualHash routes image payloads through the decoder " +
      "(PNG == BMP == raster hash) and everything else through the " +
      "deterministic byte-block arm; byte-local edits stay local") {
    val img = picture(3)
    val textPayload =
      ("the quick brown fox jumps over the lazy dog " * 8).getBytes
    val out = hashesOf(Seq(
      MediaAsset(1L, "image", encode("png", img), "s"),
      MediaAsset(2L, "image", encode("bmp", img), "s"),
      MediaAsset(3L, "image", textPayload, "s"), // fails the magic gate
      MediaAsset(4L, "audio", encode("png", img), "s"))) // wrong kind
    assert(out(1L) === Multimodal.dHashImage(img))
    assert(out(1L) === out(2L))
    assert(out(3L) === Multimodal.dHashBytes(textPayload))
    assert(out(4L) === Multimodal.dHashBytes(encode("png", img)),
      "a non-image kind must not reach the codec")
    // byte-arm locality: flipping 3 bytes moves at most a few bits —
    // the re-encode-jitter stand-in the oracle rows rely on
    val twin = textPayload.clone()
    twin(0) = 'T'; twin(1) = 'H'; twin(2) = 'E'
    assert(hamming(Multimodal.dHashBytes(twin),
      Multimodal.dHashBytes(textPayload)) <= 3)
  }

  test("phashNearDupPairs: banded join surfaces exactly the re-encode " +
      "pairs (JPEG + resize twins), hamming attached, no cross-picture " +
      "pairs") {
    val assets = (1 to 6).flatMap { k =>
      Seq(
        MediaAsset(k.toLong, "image", encode("png", picture(k)), "s"),
        MediaAsset(100L + k, "image", encode("jpg", picture(k)), "s"),
        MediaAsset(200L + k, "image",
          encode("png", resized(picture(k), 48, 36)), "s"))
    }
    val hashes = hashesOf(assets)
    val pairs = PhashDedup.phashNearDupPairs(
      hashes.toSeq.toDF("media_id", "phash"),
      "media_id", "phash", maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the recall CONTRACT: 4 bands over 64 bits guarantee (pigeonhole)
    // every pair within hamming 3 shares an exact band — those MUST
    // surface; 4..6 is the probabilistic LSH tail (here: one 75%-resize
    // twin spreads 1+1+1+2 across the bands and is legitimately missed)
    val ids = hashes.keySet.toSeq.sorted
    val guaranteed = for {
      a <- ids; b <- ids if a < b
      if hamming(hashes(a), hashes(b)) <= 3
    } yield (a, b)
    assert(guaranteed.nonEmpty && guaranteed.forall(pairs.contains),
      s"a within-hamming-3 pair escaped the banding: " +
        s"${guaranteed.filterNot(pairs.contains)}")
    for (k <- 1 to 6)
      assert(pairs.contains((k.toLong, 100L + k)), s"jpeg twin of $k lost")
    assert(pairs.count(p => p._2 == p._1 + 200 || p._2 == p._1 + 100) >= 10,
      s"re-encode/resize recall collapsed: $pairs")
    val sameK = (a: Long, b: Long) => a % 100 == b % 100
    assert(pairs.forall(p => sameK(p._1, p._2)),
      s"cross-picture pairs surfaced: ${pairs.filterNot(p => sameK(p._1, p._2))}")
  }

  test("phashIngest (r18): the streaming face — per-batch hash + " +
      "dedup-against-the-accumulated-index + batch= append; a twin " +
      "arriving in a LATER batch than its original pairs through the " +
      "index path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_phstream").toString
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.Streams.phashIngest(
      mem.toDF().toDF("media_id", "payload"), "payload", "media_id",
      s"$dir/idx", s"$dir/pairs", s"$dir/ckpt", maxHamming = 6)
    try {
      mem.addData((1 to 3).map(k =>
        (k.toLong, encode("png", picture(k)))): _*)
      q.processAllAvailable()
      mem.addData(Seq((102L, encode("jpg", picture(2))),
        (103L, encode("jpg", picture(3))),
        (300L, encode("png", picture(6)))): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 102L), (3L, 103L)),
      s"cross-batch twins through the streamed index: $got")
    // both batches landed as generations of the shared layout; the
    // generic health sees them
    assert(graft.operators.Dedup.minhashIndexHealth(spark,
      s"$dir/idx").generations === 2)
  }

  test("the persisted index rides the inherited lifecycle: build + " +
      "append, incremental probe off stored hashes, tombstone delete " +
      "hides immediately, targeted vacuum makes it physical (sidecar " +
      "consumed), compaction keeps answering") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_phidx").toString + "/idx"
    val corpusHashes = (k: Range) => hashesOf(k.map(i =>
      MediaAsset(i.toLong, "image", encode("png", picture(i)), "s")).toSeq)
      .toSeq.toDF("media_id", "phash")
    PhashDedup.buildPhashIndex(corpusHashes(1 to 3), "media_id", "phash", idx)
    PhashDedup.appendToPhashIndex(corpusHashes(4 to 6), "media_id", "phash", idx)
    val batch = hashesOf(Seq(
      MediaAsset(102L, "image", encode("jpg", picture(2)), "s"),
      MediaAsset(103L, "image", encode("jpg", picture(3)), "s"),
      MediaAsset(105L, "image", encode("jpg", picture(5)), "s")))
      .toSeq.toDF("media_id", "phash")
    def probe(): Set[(Long, Long)] =
      PhashDedup.incrementalPhashPairs(batch, "media_id", "phash", idx,
        maxHamming = 6)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(probe() === Set((2L, 102L), (3L, 103L), (5L, 105L)))
    // scope: only picture 2's tenant may pair
    val scoped = PhashDedup.incrementalPhashPairs(batch, "media_id",
      "phash", idx, maxHamming = 6,
      scope = Some(Seq(2L).toDF("media_id")))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(scoped === Set((2L, 102L)))
    // takedown: tombstone hides immediately, vacuum makes it physical
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(3L).toDF("media_id"),
      idCol = "media_id")
    assert(probe() === Set((2L, 102L), (5L, 105L)))
    val h = Dedup.minhashIndexHealth(spark, idx, tombstoneFloor = 1L)
    assert(h.prescription === "vacuumMinhashTombstones")
    val (files, rows) = Dedup.vacuumMinhashTombstones(spark, idx)
    assert(files > 0 && rows === 4L) // one asset x four bands
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(spark.read.parquet(idx).filter(col("id") === 3L).count() === 0L)
    assert(probe() === Set((2L, 102L), (5L, 105L)))
    Dedup.compactMinhashIndex(spark, idx)
    assert(probe() === Set((2L, 102L), (5L, 105L)))
  }
}
