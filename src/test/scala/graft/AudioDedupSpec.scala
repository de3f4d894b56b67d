package graft

import graft.multimodal.Multimodal
import graft.operators.AudioDedup
import org.apache.spark.sql.functions._

/** Audio near-dup over Haitsma-Kalker sub-fingerprints (round 18):
  * the derivation's geometry and locality bounds, the
  * minimum-duration gate, and exact pair recovery — planted
  * byte-local corruption pairs, independent random payloads never
  * do. */
class AudioDedupSpec extends SparkSpec {
  import spark.implicits._

  private def randomPayload(seed: Int, len: Int = 400): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val p = new Array[Byte](len)
    r.nextBytes(p)
    p
  }

  private def bitDiff(a: Array[String], b: Array[String]): Int =
    a.zip(b).map { case (x, y) =>
      x.zip(y).count(p => p._1 != p._2)
    }.sum

  test("hkSubFingerprints: geometry and determinism") {
    val p = randomPayload(1)
    val fps = Multimodal.hkSubFingerprints(p)
    assert(fps.length === Multimodal.AudioWindows - 1)
    fps.foreach { fp =>
      assert(fp.length === Multimodal.AudioBands)
      assert(fp.forall(c => c == '0' || c == '1'))
    }
    assert(fps.toSeq === Multimodal.hkSubFingerprints(p).toSeq)
  }

  test("byte-local corruption inside the excerpt flips at most 4 " +
    "bits, leaves >= 5 of 7 windows bit-exact; corruption past the " +
    "excerpt leaves the fingerprint identical") {
    val p = randomPayload(2)
    // worst case for one edit: the changed energy's two d-values each
    // feed two windows' bits -> <= 4 flips, windows w and w+1 only
    for (pos <- Seq(0, 45, 90, 135)) {
      val q = p.clone()
      q(pos) = (q(pos) ^ 0xff).toByte
      val (fa, fb) = (Multimodal.hkSubFingerprints(p),
        Multimodal.hkSubFingerprints(q))
      assert(bitDiff(fa, fb) <= 4, s"edit at $pos flipped too many bits")
      val exact = fa.zip(fb).count(w => w._1 == w._2)
      assert(exact >= 5, s"edit at $pos broke too many windows: $exact")
    }
    // the fixed-excerpt contract: bytes past position 136 never
    // contribute (a real fingerprint covers a fixed-duration block)
    val tail = p.clone()
    tail(200) = (tail(200) ^ 0xff).toByte
    tail(399) = (tail(399) ^ 0xff).toByte
    assert(Multimodal.hkSubFingerprints(tail).toSeq ===
      Multimodal.hkSubFingerprints(p).toSeq)
  }

  test("minimum-duration gate: below the 136-byte analysis grid no " +
    "fingerprints are emitted") {
    val df = Seq(
      (1L, randomPayload(3, len = 135)),
      (2L, randomPayload(4, len = 136))).toDF("id", "payload")
    val fps = Multimodal.audioFingerprint(df, "payload", "id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(fps.map(_._1).distinct.toSeq === Seq(2L))
    assert(fps.map(_._2).toSeq === (1 to 7))
  }

  test("audioNearDupPairs: planted corrupted twins pair exactly, " +
    "independent payloads never do") {
    val originals = (0 until 40).map(k => (k.toLong, randomPayload(100 + k)))
    val twins = originals.filter(_._1 % 4 == 0).map { case (id, p) =>
      (id + 1000L, corrupted(p))
    }
    val df = (originals ++ twins).toDF("id", "payload")
    val pairs = AudioDedup.audioNearDupPairs(df, "payload", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // random payloads are fair coins per bit: unrelated pairs sit ~56
    // of 112 bits apart (>5 sigma above the 28 cut), so the found set
    // is EXACTLY the planted twins, each within the 2-edit 8-bit bound
    assert(pairs.map(p => (p._1, p._2)).sorted.toSeq ===
      originals.filter(_._1 % 4 == 0).map(o => (o._1, o._1 + 1000L)))
    pairs.foreach { case (a, b, errs) =>
      assert(errs <= 8, s"twin ($a,$b) at $errs bit errors")
    }
  }

  /** Two byte edits INSIDE the fixed analysis excerpt (blocks 34 and
    * 102 — windows 2 and 6), the corrupted-re-encode stand-in. */
  private def corrupted(p: Array[Byte]): Array[Byte] = {
    val q = p.clone()
    q(34) = (q(34) ^ 0xff).toByte
    q(102) = (q(102) ^ 0xff).toByte
    q
  }

  test("the persisted index rides the inherited lifecycle: build + " +
    "append, incremental probe off the index's own rows, scope, " +
    "tombstone delete hides immediately, targeted vacuum makes it " +
    "physical, compaction keeps answering") {
    import graft.operators.{AudioDedup, Dedup}
    val idx = java.nio.file.Files
      .createTempDirectory("graft_audidx").toString + "/idx"
    val payloads = (1 to 6).map(k => k.toLong -> randomPayload(200 + k)).toMap
    def fpsOf(rows: Seq[(Long, Array[Byte])]) =
      graft.multimodal.Multimodal.audioFingerprint(
        rows.toDF("id", "payload"), "payload", "id")
    AudioDedup.buildAudioIndex(
      fpsOf((1 to 3).map(k => k.toLong -> payloads(k))), "id", idx)
    AudioDedup.appendToAudioIndex(
      fpsOf((4 to 6).map(k => k.toLong -> payloads(k))), "id", idx)
    val batch = fpsOf(Seq(102L -> corrupted(payloads(2L)),
      103L -> corrupted(payloads(3L)), 105L -> corrupted(payloads(5L))))
    def probe(): Set[(Long, Long)] =
      AudioDedup.incrementalAudioPairs(batch, "id", idx)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(probe() === Set((2L, 102L), (3L, 103L), (5L, 105L)))
    val scoped = AudioDedup.incrementalAudioPairs(batch, "id", idx,
      scope = Some(Seq(2L).toDF("id")))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(scoped === Set((2L, 102L)))
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(3L).toDF("id"),
      idCol = "id")
    assert(probe() === Set((2L, 102L), (5L, 105L)))
    val (files, rows) = Dedup.vacuumMinhashTombstones(spark, idx)
    assert(files > 0 && rows === 7L) // one asset x seven windows
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(probe() === Set((2L, 102L), (5L, 105L)))
    Dedup.compactMinhashIndex(spark, idx)
    assert(probe() === Set((2L, 102L), (5L, 105L)))
  }

  test("audioIngest: the streaming face — per-batch fingerprint + " +
    "dedup-against-the-accumulated-index + batch= append; a twin " +
    "arriving in a LATER batch than its original pairs through the " +
    "index path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_audstream").toString
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.Streams.audioIngest(
      mem.toDF().toDF("media_id", "payload"), "payload", "media_id",
      s"$dir/idx", s"$dir/pairs", s"$dir/ckpt")
    try {
      mem.addData((1 to 3).map(k => (k.toLong, randomPayload(300 + k))): _*)
      q.processAllAvailable()
      mem.addData(Seq(
        (102L, corrupted(randomPayload(302))),
        (103L, corrupted(randomPayload(303))),
        (300L, randomPayload(999))): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 102L), (3L, 103L)),
      s"cross-batch twins through the streamed index: $got")
    assert(graft.operators.Dedup.minhashIndexHealth(spark,
      s"$dir/idx").generations === 2)
  }

  test("nearDupPairsByKind routes each kind to its own family and " +
    "never pairs across kinds") {
    val pImg = randomPayload(11)
    val imgTwin = pImg.clone()
    // a 3-byte-local edit: the phash byte-block arm's operating point
    imgTwin(0) = (imgTwin(0) ^ 0x20).toByte
    imgTwin(1) = (imgTwin(1) ^ 0x20).toByte
    imgTwin(2) = (imgTwin(2) ^ 0x20).toByte
    val pAud = randomPayload(12)
    val pVid = randomPayload(13)
    val vidTwin = pVid.clone()
    vidTwin(pVid.length / 2) = (vidTwin(pVid.length / 2) ^ 0x20).toByte
    // an unrecognized kind must not be silently dropped — it takes
    // the frame leg (the router's "everything else")
    val pPdf = randomPayload(14)
    val pdfTwin = pPdf.clone()
    pdfTwin(pPdf.length / 2) = (pdfTwin(pPdf.length / 2) ^ 0x20).toByte
    val media = Seq(
      (1L, "image", pImg), (101L, "image", imgTwin),
      (2L, "audio", pAud), (102L, "audio", corrupted(pAud)),
      (3L, "video", pVid), (103L, "video", vidTwin),
      (4L, "pdf", pPdf), (104L, "pdf", pdfTwin))
      .toDF("id", "kind", "payload")
    val got = graft.multimodal.Multimodal
      .nearDupPairsByKind(media, "payload", "id")
      .select("method", "id_a", "id_b")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("phash", 1L, 101L), ("hk_audio", 2L, 102L),
      ("frames", 3L, 103L), ("frames", 4L, 104L)))
    // non-numeric ids are refused loudly at the driver (a silent long
    // cast would null out and die deep inside an encoder)
    val bad = Seq(("u1", "image", pImg)).toDF("id", "kind", "payload")
    val e = intercept[IllegalArgumentException](
      graft.multimodal.Multimodal.nearDupPairsByKind(bad, "payload", "id"))
    assert(e.getMessage.contains("numeric id"))
  }

  test("a duplicated index id (the re-ingest degrade case) does not " +
    "inflate the whole-sequence verify past the cut") {
    import graft.operators.AudioDedup
    val idx = java.nio.file.Files
      .createTempDirectory("graft_auddup").toString + "/idx"
    val p = randomPayload(21)
    def fpsOf(rows: Seq[(Long, Array[Byte])]) =
      graft.multimodal.Multimodal.audioFingerprint(
        rows.toDF("id", "payload"), "payload", "id")
    AudioDedup.buildAudioIndex(fpsOf(Seq(9L -> p)), "id", idx)
    // the same asset again — duplicate (id, band) rows, the state a
    // replayed/re-ingested id legally leaves behind
    AudioDedup.appendToAudioIndex(fpsOf(Seq(9L -> p)), "id", idx)
    val pairs = AudioDedup.incrementalAudioPairs(
      fpsOf(Seq(109L -> corrupted(p))), "id", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(x => (x._1, x._2)).toSeq === Seq((9L, 109L)))
    assert(pairs.head._3 <= 8,
      s"duplicate index rows inflated bit_errors: ${pairs.head._3}")
    // the BATCH side too: a replayed batch carrying its rows twice
    val dupBatch = fpsOf(Seq(109L -> corrupted(p), 109L -> corrupted(p)))
    val pairs2 = AudioDedup.incrementalAudioPairs(dupBatch, "id", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs2.map(x => (x._1, x._2)).toSeq === Seq((9L, 109L)))
    assert(pairs2.head._3 <= 8,
      s"duplicate batch rows inflated bit_errors: ${pairs2.head._3}")
  }

  test("window-collision candidates only: a pair aligning on no " +
    "window is never considered, even if globally close") {
    // two payloads whose every window differs by one bit would need an
    // all-pairs scan to find — the HK lookup contract (like banding's
    // pigeonhole) deliberately excludes it. Build one: flip one byte
    // INSIDE EVERY WINDOW of a copy.
    val p = randomPayload(7)
    val q = p.clone()
    for (w <- 0 until Multimodal.AudioWindows) {
      // one edit inside every window of the fixed excerpt (block =
      // byte offset on the excerpt grid)
      val pos = w * (Multimodal.AudioBands + 1) + 3
      q(pos) = (q(pos) ^ 0xff).toByte
    }
    val fa = Multimodal.hkSubFingerprints(p)
    val fb = Multimodal.hkSubFingerprints(q)
    if (fa.zip(fb).forall(w => w._1 != w._2)) {
      val pairs = AudioDedup.audioNearDupPairs(
        Seq((1L, p), (2L, q)).toDF("id", "payload"), "payload", "id")
      assert(pairs.count() === 0)
    } // else the edits happened to cancel in some window — the
      // candidate exists and the verify legitimately decides
  }
}
