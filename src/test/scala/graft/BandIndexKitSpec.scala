package graft

import graft.operators.{AudioDedup, Dedup, PhashDedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The four near-dup band indexes (minhash, embedding, phash, audio) as
  * one table: every family's build, append, incremental probe, train
  * ingest and append ingest runs exactly its pinned number of Spark jobs,
  * and a probe whose batch ids are all already indexed returns each
  * canonical pair once. */
class BandIndexKitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  /** The verbs of one family over its own input shape; `twins` (40 rows
    * holding near-dup pairs) feeds the re-probe check. */
  private case class Family(
      input: DataFrame,
      twins: DataFrame,
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      probe: (DataFrame, String) => DataFrame,
      ingest: (DataFrame, Option[String], String, Option[String]) => DataFrame)

  private lazy val docs =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
  private lazy val vecs =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")

  /** 40 random 64-dim vectors, each odd id twice its even neighbour
    * (cosine 1, identical sign keys) — the sf0.001 embeddings hold no
    * near-dup pair. */
  private lazy val vecTwins = {
    val r = new scala.util.Random(11)
    (0 until 20).flatMap { k =>
      val v = Seq.fill(64)(r.nextGaussian().toFloat)
      Seq((2L * k, v), (2L * k + 1, v.map(_ * 2)))
    }.toDF("vec_id", "embedding")
  }

  /** 40 random 64-bit hashes, each odd id one bit off its even neighbour:
    * every odd/even couple is a near-dup under the default cut. */
  private lazy val hashes = {
    val r = new scala.util.Random(7)
    (0 until 20).flatMap { k =>
      val h = Array.fill(64)(if (r.nextBoolean()) '1' else '0')
      val twin = h.clone()
      twin(k % 64) = if (twin(k % 64) == '1') '0' else '1'
      Seq((2L * k, new String(h)), (2L * k + 1, new String(twin)))
    }.toDF("media_id", "phash")
  }

  /** 40 random payloads' fingerprints, each odd id a byte-corrupted copy
    * of its even neighbour. */
  private lazy val fps = {
    val assets = (0 until 20).flatMap { k =>
      val p = new Array[Byte](400)
      new scala.util.Random(100 + k).nextBytes(p)
      val q = p.clone()
      q(34) = (q(34) ^ 0xff).toByte
      Seq((2L * k, p), (2L * k + 1, q))
    }.toDF("id", "payload")
    graft.multimodal.Multimodal.audioFingerprint(assets, "payload", "id")
  }

  private lazy val families: Seq[(String, Family)] = Seq(
    "minhash" -> Family(docs, docs,
      (df, p) => Dedup.buildMinhashIndex(df, "text", "doc_id", p),
      (df, p) => Dedup.appendToMinhashIndex(df, "text", "doc_id", p),
      (df, p) => Dedup.incrementalNearDupPairs(df, "text", "doc_id", p),
      (df, ix, out, sink) => Dedup.ingestBatch(df, "text", "doc_id", ix,
        out, pairsSink = sink)),
    "embedding" -> Family(vecs, vecTwins,
      (df, p) => Similarity.buildEmbeddingIndex(df, "embedding", "vec_id", p),
      (df, p) => Similarity.appendToEmbeddingIndex(df, "embedding",
        "vec_id", p),
      (df, p) => Similarity.incrementalEmbeddingPairs(df, "embedding",
        "vec_id", p),
      (df, ix, out, sink) => Similarity.ingestEmbeddingBatch(df,
        "embedding", "vec_id", ix, out, pairsSink = sink)),
    "phash" -> Family(hashes, hashes,
      (df, p) => PhashDedup.buildPhashIndex(df, "media_id", "phash", p),
      (df, p) => PhashDedup.appendToPhashIndex(df, "media_id", "phash", p),
      (df, p) => PhashDedup.incrementalPhashPairs(df, "media_id", "phash", p),
      (df, ix, out, sink) => PhashDedup.ingestPhashBatch(df, "media_id",
        "phash", ix, out, pairsSink = sink)),
    "audio" -> Family(fps, fps,
      (df, p) => AudioDedup.buildAudioIndex(df, "id", p),
      (df, p) => AudioDedup.appendToAudioIndex(df, "id", p),
      (df, p) => AudioDedup.incrementalAudioPairs(df, "id", p),
      (df, ix, out, sink) => AudioDedup.ingestAudioBatch(df, "id", ix, out,
        pairsSink = sink)))

  private def idOf(df: DataFrame) = col(df.columns.head)

  /** family → (build, append, probe, train ingest, append ingest). A
    * refactor of the band kit must not add a job; a drop lowers the pin.
    * One exception, the price of the each-pair-once fix: the minhash
    * probe's pairs now pass the ingest's distinct (one more exchange
    * over the skinny scored pairs), 12 → 13. The probes and ingests then
    * dropped when the kit checkpointed its batch instead of caching it
    * (each self-join of the batch reuses its first exchange) and read
    * the in-set payload off band 0 (no dedup shuffle): probe, train and
    * append ingest went minhash 13/11/14 → 9/8/11, embedding 10/12/14 →
    * 6/9/10, phash 15/13/17 → 8/7/10, audio 20/13/22 → 12/9/14. */
  private val pinned = Map(
    "minhash" -> (3, 3, 9, 8, 11),
    "embedding" -> (4, 4, 6, 9, 10),
    "phash" -> (2, 2, 8, 7, 10),
    "audio" -> (2, 2, 12, 9, 14))

  test("every band verb runs exactly its pinned number of jobs") {
    val measured = families.map { case (name, f) =>
      val evens = f.input.filter(idOf(f.input) % 2 === 0)
      val odds = f.input.filter(idOf(f.input) % 2 =!= 0)
      val flat = tmp(s"jobs_$name") + "/idx"
      val root = tmp(s"jobs_${name}_stream")
      val (_, b) = jobsOf(s"build_$name")(f.build(evens, flat))
      val (_, a) = jobsOf(s"append_$name")(f.append(odds, flat))
      val (_, p) = jobsOf(s"probe_$name")(
        f.probe(f.input.filter(idOf(f.input) < 20), flat))
      val (_, t) = jobsOf(s"train_$name")(
        f.ingest(evens, None, s"$root/idx/batch=0", Some(s"$root/pairs0")))
      val (_, i) = jobsOf(s"ingest_$name")(f.ingest(odds,
        Some(s"$root/idx"), s"$root/idx/batch=1", Some(s"$root/pairs1")))
      name -> (b.size, a.size, p.size, t.size, i.size)
    }.toMap
    println(s"[jobs] ${measured.toSeq.sorted.mkString(" ")}")
    assert(measured === pinned)
  }

  test("a probe whose batch ids are all already indexed returns each " +
      "canonical pair once") {
    val counts = families.map { case (name, f) =>
      val idx = tmp(s"reprobe_$name") + "/idx"
      f.build(f.twins.filter(idOf(f.twins) < 40), idx)
      val got = f.probe(f.twins.filter(idOf(f.twins) < 20), idx)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      assert(got.forall(p => p._1 < p._2), name)
      name -> (got.size, got.distinct.size)
    }
    println(s"[reprobe] ${counts.mkString(" ")}")
    counts.foreach { case (name, (n, distinct)) =>
      assert(distinct > 0, s"$name: fixture defect, no pair found")
      assert(n === distinct, s"$name: $n rows for $distinct pairs")
    }
  }
}
