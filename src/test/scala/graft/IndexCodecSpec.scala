package graft

import graft.operators.{AnnIndex, Dedup, IndexStore, Similarity}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.rewrite.{ParquetRewriter, RewriteOptions}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import scala.jdk.CollectionConverters._

/** The one index writer ([[IndexStore.writer]]): after every band and ANN
  * verb each parquet file under the index root — data, sidecars,
  * tombstones, vacuum staging — is zstd in its footer; an index whose
  * files were written with snappy (Spark's default codec, what the
  * engine wrote before) answers through appends, vacuums and
  * compactions exactly like an all-zstd twin; and a `_centroids` sidecar
  * holding int32 cells (what k-means IVF builds once wrote) still probes
  * identically. */
class IndexCodecSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"

  /** 240 random 16-dim vectors; each odd id a small perturbation of its
    * even neighbour. */
  private lazy val vecs = {
    val r = new scala.util.Random(5)
    (0 until 120).flatMap { k =>
      val v = Seq.fill(16)(r.nextGaussian().toFloat)
      Seq((2L * k, v), (2L * k + 1, v.map(_ + 0.01f * r.nextGaussian().toFloat)))
    }.toDF("vec_id", "embedding")
  }
  private lazy val queries = vecs.filter(col("vec_id") % 24 === 0)

  /** 80 documents over a small vocabulary; each odd id its even
    * neighbour with one word replaced. */
  private lazy val docs = {
    val r = new scala.util.Random(9)
    val words = (0 until 400).map(i => s"w${i * 7919 % 10007}")
    (0 until 40).flatMap { k =>
      val t = Seq.fill(30)(words(r.nextInt(words.size)))
      Seq((2L * k, t.mkString(" ")), (2L * k + 1, t.updated(k % 30, "zz").mkString(" ")))
    }.toDF("doc_id", "text")
  }

  private def evens(df: DataFrame) = df.filter(col(df.columns.head) % 2 === 0)
  private def odds(df: DataFrame) = df.filter(col(df.columns.head) % 2 =!= 0)

  /** The codecs of each parquet file under `root` that holds a row group
    * (a row-group-less file records none), by path. */
  private def codecs(root: String): Map[String, Set[String]] = {
    val fs = new Path(root).getFileSystem(conf)
    val files = fs.listFiles(new Path(root), true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try st.getPath.toString -> r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
        finally r.close()
      }.filter(_._2.nonEmpty).toMap
  }

  private def assertZstd(root: String, verb: String,
      sidecars: String*): Unit = {
    val cs = codecs(root)
    assert(cs.nonEmpty, s"$verb: no parquet file under $root")
    val other = cs.filter(_._2 != Set("ZSTD"))
    assert(other.isEmpty, s"$verb: not zstd: ${other.mkString(", ")}")
    sidecars.foreach(s => assert(cs.keys.exists(_.contains(s"/$s/")),
      s"$verb: no $s file checked"))
  }

  /** Rewrite every parquet file under `root` with snappy, byte for byte
    * the same columns and rows. */
  private def toSnappy(root: String): Unit = {
    val fs = new Path(root).getFileSystem(conf)
    codecs(root).keys.foreach { f =>
      val (in, out) = (new Path(f), new Path(f + ".snappy"))
      val w = new ParquetRewriter(new RewriteOptions.Builder(conf, in, out)
        .transform(CompressionCodecName.SNAPPY).build())
      try w.processBlocks() finally w.close()
      fs.delete(in, false)
      assert(fs.rename(out, in))
    }
  }

  /** Delete `ids`, then the vacuum in its two halves: the staged
    * survivors and manifest are checked before completion. */
  private def deleteAndVacuum(p: String, layout: IndexStore.Layout,
      ids: DataFrame, delete: DataFrame => Long, check: String => Unit)
      : Unit = {
    delete(ids)
    check("delete")
    assert(IndexStore.stageVacuum(spark, p, layout))
    assert(codecs(p).keys.exists(_.contains("/_vacuum_staged/")))
    check("vacuum staging")
    IndexStore.completeVacuum(IndexStore.fsOf(spark, p), p, layout)
    check("vacuum")
  }

  test("every band verb writes zstd: build, append, ingest, delete, " +
      "vacuum, compact, embedding reindex") {
    val flat = tmp("codec_band")
    def check(verb: String, sidecars: String*) =
      assertZstd(flat, s"minhash $verb", sidecars: _*)
    Dedup.buildMinhashIndex(evens(docs), "text", "doc_id", flat)
    check("build")
    Dedup.appendToMinhashIndex(odds(docs), "text", "doc_id", flat)
    check("append")
    deleteAndVacuum(flat, Dedup.BandLayout, Seq(1L, 2L).toDF("doc_id"),
      Dedup.deleteFromMinhashIndex(spark, flat, _, "doc_id"), check(_))
    Dedup.deleteFromMinhashIndex(spark, flat, Seq(3L).toDF("doc_id"), "doc_id")
    check("delete", "_tombstones")
    Dedup.compactMinhashIndex(spark, flat)
    check("compact")

    val root = tmp("codec_ingest")
    Dedup.ingestBatch(evens(docs), "text", "doc_id", None, s"$root/batch=0")
    Dedup.ingestBatch(odds(docs), "text", "doc_id", Some(root),
      s"$root/batch=1")
    assertZstd(root, "minhash ingest")

    val emb = tmp("codec_emb")
    Similarity.buildEmbeddingIndex(vecs, "embedding", "vec_id", emb,
      bands = 4, bitsPerBand = 4)
    assertZstd(emb, "embedding build")
    Similarity.reindexEmbeddingIndex(spark, emb)
    assertZstd(emb, "embedding reindex")
  }

  test("every ANN verb writes zstd: build, append, delete, vacuum, " +
      "compact, reindex — IVF, PQ, IVF-PQ and LSH") {
    val families = Seq[(String, String => Unit, String => Unit,
        String => Unit, Seq[String])](
      ("ivf",
        p => AnnIndex.buildIvf(evens(vecs), "embedding", "vec_id", p,
          nCells = 8, autoPlan = false, quantizer = "sign"),
        p => AnnIndex.appendIvf(odds(vecs), "embedding", "vec_id", p),
        p => AnnIndex.reindexIvf(spark, p, nCells = 8),
        Seq("_centroids")),
      ("pq",
        p => AnnIndex.buildPq(evens(vecs), "embedding", "vec_id", p,
          m = 4, quantizer = "sign"),
        p => AnnIndex.appendPq(odds(vecs), "embedding", "vec_id", p),
        p => AnnIndex.reindexPqFromReservoir(spark, p),
        Seq("_codebooks", "_sample")),
      ("ivfpq",
        p => AnnIndex.buildIvfPq(evens(vecs), "embedding", "vec_id", p,
          nCells = 8, m = 4, autoPlan = false),
        p => AnnIndex.appendIvfPq(odds(vecs), "embedding", "vec_id", p),
        p => AnnIndex.reindexIvfPqFromReservoir(spark, p, nCells = 8),
        Seq("_centroids", "_codebooks", "_sample")),
      ("lsh",
        p => AnnIndex.buildLsh(evens(vecs), "embedding", "vec_id", p,
          dims = 16, bits = 8),
        p => AnnIndex.appendLsh(odds(vecs), "embedding", "vec_id", p),
        p => AnnIndex.reindexLsh(spark, p, bits = 8),
        Nil))
    families.foreach { case (name, build, append, reindex, sidecars) =>
      val p = tmp(s"codec_$name")
      def check(verb: String) = assertZstd(p, s"$name $verb", sidecars: _*)
      build(p)
      check("build")
      append(p)
      check("append")
      deleteAndVacuum(p, AnnIndex.IndexLayout, Seq(1L, 2L).toDF("vec_id"),
        AnnIndex.deleteIds(spark, p, _), check(_))
      AnnIndex.compactIndex(spark, p)
      check("compact")
      reindex(p)
      check("reindex")
    }
  }

  test("an index written with snappy appends, vacuums and compacts with " +
      "the zstd writer and answers like an all-zstd twin") {
    def twins(tag: String)(build: String => Unit): (String, String) = {
      val (old, twin) = (tmp(s"${tag}_snappy"), tmp(s"${tag}_zstd"))
      build(old)
      build(twin)
      toSnappy(old)
      assert(codecs(old).values.toSet === Set(Set("SNAPPY")))
      (old, twin)
    }
    def codecsOf(p: String) = codecs(p).values.flatten.toSet

    val (mOld, mTwin) = twins("mh")(Dedup.buildMinhashIndex(evens(docs),
      "text", "doc_id", _))
    val probe = docs.filter(col("doc_id") < 20)
    def pairs(p: String) = Dedup.incrementalNearDupPairs(probe, "text",
      "doc_id", p).collect().map(_.toString).toSet
    Seq(mOld, mTwin).foreach(Dedup.appendToMinhashIndex(odds(docs), "text",
      "doc_id", _))
    assert(codecsOf(mOld) === Set("SNAPPY", "ZSTD"))
    assert(pairs(mOld).nonEmpty)
    assert(pairs(mOld) === pairs(mTwin))
    Seq(mOld, mTwin).foreach { p =>
      Dedup.deleteFromMinhashIndex(spark, p, Seq(1L, 4L).toDF("doc_id"),
        "doc_id")
      Dedup.vacuumMinhashTombstones(spark, p)
    }
    assert(pairs(mOld) === pairs(mTwin))
    Seq(mOld, mTwin).foreach(Dedup.compactMinhashIndex(spark, _))
    assert(codecsOf(mOld) === Set("ZSTD"))
    assert(pairs(mOld) === pairs(mTwin))

    val (aOld, aTwin) = twins("ivfpq")(AnnIndex.buildIvfPq(evens(vecs),
      "embedding", "vec_id", _, nCells = 8, m = 4, autoPlan = false))
    def topk(p: String) = AnnIndex.ivfPqKnnJoin(spark, p, queries, vecs,
      "embedding", "vec_id", k = 5).collect().map(_.toString).toSet
    Seq(aOld, aTwin).foreach(AnnIndex.appendIvfPq(odds(vecs), "embedding",
      "vec_id", _))
    assert(codecsOf(aOld) === Set("SNAPPY", "ZSTD"))
    assert(topk(aOld).nonEmpty)
    assert(topk(aOld) === topk(aTwin))
    Seq(aOld, aTwin).foreach { p =>
      AnnIndex.deleteIds(spark, p, Seq(2L, 5L).toDF("vec_id"))
      AnnIndex.vacuumTombstones(spark, p)
    }
    assert(topk(aOld) === topk(aTwin))
    Seq(aOld, aTwin).foreach(AnnIndex.compactIndex(spark, _))
    assert(topk(aOld) === topk(aTwin))
  }

  test("k-means IVF writes int64 _centroids cells, and an int32 sidecar " +
      "still probes with identical answers") {
    val (old, twin) = (tmp("cells_int"), tmp("cells_long"))
    Seq(old, twin).foreach(AnnIndex.buildIvf(evens(vecs), "embedding",
      "vec_id", _, nCells = 8, autoPlan = false))
    assert(spark.read.parquet(s"$twin/_centroids").schema("cell").dataType
      === LongType)
    val fs = IndexStore.fsOf(spark, old)
    spark.read.parquet(s"$old/_centroids")
      .withColumn("cell", col("cell").cast(IntegerType))
      .coalesce(1).write.parquet(s"$old/_centroids.int")
    fs.delete(new Path(s"$old/_centroids"), true)
    assert(fs.rename(new Path(s"$old/_centroids.int"),
      new Path(s"$old/_centroids")))
    assert(spark.read.parquet(s"$old/_centroids").schema("cell").dataType
      === IntegerType)
    def topk(p: String) = AnnIndex.ivfKnnJoin(spark, p, queries, "embedding",
      "vec_id", k = 5).collect().map(_.toString).toSet
    assert(topk(old).nonEmpty)
    assert(topk(old) === topk(twin))
    val q = queries.head().getSeq[Float](1)
    assert(AnnIndex.searchIvf(spark, old, q, 5).collect().toSet ===
      AnnIndex.searchIvf(spark, twin, q, 5).collect().toSet)
  }
}
