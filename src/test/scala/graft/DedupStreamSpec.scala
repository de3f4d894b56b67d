package graft

import graft.operators.{Dedup, IndexStore}
import graft.streaming.Streams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming incremental dedup: batch 2 must find its near-dups against
  * batch 1 WITHOUT re-reading batch 1's text — only the index. */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val docA =
    "the quick brown fox jumps over the lazy dog while the band plays on"
  private val docB =
    "the quick brown fox jumps over the lazy dog while the band plays off"
  private val docC =
    "completely different content about sorting algorithms and hash tables"

  test("dedupIngest: cross-batch pairs via the index, per-batch dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dstream").toString
    val (idx, pairs, ckpt) = (s"$dir/idx", s"$dir/pairs", s"$dir/ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = Streams.dedupIngest(mem.toDF().toDF("doc_id", "text"),
      "text", "doc_id", idx, pairs, ckpt, minJaccard = 0.5)
    try {
      // batch 0: near-dup pair inside the batch, one unrelated doc
      mem.addData((1L, docA), (2L, docB), (5L, docC))
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$pairs/batch=0")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(b0 === Set((1L, 2L)))
      // batch 1: another near-copy of docA -> pairs vs BOTH indexed docs
      mem.addData((3L, docA))
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$pairs/batch=1")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(b1 === Set((1L, 3L), (2L, 3L)))
      // the index holds both batches, band-partitioned under batch dirs
      val idxDf = spark.read.parquet(idx)
      assert(idxDf.select("id").distinct().count() === 4)
      assert(idxDf.columns.toSet === Set("id", "shingles", "key", "batch", "band"))
    } finally q.stop()
  }

  test("qualityGatedDedupIngest: rejects diverted, keepers dedup via index") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_qstream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // minimal gate: docs under 5 tokens are 'too_short', else keep
    def gate(df: org.apache.spark.sql.DataFrame) = df.withColumn("disposition",
      when(size(split(col("text"), "\\s+")) < 5, "too_short").otherwise("keep"))
    val q = Streams.qualityGatedDedupIngest(mem.toDF().toDF("doc_id", "text"),
      gate, "text", "doc_id", s"$dir/idx", s"$dir/pairs", s"$dir/rejects",
      s"$dir/ckpt", minJaccard = 0.5)
    try {
      mem.addData((1L, docA), (2L, "too short"), (5L, docC))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/rejects/batch=0")
        .select("doc_id").as[Long].collect().toSeq === Seq(2L))
      // rejected docs never enter the index
      assert(spark.read.parquet(s"$dir/idx")
        .select("id").distinct().as[Long].collect().toSet === Set(1L, 5L))
      // a later near-copy of docA pairs against the indexed keeper
      mem.addData((3L, docB))
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$dir/pairs/batch=1")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(b1 === Set((1L, 3L)))
    } finally q.stop()
  }

  test("curationIngest: gate + decontamination + index, contaminated docs " +
      "land in rejects with their own disposition") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_cstream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val evalDocs = Seq((100L, "secret benchmark answer string five"))
      .toDF("doc_id", "text")
    val docLeak =
      "the secret benchmark answer string five appears in this document today"
    val q = Streams.curationIngest(mem.toDF().toDF("doc_id", "text"), evalDocs,
      "text", "doc_id", s"$dir/idx", s"$dir/pairs", s"$dir/rejects",
      s"$dir/ckpt", minJaccard = 0.5)
    try {
      mem.addData((1L, docA), (2L, "too short"), (7L, docLeak))
      q.processAllAvailable()
      val rejects = spark.read.parquet(s"$dir/rejects/batch=0")
        .select("doc_id", "disposition").as[(Long, String)].collect().toMap
      assert(rejects === Map(2L -> "too_short", 7L -> "contaminated"))
      // neither the short doc nor the leaking doc reached the index
      assert(spark.read.parquet(s"$dir/idx")
        .select("id").distinct().as[Long].collect().toSet === Set(1L))
      // clean keepers still dedup across batches via the index
      mem.addData((3L, docB))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/pairs/batch=1")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
        Set((1L, 3L)))
    } finally q.stop()
  }

  test("qualityGatedDedupIngest: all-rejected first batch leaves a data-less " +
      "index dir and the stream survives; null dispositions land in rejects") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_qstream2").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // gate WITHOUT otherwise(): docs under 5 tokens get disposition null
    def gate(df: org.apache.spark.sql.DataFrame) = df.withColumn("disposition",
      when(size(split(col("text"), "\\s+")) >= 5, "keep"))
    val q = Streams.qualityGatedDedupIngest(mem.toDF().toDF("doc_id", "text"),
      gate, "text", "doc_id", s"$dir/idx", s"$dir/pairs", s"$dir/rejects",
      s"$dir/ckpt", minJaccard = 0.5)
    try {
      mem.addData((2L, "too short"))           // batch 0: everything rejected
      q.processAllAvailable()
      // null disposition is still a reject, not a silent drop
      assert(spark.read.parquet(s"$dir/rejects/batch=0")
        .select("doc_id").as[Long].collect().toSeq === Seq(2L))
      // batch 1 must not die on the data-less index dir from batch 0
      mem.addData((1L, docA), (3L, docB))
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$dir/pairs/batch=1")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(b1 === Set((1L, 3L)))
    } finally q.stop()
  }

  test("IndexStore.hasData: a band tree holding only an empty batch dir " +
      "and a tombstones parquet has no data, gains it with a written " +
      "batch, and agrees with dataFiles on every tree") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hasdata").toString
    val idx = s"$dir/idx"
    val fs = IndexStore.fsOf(spark, idx)
    def hasData(): Boolean = {
      val has = IndexStore.hasData(fs, idx)
      assert(has === IndexStore.dataFiles(fs, idx).nonEmpty)
      has
    }
    assert(!IndexStore.hasData(fs, idx), "a missing path holds data")
    // what an empty micro-batch leaves behind
    fs.create(new Path(s"$idx/batch=0/_SUCCESS")).close()
    assert(!hasData())
    Seq(1L).toDF("id").write.parquet(s"$idx/_tombstones")
    assert(!hasData(), "a _tombstones parquet counted as index data")
    Dedup.ingestBatch(Seq((1L, docA), (2L, docC)).toDF("doc_id", "text"),
      "text", "doc_id", None, s"$idx/batch=1")
    assert(hasData(), "the written batch=1 is not seen as data")
  }
}
