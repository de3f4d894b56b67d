package graft

import graft.operators.{AnnIndex, Dedup}
import org.apache.spark.sql.functions._

/** Pinned Spark job counts of a takedown — one tombstone delete, then
  * the targeted vacuum — on a streaming (batch=) minhash index and on a
  * sign IVF-PQ index. A change to the mutation protocol must not add a
  * job; a drop lowers the pin. */
class TakedownJobSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"

  /** index → (delete jobs, vacuum jobs). From (5, 11) and (5, 16) when
    * the delete's WARN gate counted the sidecar with a job, the vacuum
    * inferred the data schema three times, and every tombstone side
    * feeding a semi or anti join was deduplicated first. */
  private val pinned = Map("minhash" -> (2, 7), "ivfpq" -> (2, 11))

  test("delete and vacuum run exactly their pinned number of jobs") {
    val r = new scala.util.Random(3)
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(20)(s"w${r.nextInt(300)}").mkString(" "))
    }.toDF("doc_id", "text")
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(16)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val mh = tmp("takedown_mh")
    val root = mh.stripSuffix("/idx")
    Dedup.ingestBatch(docs.filter(col("doc_id") < 30), "text", "doc_id",
      None, s"$mh/batch=0", pairsSink = Some(s"$root/pairs0"))
    Dedup.ingestBatch(docs.filter(col("doc_id") >= 30), "text", "doc_id",
      Some(mh), s"$mh/batch=1", pairsSink = Some(s"$root/pairs1"))
    val ann = tmp("takedown_ann")
    AnnIndex.buildIvfPq(vecs.filter(col("vec_id") < 100), "embedding",
      "vec_id", ann, nCells = 8, m = 4, autoPlan = false)
    AnnIndex.appendIvfPq(vecs.filter(col("vec_id") >= 100), "embedding",
      "vec_id", ann)
    val ids = Seq(3L, 40L)
    val (n1, d1) = jobsOf("delete_minhash")(Dedup.deleteFromMinhashIndex(
      spark, mh, ids.toDF("doc_id"), "doc_id"))
    val (v1, c1) = jobsOf("vacuum_minhash")(
      Dedup.vacuumMinhashTombstones(spark, mh))
    val (n2, d2) = jobsOf("delete_ivfpq")(AnnIndex.deleteIds(spark, ann,
      ids.toDF("vec_id")))
    val (v2, c2) = jobsOf("vacuum_ivfpq")(
      AnnIndex.vacuumTombstones(spark, ann))
    assert((n1, n2) === ((2L, 2L)))
    assert(v1._2 > 0 && v2._2 === 2L, s"$v1 $v2")
    val measured = Map("minhash" -> (d1.size, c1.size),
      "ivfpq" -> (d2.size, c2.size))
    println(s"[jobs] ${measured.toSeq.sorted.mkString(" ")}")
    assert(measured === pinned)
  }
}
