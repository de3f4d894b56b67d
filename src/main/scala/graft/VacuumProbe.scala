package graft

import graft.operators.{AnnIndex, IndexStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scale A/B for the targeted vacuum (round 15): build TWO identical
 * persisted LSH indexes over an embeddings table, tombstone the same
 * bounded id set in both (the takedown shape — fixed-size delete
 * against a growing corpus), then time [[AnnIndex.vacuumTombstones]]
 * on one against [[AnnIndex.compactIndex]] on the other and
 * hash-compare the batched-join answers over survivors.
 *
 * The claim measured: vacuum wall = one id-column locate scan + a
 * rewrite of the TOUCHED files; compact wall = a full-corpus rewrite.
 * At small corpora fixed Spark overheads mask the gap; as the corpus
 * grows with the takedown held fixed, the ratio must widen — that
 * slope, recorded in the README next to the ScaleRel/ScaleProbe
 * tables, is the 100 TB evidence for "a takedown costs the touched
 * files, not the corpus".
 *
 * The corpus is synthesized hash-deterministically (ProbeSuite's
 * gaussian construction — the testdata embeddings table is too small
 * to separate rewrite cost from fixed overheads), so the recorded
 * numbers reproduce run to run.
 *
 * Usage: runMain graft.VacuumProbe [nRows] [nDelete]
 * Prints [probe] lines; exits nonzero when the vacuumed and compacted
 * indexes disagree (answers or physical row counts).
 */
object VacuumProbe {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nDel = if (args.length > 1) args(1).toInt else 100
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def dataFiles(p: String): Long =
      IndexStore.dataFiles(IndexStore.fsOf(spark, p), p).size.toLong

    val dims = 64
    def unif(seed: org.apache.spark.sql.Column, salt: Int) =
      (pmod(xxhash64(seed, lit(salt)), lit(1000000L)).cast("double") + 0.5) /
        1000000.0
    def gauss(seed: org.apache.spark.sql.Column, salt: Int) =
      sqrt(lit(-2.0) * log(unif(seed, salt))) *
        cos(lit(2.0 * math.Pi) * unif(seed, salt + 1))
    val emb = spark.range(nRows).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)),
        j => gauss(col("id") * dims + j, 11).cast("float"))
        .as("embedding")).localCheckpoint(true)
    val n = emb.count()
    val vIdx = Tables.freshScratch("vacprobe_v") + "/idx"
    val cIdx = Tables.freshScratch("vacprobe_c") + "/idx"
    val (_, tBuild) = timed(
      AnnIndex.buildLsh(emb, "embedding", "vec_id", vIdx, dims = 0))
    AnnIndex.buildLsh(emb, "embedding", "vec_id", cIdx, dims = 0)
    val doomed = emb.filter(col("vec_id") < nDel).select("vec_id")
    AnnIndex.deleteIds(spark, vIdx, doomed)
    AnnIndex.deleteIds(spark, cIdx, doomed)
    val filesBefore = dataFiles(vIdx)
    println(s"[probe] vacuum corpus=$n delete=$nDel files=$filesBefore " +
      s"build=${f"$tBuild%.1f"}s")
    // stage decomposition: the locate scan alone (narrow id-column read)
    val fsV = new org.apache.hadoop.fs.Path(vIdx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val qual = fsV.makeQualified(new org.apache.hadoop.fs.Path(vIdx)).toString
    val (locRows, tLoc) = timed(IndexStore.locateScan(spark, qual,
      doomed.select(col("vec_id")), "vec_id").collect())
    println(f"[probe] vacuum locate alone=$tLoc%.1fs files=${locRows.length}")

    val ((vFiles, vRows), tVac) =
      timed(AnnIndex.vacuumTombstones(spark, vIdx))
    val ((before, after), tComp) =
      timed(AnnIndex.compactIndex(spark, cIdx))
    println(f"[probe] vacuum wall=$tVac%.1fs rewrote=$vFiles of " +
      f"$filesBefore files rows=$vRows | compact wall=$tComp%.1fs " +
      f"files $before->$after | ratio=${tComp / math.max(0.01, tVac)}%.2fx")

    // both paths must serve identical survivor answers and row counts
    val q = emb.filter(col("vec_id") >= nDel && col("vec_id") < nDel + 5)
    def res(p: String) = AnnIndex.lshKnnJoin(spark, p, q,
      "embedding", "vec_id", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val same = res(vIdx) == res(cIdx) &&
      spark.read.parquet(vIdx).count() == spark.read.parquet(cIdx).count()
    println(s"[probe] vacuum answers_identical=$same " +
      (if (same) "ok" else "BAD"))
    spark.stop()
    if (!same) sys.exit(1)
  }
}
