package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a single forked JVM, see build.sbt `Test / fork`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the call-site details of every job it ran
    * (the job group tags them; the status tracker says when the
    * asynchronous listener has seen them all). */
  def jobsOf[A](group: String)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = scala.collection.concurrent.TrieMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen(e.jobId) = e.stageInfos.map(_.details).mkString("\n")
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ids.forall(seen.contains) && System.nanoTime() < deadline)
      Thread.sleep(20)
    sc.removeSparkListener(listener)
    assert(ids.forall(seen.contains), s"$group: listener missed jobs")
    (out, ids.map(seen))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
