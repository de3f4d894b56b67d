package org.apache.spark.sql.perfbenchshim

import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/**
 * Reads the SQL metrics Spark keeps on an executed plan. The finished
 * QueryExecution rides on the execution-end event, which is private to
 * Spark's sql package, hence this package.
 */
object PlanShim extends AdaptiveSparkPlanHelper {

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def names(es: Seq[Expression]): Set[String] =
    es.flatMap(_.references.map(_.name)).toSet

  def metrics(end: SparkListenerSQLExecutionEnd): Map[String, Any] = {
    val qe = end.qe
    if (qe == null) return Map.empty
    val plan = try qe.executedPlan catch { case _: Throwable => return Map.empty }
    val nodes = collect(plan) { case p => p }
    val scans = nodes.collect { case s: FileSourceScanExec =>
      Map("root" -> s.relation.location.rootPaths.map(_.toString).mkString(";"),
        "format" -> s.relation.fileFormat.toString,
        "files" -> metric(s, "numFiles"), "bytes" -> metric(s, "filesSize"),
        "rows" -> metric(s, "numOutputRows"))
    }
    val writes = nodes.collect { case w: DataWritingCommandExec => w }
    val joins = nodes.collect { case j: BaseJoinExec => j }
    val osaJoinRows = joins.filter(_.condition.exists(_.find(e =>
      e.isInstanceOf[graft.functions.OsaDistance]).isDefined))
      .map(metric(_, "numOutputRows")).sum
    val bandJoinRows = joins.filter { j =>
      val l = names(j.leftKeys); Set("band", "key").subsetOf(l)
    }.map(metric(_, "numOutputRows")).sum
    val attrs = nodes.flatMap(_.output.map(_.name)).toSet
    // a salted fuzzy join routes its hot blocks with an IN list
    val saltedBlocks =
      if (!attrs.contains("__lsalt")) 0
      else nodes.flatMap(_.expressions).flatMap(_.collect {
        case In(_, list) => list.size
        case InSet(_, set) => set.size
      }).foldLeft(0)(math.max)
    Map(
      "scans" -> scans,
      "written_files" -> writes.map(metric(_, "numFiles")).sum,
      "written_bytes" -> writes.map(metric(_, "numOutputBytes")).sum,
      "write_paths" -> writes.map(_.cmd).collect {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString },
      "osa_join_rows" -> osaJoinRows,
      "band_join_rows" -> bandJoinRows,
      "salt_stats" -> attrs.contains("__pairs"),
      "salted_blocks" -> saltedBlocks)
  }
}
