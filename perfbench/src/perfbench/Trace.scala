package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, PredicateHelper, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.LongAccumulator

object Util {
  /** Regular files under `dir` with their sizes. Files Spark deletes while
    * the walk runs (shuffle and spill files in the scratch dir) are skipped. */
  private def sizes(dir: Path): Seq[(Path, Long)] = {
    val out = mutable.Buffer.empty[(Path, Long)]
    if (Files.exists(dir)) Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        if (a.isRegularFile) out += ((p, a.size))
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
      override def postVisitDirectory(p: Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
    })
    out.toSeq
  }

  def listFiles(dir: Path): Seq[Path] = sizes(dir).map(_._1)

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      scala.util.Using.resource(Files.walk(dir))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists))

  def copyTree(src: Path, dst: Path): Unit =
    scala.util.Using.resource(Files.walk(src))(_.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    })

  /** Data bytes under `dir`, ignoring checksum sidecars. */
  def dataBytes(dir: Path): Long =
    sizes(dir).filterNot(_._1.getFileName.toString.endsWith(".crc")).map(_._2).sum

  def dataFiles(dir: Path): Long =
    listFiles(dir).count { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") || n.endsWith(".csv")
    }.toLong
}

/**
 * In-memory spans around the harness's calls into the engine's layers.
 * Times are epoch milliseconds on the same clock the Spark listener
 * events use, so jobs, SQL executions and streaming progress can be
 * attributed to the innermost span open when they started. Spans are
 * opened and closed on the harness's own thread only.
 */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, iter: Int,
      start: Double, var end: Double)

  @volatile var on = false
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var iter: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        iter, nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = nowMs; stack = stack.tail }
    }

  def asJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
    "start_ms" -> s.start, "end_ms" -> s.end))
}

/** Per-job totals from the scheduler events. */
final class JobRec(val id: Int, val submitMs: Double, val desc: String,
    val batchId: String, val details: String) {
  @volatile var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0L
  var taskMs = 0.0
  var maxTaskMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outBytes = 0L
  def json: Map[String, Any] = Map("id" -> id, "submit_ms" -> submitMs,
    "end_ms" -> endMs, "desc" -> desc, "batch_id" -> batchId,
    "call_site" -> details.split("\n").find(_.contains("graft.")).getOrElse(details.takeWhile(_ != '\n')),
    "stages" -> stages, "tasks" -> tasks,
    "task_ms" -> taskMs, "max_task_ms" -> maxTaskMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "out_bytes" -> outBytes)
}

/**
 * The harness's Spark listener. Always counts task output bytes (the
 * write-amplification numerator); with tracing on it also keeps per-job
 * totals and per-SQL-execution plan metrics.
 */
class Recorder(trace: Boolean) extends SparkListener {
  val outBytes = new java.util.concurrent.atomic.AtomicLong()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val sql = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val sqlStart = new ConcurrentHashMap[Long, Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (trace) {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val details = e.stageInfos.map(_.details).mkString("\n")
    val rec = new JobRec(e.jobId, e.time.toDouble, prop("spark.job.description"),
      prop("streaming.sql.batchId"), details)
    rec.stages = e.stageInfos.size
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (trace)
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) outBytes.addAndGet(m.outputMetrics.bytesWritten)
    if (trace && m != null) Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { r => r.synchronized {
        val dur = (e.taskInfo.finishTime - e.taskInfo.launchTime).toDouble
        r.tasks += 1
        r.taskMs += m.executorRunTime
        r.maxTaskMs = math.max(r.maxTaskMs, dur)
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.outBytes += m.outputMetrics.bytesWritten
      } }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (trace) e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, s.time.toDouble)
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      val start = Option(sqlStart.remove(end.executionId)).map(_.doubleValue)
        .getOrElse(end.time.toDouble)
      val metrics = org.apache.spark.sql.perfbenchshim.PlanShim.metrics(end)
      sql.add(Map("id" -> end.executionId, "start_ms" -> start,
        "end_ms" -> end.time.toDouble) ++ metrics)
    case _ =>
  }

  def jobsJson: Seq[Map[String, Any]] =
    jobs.values().asScala.toSeq.sortBy(_.id).map(_.json)
}

/**
 * Counts evaluations of the expression it wraps. Installed only in traced
 * runs (see [[CountOsa]]); interpreted, so the wrapped join condition
 * leaves whole-stage codegen — part of the reported trace overhead.
 */
case class Counted(child: Expression, acc: LongAccumulator)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    acc.add(1)
    child.eval(input)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def toString: String = s"counted($child)"
}

/**
 * Traced-run optimizer rule: in every join or filter condition that calls
 * the OSA kernel, count how often the non-equality part of the condition
 * is evaluated (the pairs the block equi-join produces) and how often the
 * kernel itself is reached (after the cheaper conjuncts short-circuit).
 * The optimizer folds the length pre-filter and the kernel into one join
 * condition, so no plan node's row count measures the kernel's input.
 * Equality conjuncts stay outside the wrapper: the planner takes its
 * equi-join keys from them.
 */
class CountOsa(blockPairs: LongAccumulator, kernelPairs: LongAccumulator)
    extends Rule[LogicalPlan] with PredicateHelper {
  private def isOsa(e: Expression) = e.isInstanceOf[graft.functions.OsaDistance]
  private def hasOsa(e: Expression) = e.find(isOsa).isDefined
  private def counted(e: Expression) = e.find(_.isInstanceOf[Counted]).isDefined
  private def wrap(cond: Expression): Expression = {
    val (eq, rest) = splitConjunctivePredicates(cond).partition {
      case _: EqualTo | _: EqualNullSafe => true
      case _ => false
    }
    val residual = Counted(rest.reduce(And)
      .transformUp { case o if isOsa(o) => Counted(o, kernelPairs) }, blockPairs)
    (eq :+ residual).reduce(And)
  }
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, _, _, Some(c), _) if hasOsa(c) && !counted(c) =>
      j.copy(condition = Some(wrap(c)))
    case f @ Filter(c, _) if hasOsa(c) && !counted(c) => f.copy(condition = wrap(c))
  }
}
