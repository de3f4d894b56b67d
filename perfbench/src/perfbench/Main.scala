package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side. Generates the seeded inputs, sets up, runs one
 * cold and then as many warm iterations of a workload as fill the requested
 * time at its nominal pace (at least one), gates the last iteration's outputs (and
 * every traced one's), and writes the raw record (iteration times, spans,
 * jobs, plan metrics) as JSON for run.py to summarize.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --work DIR --out FILE [--corrupt-truth] [--generate-only]
 */
object Main {

  /** Warm iterations a run always makes, whatever --seconds says; a traced
    * run needs one traced and one untraced. */
  val MinWarm = 1
  val MinWarmTraced = 2
  /** Hard cap on the timed loop, so a run ends well inside its limit. */
  val MaxLoopSeconds = 100.0

  def session(cpus: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()


  /** Fixed integer work, timed on one thread and on every core at once. */
  def canary(threads: Int): Double = {
    def work(): Long = {
      var x = 88172645463325252L
      var i = 0
      while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => { work(); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceMode = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val data = work.resolve("data")
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work.resolve("tmp"))

    // --- set-up: the session, then the workload's own set-up; input
    // generation is not timed
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tg = System.nanoTime()
    Gen.generate(spark, workload, seed, data)
    val genS = (System.nanoTime() - tg) / 1e9
    if (args.contains("--generate-only")) {
      println("DIGEST " + Gen.digest(spark, data))
      spark.stop()
      return
    }
    if (args.contains("--corrupt-truth")) Corrupt.truth(data)
    val w = Workload(workload, spark, data)
    val ts = System.nanoTime()
    w.setup(work)
    val workloadSetupS = (System.nanoTime() - ts) / 1e9
    val boot = (mainMs - jvmStartMs) / 1000.0
    val setupS = boot + sessionS + workloadSetupS

    val rec = new Recorder(traceMode)
    spark.sparkContext.addSparkListener(rec)
    val blockPairs = spark.sparkContext.longAccumulator("block_pairs")
    val kernelPairs = spark.sparkContext.longAccumulator("kernel_pairs")
    val countOsa = new CountOsa(blockPairs, kernelPairs)
    val experimental = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val canary1 = canary(1)
    val canaryAll = canary(cpus)

    // --- timed loop: iteration 0 is the cold one, then as many warm
    // iterations as fill --seconds at the workload's nominal pace (at least
    // minWarm). The count is fixed rather than read off a clock: the warm
    // iterations keep speeding up for tens of seconds (JIT and Spark
    // warm-up), so a clock-bound loop would make fewer, slower iterations
    // on a loaded host and report a median from earlier on that curve. In
    // a traced run warm iterations alternate untraced / traced (the even ones
    // are traced, so the second warm iteration, where index_ingest compacts
    // and index_probe appends, is).
    val iters = mutable.Buffer.empty[Map[String, Any]]
    val loopStart = System.nanoTime()
    def total = (System.nanoTime() - loopStart) / 1e9
    val warmCount = math.max(if (traceMode) MinWarmTraced else MinWarm,
      math.floor(seconds / w.nominalIterationS + 0.5).toInt)
    var i = 0
    /** Whether iteration `next` runs. */
    def more(next: Int) =
      next <= warmCount && next < w.maxIterations && total < MaxLoopSeconds
    try while (i == 0 || more(i)) {
      val traced = traceMode && i > 0 && i % 2 == 0
      val it = work.resolve(s"iter_$i")
      Util.deleteTree(it)
      Files.createDirectories(it)
      w.prepare(it)
      blockPairs.reset(); kernelPairs.reset()
      val bytes0 = rec.outBytes.get()
      Trace.iter = i
      Trace.on = traced
      experimental.extraOptimizations = if (traced) Seq(countOsa) else Nil
      val startMs = Trace.nowMs
      val tIt = System.nanoTime()
      var out: RunOut = RunOut(Nil, Nil)
      var error: String = null
      try out = Trace.span("iteration")(w.run(it, traced))
      catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}" }
      val wall = (System.nanoTime() - tIt) / 1e9
      val endMs = Trace.nowMs
      Trace.on = false
      val written = rec.outBytes.get() - bytes0
      val last = i > 0 && !more(i + 1)
      val tGate = System.nanoTime()
      val gate =
        if (error != null) Gate(1, 1, Seq(error), Map.empty)
        else if (!last && !traced) Gate(w.opsPerIteration, 0, Nil, Map.empty)
        else try w.check(it) catch {
          case e: Throwable => Gate(1, 1, Seq(s"gate: ${e.getClass.getName}: ${e.getMessage}"), Map.empty)
        }
      val gateS = (System.nanoTime() - tGate) / 1e9
      gate.errors.foreach(e => System.err.println(s"[perfbench] iteration $i: $e"))
      iters += Map("iter" -> i, "traced" -> traced, "wall_s" -> wall,
        "start_ms" -> startMs, "end_ms" -> endMs,
        "batch_s" -> out.batchSeconds, "progress" -> out.progress,
        "bytes_written" -> written, "stored_bytes" -> w.storedBytes(it),
        "input_bytes" -> (w.inputBytes + out.extraInputBytes),
        "ingested_bytes" -> w.ingestedBytes,
        "scratch_bytes" -> Util.dataBytes(work.resolve("tmp")),
        "attempted" -> gate.attempted, "failed" -> gate.failed, "errors" -> gate.errors,
        "gate_s" -> gateS,
        "facts" -> gate.facts, "block_pairs" -> blockPairs.value.longValue,
        "kernel_pairs" -> kernelPairs.value.longValue)
      if (i > 1) Util.deleteTree(work.resolve(s"iter_${i - 1}"))
      i += 1
    } finally w.close()

    // --- run end: driver heap still live after a forced collection
    // checkpoint and broadcast blocks of dropped frames leave the block
    // store only once GC has queued them and the context cleaner has run;
    // what is still held after that is live. The wait is capped at 1 s:
    // some blocks stay referenced until the session stops, so it usually
    // runs to the cap, and every second of it is paid by every run.
    spark.catalog.clearCache()
    val drainStart = System.nanoTime()
    System.gc()
    while (org.apache.spark.graftshim.BlockShim.gcTrackedBlockCount(spark.sparkContext) > 0 &&
        System.nanoTime() - drainStart < 1e9) {
      Thread.sleep(100)
      System.gc()
    }
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val liveHeapMb = mem.getUsed / 1048576.0
    val drainS = (System.nanoTime() - drainStart) / 1e9

    val conf = spark.conf
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceMode,
      "nproc" -> cpus, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "input" -> Map("records" -> w.records, "files" -> w.inputFiles, "bytes" -> w.inputBytes),
      "canary_1thread_s" -> canary1, "canary_allcores_s" -> canaryAll,
      "jvm_boot_s" -> boot, "session_s" -> sessionS, "workload_setup_s" -> workloadSetupS, "setup_s" -> setupS,
      "generate_s" -> genS, "live_heap_mb" -> liveHeapMb, "drain_s" -> drainS,
      "iterations" -> iters.toSeq,
      "spans" -> Trace.asJson,
      "jobs" -> rec.jobsJson,
      "sql" -> { import scala.jdk.CollectionConverters._; rec.sql.asScala.toSeq })
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(record))
  }
}

/** Test hook: flips one planted answer so the output gate must fail. */
object Corrupt {
  def truth(data: Path): Unit = {
    val t = Util.listFiles(data.resolve("truth")).filter(_.toString.endsWith(".csv"))
      .sortBy(_.toString).headOption.getOrElse(
        throw new IllegalArgumentException("this workload has no planted truth file"))
    // the first planted row: every run reaches it (a run of index_probe
    // probes only the first few query batches)
    val lines = Files.readAllLines(t)
    val cells = lines.get(1).split(",", -1)
    cells(cells.length - 1) = cells.last match {
      case "roster" => "keep_na"
      case s if s.nonEmpty && s.forall(_.isDigit) => (s.toLong + 1).toString
      case _ => "roster"
    }
    lines.set(1, cells.mkString(","))
    Files.write(t, lines)
  }
}
