package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.model.Schemas
import graft.operators.{AnnIndex, Dedup, Routing}
import graft.pipelines.{FuzzyMatch, TemplateSubmitters}
import graft.qa.{FileValidation, QaRules}
import graft.sinks.RosterSink
import graft.sources.{SnapshotStore, StringCsv}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import Trace.span

/** Outcome of one iteration's output gate (run outside the timed region). */
final case class Gate(attempted: Long, failed: Long, errors: Seq[String],
    facts: Map[String, Double])

/** What one timed iteration reports besides its wall time; `extraInputBytes`
  * counts inputs it read beyond the workload's per-iteration `inputBytes`. */
final case class RunOut(batchSeconds: Seq[Double], progress: Seq[Map[String, Any]],
    extraInputBytes: Long = 0L)

trait Workload {
  def spark: SparkSession
  def data: Path
  /** Input records one iteration processes. */
  def records: Long
  /** Bytes of the generated inputs one iteration reads. */
  def inputBytes: Long
  def inputFiles: Long = Util.dataFiles(data) - Util.dataFiles(data.resolve("truth"))
  /** Set-up that precedes the first timed iteration (counted in setup_s). */
  def setup(work: Path): Unit = ()
  /** Untimed per-iteration preparation (fresh output directories). */
  def prepare(it: Path): Unit = ()
  def run(it: Path, traced: Boolean): RunOut
  def check(it: Path): Gate
  /** Operations (iterations, batches, probes) one iteration attempts. */
  def opsPerIteration: Long = 1
  /** Persistent outputs (state, index, roster) the iteration left. */
  def storedBytes(it: Path): Long
  /** Input bytes behind `storedBytes`: one iteration's, unless outputs
    * accumulate across iterations. */
  def ingestedBytes: Long = inputBytes
  /** Typical wall time of a warm iteration on the 4-core host (the JVM on
    * two of its cores), which sets how many warm iterations fill --seconds. */
  def nominalIterationS: Double
  /** Iterations the generated inputs allow in one run. */
  def maxIterations: Int = Int.MaxValue
  /** Stops what set-up started; called once after the last iteration. */
  def close(): Unit = ()

  /** In traced runs only: materialize a lazy layer's output at its
    * boundary so the layer's span holds its own work. */
  protected def force(df: DataFrame, traced: Boolean): DataFrame =
    if (traced) df.localCheckpoint(true) else df

  protected def readCsv(p: Path): DataFrame =
    spark.read.option("header", "true").csv(p.toString)

  /** Rows in `got` but not `want`, and in `want` but not `got`, counting
    * duplicates; both sides are small enough to compare on the driver. */
  protected def setEq(got: DataFrame, want: DataFrame): (Long, Long) = {
    def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1L)(_ + _)
    val (g, w) = (bag(got), bag(want))
    def over(a: Map[Seq[Any], Long], b: Map[Seq[Any], Long]) =
      a.map { case (k, n) => math.max(0L, n - b.getOrElse(k, 0L)) }.sum
    (over(g, w), over(w, g))
  }
}

object Workload {
  val runDate = lit(java.sql.Date.valueOf("2023-09-01"))
  def apply(name: String, spark: SparkSession, data: Path): Workload = name match {
    case "template_batch" => new TemplateBatch(spark, data)
    case "fuzzy_backlog" => new FuzzyBacklog(spark, data)
    case "index_ingest" => new IndexIngest(spark, data)
    case "index_probe" => new IndexProbe(spark, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

// --------------------------------------------------------- template_batch

final class TemplateBatch(val spark: SparkSession, val data: Path) extends Workload {
  val nominalIterationS = 7.5
  private val glob = data.resolve("submissions").toString + "/*/*.csv"
  val records: Long = Gen.TemplateRows
  def inputBytes: Long = Util.dataBytes(data.resolve("submissions")) +
    Util.dataBytes(data.resolve("state"))
  private val keep = Seq("gisaid_id", "accession", "SUBMITTING_LAB",
    "FIRST_NAME", "LAST_NAME", "dob", "collection_date", "qa_sum")

  def run(it: Path, traced: Boolean): RunOut = {
    val subs = span("sources.csv_read") {
      force(StringCsv.dropEmptyRows(
        StringCsv.read(spark, Schemas.templateSchema, Seq(glob)),
        Schemas.templateColumns), traced)
    }
    val valid = span("qa.file_validation") {
      val badHeaders = FileValidation.headerCheck(spark, Seq(glob), Schemas.templateColumns)
        .filter(!col("format_ok")).count()
      require(badHeaders == 0, s"$badHeaders submission files fail the header check")
      val verdicts = FileValidation.validate(subs, labValues = Gen.Labs,
        reasonValues = Schemas.sequenceReasons, statusValues = Schemas.sequenceStatuses,
        lineageValues = Gen.Lineages)
      force(FileValidation.route(subs, verdicts)._1, traced)
    }
    val entire = span("sources.snapshot_read") {
      force(new SnapshotStore(spark, data.resolve("state").toString).read("entire"), traced)
    }
    val routed =
      if (!traced) TemplateSubmitters.run(valid, entire).persist(StorageLevel.MEMORY_AND_DISK)
      else {
        // TemplateSubmitters.run, one layer at a time
        val matched = span("pipelines.template_match") {
          val withId = valid.withColumn("_row_id",
            row_number().over(Window.partitionBy(col("_provenance"))
              .orderBy(col("LAB_ACCESSION_ID"), col("GISAID_ID"))))
          force(TemplateSubmitters.matchToEntire(
            TemplateSubmitters.normalize(withId), entire), traced)
        }
        val flagged = span("qa.battery") {
          force(QaRules.applyBattery(matched, TemplateSubmitters.qaRules(), "qa_sum"), traced)
        }
        span("pipelines.route") {
          val r = Routing.route(flagged, TemplateSubmitters.disposition(), "roster")
            .persist(StorageLevel.MEMORY_AND_DISK)
          r.count()
          r
        }
      }
    val roster = span("pipelines.route") {
      force(TemplateSubmitters.toRoster(routed.filter(col("disposition") === "roster"),
        Workload.runDate), traced)
    }
    span("sinks.roster_write") {
      RosterSink.writeChunked(roster, it.resolve("roster").toString,
        Seq("SEQUENCE_CLINICAL_ACCESSION"))
    }
    span("sinks.publish") {
      val store = new SnapshotStore(spark, it.resolve("state").toString)
      Seq("keep_na", "fuzzy").foreach(d =>
        store.publish(s"template_$d", routed.filter(col("disposition") === d).select(keep.map(col): _*)))
    }
    span("sinks.append") {
      RosterSink.appendWithCheck(
        routed.filter(col("disposition") === "for_review").select(keep.map(col): _*),
        it.resolve("for_review").toString)
    }
    routed.unpersist(false)
    RunOut(Nil, Nil)
  }

  def check(it: Path): Gate = {
    val errors = mutable.Buffer.empty[String]
    val store = new SnapshotStore(spark, it.resolve("state").toString)
    val rosterDf = readCsv(it.resolve("roster"))
    val got = rosterDf.select(col("SEQUENCE_ACCESSION").as("rowid"), lit("roster").as("disposition"))
      .unionByName(store.read("template_keep_na").select(col("gisaid_id").as("rowid"), lit("keep_na").as("disposition")))
      .unionByName(store.read("template_fuzzy").select(col("gisaid_id").as("rowid"), lit("fuzzy").as("disposition")))
      .unionByName(readCsv(it.resolve("for_review")).select(col("gisaid_id").as("rowid"), lit("for_review").as("disposition")))
      .cache()
    val want = readCsv(data.resolve("truth/template.csv"))
    val (extra, missing) = setEq(got, want)
    if (extra + missing > 0) errors += s"dispositions differ from the planted truth: $extra unexpected, $missing missing"
    val cols = rosterDf.columns.filterNot(_ == "_chunk").toSeq
    if (cols != Schemas.rosterColumns) errors += s"roster columns ${cols.mkString(",")} are not the 17 WDRS columns in order"
    val maxChunk = rosterDf.groupBy("_chunk").count().agg(max("count")).head().getLong(0)
    if (maxChunk > 500) errors += s"a roster chunk holds $maxChunk rows (limit 500)"
    val counts = got.groupBy("disposition").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.unpersist()
    val total = counts.values.sum.toDouble
    def n(d: String) = counts.getOrElse(d, 0L).toDouble
    Gate(1, if (errors.isEmpty) 0 else 1, errors.toSeq, Map(
      "rows_checked" -> total,
      "flag_yield" -> (total - n("roster")) / total,
      "match_yield" -> (n("roster") + n("for_review")) / total))
  }

  def storedBytes(it: Path): Long = Util.dataBytes(it)
}

// ---------------------------------------------------------- fuzzy_backlog

final class FuzzyBacklog(val spark: SparkSession, val data: Path) extends Workload {
  val nominalIterationS = 4.5
  private val table = "fuzzy_saved_rows"
  val records: Long = Gen.FuzzySubs + Gen.FuzzySavedPrev
  def inputBytes: Long = Util.dataBytes(data) - Util.dataBytes(data.resolve("truth"))

  override def prepare(it: Path): Unit = Util.copyTree(data.resolve("state"), it.resolve("state"))

  def run(it: Path, traced: Boolean): RunOut = {
    val store = new SnapshotStore(spark, it.resolve("state").toString)
    val subs = spark.read.parquet(data.resolve("submissions.parquet").toString)
    val target = spark.read.parquet(data.resolve("cases").toString)
    val (bad, matched) =
      if (!traced) {
        val (b, m, _) = FuzzyMatch.runWithSavedRows(subs, target, store, table)
        (b, m)
      } else {
        // FuzzyMatch.runWithSavedRows, one layer at a time
        val cols = subs.columns.toSeq
        val allSubs = span("sources.snapshot_read") {
          val saved = store.readOrEmpty(table, subs.schema).select(cols.map(col): _*)
          force(subs.unionByName(saved.join(subs.select("rowid"), Seq("rowid"), "left_anti")), traced)
        }
        val flagged = span("qa.battery") {
          QaRules.applyBattery(allSubs, FuzzyMatch.preMatchRules(), "qa_sum").localCheckpoint(true)
        }
        val clean = flagged.filter(col("qa_sum") === 0)
        val cands = span("fuzzyjoin.join") {
          force(FuzzyMatch.matchCandidates(clean, target), traced)
        }
        val m = span("pipelines.fuzzy_window") {
          FuzzyMatch.resolveMultiMatch(FuzzyMatch.collectionDateFilter(cands))
            .withColumn("tier", FuzzyMatch.tier()).localCheckpoint(true)
        }
        val unmatched = clean.join(broadcast(m.select("rowid").distinct()), Seq("rowid"), "left_anti")
        span("sinks.publish") { store.publish(table, unmatched.select(cols.map(col): _*)) }
        (flagged.filter(col("qa_sum") > 0), m)
      }
    span("sinks.publish") {
      store.publish("fuzzy_bad", bad.select("rowid", "qa_sum"))
      store.publish("fuzzy_matched", matched.select("rowid", "case_id", "distance", "tier",
        "QA_COLLECT_DATE", "QA_MULTIPLE_MATCH"))
    }
    RunOut(Nil, Nil)
  }

  def check(it: Path): Gate = {
    val errors = mutable.Buffer.empty[String]
    val store = new SnapshotStore(spark, it.resolve("state").toString)
    val matched = store.read("fuzzy_matched").select("rowid", "case_id", "tier")
    val want = readCsv(data.resolve("truth/fuzzy_matched.csv")).select(
      col("rowid").cast("long"), col("case_id").cast("long"), col("tier"))
    val (extra, missing) = setEq(matched, want)
    if (extra + missing > 0) errors += s"(rowid, case_id, tier) differs from the planted truth: $extra unexpected, $missing missing"
    val bad = store.read("fuzzy_bad").select("rowid")
    val (eb, mb) = setEq(bad, readCsv(data.resolve("truth/fuzzy_bad.csv")).select(col("rowid").cast("long")))
    if (eb + mb > 0) errors += s"QA-bad rows differ from the planted truth: $eb unexpected, $mb missing"
    // every rowid lands in exactly one of bad / matched / saved
    val all = spark.read.parquet(data.resolve("submissions.parquet").toString).select("rowid")
      .unionByName(spark.read.parquet(data.resolve("state/fuzzy_saved_rows/v=0").toString).select("rowid"))
    val matchedIds = matched.select("rowid").distinct()
    val (el, ml) = setEq(bad.unionByName(matchedIds).unionByName(store.read(table).select("rowid")), all)
    if (el + ml > 0) errors += s"rowids not in exactly one of bad/matched/saved: $el extra, $ml missing"
    val clean = records - bad.count()
    Gate(1, if (errors.isEmpty) 0 else 1, errors.toSeq, Map(
      "rows_checked" -> records.toDouble,
      "match_yield" -> matchedIds.count().toDouble / math.max(1L, clean)))
  }

  def storedBytes(it: Path): Long = Util.dataBytes(it.resolve("state"))
}

// ----------------------------------------------------------- index_ingest

/** One stream lives for the whole run, as a scheduled ingest would: each
  * iteration drops the next micro-batch file into the stream's source
  * directory, waits until the stream has ingested it (pairs, index write,
  * in-stream maintenance), then takes down a planted list of that batch's
  * documents. The index therefore changes every batch and grows over the
  * run. */
final class IndexIngest(val spark: SparkSession, val data: Path) extends Workload {
  val nominalIterationS = 6.0
  private val docSchema = spark.read.parquet(data.resolve("batches").toString).schema
  private var store: Path = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var fed = 0
  private var lastBatchId = -1L
  val records: Long = Gen.IngestDocsPerBatch
  private def batchFile(k: Int) = data.resolve(f"batches/batch_$k%03d.parquet")
  private def takedown(k: Int) = data.resolve(f"takedown/batch_$k%03d.csv")
  def inputBytes: Long = Util.dataBytes(data.resolve("batches")) / Gen.IngestBatches
  override def inputFiles: Long = 1
  override def ingestedBytes: Long = (0 until fed).map(k => Files.size(batchFile(k))).sum
  override def maxIterations: Int = Gen.IngestBatches

  override def setup(work: Path): Unit = {
    store = work.resolve("ingest")
    Files.createDirectories(store.resolve("src"))
    val stream = spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
      .parquet(store.resolve("src").toString)
    query = Streams.dedupIngest(stream, "text", "doc_id", idx, pairs,
      store.resolve("ckpt").toString, minJaccard = 0.8, maintainEvery = Gen.IngestMaintainEvery)
  }

  private def idx = store.resolve("idx").toString
  private def pairs = store.resolve("pairs").toString

  def run(it: Path, traced: Boolean): RunOut = {
    val k = fed
    fed += 1
    // the file source skips dot files, so the batch appears whole
    val staged = store.resolve(f"src/.batch_$k%03d.parquet")
    Files.copy(batchFile(k), staged)
    Files.move(staged, store.resolve(f"src/batch_$k%03d.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    span("streaming.ingest") { query.processAllAvailable() }
    query.exception.foreach(e => throw e)
    val progress = query.recentProgress.toSeq
      .filter(p => p.batchId > lastBatchId && p.numInputRows > 0)
    progress.lastOption.foreach(p => lastBatchId = p.batchId)
    val ids = readCsv(takedown(k)).select(col("doc_id").cast("long"))
    span("dedup.delete") { Dedup.deleteFromMinhashIndex(spark, idx, ids, "doc_id") }
    span("dedup.vacuum") { Dedup.vacuumMinhashTombstones(spark, idx) }
    RunOut(progress.map(_.durationMs.get("triggerExecution").doubleValue / 1000.0),
      progress.map { p =>
        import scala.jdk.CollectionConverters._
        Map("batch_id" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      })
  }

  override def close(): Unit = if (query != null) query.stop()

  private def normalized(pairs: DataFrame): DataFrame = {
    val Array(a, b) = pairs.columns.take(2)
    pairs.select(least(col(a), col(b)).as("x"), greatest(col(a), col(b)).as("y")).distinct()
  }

  /** Checks everything ingested so far against a one-shot pass over the
    * documents still alive. */
  def check(it: Path): Gate = {
    val docs = spark.read.parquet((0 until fed).map(batchFile(_).toString): _*)
    val ids = spark.read.option("header", "true").csv((0 until fed).map(takedown(_).toString): _*)
      .select(col("doc_id").cast("long"))
    val survivors = docs.join(ids, Seq("doc_id"), "left_anti").cache()
    val emitted = normalized(spark.read.parquet(pairs)).cache()
    val alive = survivors.select(col("doc_id"))
    val got = emitted.join(alive.withColumnRenamed("doc_id", "x"), "x")
      .join(alive.withColumnRenamed("doc_id", "y"), "y").select("x", "y")
    val want = normalized(Dedup.minhashNearDupPairs(survivors, "text", "doc_id", minJaccard = 0.8))
    val (extra, missing) = setEq(got, want)
    val pairsOut = emitted.count()
    survivors.unpersist(); emitted.unpersist()
    val errors =
      if (extra + missing == 0) Nil
      else Seq(s"per-batch pairs of $fed batches differ from a one-shot minhashNearDupPairs over the survivors: $extra unexpected, $missing missing")
    Gate(opsPerIteration, if (errors.isEmpty) 0 else 1, errors, Map(
      "pairs_emitted" -> pairsOut.toDouble,
      "index_files" -> Util.dataFiles(store.resolve("idx")).toDouble,
      "index_bytes" -> Util.dataBytes(store.resolve("idx")).toDouble))
  }

  /** One micro-batch and one takedown. */
  override def opsPerIteration: Long = 2L
  def storedBytes(it: Path): Long = Util.dataBytes(store.resolve("idx")) + Util.dataBytes(store.resolve("pairs"))
}

// ------------------------------------------------------------ index_probe

/** The index is built once in set-up and serves the whole run: each
  * iteration is one probe batch, and the iteration numbered
  * [[Gen.ProbeAppendAt]] appends to the index before it probes, so every
  * later batch reads a changed listing.
  *
  * Probes every cell: with the default sign quantizer a vector's stored
  * cell is not always among the default nProbe cells its own duplicate
  * ranks first, so a planned probe can miss an exact duplicate and the
  * planted-neighbour gate could not hold. */
final class IndexProbe(val spark: SparkSession, val data: Path) extends Workload {
  val nominalIterationS = 2.2
  private val k = 10
  private var idx: String = _
  private val base = spark.read.parquet(data.resolve("vectors").toString)
  private val appended = spark.read.parquet(data.resolve("append").toString)
  private var corpus = base
  private var batch = 0
  private val appendBytes = Util.dataBytes(data.resolve("append"))
  /** Probe batches run since the last check, with their rows. */
  private val results = mutable.Buffer.empty[(Int, Array[(Long, Long, Double)])]
  val records: Long = Gen.ProbeQueriesPerBatch
  def inputBytes: Long = Util.dataBytes(data.resolve("queries")) / Gen.ProbeBatches
  override def inputFiles: Long = 1
  override def ingestedBytes: Long = Util.dataBytes(data.resolve("vectors")) +
    (if (batch > Gen.ProbeAppendAt) appendBytes else 0L)
  override def maxIterations: Int = Gen.ProbeBatches

  override def setup(work: Path): Unit = {
    idx = work.resolve("probe").resolve("idx").toString
    AnnIndex.buildIvfPq(base, "embedding", "vec_id", idx, quantizer = "sign")
  }

  def run(it: Path, traced: Boolean): RunOut = {
    val b = batch
    batch += 1
    if (b == Gen.ProbeAppendAt) {
      span("ann.append") { AnnIndex.appendIvfPq(appended, "embedding", "vec_id", idx) }
      corpus = base.unionByName(appended)
    }
    val queries = spark.read.parquet(data.resolve(f"queries/batch_$b%02d").toString)
    val t0 = System.nanoTime()
    val rows = span("ann.probe") {
      AnnIndex.ivfPqKnnJoin(spark, idx, queries, corpus, "embedding", "vec_id", k,
        nProbe = Int.MaxValue).collect()
    }
    val lat = (System.nanoTime() - t0) / 1e9
    results += ((b, rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))))
    RunOut(Seq(lat), Nil, if (b == Gen.ProbeAppendAt) appendBytes else 0L)
  }

  private lazy val vectors: Map[Long, Array[Float]] =
    base.unionByName(appended).collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private lazy val truth: Map[Long, Long] =
    readCsv(data.resolve("truth/probe.csv")).collect().map(r =>
      r.getString(0).toLong -> r.getString(1).toLong).toMap

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    a.indices.foreach { i => ab += a(i) * b(i).toDouble; aa += a(i) * a(i).toDouble; bb += b(i) * b(i).toDouble }
    ab / math.sqrt(aa * bb)
  }

  /** Checks every probe batch run since the last check. */
  def check(it: Path): Gate = {
    val queries = spark.read.parquet(results.map { case (b, _) =>
      data.resolve(f"queries/batch_$b%02d").toString }.toSeq: _*).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val errors = mutable.Buffer.empty[String]
    var failed = 0L
    results.foreach { case (b, rows) =>
      val byQuery = rows.groupBy(_._1)
      val missed = queries.keys.filter(q => q / 10000 == b).count(q =>
        !byQuery.getOrElse(q, Array.empty).exists(_._2 == truth(q)))
      val wrong = rows.count { case (q, v, c) =>
        math.abs(c - cosine(queries(q), vectors(v))) > 1.5e-6 }
      if (missed + wrong > 0) {
        failed += 1
        errors += s"probe batch $b: $missed planted neighbours missing, $wrong scores differ from the exact cosine"
        queries.keys.filter(q => q / 10000 == b).filter(q =>
          !byQuery.getOrElse(q, Array.empty).exists(_._2 == truth(q))).foreach { q =>
          val got = byQuery.getOrElse(q, Array.empty).sortBy(-_._3).take(3).map(r => f"${r._2}:${r._3}%.6f").mkString(" ")
          errors += f"  query $q neighbour ${truth(q)} cos ${cosine(queries(q), vectors(truth(q)))}%.6f; returned $got"
        }
      }
    }
    val ops = results.size.toLong
    results.clear()
    Gate(ops, failed, errors.toSeq.take(12), Map(
      "index_files" -> Util.dataFiles(Paths.get(idx)).toDouble))
  }

  /** Probe batches are counted by the check that covers them. */
  override def opsPerIteration: Long = 0L
  def storedBytes(it: Path): Long = Util.dataBytes(Paths.get(idx))
}
