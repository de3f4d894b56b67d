package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Seeded input generator. Every workload's inputs and its planted truth
 * are written under one data directory; the workloads read only those
 * files. The same (workload, seed) always yields the same rows.
 *
 * Volumes follow the reference where the run budget allows (BASELINE.md):
 * the template run uses the full 172,050-row history over 1,500 files from
 * 25 labs, with the outcome shares the reference published.
 */
object Gen {

  // ------------------------------------------------------------- volumes
  // One run of a workload, JVM start and cold iteration included, must stay
  // under about 45 s on a 4-core host, so the volumes are a fixed fraction
  // of the reference's. The shapes are kept:
  // 25 labs over many small files, BASELINE's outcome shares, an ENTIRE
  // snapshot above the broadcast threshold, a heavy-headed birth year.
  val TemplateRows = 172050 / 20
  val TemplateFiles = 1500 / 20
  val TemplateLabs = 25
  val EntireRows = 1000000L
  /** BASELINE outcome shares: roster / keep_na / fuzzy / for_review. */
  val Shares: Seq[(String, Double)] = Seq(
    "roster" -> 0.9622, "keep_na" -> 0.0332, "fuzzy" -> 0.0033,
    "for_review" -> 0.0013)

  val FuzzyCases = 60000
  val FuzzySubs = 8000
  val FuzzySavedPrev = 600

  /** index_ingest feeds one micro-batch per iteration into a stream that
    * lives for the whole run, so the pool bounds the iterations of a run. */
  val IngestBatches = 16
  val IngestDocsPerBatch = 500
  val IngestMaintainEvery = 1
  /** Documents of each micro-batch taken down right after it. */
  val IngestTakedownPerBatch = 10

  val ProbeVectors = 5000
  val ProbeAppend = 300
  val ProbeDims = 32
  /** index_probe runs one probe batch per iteration, so the batches bound
    * the iterations of a run; the append comes before batch ProbeAppendAt. */
  val ProbeBatches = 24
  val ProbeQueriesPerBatch = 10
  val ProbeAppendAt = 2

  val Labs: Seq[String] = (1 to TemplateLabs).map(i => f"LAB$i%02d")
  val Lineages: Seq[String] =
    Seq("B.1", "B.1.1.7", "B.1.617.2", "BA.1", "BA.2", "BA.5", "XBB.1.5", "P.1")
  val Reasons: Seq[String] = Seq("SENTINEL SURVEILLANCE", "OUTBREAK", "OTHER", "CLINICAL")

  private val us = DateTimeFormatter.ofPattern("M/d/yyyy")
  private val epoch = LocalDate.of(2021, 1, 1)

  private def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w: BufferedWriter = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Write rows straight to one parquet file with the parquet library, so
    * generation runs no Spark job (the first jobs in a JVM pay its warm-up,
    * which belongs to the cold iteration). Values in schema order: Long,
    * String, LocalDate, Array[Float]; null leaves the field unset. */
  private def writeParquet(dest: Path, schema: String, rows: Iterator[Seq[Any]]): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(mt)
    Files.createDirectories(dest.getParent)
    val w = ExampleParquetWriter.builder(new HPath(dest.toUri)).withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withConf(new org.apache.hadoop.conf.Configuration()).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.zipWithIndex.foreach {
        case (null, _) =>
        case (v: Long, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
        case (v: LocalDate, i) => g.add(i, v.toEpochDay.toInt)
        case (v: Array[Float], i) =>
          val list = g.addGroup(i)
          v.foreach(x => list.addGroup(0).add(0, x))
        case (v, i) => throw new IllegalArgumentException(s"field $i: unsupported $v")
      }
      w.write(g)
    } finally w.close()
  }

  private val SubSchema = "message sub { optional int64 rowid; " +
    "optional binary first_name (STRING); optional binary last_name (STRING); " +
    "optional int32 dob (DATE); optional int32 collection_date (DATE); }"
  private val CaseSchema = "message cases { optional int64 case_id; " +
    "optional binary first_name (STRING); optional binary last_name (STRING); " +
    "optional binary alt_first_name (STRING); optional binary alt_last_name (STRING); " +
    "optional int32 dob (DATE); optional int32 alt_dob (DATE); " +
    "optional int32 wdrs_collection (DATE); }"
  private val DocSchema =
    "message docs { optional int64 doc_id; optional binary text (STRING); }"
  private val VecSchema = "message vecs { optional int64 vec_id; " +
    "optional group embedding (LIST) { repeated group list { optional float element; } } }"

  private def name(r: SplittableRandom, lo: Int, hi: Int): String = {
    val n = lo + r.nextInt(hi - lo + 1)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append(('A' + r.nextInt(26)).toChar))
    sb.toString
  }

  def generate(spark: SparkSession, workload: String, seed: Long, dir: Path): Unit =
    workload match {
      case "template_batch" => template(spark, seed, dir)
      case "fuzzy_backlog" => fuzzy(spark, seed, dir)
      case "index_ingest" => ingest(spark, seed, dir)
      case "index_probe" => probe(spark, seed, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  // ------------------------------------------------------- template_batch

  private def template(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val r = new SplittableRandom(seed)
    val header = graft.model.Schemas.templateColumns.mkString(",")
    val disp = new Array[String](TemplateRows)
    val coll = new Array[Int](TemplateRows)
    val cum = Shares.scanLeft(0.0)(_ + _._2).tail
    (0 until TemplateRows).foreach { i =>
      val u = r.nextDouble()
      disp(i) = Shares(cum.indexWhere(u < _) match { case -1 => 0; case k => k })._1
      coll(i) = r.nextInt(600)
    }
    val perFile = (0 to TemplateFiles).map(f => (f.toLong * TemplateRows / TemplateFiles).toInt)
    (0 until TemplateFiles).foreach { f =>
      val lab = Labs(f % TemplateLabs)
      val rows = (perFile(f) until perFile(f + 1)).iterator.map { i =>
        val prefix = if (i % 2 == 0) "hCoV-19/" else ""
        val gisaid = s"${prefix}USA/WA-S${seed}N$i/2021"
        val d = epoch.plusDays(coll(i).toLong).format(us)
        val named = disp(i) != "keep_na"
        val first = if (named) name(r, 4, 8) else "NA"
        val last = if (named) name(r, 5, 10) else "NA"
        val dob = if (named) LocalDate.of(1940 + r.nextInt(70), 1 + r.nextInt(12),
          1 + r.nextInt(28)).format(us) else "NA"
        Seq(s"ACC${seed}-$i", gisaid, d, lab, Reasons(r.nextInt(Reasons.size)),
          "COMPLETE", Lineages(r.nextInt(Lineages.size)), first, last, "", dob, "")
          .mkString(",")
      }
      writeLines(dir.resolve(f"submissions/$lab/batch_$f%04d.csv"),
        Iterator(header) ++ rows)
    }
    writeLines(dir.resolve("truth/template.csv"),
      Iterator("rowid,disposition") ++ (0 until TemplateRows).iterator.map(i =>
        s"USA/WA-S${seed}N$i/2021,${disp(i)}"))
    // ENTIRE: matched rows carry the submission's accession; roster rows
    // sit inside the ±14-day window, for_review rows 40 days outside it
    import spark.implicits._
    val matched = (0 until TemplateRows).filter(i =>
      disp(i) == "roster" || disp(i) == "for_review").map { i =>
      val shift = if (disp(i) == "roster") (i % 6).toLong else 40L
      (1000000000L + i, s"ACC${seed}-$i",
        java.sql.Timestamp.valueOf(epoch.plusDays(coll(i) + shift).atStartOfDay()))
    }.toDF("CASE_ID", "FILLER__ORDER__NUM", "SPECIMEN__COLLECTION__DTTM")
    val filler = spark.range(0, EntireRows - matched.count(), 1, 8).select(
      (col("id") + 2000000000L).as("CASE_ID"),
      concat(lit(s"FIL$seed-"), col("id").cast("string")).as("FILLER__ORDER__NUM"),
      date_add(lit(java.sql.Date.valueOf(epoch)),
        pmod(xxhash64(col("id"), lit(seed)), lit(600L)).cast("int"))
        .cast("timestamp").as("SPECIMEN__COLLECTION__DTTM"))
    val entire = matched.unionByName(filler)
    val v0 = dir.resolve("state/entire/v=0")
    entire.repartition(8, col("CASE_ID")).sortWithinPartitions("CASE_ID")
      .write.mode("overwrite").parquet(v0.toString)
    Files.writeString(dir.resolve("state/entire/_CURRENT"), "0")
  }

  // -------------------------------------------------------- fuzzy_backlog

  /** Heavy-headed birth years (fuzzy.Rmd:562-579): 1990 carries 12% of
    * records and 1988-1992 together 44%; the other 65 years share the rest. */
  private def birthYear(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    if (u < 0.12) 1990
    else if (u < 0.44) Seq(1988, 1989, 1991, 1992)(r.nextInt(4))
    else { val y = 1940 + r.nextInt(65); if (y >= 1988) y + 5 else y }
  }

  private def birthDate(r: SplittableRandom): LocalDate =
    LocalDate.ofYearDay(birthYear(r), 1 + r.nextInt(365))

  /** `e` substitutions at distinct, non-adjacent positions (so no pair of
    * them reads as one transposition), each to a different letter. */
  private def edit(r: SplittableRandom, s: String, e: Int): String = {
    val chars = s.toCharArray
    var done = Set.empty[Int]
    var tries = 0
    while (done.size < e && tries < 1000) {
      tries += 1
      val p = r.nextInt(chars.length)
      if (!done.exists(q => math.abs(q - p) <= 1)) {
        var c = chars(p)
        while (c == chars(p)) c = ('A' + r.nextInt(26)).toChar
        chars(p) = c
        done += p
      }
    }
    new String(chars)
  }

  private case class Case(id: Long, first: String, last: String,
      altFirst: String, altLast: String, dob: LocalDate, altDob: LocalDate,
      wdrs: LocalDate)

  private def fuzzy(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val base = (0 until FuzzyCases).map { c =>
      val alt = r.nextDouble() < 0.10
      Case(10000000L + c, name(r, 4, 8), name(r, 5, 10),
        if (alt) name(r, 4, 8) else null, if (alt) name(r, 5, 10) else null,
        birthDate(r), null,
        if (r.nextDouble() < 0.03) null else epoch.plusDays(r.nextInt(600).toLong))
    }
    // 2% of cases are duplicated under a second CASE_ID (multi-match)
    val dups = base.filter(_ => r.nextDouble() < 0.02).zipWithIndex.map {
      case (c, k) => c.copy(id = 20000000L + k)
    }
    val cases = base ++ dups
    val dupOf = dups.groupBy(d => (d.first, d.last, d.dob)).view
      .mapValues(_.map(_.id)).toMap

    // submissions: planted / unmatched / QA-bad, plus saved rows of the
    // previous run that re-enter (rowids above the day's range)
    case class Sub(rowid: Long, first: String, last: String, dob: LocalDate,
        coll: LocalDate)
    val truth = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val bad = scala.collection.mutable.ArrayBuffer.empty[Long]
    def makeSub(rowid: Long, kind: Double): Sub = {
      if (kind < 0.10) {
        bad += rowid
        r.nextInt(4) match {
          case 0 => Sub(rowid, null, name(r, 5, 10), birthDate(r), epoch)
          case 1 => Sub(rowid, name(r, 3, 6) + "7", name(r, 5, 10), birthDate(r), epoch)
          case 2 => Sub(rowid, name(r, 4, 8), name(r, 5, 10), null, epoch)
          case _ => Sub(rowid, name(r, 4, 8), name(r, 5, 10), birthDate(r), null)
        }
      } else if (kind < 0.35) {
        Sub(rowid, name(r, 4, 8), name(r, 5, 10), birthDate(r),
          epoch.plusDays(r.nextInt(600).toLong))
      } else {
        val c = base(r.nextInt(base.size))
        val useAlt = c.altFirst != null && r.nextDouble() < 0.5
        val (f0, l0) = if (useAlt) (c.altFirst, c.altLast) else (c.first, c.last)
        val e = { val u = r.nextDouble(); if (u < 0.4) 0 else if (u < 0.7) 1 else if (u < 0.9) 2 else 3 }
        val whole = edit(r, f0 + l0, e)
        val (f, l) = (whole.take(f0.length), whole.drop(f0.length))
        val windowShift = if (r.nextDouble() < 0.05) 30 + r.nextInt(30) else r.nextInt(21) - 10
        val coll =
          if (c.wdrs == null) epoch.plusDays(r.nextInt(600).toLong)
          else c.wdrs.plusDays(windowShift.toLong)
        if (c.wdrs != null) {
          val d = Osa.distance(f + "_" + l, f0 + "_" + l0)
          val tier = if (d <= 1) "roster" else "manual_review"
          (Seq(c.id) ++ dupOf.getOrElse((c.first, c.last, c.dob), Nil))
            .foreach(id => truth += ((rowid, id, tier)))
        }
        Sub(rowid, f, l, c.dob, coll)
      }
    }
    val subs = (0 until FuzzySubs).map(i => makeSub(1L + i, r.nextDouble()))
    val prev = (0 until FuzzySavedPrev).map(i =>
      makeSub(5000000L + i, 0.10 + 0.90 * r.nextDouble()))
    def subRows(s: Seq[Sub]) = s.iterator.map(x => Seq(x.rowid, x.first, x.last, x.dob, x.coll))
    writeParquet(dir.resolve("submissions.parquet"), SubSchema, subRows(subs))
    writeParquet(dir.resolve("state/fuzzy_saved_rows/v=0/part-00000.parquet"), SubSchema,
      subRows(prev))
    Files.writeString(dir.resolve("state/fuzzy_saved_rows/_CURRENT"), "0")
    writeParquet(dir.resolve("cases/part-00000.parquet"), CaseSchema, cases.iterator.map(c =>
      Seq(c.id, c.first, c.last, c.altFirst, c.altLast, c.dob, c.altDob, c.wdrs)))
    writeLines(dir.resolve("truth/fuzzy_matched.csv"),
      Iterator("rowid,case_id,tier") ++ truth.iterator.map { case (a, b, c) => s"$a,$b,$c" })
    writeLines(dir.resolve("truth/fuzzy_bad.csv"),
      Iterator("rowid") ++ bad.iterator.map(_.toString))
  }

  // --------------------------------------------------------- index_ingest

  private def ingest(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val r = new SplittableRandom(seed ^ 0x1a9e57L)
    val vocab = (0 until 5000).map(_ => name(r, 3, 9).toLowerCase)
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (0 until IngestBatches * IngestDocsPerBatch).foreach { i =>
      val text =
        if (docs.nonEmpty && r.nextDouble() < 0.15) {
          // near-duplicate of an earlier document: one word swapped
          val words = docs(r.nextInt(docs.size))._2.split(" ")
          words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.size))
          words.mkString(" ")
        } else (0 until 50).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
      docs += ((100000L + i, text))
    }
    docs.grouped(IngestDocsPerBatch).zipWithIndex.foreach { case (b, k) =>
      writeParquet(dir.resolve(f"batches/batch_$k%03d.parquet"), DocSchema,
        b.iterator.map { case (id, t) => Seq(id, t) })
    }
    // takedown after batch k: distinct documents of batch k, so each
    // iteration's vacuum rewrites the same share of the index
    (0 until IngestBatches).foreach { k =>
      val ids = (0 until IngestTakedownPerBatch)
        .map(_ => docs(k * IngestDocsPerBatch + r.nextInt(IngestDocsPerBatch))._1).distinct
      writeLines(dir.resolve(f"takedown/batch_$k%03d.csv"),
        Iterator("doc_id") ++ ids.iterator.map(_.toString))
    }
  }

  // ---------------------------------------------------------- index_probe

  private def probe(spark: SparkSession, seed: Long, dir: Path): Unit = {
    // Isotropic vectors: the index's default sign quantizer then gives
    // nearly every vector its own code, so a planted neighbour (the query
    // minus small noise) is always inside the candidate cut. On clustered
    // vectors whole clusters share one code and the cut drops neighbours
    // by id tiebreak, which would gate the quantizer's recall instead.
    val r = new SplittableRandom(seed ^ 0x9e0beL)
    def vec(): Array[Float] = Array.fill(ProbeDims)(gauss(r).toFloat)
    val base = (0 until ProbeVectors).map(i => (1L + i, vec()))
    val app = (0 until ProbeAppend).map(i => (1000000L + i, vec()))
    def rows(v: Seq[(Long, Array[Float])]) = v.iterator.map { case (i, a) => Seq(i, a) }
    writeParquet(dir.resolve("vectors/part-00000.parquet"), VecSchema, rows(base))
    writeParquet(dir.resolve("append/part-00000.parquet"), VecSchema, rows(app))
    // queries: each duplicates a stored vector (its planted neighbour, so
    // the query's top cell is the neighbour's cell whatever the probe
    // plan); batches after the append plant half on appended rows
    val truth = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until ProbeBatches).foreach { b =>
      val afterAppend = b >= ProbeAppendAt
      val qs = (0 until ProbeQueriesPerBatch).map { j =>
        val (nid, v) =
          if (afterAppend && j % 2 == 0) app(r.nextInt(app.size))
          else base(r.nextInt(base.size))
        val qid = 1L + b * 10000L + j
        truth += ((qid, nid))
        (qid, v)
      }
      writeParquet(dir.resolve(f"queries/batch_$b%02d/part-00000.parquet"), VecSchema, rows(qs))
    }
    writeLines(dir.resolve("truth/probe.csv"),
      Iterator("query_id,neighbour_id") ++ truth.iterator.map { case (q, n) => s"$q,$n" })
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller from the seeded stream (java.util.Random's gaussian is
    // not available on SplittableRandom)
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Order-independent digest of everything under `dir`: CSV bytes by
    * path, parquet contents as a sum of row hashes per directory. */
  def digest(spark: SparkSession, dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Util.listFiles(dir).sortBy(p => dir.relativize(p).toString)
    files.filter(_.toString.endsWith(".csv")).foreach { p =>
      md.update(dir.relativize(p).toString.getBytes(StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(p))
    }
    val parquetRoots = files.filter(_.toString.endsWith(".parquet"))
      .map(p => if (p.getFileName.toString.startsWith("part-")) p.getParent else p)
      .distinct
    parquetRoots.foreach { p =>
      val df = spark.read.parquet(p.toString)
      val h = df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .head().get(0)
      md.update(s"${dir.relativize(p)}=$h".getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Independent OSA (restricted Damerau-Levenshtein) used to compute the
  * planted truth; deliberately not the engine's kernel. */
object Osa {
  def distance(a: String, b: String): Int = {
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) d(i)(0) = i
    for (j <- 0 to b.length) d(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      var v = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
      if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
        v = math.min(v, d(i - 2)(j - 2) + 1)
      d(i)(j) = v
    }
    d(a.length)(b.length)
  }
}
