package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * The on-disk mutation protocol of every persisted index — the ANN
 * layouts ([[AnnIndex]]: grouped/legacy LSH, IVF, IVF-PQ, flat PQ) and
 * the band indexes the minhash, embedding, phash and audio families
 * share ([[Dedup]]: flat `band=` and streaming `batch=N/band=` trees).
 * This is the only code that knows the protocol; a family supplies a
 * small [[Layout]] and its public verbs are thin calls in here.
 *
 * '''Tombstones.''' A delete appends ids to the `_tombstones` sidecar
 * (underscore-invisible to the data reader): O(ids), no data rewrite,
 * append-only — a crash mid-write leaves a PARTIAL batch (some ids
 * deleted, none un-deleted) and a re-run is idempotent. Every read
 * anti-joins the sidecar BEFORE any top-k or band join
 * ([[dropTombstoned]]), so a deleted row neither appears nor consumes
 * a slot; the no-deletes case costs one `fs.exists`. A delete WARNs
 * once the distinct tombstones pass 1024 ids and 1% of the rows.
 *
 * '''Targeted vacuum''' ([[vacuum]]) makes tombstones physical by
 * rewriting ONLY the data files that hold tombstoned rows — a takedown
 * costs the touched files, not the corpus:
 *   1. sweep a crashed staging pass (`_vacuum.tmp`, `_vacuum_staged`);
 *   1. one column-pruned (id, file) locate scan ([[locateScan]]) finds
 *      the affected files and their drop counts;
 *   1. survivors of just those files are written to `_vacuum_staged`
 *      under the family's write discipline;
 *   1. the `_vacuum` manifest — every staged→live move, every original
 *      delete — is published by tmp-write + rename. This is the commit
 *      point: from here every reader and mutation fails closed
 *      ([[requireNoInterruptedVacuum]]);
 *   1. [[completeVacuum]] runs the moves and deletes, then the tail
 *      (`_rows` re-stamp when the manifest carries `rows_after`,
 *      `_tombstones` clear, staging-tree delete), and deletes the marker
 *      last — the single point that lets readers back in.
 * Every completion step is idempotent, so a crash anywhere after the
 * publish rolls FORWARD on the next vacuum call; a crash before it
 * leaves only unreferenced garbage the next call sweeps, and the live
 * index keeps answering through its tombstones.
 *
 * '''Staged rewrite''' ([[rewriteStaged]]) is the whole-index cut-over
 * of compaction and every reindex: write the new tree to
 * `<path>.__compacting` (`.__reindexing`), rename the live path to
 * `<path>.__precompact` (`.__prereindex`), rename the staged tree live,
 * delete the old one. A crash before the first rename leaves the live
 * index untouched (the leftover is swept on the next call); between
 * the renames the live path is missing and every reader fails closed
 * with the rename-back recovery ([[requireNoCrashedSwap]]); after the
 * second only garbage remains.
 *
 * '''Read memo''' ([[sidecar]], [[dataSchema]]): a session decodes a
 * sidecar, and infers the data read schema, once per on-disk identity
 * of the sidecar files, so a warm probe of an unchanged index runs no
 * decode or inference job. The gates above still run on every read.
 *
 * '''On-disk format.''' Every parquet file of an index — data, the
 * `_centroids`/`_codebooks`/`_sample` sidecars, `_tombstones`, vacuum
 * staging, compaction and reindex trees — is written through the one
 * [[writer]], zstd-compressed. Its option overrides a session's
 * `spark.sql.parquet.compression.codec`: the file format belongs to the
 * engine, not to the caller's session. Readers take any codec, since
 * parquet records it per column chunk, so an index written with
 * another codec (snappy, the Spark default) reads unchanged and a tree
 * mixing codecs — old generations beside new appends — reads as one
 * table. After such an upgrade, [[health]]'s mass gate compares zstd
 * fresh bytes against the snappy base until the first compaction
 * rewrites it. Text sidecars (`_rows`, `_recon`, `_plan`) stay text.
 *
 * '''Health and maintenance''' ([[health]], [[maintain]]): one snapshot
 * schema and one by-cause rule for every family — rebuild on the
 * family's drift signal, else compact when fragmented, else vacuum when
 * tombstone-heavy. A family supplies only its signal and its rebuild.
 *
 * Design decisions:
 *  - A reader racing a swap sees a MISSING path between the two renames
 *    and errors — never a half-index, but it doesn't retry. A `_current`
 *    pointer over versioned directories
 *    ([[graft.sources.SnapshotStore]]'s protocol) would make cut-over
 *    atomic for concurrent readers, but these indexes serve BATCH
 *    pipelines whose maintenance and probes are steps of one run, and
 *    the pointer would double every reader's metadata round-trips for
 *    a window no batch reader can hit. An index that serves online
 *    traffic should be PUBLISHED into a SnapshotStore.
 *  - Neither verb may empty an index: an all-tombstoned index would
 *    swap in a data-less tree that no reader can infer a schema from,
 *    behind a healthy-looking directory. Compaction reads the rewrite's
 *    row count off the write itself (`observe()`) and a vacuum compares
 *    its staged and affected files with the data-file count it already
 *    lists; both refuse BEFORE anything goes live. The guard adds no
 *    job in the common case; the price is that a fully tombstoned index
 *    pays one rewrite job before compaction refuses it — a state a
 *    caller reaches only by deleting every row, where deleting the
 *    directory is the right call anyway.
 */
private[graft] object IndexStore {

  /** What a persisted-index family supplies to the store.
    *
    * @param owner           the family's object, prefixing the calls a
    *                        message prescribes ("AnnIndex", "Dedup")
    * @param idCol           the row id column (`vec_id` / `id`) — also
    *                        the `_tombstones` sidecar's one column
    * @param requireGeometry fail-closed check that the tree is this
    *                        family's layout with consistent geometry
    *                        sidecars: (spark, path, op, the root's entry
    *                        names) => the layout's name, as [[health]]
    *                        reports it
    * @param rowCount        the row count a delete WARN prices
    *                        tombstones against
    * @param writeStaged     the vacuum's discipline for the survivors of
    *                        the affected files (rows, affected file count)
    * @param writeCompacted  the compaction's discipline for every live row
    * @param fragmentUnit    the data files one bounded write leaves per
    *                        generation, from (partitions, session shuffle
    *                        width) — [[health]]'s fragmentation unit
    * @param carried         sidecars a compaction copies byte-identical
    * @param filtered        sidecars holding ids that must drop their
    *                        tombstoned rows when the tombstones clear
    * @param restampRows     whether `_rows` is the live row count (the
    *                        store re-stamps it) or a baseline it carries
    * @param readSchema      the full read schema of the tree given a
    *                        caller's frame schema (see [[liveRows]]) */
  case class Layout(owner: String, idCol: String, deleteOp: String,
      vacuumOp: String, compactOp: String,
      requireGeometry: (SparkSession, String, String, Set[String]) => String,
      rowCount: (SparkSession, String) => Long,
      writeStaged: (DataFrame, Int) => DataFrameWriter[Row],
      writeCompacted: DataFrame => DataFrameWriter[Row],
      fragmentUnit: (Int, Int) => Int,
      carried: Seq[String], filtered: Seq[String] = Nil,
      restampRows: Boolean = false,
      readSchema: (FileSystem, String, StructType) => StructType =
        (_, _, s) => s) {
    def tag: String = owner.toLowerCase
  }

  /** The two staged-rewrite kinds: (staged suffix, aside suffix). */
  sealed abstract class Rewrite(val staged: String, val aside: String)
  case object Compaction extends Rewrite(".__compacting", ".__precompact")
  case object Reindex extends Rewrite(".__reindexing", ".__prereindex")

  private val Tombstones = "_tombstones"
  private val Marker = "_vacuum"
  private val Staged = "_vacuum_staged"
  private val Header = "graft-vacuum-v1"
  /** Manifest headers completion accepts: the band indexes published
    * theirs under a family header before the protocol was shared, and
    * an index can be mid-vacuum across an upgrade. */
  private val Headers = Set(Header, "graft-mh-vacuum-v1")

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def child(path: String, name: String) = new Path(s"$path/$name")

  /** The parquet writer of every persisted index file (see the class
    * doc's on-disk format). */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.option("compression", "zstd")

  /** A count metric of a finished observed write; absent = the
    * AQE-collapsed empty input, i.e. 0. */
  def observedCount(obs: Observation, name: String): Long =
    obs.get.getOrElse(name, 0L) match {
      case l: java.lang.Long => l.longValue()
      case _ => 0L
    }

  // ------------------------------------------------------ `_rows` sidecar

  /** Write the advisory `_rows` count (one small text file). */
  def writeRows(fs: FileSystem, path: String, rows: Long): Unit = {
    val out = fs.create(child(path, "_rows"), true)
    try out.write(rows.toString.getBytes("UTF-8")) finally out.close()
  }

  /** `_rows`, or None when absent/unreadable (legacy index, truncated
    * write) — callers self-heal by counting once and re-stamping. */
  def readRows(fs: FileSystem, path: String): Option[Long] = {
    val p = child(path, "_rows")
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(s.trim.toLong)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `_rows`, self-healing: when absent or unreadable, run `count` once
    * and re-stamp it, so every later read is sidecar-only again. */
  def stampedRows(spark: SparkSession, path: String)(count: => Long): Long = {
    val fs = fsOf(spark, path)
    readRows(fs, path).getOrElse { val n = count; writeRows(fs, path, n); n }
  }

  /** The names of `path`'s direct entries: what a family's geometry gate
    * ([[Layout.requireGeometry]]) checks the tree against. */
  private def rootNames(fs: FileSystem, path: String): Set[String] =
    fs.listStatus(new Path(path)).map(_.getPath.getName).toSet

  // ----------------------------------------------------------- sidecar memo

  /** Decoded sidecars and read schemas per SparkContext, keyed by
    * on-disk identity (see [[sidecar]]); access-ordered, at most
    * [[MemoEntries]] per context. */
  private val memos =
    new java.util.WeakHashMap[SparkContext, java.util.LinkedHashMap[Any, Any]]()
  private val MemoEntries = 64

  /** `decode` of the sidecar `name` under `path`, memoized for the
    * session by its on-disk identity: the qualified sidecar directory
    * and the sorted (name, length, mtime) of its files — one driver
    * `listStatus`, no Spark job. Every build, rebuild and reindex writes
    * sidecars as Spark part files under fresh job-UUID names, so any
    * rewrite changes the key. A vacuum leaves them in place (the key
    * holds); a compaction copies them byte-identical (a fresh key, one
    * more decode). No writer bumps anything, so no missed bump can
    * serve a stale decode. A missing sidecar is never memoized
    * (`decode` runs and fails its own way).
    *
    * Only the decode is skipped: callers run every gate (crashed swap,
    * interrupted vacuum, missing sidecar, layout cross-checks) on every
    * call. One decode per sidecar name. */
  def sidecar[A](spark: SparkSession, path: String, name: String)
      (decode: => A): A =
    memoized(spark, path, "sidecar", Seq(name))(decode)

  /** The read schema of the index's data, inferred once per identity of
    * its `geometry` sidecars (as [[sidecar]]): every rebuild and reindex
    * rewrites them, and appends, vacuums and compactions write the
    * columns the index already has. A probe of an unchanged index then
    * pays no schema-inference job. Callers run the sidecar gates first;
    * with a sidecar missing the schema is inferred, not memoized. */
  def dataSchema(spark: SparkSession, path: String,
      geometry: String*): StructType =
    memoized(spark, path, "schema", geometry)(spark.read.parquet(path).schema)

  private def memoized[A](spark: SparkSession, path: String, kind: String,
      names: Seq[String])(decode: => A): A = {
    val fs = fsOf(spark, path)
    val ids = names.map { n =>
      val dir = fs.makeQualified(child(path, n))
      try Some(dir.toString -> fs.listStatus(dir).toSeq
          .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
          .sorted)
      catch { case _: java.io.FileNotFoundException => None }
    }
    if (ids.contains(None)) decode
    else {
      val key = (kind, ids.flatten)
      val memo = memos.synchronized(memos.computeIfAbsent(spark.sparkContext,
        _ => new java.util.LinkedHashMap[Any, Any](16, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[Any, Any]): Boolean =
            size() > MemoEntries
        }))
      memo.synchronized(Option(memo.get(key))).map(_.asInstanceOf[A])
        .getOrElse {
          val v = decode
          memo.synchronized(memo.put(key, v))
          v
        }
    }
  }

  // ---------------------------------------------------------------- gates

  /** Readers and mutations fail closed while a `_vacuum` manifest
    * exists: between its publish and the marker delete, rewritten and
    * original files can coexist or originals may be gone with staged
    * files not yet moved in. The manifest is roll-forward-complete, so
    * the prescription is always "re-run the vacuum". */
  def requireNoInterruptedVacuum(fs: FileSystem, path: String, op: String,
      layout: Layout): Unit =
    if (fs.exists(child(path, Marker)))
      throw new IllegalStateException(
        s"$op($path): an interrupted vacuum left its _vacuum manifest — " +
          s"data files are mid-swap (rewritten and original files may " +
          s"coexist), so reading would silently duplicate or drop rows; " +
          s"re-run ${layout.owner}.${layout.vacuumOp}($path) to roll it " +
          s"forward.")

  /** Refuse to read or mutate over a CRASHED staged swap: the live path
    * is missing and the aside dir holds the ONLY copy. Callers must fail
    * with the rename-back recovery, never a rebuild prescription that
    * would orphan it. A missing path with no aside dir is just an index
    * not built yet, which each caller handles its own way. */
  def requireNoCrashedSwap(fs: FileSystem, path: String, op: String): Unit =
    if (!fs.exists(new Path(path)))
      Seq(Compaction, Reindex).foreach { k =>
        val orphan = new Path(path + k.aside)
        if (fs.exists(orphan)) throw new IllegalStateException(
          s"$op($path): the index path is missing but $orphan exists — " +
            s"a maintenance swap crashed between its two renames and " +
            s"that dir holds the intact pre-swap index. Recover by " +
            s"renaming it back to $path (nothing was lost); do not " +
            s"rebuild or re-train over the orphan.")
      }

  private def requireIndex(fs: FileSystem, path: String, op: String): Unit =
    if (!fs.exists(new Path(path))) {
      requireNoCrashedSwap(fs, path, op)
      throw new IllegalStateException(s"$op($path): no index at this path")
    }

  /** Every DATA file of the index: parquet files outside the
    * underscore trees (sidecars, tombstones, vacuum staging) — the data
    * reader's own hidden-path rule. One recursive listing. */
  def dataFiles(fs: FileSystem, path: String): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    val isData = dataRule(fs, path)
    FsWalk.foreachFile(fs, new Path(path))(st => if (isData(st)) out += st)
    out.result()
  }

  /** Whether [[dataFiles]] is non-empty, stopping at the first data
    * file; false for a missing path. A micro-batch that wrote nothing
    * leaves a `batch=` dir holding only `_SUCCESS`, and a tree of
    * sidecars alone has no schema a reader could infer. */
  def hasData(fs: FileSystem, path: String): Boolean =
    fs.exists(new Path(path)) &&
      FsWalk.existsFile(fs, new Path(path))(dataRule(fs, path))

  private def dataRule(fs: FileSystem, path: String): FileStatus => Boolean = {
    val root = fs.makeQualified(new Path(path)).toUri.getPath
    st => st.getPath.getName.endsWith(".parquet") &&
      !st.getPath.toUri.getPath.stripPrefix(root).split("/").init
        .exists(_.startsWith("_"))
  }

  // ------------------------------------------------------------ tombstones

  def hasTombstones(fs: FileSystem, path: String): Boolean =
    fs.exists(child(path, Tombstones))

  /** Distinct tombstoned ids (0 without a sidecar) — one job. */
  def tombstoneCount(spark: SparkSession, path: String,
      layout: Layout): Long =
    if (!hasTombstones(fsOf(spark, path), path)) 0L
    else spark.read.parquet(s"$path/$Tombstones")
      .select(layout.idCol).distinct().count()

  /** `df` minus its tombstoned rows: anti-join `df(dfCol)` against the
    * sidecar's `tombCol` ids. Without a sidecar the plan is untouched;
    * with one the side is a bounded id table the planner broadcasts
    * when small — not deduplicated, since an anti-join's answer does not
    * depend on duplicates in its build side. `schema` is the sidecar's
    * read schema when the caller knows its id type (skips the inference
    * job). */
  def dropTombstoned(spark: SparkSession, path: String, df: DataFrame,
      dfCol: String, tombCol: String = "",
      schema: Option[StructType] = None): DataFrame =
    if (!hasTombstones(fsOf(spark, path), path)) df
    else {
      val t = if (tombCol.isEmpty) dfCol else tombCol
      val ids = schema.fold(spark.read)(spark.read.schema)
        .parquet(s"$path/$Tombstones").select(t)
      df.join(if (t == dfCol) ids else ids.withColumnRenamed(t, dfCol),
        Seq(dfCol), "left_anti")
    }

  /** The index's LIVE rows: the interrupted-vacuum and crashed-swap
    * gates, the data read, the tombstone anti-join. `known` is the
    * schema of a frame the caller wrote with the same writer as the
    * index; with it the read skips the schema-inference job and its
    * footer pass ([[Layout.readSchema]] maps it to the tree's). */
  def liveRows(spark: SparkSession, path: String, layout: Layout,
      known: Option[StructType] = None): DataFrame = {
    val fs = fsOf(spark, path)
    requireNoInterruptedVacuum(fs, path, "index read", layout)
    requireNoCrashedSwap(fs, path, "index read")
    val df = known.fold(spark.read.parquet(path))(s =>
      spark.read.schema(layout.readSchema(fs, path, s)).parquet(path))
    dropTombstoned(spark, path, df, layout.idCol,
      schema = known.map(s => StructType(Seq(s(layout.idCol)))))
  }

  /** Ingesting an id that is TOMBSTONED is legal but almost always a
    * mistake: the fresh rows stay invisible until a vacuum or compaction
    * clears the tombstones (the replace flow is delete → vacuum →
    * re-ingest). One O(batch) semi-join, only when a sidecar exists. */
  def warnTombstonedIngest(spark: SparkSession, path: String,
      batch: DataFrame, layout: Layout, op: String): Unit =
    if (hasTombstones(fsOf(spark, path), path)) {
      val id = layout.idCol
      val hidden = batch.select(id).distinct().join(
        spark.read.parquet(s"$path/$Tombstones").select(id),
        Seq(id), "left_semi").count()
      if (hidden > 0)
        System.err.println(s"[${layout.tag}] WARN $op($path): $hidden " +
          s"ingested id(s) are TOMBSTONED ids — their rows are written but " +
          s"invisible to probes until ${layout.owner}.${layout.vacuumOp} " +
          s"(or ${layout.compactOp}) clears the tombstones. Replacing a " +
          s"row is delete -> ${layout.vacuumOp} -> re-ingest.")
    }

  /** Tombstone-delete `ids(idCol)`: the append to `_tombstones` (its
    * distinct count rides the write via `observe()`), then the
    * accumulation WARN. The WARN's distinct count is gated behind the
    * sidecar's row count (distinct ids ≤ rows), summed from its parquet
    * footers without a Spark job, so small takedowns pay no job for it.
    * @return distinct ids tombstoned by this call */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, layout: Layout): Long = {
    val fs = fsOf(spark, path)
    val op = layout.deleteOp
    requireIndex(fs, path, op)
    requireNoInterruptedVacuum(fs, path, op, layout)
    layout.requireGeometry(spark, path, op, rootNames(fs, path))
    val obs = Observation()
    writer(ids.select(col(idCol).as(layout.idCol)).distinct()
      .observe(obs, count(lit(1)).as("n")).coalesce(1))
      .mode("append").parquet(s"$path/$Tombstones")
    val n = observedCount(obs, "n")
    if (footerRows(spark, s"$path/$Tombstones") >= 1024L) {
      val tombs = tombstoneCount(spark, path, layout)
      if (tombs >= 1024L) {
        val total = math.max(1L, layout.rowCount(spark, path))
        if (tombs * 100L >= total)
          System.err.println(s"[${layout.tag}] WARN $op($path): $tombs " +
            s"accumulated tombstoned ids vs ~$total rows — every probe " +
            s"now anti-joins that mass; call ${layout.owner}." +
            s"${layout.vacuumOp} to make the deletes physical " +
            s"(${layout.compactOp} if the index is also fragmented).")
      }
    }
    n
  }

  /** The rows of the parquet files under `dir`, from their footers: one
    * footer read per file, no Spark job. */
  private def footerRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    var rows = 0L
    FsWalk.foreachFile(fsOf(spark, dir), new Path(dir)) { st =>
      if (st.getPath.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try rows += r.getRecordCount finally r.close()
      }
    }
    rows
  }

  // --------------------------------------------------------- staged rewrite

  /** Write a whole new tree with `stage(stagedPath)` and swap it live
    * (see the class doc). Leftovers of a prior crash are swept first —
    * never an aside dir holding the only copy; a throwing `stage` leaves
    * the live index untouched. */
  def rewriteStaged[A](fs: FileSystem, path: String, kind: Rewrite,
      op: String)(stage: String => A): A = {
    requireIndex(fs, path, op)
    fs.delete(new Path(path + kind.staged), true)
    fs.delete(new Path(path + kind.aside), true)
    val out = stage(path + kind.staged)
    moveAside(fs, path, kind, op)
    moveIn(fs, path, kind, op)
    out
  }

  /** The swap's first rename: live → aside. */
  private[graft] def moveAside(fs: FileSystem, path: String, kind: Rewrite,
      op: String): Unit =
    if (!fs.rename(new Path(path), new Path(path + kind.aside)))
      throw new IllegalStateException(
        s"$op($path): could not stage the live index aside")

  /** The swap's second rename, staged → live, then the aside delete. A
    * failed rename restores the original and keeps the staged copy for
    * inspection. */
  private[graft] def moveIn(fs: FileSystem, path: String, kind: Rewrite,
      op: String): Unit = {
    val (live, aside) = (new Path(path), new Path(path + kind.aside))
    if (!fs.rename(new Path(path + kind.staged), live)) {
      fs.rename(aside, live)
      throw new IllegalStateException(
        s"$op($path): swap failed; original restored, staged copy left " +
          s"at ${path + kind.staged} for inspection")
    }
    fs.delete(aside, true)
  }

  /** Compact: rewrite every live row under the family's discipline with
    * the tombstoned rows dropped (the compacted index starts
    * tombstone-free), carry the geometry sidecars, swap it live.
    * @return (data files before, data files after) */
  def compact(spark: SparkSession, path: String, layout: Layout)
      : (Long, Long) = {
    val fs = fsOf(spark, path)
    val op = layout.compactOp
    requireIndex(fs, path, op)
    requireNoInterruptedVacuum(fs, path, op, layout)
    layout.requireGeometry(spark, path, op, rootNames(fs, path))
    val before = dataFiles(fs, path).size.toLong
    rewriteStaged(fs, path, Compaction, op)(
      stageCompaction(spark, path, _, layout))
    (before, dataFiles(fs, path).size.toLong)
  }

  /** The compaction's staged tree at `staged`; refuses (deleting it)
    * when no row survives. */
  private[graft] def stageCompaction(spark: SparkSession, path: String,
      staged: String, layout: Layout): Unit = {
    val fs = fsOf(spark, path)
    val obs = Observation()
    layout.writeCompacted(dropTombstoned(spark, path,
        spark.read.parquet(path), layout.idCol)
      .observe(obs, count(lit(1)).as("n")))
      .mode("overwrite").parquet(staged)
    val written = observedCount(obs, "n")
    if (written == 0L) {
      fs.delete(new Path(staged), true)
      throw emptied(path, layout.compactOp, "compacting")
    }
    layout.carried.filter(s => fs.exists(child(path, s))).foreach { s =>
      org.apache.hadoop.fs.FileUtil.copy(fs, child(path, s),
        fs, child(staged, s), false, spark.sparkContext.hadoopConfiguration)
    }
    layout.filtered.filter(s => fs.exists(child(path, s))).foreach { s =>
      writer(dropTombstoned(spark, path, spark.read.parquet(s"$path/$s"),
        layout.idCol).coalesce(8)).mode("overwrite").parquet(s"$staged/$s")
    }
    if (layout.restampRows) writeRows(fs, staged, written)
  }

  private def emptied(path: String, op: String, verb: String) =
    new IllegalStateException(
      s"$op($path): every row is tombstoned — $verb would leave an " +
        s"empty, unreadable tree. Delete the index directory instead " +
        s"(or re-ingest before $verb).")

  // --------------------------------------------------------- targeted vacuum

  /** One step of a vacuum manifest. */
  private[graft] sealed trait Step
  private[graft] case class Move(staged: String, dest: String) extends Step
  private[graft] case class Delete(file: String) extends Step

  /** A vacuum manifest: `rowsAfter` is set when the store re-stamps
    * `_rows` on completion. */
  private[graft] case class Manifest(rowsAfter: Option[Long],
      rowsDropped: Long, steps: Seq[Step]) {
    def text: String =
      (Seq(Header) ++ rowsAfter.map(n => s"rows_after=$n") ++
        Seq(s"rows_dropped=$rowsDropped") ++ steps.map {
          case Move(s, d) => s"move\t$s\t$d"
          case Delete(f) => s"del\t$f"
        } ++ Seq("end")).mkString("", "\n", "\n")
  }

  /** Make tombstones physical in the files that hold them.
    * @return (files rewritten, rows dropped); (0, 0) when there is
    *         nothing to vacuum */
  def vacuum(spark: SparkSession, path: String, layout: Layout)
      : (Long, Long) = {
    val fs = fsOf(spark, path)
    requireIndex(fs, path, layout.vacuumOp)
    // an interrupted vacuum rolls FORWARD first
    if (fs.exists(child(path, Marker))) completeVacuum(fs, path, layout)
    else if (stageVacuum(spark, path, layout))
      completeVacuum(fs, path, layout)
    else (0L, 0L)
  }

  /** The staging half of [[vacuum]]: stage the survivors, publish the
    * manifest. False when there is nothing to do. */
  private[graft] def stageVacuum(spark: SparkSession, path: String,
      layout: Layout): Boolean =
    stageSurvivors(spark, path, layout).exists { m =>
      publishManifest(fsOf(spark, path), path, m, layout)
      true
    }

  /** Everything before the commit point: sweep a crashed staging pass,
    * locate the affected files, drop tombstoned ids from the `filtered`
    * sidecars, write the survivors to `_vacuum_staged`. None when there
    * is nothing to do — no tombstones, or only row-less ones (the
    * sidecar is cleared outright then). */
  private[graft] def stageSurvivors(spark: SparkSession, path: String,
      layout: Layout): Option[Manifest] = {
    val fs = fsOf(spark, path)
    val op = layout.vacuumOp
    requireNoInterruptedVacuum(fs, path, op, layout)
    fs.delete(child(path, s"$Marker.tmp"), false)
    fs.delete(child(path, Staged), true)
    layout.requireGeometry(spark, path, op, rootNames(fs, path))
    if (!hasTombstones(fs, path)) return None
    val id = layout.idCol
    val qualified = fs.makeQualified(new Path(path)).toString
    // one schema inference serves the locate scan, the affected-file
    // read and the sidecar's id type; the id side feeds only semi and
    // anti joins, so it is not deduplicated
    val schema = spark.read.option("basePath", qualified).parquet(qualified)
      .schema
    val tomb = spark.read.schema(StructType(Seq(schema(id))))
      .parquet(s"$path/$Tombstones")
    // filtered sidecars drop their tombstoned rows before anything can
    // clear the tombstones that name them; the eager checkpoint makes
    // the same-path overwrite safe
    def dropFromFiltered(): Unit =
      layout.filtered.filter(s => fs.exists(child(path, s))).foreach { s =>
        writer(spark.read.parquet(s"$path/$s").join(tomb, Seq(id), "left_anti")
          .localCheckpoint(true).coalesce(8))
          .mode("overwrite").parquet(s"$path/$s")
      }
    val perFile = locateScan(spark, qualified, tomb, id, Some(schema))
      .collect()
    val affected = perFile.map(_.getString(0))
    val dropped = perFile.map(_.getLong(1)).sum
    if (affected.isEmpty) {
      dropFromFiltered()
      fs.delete(child(path, Tombstones), true)
      return None
    }
    val totalFiles = dataFiles(fs, path).size.toLong
    val rowsAfter =
      if (layout.restampRows) Some(layout.rowCount(spark, path) - dropped)
      else None
    // basePath keeps the partition columns on the per-file read
    val staged = child(path, Staged)
    layout.writeStaged(spark.read.schema(schema)
        .option("basePath", qualified).parquet(affected.toIndexedSeq: _*)
        .join(tomb, Seq(id), "left_anti"), affected.length)
      .mode("overwrite").parquet(staged.toString)
    if (affected.length.toLong * 10 >= 3L * totalFiles)
      System.err.println(s"[${layout.tag}] WARN $op($path): the takedown " +
        s"touches ${affected.length} of $totalFiles files — no longer a " +
        s"targeted delete; ${layout.owner}.${layout.compactOp} reaches " +
        s"the same physical state without the per-file manifest.")
    val stagedQ = fs.makeQualified(staged)
    val moves = Seq.newBuilder[Step]
    FsWalk.foreachFile(fs, stagedQ) { st =>
      val f = st.getPath
      if (f.getName.endsWith(".parquet"))
        moves += Move(f.toString, qualified + "/" +
          f.toString.stripPrefix(stagedQ.toString).stripPrefix("/"))
    }
    val steps = moves.result() ++ affected.map(Delete(_))
    if (steps.length == affected.length && affected.length == totalFiles) {
      fs.delete(staged, true)
      throw emptied(path, op, "vacuuming")
    }
    dropFromFiltered()
    Some(Manifest(rowsAfter, dropped, steps))
  }

  /** The commit point: publish the manifest atomically (tmp-write +
    * rename). */
  private[graft] def publishManifest(fs: FileSystem, path: String,
      m: Manifest, layout: Layout): Unit = {
    val tmp = child(path, s"$Marker.tmp")
    val out = fs.create(tmp, true)
    try out.write(m.text.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, child(path, Marker)))
      throw new IllegalStateException(
        s"${layout.vacuumOp}($path): could not publish the _vacuum manifest")
  }

  /** The locate scan as a frame: (file, rows-to-drop) for every data
    * file holding a tombstoned row. The read prunes to the id column
    * alone (`input_file_name` is scan metadata, not a data column), so
    * locating costs one narrow column, not the corpus. `schema` is the
    * tree's read schema when the caller has it (skips the inference
    * job). */
  private[graft] def locateScan(spark: SparkSession, qualified: String,
      tomb: DataFrame, idCol: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).option("basePath", qualified)
      .parquet(qualified)
      .select(col(idCol), input_file_name().as("_file"))
      .join(tomb, Seq(idCol), "left_semi")
      .groupBy("_file").count()

  /** The published manifest. A malformed one is external damage, not a
    * crash state: manifests are published whole. */
  private[graft] def readManifest(fs: FileSystem, path: String,
      layout: Layout): Manifest = {
    val in = fs.open(child(path, Marker))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      .split("\n", -1).toIndexedSeq finally in.close()
    if (!lines.headOption.exists(Headers) || !lines.contains("end"))
      throw new IllegalStateException(
        s"${layout.vacuumOp}($path): unreadable _vacuum manifest — " +
          s"manifests are published whole (tmp-write + rename), so this " +
          s"is external damage; rebuild the index.")
    val body = lines.takeWhile(_ != "end")
    def field(k: String) = body.collectFirst {
      case l if l.startsWith(s"$k=") => l.stripPrefix(s"$k=").toLong
    }
    Manifest(field("rows_after"), field("rows_dropped").getOrElse(
      throw new IllegalStateException(
        s"${layout.vacuumOp}($path): _vacuum manifest lacks rows_dropped")),
      body.collect {
        case l if l.startsWith("move\t") =>
          val a = l.split("\t"); Move(a(1), a(2))
        case l if l.startsWith("del\t") => Delete(l.split("\t")(1))
      })
  }

  /** Run one manifest step, idempotently: a done move (staged gone,
    * destination present) and a done delete are skipped. */
  private[graft] def applyStep(fs: FileSystem, path: String, step: Step,
      layout: Layout): Unit = step match {
    case Move(s, d) =>
      val (sp, dp) = (new Path(s), new Path(d))
      if (fs.exists(sp)) {
        if (fs.exists(dp)) fs.delete(dp, false)
        Option(dp.getParent).foreach(fs.mkdirs(_))
        if (!fs.rename(sp, dp)) throw new IllegalStateException(
          s"${layout.vacuumOp}($path): could not move $s into place")
      } else if (!fs.exists(dp)) throw new IllegalStateException(
        s"${layout.vacuumOp}($path): staged file $s and destination $d " +
          s"are BOTH missing — the manifest does not match the directory " +
          s"(external damage); rebuild the index.")
    case Delete(f) =>
      val p = new Path(f)
      if (fs.exists(p)) fs.delete(p, false)
  }

  /** The completion tail before the marker delete: `_rows` re-stamp,
    * `_tombstones` clear, staging-tree delete. */
  private[graft] def finishVacuum(fs: FileSystem, path: String,
      m: Manifest): Unit = {
    m.rowsAfter.foreach(writeRows(fs, path, _))
    fs.delete(child(path, Tombstones), true)
    fs.delete(child(path, Staged), true)
  }

  /** Roll an in-flight vacuum FORWARD from its manifest; the marker
    * delete comes last. @return (files rewritten, rows dropped) */
  private[graft] def completeVacuum(fs: FileSystem, path: String,
      layout: Layout): (Long, Long) = {
    val m = readManifest(fs, path, layout)
    m.steps.foreach(applyStep(fs, path, _, layout))
    finishVacuum(fs, path, m)
    fs.delete(child(path, Marker), false)
    (m.steps.count(_.isInstanceOf[Delete]).toLong, m.rowsDropped)
  }

  // -------------------------------------------------- health and maintain

  /** A family's rebuild signal in an [[IndexHealth]]: `rebuild` names the
    * rebuild the signal prescribes, if any. */
  trait Signal { def rebuild: Option[String] }

  /** The signal of a family whose geometry is the caller's contract and
    * never drifts (the minhash, phash and audio band indexes). */
  case object NoSignal extends Signal { val rebuild: Option[String] = None }

  /** Operational snapshot of a persisted index, one schema for every
    * family. An operator schedules maintenance from it; [[maintain]]
    * executes it.
    *
    * @param layout       the layout's name ([[Layout.requireGeometry]]:
    *                     "lsh", "ivf", "ivfpq", "pq"; "flat" or "batch"
    *                     for a band index)
    * @param rows         live rows, when a sidecar holds them (the ANN
    *                     `_rows` count)
    * @param partitions   partition directories (per generation on a
    *                     `batch=` tree: the most any generation holds)
    * @param generations  `batch=` generations (0 on a flat tree; a
    *                     compacted `batch=-1` base counts as one)
    * @param dataFiles    parquet data files ([[dataFiles]])
    * @param freshBytes   bytes in non-compacted `batch=N` (N ≥ 0)
    *                     generations — the mass a compaction would fold
    *                     into the base
    * @param baseBytes    bytes in the compacted `batch=-1` generation
    * @param prescription "healthy", or the verb [[maintain]] runs: the
    *                     signal's rebuild, else the layout's compaction
    *                     when fragmented, else its vacuum when tombstone-
    *                     heavy (see [[maintain]] for why each subsumes the
    *                     next) */
  case class IndexHealth[+S <: Signal](layout: String, rows: Option[Long],
      tombstones: Long, partitions: Int, generations: Int, dataFiles: Long,
      freshBytes: Long, baseBytes: Long, fragmented: Boolean,
      tombstoneHeavy: Boolean, signal: S, prescription: String)

  /** Compute [[IndexHealth]]: the exists, interrupted-vacuum and geometry
    * gates, one root listing (plus one per `batch=` generation), the
    * data-file walk, the `_tombstones` distinct count — no job over the
    * index data path — then the family's `signal` from the layout name
    * and `rows`.
    *
    *  - `fragmented`: data files exceed `fragmentFactor` × the layout's
    *    [[Layout.fragmentUnit]] × max(1, generations) — K appends or
    *    micro-batches multiply one write's files by up to K — or, on a
    *    `batch=` tree, more than `fragmentFactor` fresh generations whose
    *    bytes are at least `minCompactionGain` of the compacted base (no
    *    base: always), or more than `maxGenerations` of them whatever
    *    their mass. The mass gate grows the base by ≥ `minCompactionGain`
    *    per compaction, so a stream that maintains every batch rewrites
    *    amortized-linear bytes, not quadratic; the cap bounds listing
    *    cost, which grows with generations even when their bytes don't.
    *  - `tombstoneHeavy`: ≥ `tombstoneFloor` distinct tombstoned ids, and
    *    ≥ 1% of `rows` when a sidecar gives them (the delete WARN's
    *    threshold). */
  def health[S <: Signal](spark: SparkSession, path: String, layout: Layout,
      op: String, fragmentFactor: Double, tombstoneFloor: Long,
      minCompactionGain: Double = 0.1, maxGenerations: Int = 64)(
      signal: (String, Option[Long]) => S): IndexHealth[S] = {
    val fs = fsOf(spark, path)
    requireIndex(fs, path, op)
    requireNoInterruptedVacuum(fs, path, op, layout)
    val root = fs.listStatus(new Path(path))
    val kind = layout.requireGeometry(spark, path, op,
      root.map(_.getPath.getName).toSet)
    // partition dirs: the reader's `key=value` rule
    def partitionsIn(sts: Array[FileStatus]): Int = sts.count(st =>
      st.isDirectory && st.getPath.getName.contains("=") &&
        !st.getPath.getName.startsWith("batch="))
    val gens = root.map(_.getPath).filter(_.getName.startsWith("batch="))
    val partitions =
      if (gens.isEmpty) partitionsIn(root)
      else gens.map(g => partitionsIn(fs.listStatus(g))).max
    val files = dataFiles(fs, path)
    val (base, fresh) = files.map(f => (f.getPath.toString, f.getLen))
      .filter(_._1.contains("/batch=")).partition(_._1.contains("/batch=-1/"))
    val (baseBytes, freshBytes) = (base.map(_._2).sum, fresh.map(_._2).sum)
    val rows =
      if (layout.restampRows) Some(layout.rowCount(spark, path)) else None
    val tombstones = tombstoneCount(spark, path, layout)
    val unit = layout.fragmentUnit(partitions,
      spark.sessionState.conf.numShufflePartitions)
    val freshGens = gens.count(_.getName != "batch=-1")
    val fragmented =
      files.size > fragmentFactor * math.max(1, unit * math.max(1, gens.size)) ||
        (gens.nonEmpty && freshGens > fragmentFactor && (baseBytes == 0L ||
          freshGens > maxGenerations ||
          freshBytes >= minCompactionGain * baseBytes))
    val heavy = tombstones >= tombstoneFloor &&
      rows.forall(tombstones * 100L >= _)
    val s = signal(kind, rows)
    IndexHealth(kind, rows, tombstones, partitions, gens.size,
      files.size.toLong, freshBytes, baseBytes, fragmented, heavy, s,
      s.rebuild.orElse(Option.when(fragmented)(layout.compactOp))
        .orElse(Option.when(heavy)(layout.vacuumOp)).getOrElse("healthy"))
  }

  /** Execute `h` by cause: the family's `rebuild` when the signal
    * prescribes one — it rewrites every live row, dropping tombstones
    * and defragmenting, so nothing else runs after it. Anything not
    * rebuilt (a healthy signal, or a rebuild the family declined) gets
    * the cheap repairs: [[compact]] when fragmented — its full rewrite
    * also drops tombstoned rows and clears the sidecar, so a vacuum first
    * would rewrite the affected files twice — else the targeted [[vacuum]]
    * when tombstone-heavy. A healthy index is left untouched. Every
    * action rides its own crash protocol.
    *
    * @param rebuild the family's rebuild: Right(action) when it rewrote
    *                the index, Left(note) when it declined (a note is
    *                reported as an action)
    * @return the actions taken, in order */
  def maintain(spark: SparkSession, path: String, layout: Layout,
      h: IndexHealth[Signal])(
      rebuild: => Either[Option[String], String]): Seq[String] =
    (if (h.signal.rebuild.isEmpty) Left(None) else rebuild) match {
      case Right(action) => Seq(action)
      case Left(note) => note.toSeq ++ (
        if (h.fragmented) {
          compact(spark, path, layout); Seq(layout.compactOp)
        } else if (h.tombstoneHeavy) {
          vacuum(spark, path, layout); Seq(layout.vacuumOp)
        } else Nil)
    }
}
