package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.storage.StorageLevel
import java.sql.Timestamp
import graft.multimodal.{MediaAsset, Multimodal}
import graft.operators.{AnnIndex, AudioDedup, Decontaminate, Dedup,
  IndexStore, PhashDedup, Similarity}
import graft.pipelines.Curation

/** One event row for typed streaming ops. */
case class Event(event_id: Long, user_id: Long, event_type: String,
    ts: Timestamp, value: Double)

/** A record awaiting a match (the keep_na pattern): first seen at
  * `firstSeen`, retried until matched or expired. */
case class PendingRecord(key: String, payload: String, firstSeen: Timestamp)

/** keep_na state: ALL pending records for a key (a single-record state
  * would silently drop later arrivals for the same key), plus any match
  * that arrived BEFORE its pending record — out of order but within the
  * watermark — so later-arriving pendings still resolve instead of
  * expiring. */
case class PendingList(records: Seq[PendingRecord],
    matches: Seq[PendingRecord] = Seq.empty)

/** Outcome emitted by the keep-na state machine. */
case class PendingOutcome(key: String, payload: String, outcome: String,
    ageDays: Int)

/**
 * Structured Streaming equivalents of the reference's hand-rolled
 * incremental-batch semantics (SURVEY §1.6):
 *
 * - new-data detection by high-watermark → `withWatermark` + append mode;
 * - keep_na 60-day retry window → `flatMapGroupsWithState` with an
 *   event-time timeout (docs/notebooks/KEEP_NA_ROSTER_SECOND_IN_PROGRESS
 *   .Rmd:699-765: unmatched records retried per run for 60 days, then
 *   archived with reason annotations);
 * - windowed counts → watermarked tumbling-window aggregation.
 *
 * Each transform takes/returns streaming Datasets, so the same code path
 * is exercised by batch frames in tests (Spark's unified API) and by
 * `readStream` sources in production.
 */
object Streams {

  /** Watermarked tumbling-window counts per event_type (append-able). */
  def windowedCounts(events: DataFrame, window_ : String = "1 day",
      watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /**
   * The keep_na state machine: pending records wait for a matching `key`
   * arrival; matched → emit "matched"; unmatched past `retentionDays` of
   * event time → emit "expired" (the reference's Delete-folder archive).
   * Exposed as a function over a KeyValueGroupedDataset-compatible
   * signature for flatMapGroupsWithState(EventTimeTimeout).
   */
  def keepNaStep(retentionDays: Int)(
      key: String,
      rows: Iterator[PendingRecord],
      state: GroupState[PendingList]): Iterator[PendingOutcome] = {
    val retentionMs = retentionDays * 86400000L
    def heldState: PendingList = state.getOption.getOrElse(PendingList(Seq.empty))
    def rearm(next: PendingList): Unit =
      if (next.records.isEmpty && next.matches.isEmpty) state.remove()
      else {
        state.update(next)
        state.setTimeoutTimestamp(
          (next.records ++ next.matches).map(_.firstSeen.getTime).min + retentionMs)
      }
    if (state.hasTimedOut) {
      // expire records past retention at the current watermark; keep the
      // rest (and still-fresh held matches) with a re-armed timeout
      val wm = state.getCurrentWatermarkMs()
      def fresh(p: PendingRecord) = wm - p.firstSeen.getTime < retentionMs
      val (remaining, expired) = heldState.records.partition(fresh)
      rearm(PendingList(remaining, heldState.matches.filter(fresh)))
      expired.iterator.map(p =>
        PendingOutcome(p.key, p.payload, "expired", retentionDays))
    } else {
      val incoming = rows.toSeq
      val (inMatches, pendings) = incoming.partition(_.payload.startsWith("MATCH:"))
      // held matches participate too: a match that arrived BEFORE its
      // pending record (out of order, within the watermark) was stored and
      // resolves the pending now instead of letting it expire
      val matchesNow = heldState.matches ++ inMatches
      val pendingNow = heldState.records ++ pendings
      if (matchesNow.nonEmpty && pendingNow.nonEmpty) {
        // resolve ALL pending copies against the earliest match; the match
        // stays in state (within its retention) for late pending copies
        val matchMs = matchesNow.map(_.firstSeen.getTime).min
        rearm(PendingList(Seq.empty, matchesNow))
        pendingNow.iterator.map { p =>
          val age = ((matchMs - p.firstSeen.getTime) / 86400000L).toInt
          PendingOutcome(p.key, p.payload, "matched", age)
        }
      } else {
        rearm(PendingList(pendingNow, matchesNow))
        Iterator.empty
      }
    }
  }

  /** Wire keepNaStep over a stream of PendingRecord. */
  def keepNaRetry(records: Dataset[PendingRecord], retentionDays: Int = 60)
      : Dataset[PendingOutcome] = {
    import records.sparkSession.implicits._
    records
      .withWatermark("firstSeen", "1 day")
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        keepNaStep(retentionDays))
  }

  /**
   * Stream-static refresh join (KEEP_NA_ROSTER_SECOND as a stream): the
   * arriving pending-record stream joins the CURRENT WDRS snapshot — a
   * static frame re-resolved per micro-batch, so a snapshot swap under a
   * view/path is picked up without restarting the query. Records that
   * match within the 14-day window graduate with the adopted case id;
   * the rest flow on unmatched (outcome column, P5-style routing — the
   * caller splits the one output stream). Stateless: no watermark
   * needed, every micro-batch row is emitted exactly once — which holds
   * BECAUSE the snapshot is reduced to one row per key first: WDRS-entire
   * is specimen-level and can carry one clinical accession on several
   * rows, and a raw join would fan a stuck record into several outputs
   * (possibly "matched" with different adopted case ids). Same
   * deterministic pick as the batch twin
   * [[graft.pipelines.KeepNaRefresh.refreshCaseId]]: earliest collection
   * date, then min case id.
   */
  def keepNaRefreshStream(pending: DataFrame, wdrsSnapshot: DataFrame,
      keyCol: String, dateCol: String, toleranceDays: Int = 14): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__wkey"))
      .orderBy(col("__wdate").asc_nulls_last, col("__wcase"))
    val w = wdrsSnapshot.select(
      col(keyCol).as("__wkey"),
      col("CASE_ID").as("__wcase"),
      col("COLLECTION_DATE").as("__wdate"))
      .filter(col("__wkey").isNotNull)
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") === 1)
      .drop("__rn")
    pending
      .join(w, pending(keyCol) === col("__wkey"), "left")
      .withColumn("__date_ok", coalesce(
        abs(datediff(col(dateCol), col("__wdate"))) <= toleranceDays,
        lit(false)))
      .withColumn("adopted_case_id",
        when(col("__wcase").isNotNull && col("__date_ok"), col("__wcase")))
      .withColumn("outcome",
        when(col("adopted_case_id").isNotNull, "matched").otherwise("pending"))
      .drop("__wkey", "__wcase", "__wdate", "__date_ok")
  }

  /**
   * Streaming roster sink: each micro-batch lands through the chunked
   * CSV contract (S7/S9) under a batch-id directory via foreachBatch.
   * The batch-id path plus overwrite mode makes re-delivered batches
   * idempotent — a restart after a half-written batch rewrites the same
   * directory, never duplicates rows into a new one. Checkpointing
   * carries the stream's progress; the sink itself holds no state.
   */
  def rosterSink(graduated: DataFrame, outDir: String, checkpointDir: String,
      orderCols: Seq[String], maxRows: Int = 500): StreamingQuery =
    graduated.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.sinks.RosterSink.writeChunked(
          batch.toDF(), s"$outDir/batch=$batchId", orderCols, maxRows)
      }
      .start()

  // ------------------------------------------------ index-ingest driver

  /** One micro-batch of an index family: (batch rows, batch id). */
  private type Step = (DataFrame, Long) => Unit

  /**
   * The one driver behind every streaming index family below. Each
   * micro-batch of `input` is checked against the index persisted at
   * `indexDir`, then added to it: the reference's incremental batch
   * (new rows in, checked against state, appended to state) at stream
   * cadence. The index directory is owned by its stream. Before a batch
   * touches it, the driver refuses a crashed maintenance swap
   * ([[swapChecked]]).
   *
   * '''Replay contract.''' The checkpoint runs each batch once in normal
   * operation; a crash after a batch's writes land but before the
   * checkpoint commits replays that batch. Every family survives it:
   *  - the band families ([[bandStep]]) write only `batch=<id>`
   *    directories — index rows, pairs and rejects — in overwrite mode,
   *    so a replay rewrites its own directories and never duplicates
   *    rows. A replay that sees its own rows in the index drops the
   *    self-pairs, and the pair `distinct()` collapses the rest. A replay
   *    of a batch that maintenance already compacted rewrites its
   *    `batch=` dir next to the compacted generation: duplicate index
   *    rows, which pair results dedupe and the next compaction reclaims;
   *  - the ANN families ([[annStep]]) append into shared files, so each
   *    applied batch stamps `<lineage>:<id>` in the `_stream_batch`
   *    sidecar and an exact replay under the same checkpoint lineage is
   *    skipped. A crash between the data write and the stamp still
   *    replays into duplicate rows — one more kNN candidate each, never a
   *    loss and never a geometry change. Pair with
   *    [[graft.sources.FileCommit]]'s manifest upstream, or dedup on the
   *    id at read, when that sliver matters.
   * Maintenance ([[maintainAt]]) runs between batches. foreachBatch is
   * sequential, so its staged swaps never race the stream's own writes,
   * and every maintenance verb is answer-preserving.
   */
  private def ingestStream(input: DataFrame, checkpointDir: String,
      indexDir: String, op: String)(step: Step): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        swapChecked(indexDir, op)(step)(batch.toDF(), batchId)
      }
      .start()

  /** `step` behind the crashed-swap gate: with the live path missing and
    * the pre-swap tree aside, the batch fails with the rename-back
    * recovery instead of training a fresh index over the orphan. `op`
    * names the entry point in the message. */
  private def swapChecked(indexDir: String, op: String)(step: Step): Step =
    (df, batchId) => {
      IndexStore.requireNoCrashedSwap(
        IndexStore.fsOf(df.sparkSession, indexDir), indexDir, op)
      step(df, batchId)
    }

  /** Maintenance on the stream's cadence: after every `every`-th batch
    * (never at 0), logging what `maintain` did. */
  private def maintainAt(indexDir: String, batchId: Long, every: Int)(
      maintain: => Seq[String]): Unit =
    if (every > 0 && (batchId + 1) % every == 0) {
      val acts = maintain
      if (acts.nonEmpty) System.err.println(s"[streams] ingest " +
        s"maintenance($indexDir) batch $batchId: ${acts.mkString(", ")}")
    }

  /** The band families' micro-batch. `ingest(prior, out, pairsSink)`
    * adds the batch to `out = indexDir/batch=<id>` and writes its
    * near-dup pairs against `prior` (the index before this batch) to
    * `pairsSink = pairsDir/batch=<id>`. A family that freezes a plan in
    * its first batch names the plan's `geometry` sidecar, and a prior
    * index exists when that sidecar does: the plan is written after the
    * data, so plan-missing means the training batch never committed and
    * its replay re-trains over its own `batch=` dir. Otherwise a prior
    * index exists when the tree holds data. `maintain` runs on the
    * cadence once the index holds data and its geometry. */
  private def bandStep(spark: SparkSession, batchId: Long,
      indexDir: String, pairsDir: String, maintainEvery: Int,
      geometry: Option[String] = None)(
      ingest: (Option[String], String, Option[String]) => Unit)(
      maintain: => Seq[String]): Unit = {
    val fs = IndexStore.fsOf(spark, indexDir)
    def hasGeometry = geometry.forall(g => fs.exists(new Path(s"$indexDir/$g")))
    val prior = geometry.fold(IndexStore.hasData(fs, indexDir))(_ => hasGeometry)
    ingest(Option.when(prior)(indexDir), s"$indexDir/batch=$batchId",
      Some(s"$pairsDir/batch=$batchId"))
    maintainAt(indexDir, batchId, maintainEvery) {
      if (IndexStore.hasData(fs, indexDir) && hasGeometry) maintain else Nil
    }
  }

  /** The minhash band step of [[dedupIngest]] and the gated families:
    * one signature pass per batch, the pairs write its materializing
    * action ([[graft.operators.Dedup.ingestBatch]]). */
  private def minhashStep(textCol: String, idCol: String,
      indexDir: String, pairsDir: String, shingleK: Int, numHashes: Int,
      bands: Int, minJaccard: Double, maintainEvery: Int): Step = (df, batchId) =>
    bandStep(df.sparkSession, batchId, indexDir, pairsDir, maintainEvery) {
      (prior, out, sink) => Dedup.ingestBatch(df, textCol, idCol, prior, out,
        shingleK, numHashes, bands, minJaccard, pairsSink = sink)
    }(Dedup.maintainMinhashIndex(df.sparkSession, indexDir))

  /** The gated families' split: the non-`keep` rows of `judged` land in
    * `rejectsDir/batch=<id>` with their disposition, and the keepers,
    * without it, go to `keep`. The split is null-safe: a gate built from
    * a `when()` chain with no `otherwise()` leaves a null disposition,
    * and those rows are rejects, never silent drops. The gate runs once
    * per batch: `judged` is persisted for its two readers and released
    * before the batch returns. */
  private def judgedStep(judged: DataFrame, rejectsDir: String,
      batchId: Long)(keep: Step): Unit =
    persisted(judged) { j =>
      j.filter(!(col("disposition") <=> "keep"))
        .write.mode("overwrite").parquet(s"$rejectsDir/batch=$batchId")
      keep(j.filter(col("disposition") <=> "keep").drop("disposition"), batchId)
    }

  private def persisted[T](df: DataFrame)(f: DataFrame => T): T = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    try f(p) finally p.unpersist(false)
  }

  /**
   * Streaming near-dup ingestion on the minhash index, the streaming
   * twin of `Dedup.incrementalNearDupPairs` + `buildMinhashIndex`: each
   * micro-batch of documents is deduplicated against everything ingested
   * before it (signatures come off the index; corpus text is never
   * re-read). The index uses the `batch=N/band=K` layout; don't mix it
   * with `buildMinhashIndex`'s flat `band=K` layout in one dir. With
   * `maintainEvery > 0`, every Nth batch executes
   * [[graft.operators.Dedup.maintainMinhashIndex]]'s by-cause
   * prescription: the targeted vacuum for tombstone mass, the full
   * compaction for fragmentation. The fragmentation trigger is
   * size-aware (fresh generations must carry `minCompactionGain` of the
   * compacted base's bytes), so a stream that maintains every batch pays
   * amortized-linear lifetime rewrite bytes.
   */
  def dedupIngest(docs: DataFrame, textCol: String, idCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      shingleK: Int = 5, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.8, maintainEvery: Int = 0): StreamingQuery =
    ingestStream(docs, checkpointDir, indexDir, "dedupIngest")(
      minhashStep(textCol, idCol, indexDir, pairsDir, shingleK, numHashes,
        bands, minJaccard, maintainEvery))

  /**
   * Streaming embedding near-dup ingestion: [[dedupIngest]] on the
   * embedding band index, for (id, vector) rows. The first batch is the
   * train step: it freezes the banding plan in the index's `_embplan`
   * ([[graft.operators.Similarity.ingestEmbeddingBatch]]), so it should
   * be representative, and that sidecar decides train vs append. The
   * maintenance ([[graft.operators.Similarity.maintainEmbeddingIndex]])
   * also watches plan drift and answers it with a reindex from the
   * index's own rows. Its occupancy-skew input is the one health input
   * that costs a data-path job, so it is off in-stream unless
   * `skewEvery = K > 0`, when every Kth maintenance window runs the
   * column-pruned (band, key) occupancy aggregate — catching a mix that
   * drifts anisotropic without count growth.
   */
  def embDedupIngest(vecs: DataFrame, vecCol: String, idCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      minCosine: Double = 0.95, bands: Int = 4, bitsPerBand: Int = 16,
      autoPlan: Boolean = true, targetOccupancy: Double = 2.0,
      maintainEvery: Int = 0, skewEvery: Int = 0,
      skewFactor: Double = 8.0): StreamingQuery =
    ingestStream(vecs, checkpointDir, indexDir, "embDedupIngest")(
      embStep(vecCol, idCol, indexDir, pairsDir, minCosine, bands,
        bitsPerBand, autoPlan, targetOccupancy, maintainEvery, skewEvery,
        skewFactor))

  /** One [[embDedupIngest]] micro-batch, gate included (package-private
    * so the crash-replay decision is testable). */
  private[graft] def embIngestBatchStep(df: DataFrame, vecCol: String,
      idCol: String, indexDir: String, pairsDir: String,
      minCosine: Double, bands: Int, bitsPerBand: Int, autoPlan: Boolean,
      targetOccupancy: Double, maintainEvery: Int, batchId: Long,
      skewEvery: Int = 0, skewFactor: Double = 8.0): Unit =
    swapChecked(indexDir, "embDedupIngest")(embStep(vecCol, idCol,
      indexDir, pairsDir, minCosine, bands, bitsPerBand, autoPlan,
      targetOccupancy, maintainEvery, skewEvery, skewFactor))(df, batchId)

  private def embStep(vecCol: String, idCol: String, indexDir: String,
      pairsDir: String, minCosine: Double, bands: Int, bitsPerBand: Int,
      autoPlan: Boolean, targetOccupancy: Double, maintainEvery: Int,
      skewEvery: Int, skewFactor: Double): Step = (df, batchId) =>
    bandStep(df.sparkSession, batchId, indexDir, pairsDir, maintainEvery,
      geometry = Some("_embplan")) { (prior, out, sink) =>
      Similarity.ingestEmbeddingBatch(df, vecCol, idCol, prior, out,
        minCosine, bands, bitsPerBand, autoPlan, targetOccupancy,
        pairsSink = sink)
    }(Similarity.maintainEmbeddingIndex(df.sparkSession, indexDir,
      skewFactor = skewFactor,
      // every skewEvery-th maintenance window (1-based) pays the data-path
      // occupancy input; the rest stay sidecar/listing-priced
      checkOccupancy = skewEvery > 0 &&
        (batchId + 1) / maintainEvery % skewEvery == 0))

  /**
   * Streaming perceptual-hash near-dup ingestion: [[dedupIngest]] on the
   * phash index, for media rows. Each batch is hashed once
   * ([[graft.multimodal.Multimodal.perceptualHash]]; the decode gate runs
   * inside the batch) and corpus payloads are never re-decoded — keys
   * and hashes come off the index. The 64-bit hash width is fixed and
   * the banding data-independent, so there is no plan to freeze and
   * batch order is free.
   */
  def phashIngest(assets: DataFrame, payloadCol: String, idCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      maxHamming: Int = 6, bands: Int = 4, maintainEvery: Int = 0)
      : StreamingQuery =
    ingestStream(assets, checkpointDir, indexDir, "phashIngest") {
      (df, batchId) =>
        val hashes = Multimodal.perceptualHash(df.select(
          col(idCol).cast("long").as("media_id"), lit("image").as("kind"),
          col(payloadCol).cast("binary").as("payload"),
          lit("stream").as("source")).as(Encoders.product[MediaAsset]))
        bandStep(df.sparkSession, batchId, indexDir, pairsDir,
          maintainEvery) { (prior, out, sink) =>
          PhashDedup.ingestPhashBatch(hashes, "media_id", "phash", prior,
            out, maxHamming, bands, pairsSink = sink)
        }(Dedup.maintainMinhashIndex(df.sparkSession, indexDir))
    }

  /**
   * Streaming audio near-dup ingestion: [[phashIngest]] on the
   * audio-fingerprint index. Each batch is fingerprinted once
   * ([[graft.multimodal.Multimodal.audioFingerprint]]; assets below the
   * minimum duration emit nothing), and corpus payloads are never re-read
   * — full fingerprint sequences come off the index's own rows. The
   * window/band geometry is data-independent, so batch order is free.
   */
  def audioIngest(assets: DataFrame, payloadCol: String, idCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      maxBitErrors: Int = 28, maintainEvery: Int = 0): StreamingQuery =
    ingestStream(assets, checkpointDir, indexDir, "audioIngest") {
      (df, batchId) =>
        val fps = Multimodal.audioFingerprint(df.select(
          col(idCol).cast("long").as(idCol),
          col(payloadCol).cast("binary").as(payloadCol)), payloadCol, idCol)
        bandStep(df.sparkSession, batchId, indexDir, pairsDir,
          maintainEvery) { (prior, out, sink) =>
          AudioDedup.ingestAudioBatch(fps, idCol, prior, out, maxBitErrors,
            pairsSink = sink)
        }(Dedup.maintainMinhashIndex(df.sparkSession, indexDir))
    }

  /**
   * [[dedupIngest]] behind a quality gate: `gate` adds a `disposition`
   * column (the composed first-failing-rule gate of `text_quality_gate`
   * is the canonical one); the rejects land with their reasons under
   * `rejectsDir/batch=<id>` and only the keepers feed the index.
   */
  def qualityGatedDedupIngest(docs: DataFrame,
      gate: DataFrame => DataFrame, textCol: String, idCol: String,
      indexDir: String, pairsDir: String, rejectsDir: String,
      checkpointDir: String, shingleK: Int = 5, numHashes: Int = 16,
      bands: Int = 4, minJaccard: Double = 0.8, maintainEvery: Int = 0)
      : StreamingQuery = {
    val keep = minhashStep(textCol, idCol, indexDir, pairsDir, shingleK,
      numHashes, bands, minJaccard, maintainEvery)
    ingestStream(docs, checkpointDir, indexDir, "qualityGatedDedupIngest") {
      (df, batchId) => judgedStep(gate(df), rejectsDir, batchId)(keep)
    }
  }

  /**
   * The streaming twin of the full [[graft.pipelines.Curation]] chain's
   * per-document stages: [[qualityGatedDedupIngest]] with the canonical
   * composed gate, plus decontamination against a static benchmark/eval
   * set — contaminated keepers land in rejects with disposition
   * "contaminated". The eval set reduces to its distinct word n-grams
   * once at stream start (GC-tracked eager checkpoint, benchmark-sized)
   * and broadcasts into each batch's semi-join. The gate's expression
   * tree (tokenize, repetition, language scores, PII regexes) is the
   * expensive part, so the gated frame is persisted too, for the
   * contaminated-id derivation and the judged join. The corpus-level
   * stages (survivor selection, mixture) stay scheduled batch jobs over
   * the accumulated index: they need global state a micro-batch cannot
   * see.
   */
  def curationIngest(docs: DataFrame, evalDocs: DataFrame,
      textCol: String, idCol: String,
      indexDir: String, pairsDir: String, rejectsDir: String,
      checkpointDir: String, shingleK: Int = 5, numHashes: Int = 16,
      bands: Int = 4, minJaccard: Double = 0.8, decontamN: Int = 5,
      maintainEvery: Int = 0): StreamingQuery = {
    val evalGrams = Decontaminate.evalGramSet(evalDocs, textCol, decontamN)
      .localCheckpoint(true)
    val keep = minhashStep(textCol, idCol, indexDir, pairsDir, shingleK,
      numHashes, bands, minJaccard, maintainEvery)
    ingestStream(docs, checkpointDir, indexDir, "curationIngest") {
      (df, batchId) => persisted(Curation.withDisposition(df, textCol)) { gated =>
        val contaminated = Decontaminate.contaminatedIdsAgainstGrams(
          gated.filter(col("disposition") === "keep"), evalGrams, textCol,
          idCol, decontamN).withColumn("__cont", lit(1))
        judgedStep(gated.join(contaminated, Seq(idCol), "left")
          .withColumn("disposition", when(col("__cont") === 1 &&
            col("disposition") === "keep", "contaminated")
            .otherwise(col("disposition")))
          .drop("__cont"), rejectsDir, batchId)(keep)
      }
    }
  }

  /** The ANN families' micro-batch. An empty batch is skipped outright.
    * Geometry, not data, decides `build` vs `append`: a build writes its
    * `geometry` sidecars after the data, so data without all of them is
    * an interrupted train whose checkpoint never committed — the
    * replaying batch re-trains (mode overwrite) instead of handing
    * `append` a tree it fails closed on. An exact replay (data and
    * geometry present, stamp == this lineage and id) is skipped; the id
    * comparison is deliberately `==`, so ids that restart append (a
    * possible duplicate) rather than being skipped (a loss), and a stamp
    * without index data is stale and never suppresses a first batch.
    * `maintain` runs on the cadence, on the replay path too. The stamp
    * is written last and always: a maintenance swap replaces the whole
    * directory, stamp included, so only a later stamp survives it, and
    * re-stamping a skipped replay keeps a second replay skipping. */
  private def annStep(df: DataFrame, batchId: Long, indexDir: String,
      lineage: String, op: String, geometry: Seq[String],
      maintainEvery: Int)(build: => Unit, append: => Unit,
      maintain: => Seq[String]): Unit =
    if (!df.isEmpty) {
      val fs = IndexStore.fsOf(df.sparkSession, indexDir)
      val hasData = IndexStore.hasData(fs, indexDir)
      val trained = hasData &&
        geometry.forall(g => fs.exists(new Path(s"$indexDir/$g")))
      if (trained && batchId >= 0 &&
        lastStampedBatch(fs, indexDir).contains((lineage, batchId)))
        System.err.println(s"[streams] $op($indexDir) batch $batchId " +
          "replayed after its writes landed — skipping it.")
      else if (trained) append
      else {
        if (hasData) System.err.println(s"[streams] $op($indexDir): data " +
          s"without ${geometry.mkString(" + ")} — an interrupted train; " +
          "re-training from the replaying batch.")
        build
      }
      maintainAt(indexDir, batchId, maintainEvery)(maintain)
      stampBatch(fs, indexDir, batchId, lineage)
    }

  /**
   * Continuous ANN-index ingest into a persisted LSH index. The first
   * non-empty batch builds it ([[graft.operators.AnnIndex.buildLsh]], the
   * FAISS "train" step: its auto-plan freezes bits/family/groups in the
   * `_plan` sidecar), and every later batch rides
   * [[graft.operators.AnnIndex.appendLsh]] under that frozen geometry,
   * so the stream never re-shuffles the accumulated corpus. Probes read
   * the same directory between batches. appendLsh's occupancy-drift WARN
   * is the rebuild signal as the corpus outgrows the first batch's plan;
   * with `maintainEvery > 0` the stream answers it through
   * [[graft.operators.AnnIndex.maintainIndex]]: reindexLsh on drift
   * (re-planned at the grown count from the index's own rows), else a
   * compaction of the small files appends create. At 0 the stream only
   * WARNs, and train-then-add wants a representative first batch.
   */
  def annIngest(vecs: DataFrame, vecCol: String, idCol: String,
      indexDir: String, checkpointDir: String, dims: Int = 64,
      maintainEvery: Int = 0, targetCosine: Double = 0.9,
      targetOccupancy: Double = 2.0): StreamingQuery =
    ingestStream(vecs, checkpointDir, indexDir, "annIngest")(
      lshStep(vecCol, idCol, indexDir, dims, maintainEvery, targetCosine,
        targetOccupancy, checkpointLineage(checkpointDir)))

  /** One [[annIngest]] micro-batch, gate included (package-private so
    * the replay guard is testable without crashing a real query between
    * its commit points). */
  private[graft] def ingestAnnBatch(df: DataFrame, vecCol: String,
      idCol: String, indexDir: String, dims: Int, maintainEvery: Int,
      targetCosine: Double, targetOccupancy: Double, batchId: Long,
      lineage: String): Unit =
    swapChecked(indexDir, "annIngest")(lshStep(vecCol, idCol, indexDir,
      dims, maintainEvery, targetCosine, targetOccupancy, lineage))(df, batchId)

  private def lshStep(vecCol: String, idCol: String, indexDir: String,
      dims: Int, maintainEvery: Int, targetCosine: Double,
      targetOccupancy: Double, lineage: String): Step = (df, batchId) =>
    annStep(df, batchId, indexDir, lineage, "annIngest", Seq("_plan"),
      maintainEvery)(
      build = AnnIndex.buildLsh(df, vecCol, idCol, indexDir, dims = dims),
      append = AnnIndex.appendLsh(df, vecCol, idCol, indexDir),
      maintain = AnnIndex.maintainIndex(df.sparkSession, indexDir,
        targetCosine = targetCosine, targetOccupancy = targetOccupancy))

  /**
   * The composite (IVF-PQ) twin of [[annIngest]]: the codes-only
   * footprint (~m bytes/vector, cell-partitioned) is the variant that
   * still fits cluster storage when raw vectors don't. The first
   * non-empty batch trains the quantizers
   * ([[graft.operators.AnnIndex.buildIvfPq]]: coarse cells and
   * per-subspace codebooks freeze in `_centroids`/`_codebooks`), and
   * every later batch rides [[graft.operators.AnnIndex.appendIvfPq]]
   * under that frozen geometry. The build and appends grow a `_sample`
   * raw-vector reservoir, so the in-stream maintenance retrains on
   * drift or staleness from it
   * ([[graft.operators.AnnIndex.reindexIvfPqFromReservoir]]). A micro-
   * batch never poses as the training corpus: on a legacy
   * reservoir-less index maintenance reports the reindex as skipped
   * while the cheap repairs run — schedule `reindexIvfPq(corpus, ...)`
   * as a batch job when that report fires.
   */
  def annIngestIvfPq(vecs: DataFrame, vecCol: String, idCol: String,
      indexDir: String, checkpointDir: String, nCells: Int = 16,
      m: Int = 8, quantizer: String = "sign", autoPlan: Boolean = true,
      maintainEvery: Int = 0, targetCellRows: Long = 4096L)
      : StreamingQuery =
    ingestStream(vecs, checkpointDir, indexDir, "annIngestIvfPq")(
      ivfPqStep(vecCol, idCol, indexDir, nCells, m, quantizer, autoPlan,
        maintainEvery, targetCellRows, checkpointLineage(checkpointDir)))

  /** One [[annIngestIvfPq]] micro-batch, gate included (package-private
    * for the same replay-guard testability). */
  private[graft] def ingestAnnIvfPqBatch(df: DataFrame, vecCol: String,
      idCol: String, indexDir: String, nCells: Int, m: Int,
      quantizer: String, autoPlan: Boolean, maintainEvery: Int,
      targetCellRows: Long, batchId: Long, lineage: String): Unit =
    swapChecked(indexDir, "annIngestIvfPq")(ivfPqStep(vecCol, idCol,
      indexDir, nCells, m, quantizer, autoPlan, maintainEvery,
      targetCellRows, lineage))(df, batchId)

  private def ivfPqStep(vecCol: String, idCol: String, indexDir: String,
      nCells: Int, m: Int, quantizer: String, autoPlan: Boolean,
      maintainEvery: Int, targetCellRows: Long, lineage: String): Step =
    (df, batchId) =>
      annStep(df, batchId, indexDir, lineage, "annIngestIvfPq",
        Seq("_centroids", "_codebooks"), maintainEvery)(
        build = AnnIndex.buildIvfPq(df, vecCol, idCol, indexDir,
          nCells = nCells, m = m, quantizer = quantizer,
          autoPlan = autoPlan, targetCellRows = targetCellRows),
        append = AnnIndex.appendIvfPq(df, vecCol, idCol, indexDir,
          targetCellRows = targetCellRows),
        maintain = AnnIndex.maintainIndex(df.sparkSession, indexDir,
          targetCellRows = targetCellRows))

  /** The replay guard's checkpoint-lineage token. Batch ids mean
    * something only within one checkpoint's history: a fresh checkpoint
    * pointed at an existing index restarts ids at 0, and an id-only
    * stamp of 0 would skip its batch 0 as already applied — a silent
    * loss. A restart of the same query resumes the same
    * checkpointLocation and keeps the lineage; a fresh checkpoint (new
    * dir, or the old one cleared) mismatches, and the guard degrades to
    * a duplicate append. */
  private def checkpointLineage(checkpointDir: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(checkpointDir)}%08x"

  /** The `_stream_batch` sidecar's last applied (lineage, batch id), or
    * None when absent, unreadable or a legacy id-only stamp — the guard
    * then does not skip, the safe direction. */
  private def lastStampedBatch(fs: FileSystem,
      indexDir: String): Option[(String, Long)] = scala.util.Try {
    val in = fs.open(new Path(s"$indexDir/_stream_batch"))
    val stamp = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    stamp.trim.split(":", 2) match { case Array(lin, id) => (lin, id.toLong) }
  }.toOption

  private def stampBatch(fs: FileSystem, indexDir: String, batchId: Long,
      lineage: String): Unit = {
    val out = fs.create(new Path(s"$indexDir/_stream_batch"), true)
    try out.write(s"$lineage:$batchId".getBytes("UTF-8")) finally out.close()
  }

  /**
   * The streaming tail of the keep_na lifecycle
   * (KEEP_NA_ROSTER_SECOND_IN_PROGRESS.Rmd:699-765): the "expired"
   * outcomes flowing out of [[keepNaRetry]]'s 60-day event-time timeout
   * are re-hydrated with their roster columns (stream-static join on the
   * key against the pending-records state table) and annotated with the
   * reasons they could not roster —
   * [[graft.pipelines.KeepNaRefresh.annotateExpiry]]'s condition_1..3
   * united into NOTES. Everything after the state machine is stateless
   * (left joins against static distinct-key frames), so the composition
   * stays append-mode legal; the snapshot key projections are resolved
   * per micro-batch like [[keepNaRefreshStream]]'s, picking up snapshot
   * swaps without a restart.
   */
  def keepNaExpiryNotes(outcomes: Dataset[PendingOutcome],
      records: DataFrame, keyCol: String, wdrsEnt: DataFrame,
      gisaidMeta: DataFrame, cdcCumulative: DataFrame,
      cdcLabs: Seq[String]): DataFrame = {
    val expired = outcomes.filter(col("outcome") === "expired")
      .select(col("key"), col("ageDays"))
    graft.pipelines.KeepNaRefresh.annotateExpiry(
      expired.join(records, expired("key") === records(keyCol), "left")
        // the static side's key column would shadow the stream's `key`
        // in every downstream reference — drop it at the seam
        .drop(records(keyCol)),
      wdrsEnt, gisaidMeta, cdcCumulative, cdcLabs)
  }

  /**
   * Batch-mode semantic twin of [[keepNaRetry]] used for oracle checks
   * (SURVEY §1.6: batch jobs over state tables are the recommended
   * cadence-parity port): given the pending state table and today's match
   * feed, produce matched / expired / still-pending partitions.
   */
  def keepNaBatch(pending: DataFrame, matches: DataFrame, keyCol: String,
      runDate: org.apache.spark.sql.Column, retentionDays: Int = 60): DataFrame = {
    val m = matches.select(col(keyCol).as("__mkey")).distinct()
    pending
      .join(m, pending(keyCol) === col("__mkey"), "left")
      .withColumn("age_days", datediff(runDate, col("first_seen")))
      .withColumn("outcome",
        when(col("__mkey").isNotNull, "matched")
          .when(col("age_days") > retentionDays, "expired")
          .otherwise("pending"))
      .drop("__mkey")
  }
}
