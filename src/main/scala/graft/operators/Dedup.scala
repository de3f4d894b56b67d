package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/**
 * Deduplication operators for 100 TB-scale corpora. All variants avoid the
 * O(n^2) cross product: exact dedup is a hash aggregation; near-dup variants
 * generate candidate pairs only within LSH buckets / fingerprint groups, so
 * the shuffle key is the bucket id and the pair expansion happens
 * per-bucket (AQE handles skewed buckets).
 */
object Dedup {

  /**
   * Materialize `result` eagerly and release the operator's persisted
   * intermediates — the cache stays scoped to the operator call instead of
   * leaking into the shared session. `localCheckpoint` persists at the RDD
   * level, where blocks are reference-tracked and cleaned by the
   * ContextCleaner once the frame is garbage-collected; a CacheManager
   * entry (what `Dataset.persist` creates) lives until an explicit
   * unpersist/clearCache, so a driver looping over corpora would
   * accumulate them until the storage pool OOMs.
   */
  private[operators] def materializeAndRelease(result: DataFrame, scoped: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    scoped.foreach(_.unpersist(false))
    out
  }

  /** Materialize a micro-batch's deduped pairs (r19, guide §1.2). The
    * streaming cadence passes its per-batch pairs directory and the
    * parquet WRITE is the eager action — ONE job where the old shape
    * paid two (localCheckpoint, then the stream's separate re-write of
    * every checkpointed partition as its own file; the direct write is
    * AQE-sized, so the accumulated pairs tree also holds ~one file per
    * batch instead of the checkpoint's full partition count). Batch
    * callers pass None and keep the GC-tracked checkpoint. Either way
    * the pairs materialize BEFORE the caller writes the batch's index
    * partition, and the returned frame is safe to consume after that
    * write: sink mode re-reads the written directory under its known
    * schema — never the live plan, which by then would see the batch's
    * own rows through the index. That re-read is lazy, so the frame is
    * valid only until the sink directory is next overwritten (see the
    * ingest verbs' `pairsSink`). */
  private[graft] def materializePairs(pairs: DataFrame,
      pairsSink: Option[String]): DataFrame = {
    val deduped = pairs.distinct()
    pairsSink match {
      case Some(dir) =>
        deduped.write.mode("overwrite").parquet(dir)
        deduped.sparkSession.read.schema(deduped.schema).parquet(dir)
      case None => deduped.localCheckpoint(true)
    }
  }

  /**
   * Candidate pairs from a bucket table `(keyCols..., id)`: streamed skinny
   * self-join on the bucket key, ordered-pair filter, distinct.
   *
   * Why a JOIN and not collect_list + in-row pair expansion: a giant
   * near-dup clique (template corpora produce buckets of 10^4-10^6 docs)
   * turns the collected array into ONE row carrying C(s,2) structs — an
   * executor-OOM at scale and a single-task serialization point. The
   * self-join streams the same cross product through sort-merge machinery
   * row by row, and AQE's skew-join split handles hot keys by splitting
   * one side. Rows are (key, id) only — bytes stay proportional to the
   * candidate count, never to a bucket's square in memory.
   */
  /** Spread a NARROW input across the session's full width before a
    * CPU-heavy per-row chain (canon/shingle/minhash, simhash, token
    * sort) — but only when the input is actually narrower than the
    * session parallelism. At bench/local scale a single-file parquet
    * table reads as 1-2 partitions and the chain would otherwise run
    * nearly single-threaded (AQE's byte-based coalescing would shrink
    * an un-numbered repartition right back — CPU-heavy but byte-light);
    * at 100 TB the scan already yields thousands of byte-balanced
    * splits and the old unconditional repartition was a full shuffle of
    * the corpus TEXT for nothing (guide §2.4: remove shuffles outright;
    * §2.3: never shuffle the heavy payload to make a placement
    * decision). `.rdd.getNumPartitions` is plan-time only — no job. */
  private[operators] def spreadIfNarrow(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df
    else df.repartition(par, keys: _*)
  }

  private[operators] def bucketPairs(banded: DataFrame, keyCols: Seq[String]): DataFrame = {
    val a = banded.select(keyCols.map(col) :+ col("id").as("id_a"): _*)
    val b = banded.select(keyCols.map(col) :+ col("id").as("id_b"): _*)
    a.join(b, keyCols)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      // explicit partition count for the downstream verify join: the pair
      // rows are byte-light (16 bytes) but the per-pair verify is
      // CPU-heavy, and AQE's byte-based coalescing would shrink the
      // exchange to a handful of partitions (observed: 8 of 32 cores busy
      // in the Jaccard verify). The join key downstream is id_a, so this
      // exchange is reused by the verify join.
      //
      // Repartition BEFORE the distinct (r19, guide §2.4): hash
      // partitioning on id_a co-locates every (id_a, id_b) duplicate,
      // so the distinct satisfies its clustering requirement from this
      // one exchange instead of adding its own — the old
      // distinct-then-repartition shape shuffled the candidate mass
      // TWICE (once on (id_a, id_b) for the distinct, once on id_a for
      // the verify width; map-side partial dedup caught ~nothing since
      // a multi-band duplicate's copies live in different band
      // partitions). Same rows out, same output partitioning, one
      // exchange and strictly fewer shuffled bytes.
      .repartition(banded.sparkSession.sparkContext.defaultParallelism, col("id_a"))
      .distinct()
  }

  /**
   * Exact dedup, deterministic keep-first: survivor per content fingerprint
   * is the row with the smallest tie-break key (SURVEY A10 — R's
   * order-dependent `distinct(.keep_all=TRUE)` made deterministic with
   * row_number, SURVEY §7.4#2).
   */
  def exactDedup(df: DataFrame, contentCol: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(md5(contentCol.cast("binary"))).orderBy(tieBreak)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Exact near-dup at the canonical-form level: same text modulo case,
   * punctuation and whitespace. Returns (fingerprint, n_docs, keep_id) per
   * duplicate group.
   */
  def fingerprintGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Soft dedup's own draw multiplier (sha-256 iv word — public,
    * Knuth-independent, vetted by the Mixture.EpochMult relation-search
    * + simulation procedure). */
  val SoftDedupMult: Long = 1779033703L

  /**
   * Soft (probabilistic) exact dedup: every member of a duplicate cluster
   * survives with probability 1/n, so each distinct canonical text
   * contributes ONE copy in expectation — the "downweight, don't delete"
   * alternative to [[exactDedup]] (cf. the repeated-epoch analyses of
   * Muennighoff et al. 2023: hard dedup changes the corpus distribution;
   * expected-one-copy sampling preserves it while still removing
   * duplicate mass). Unique documents (n = 1) are ALWAYS kept — the id
   * hash lies in [0, 1) — so soft dedup never loses content, and
   * membership is the deterministic [[Mixture.idHashUnit]] id hash, not
   * an RNG: the same doc makes the same keep decision across runs,
   * repartitions and engines.
   *
   * Scale shape: cluster sizes come from a map-side-combining count
   * aggregate (output rows = distinct texts), joined back on the
   * fingerprint — a shuffle equi-join AQE can skew-split when one
   * boilerplate page has millions of copies. A window over the
   * fingerprint could NOT: the hottest cluster would pin a single task.
   * The keep test `idHashUnit(id, SoftDedupMult) < 1.0/n` is
   * engine-replayable (integer-exact hash, correctly-rounded IEEE
   * division). The draw uses its OWN hash multiplier so survivors'
   * default-hash values stay uniform: a same-hash draw would leave
   * every survivor with hash < 1/n, and any downstream default-hash
   * `hash < f` sampler (split, weight sample) would then select
   * survivors with probability ~min(1, f·n) instead of f — train/test
   * splits would never put a dedup survivor in val/test. See
   * Mixture.idHashUnit for why independence needs a distinct
   * multiplier, not an additive salt.
   *
   * NULL text fingerprints to NULL and the inner join drops the row —
   * the same semantics as [[fingerprintGroups]]'s oracle (SQL equi-joins
   * never match NULL keys), spec-pinned so it can't drift.
   *
   * @return kept rows: (idCol, fp, n_docs)
   */
  def softDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
    val sizes = withFp.groupBy("fp").agg(count(lit(1)).as("n_docs"))
    withFp.join(sizes, "fp")
      .filter(Mixture.idHashUnit(col(idCol), SoftDedupMult) < lit(1.0) / col("n_docs"))
      .select(col(idCol), col("fp"), col("n_docs"))
  }

  /**
   * MinHash+LSH near-duplicate candidate pairs: shingle -> minhash signature
   * -> band keys -> self-join per band bucket -> verified Jaccard over the
   * shingle sets. The self-join key is (band index, band key), so only
   * documents agreeing on a full band collide; the verify step prunes false
   * positives. Scale shape: one shuffle on the band key; bucket sizes are
   * ~collision counts, not corpus size.
   */
  def minhashNearDupPairs(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.8, cacheShingles: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    // Each stage materializes its intermediate as a column: the canonical
    // text, shingle set, and signature are attributes by the time a lambda
    // or repeated reference consumes them, so nothing re-evaluates per
    // array element (the inlined-expression-in-lambda trap).
    //
    // Spread-if-narrow first (see [[spreadIfNarrow]]): the signature
    // computation is the CPU-heavy part and runs BEFORE any shuffle — a
    // small parquet input (single row group) would otherwise pin the
    // whole minhash pass on one core. At 100 TB the input arrives
    // pre-partitioned and the old UNCONDITIONAL repartition was a full
    // shuffle of the corpus text; now it only fires on narrow inputs.
    val shingled0 = spreadIfNarrow(docs
        .select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"), canonicalText(col(textCol)).as("__canon"))
      .select(col("id"),
        array_distinct(charShinglesCanon(col("__canon"), shingleK)).as("shingles"))
    // The shingle table feeds THREE consumers (band keys + both sides of
    // the verify join). Recomputing the canon+shingle pipeline per
    // consumer measured FASTER here than caching it (columnar cache build
    // on millions of short strings costs more than the regex+slice
    // recompute) — so default off; cacheShingles=true is for corpora
    // where text normalization dominates (heavy regexes, long docs).
    val shingled =
      if (cacheShingles)
        shingled0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else shingled0
    val withSig = shingled
      .withColumn("sig", minhashSignature(col("shingles"), numHashes))
      .withColumn("bandkeys", minhashBandKeys(col("sig"), bands, rows))
      .drop("sig")
    // posexplode_OUTER: the non-outer generate gets an inferred
    // `size(bandkeys) > 0` filter (InferFiltersFromGenerate) which predicate
    // pushdown re-expands through the aliases into the FULL signature
    // pipeline and pushes below the repartition — re-running the whole
    // minhash chain single-partition at the scan. bandkeys is never
    // null/empty, so outer is semantically identical and keeps the plan
    // clean of the inferred filter.
    //
    // Pair generation: streamed skinny self-join per bucket (see
    // bucketPairs), then join the shingle sets back and verify Jaccard
    // with the work hash-distributed BY PAIR. Collecting shingles into
    // buckets and verifying in-bucket would serialize a hot bucket into
    // one task (a 747-doc bucket = 278k Jaccards on one core).
    val exploded = withSig
      .select(col("id"), posexplode_outer(col("bandkeys")).as(Seq("band", "key")))
    val idPairs = bucketPairs(exploded, Seq("band", "key"))
    val sa = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    val pairs = idPairs
      .join(sa, Seq("id_a"))
      .join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    // when the shingle table was cached, scope that cache to this call:
    // materialize the (small) pair result and drop the corpus-sized cache
    if (cacheShingles) materializeAndRelease(pairs, shingled) else pairs
  }

  /**
   * SimHash near-dup: 60-bit simhash over the token stream, banded into
   * `bands` sub-bands of bits/bands bits each (default 4 x 15 bits = 32768
   * buckets per band). By pigeonhole, any pair at hamming <= bands-1 agrees
   * exactly on at least one full sub-band, so for maxHamming < bands the
   * result is EXACTLY all pairs with hamming(simhash) <= maxHamming — the
   * DuckDB oracle asserts that via a brute-force pair scan.
   *
   * Scale shape: bucket count grows with the key width (2^15 per band, not
   * the fixed 256 of an 8-bit key), buckets collect IDs ONLY, and the
   * verify work is redistributed hash-by-pair — a hot bucket never
   * serializes into one task (same construction as minhashNearDupPairs).
   */
  def simhashNearDupPairs(
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bits: Int = 60, bands: Int = 4): DataFrame = {
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming=$maxHamming < bands=$bands")
    val rb = bits / bands
    val sh = spreadIfNarrow(docs
        // spread-if-narrow: full width for the CPU-heavy hash work on
        // narrow local inputs, NO text shuffle on pre-partitioned
        // corpora (see [[spreadIfNarrow]])
        .select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), simhash(col("__toks"), bits).as("simhash"))
    // band keys, outer generate (no inferred size()>0 filter pushdown)
    val banded = sh.select(col("id"), posexplode_outer(
      array((0 until bands).map { b =>
        shiftright(col("simhash"), b * rb).bitwiseAND(lit((1L << rb) - 1))
      }: _*)).as(Seq("band", "key")))
    val idPairs = bucketPairs(banded, Seq("band", "key"))
    val a = sh.select(col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("simhash").as("sh_b"))
    idPairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * N-gram (token-set) Jaccard near-dup. Three ideas keep this
   * 100-TB-shaped even on near-clique corpora:
   *
   * 1. DISTINCT-SET COLLAPSE: docs are grouped by their canonical (sorted,
   *    distinct) token set first; candidate generation and the Jaccard
   *    verify run once per distinct set pair, and member joins expand the
   *    verdicts back to doc pairs at the end. Exact-duplicate mass (the
   *    dominant mass in template/boilerplate corpora) costs one group row
   *    instead of a quadratic pair fan-out of verifies.
   * 2. ADAPTIVE BLOCKING, chosen by collected statistics (CBO-style; ONE
   *    tiny rollup aggregate to the driver — see the stats job below):
   *    - prefix filter (SSJoin/PPJoin): tokens ordered by global document
   *      frequency, first n - ceil(t*n) + 1 rarest tokens become blocking
   *      keys. Recall-complete; ideal for large-vocab corpora where
   *      prefixes are selective.
   *    - size-banded all-pairs: every set pairs with sets of size in
   *      [floor(t*n), n] via an exploded size key (salted — the size-key
   *      space is dozens of values). Ideal for SMALL-vocab / dense
   *      corpora where every token is common and prefixes degenerate
   *      (observed: 31-token vocab made the prefix join produce 27x more
   *      rows than all distinct-set pairs).
   *    Both are recall-complete for Jaccard >= t, so the choice affects
   *    cost only, never the answer.
   * 3. SORTED-MERGE VERIFY: sets are held sorted (the canonical form), so
   *    the per-pair Jaccard is a zero-allocation merge scan
   *    ([[graft.functions.SortedJaccard]]) instead of a hash-set build.
   *
   * The exact size bound min(|A|,|B|) >= t*max(|A|,|B|) (implied by
   * Jaccard >= t) is applied as a post-filter in DOUBLE arithmetic in both
   * paths — the same expression the DuckDB oracle evaluates — while the
   * size-band expansion uses a conservative floor() lower bound, so float
   * rounding can never drop a pair the oracle keeps.
   *
   * Cache lifecycle: the two persisted intermediates (keyed corpus
   * projection, distinct-set table) are SCOPED TO THIS CALL — the SMALL
   * set-level tables (verified set pairs, skey->id membership) are
   * materialized eagerly as GC-tracked local checkpoints, both persists
   * are released before returning, and only the cheap member-expansion
   * joins stay lazy. Repeated calls in a shared session leave nothing in
   * the CacheManager, and the (potentially huge) doc-pair expansion is
   * never round-tripped through block storage.
   *
   * Width contract: at large estimated candidate volume the wide stages
   * (prefix join, positional-filtered candidate stream, verify join) are
   * EXPLICITLY repartitioned to the stats-derived width — see the
   * identical note on [[connectedComponents]]; no session conf is
   * touched (round 13), so concurrent callers on one session are safe.
   *
   * @param blocking "auto" (statistics-based), "prefix", or "size".
   */
  def ngramJaccardPairs(
      docs: DataFrame, textCol: String, idCol: String,
      minJaccard: Double = 0.6, blocking: String = "auto"): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val prepared = spreadIfNarrow(docs
        // spread-if-narrow (see [[spreadIfNarrow]]): no corpus-text
        // shuffle when the scan is already wide
        .select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"), sort_array(array_distinct(tokens(col(textCol)))).as("toks"))
      .filter(size(col("toks")) > 0)
    // canonical content key of the sorted set; to_json is unambiguous for
    // arbitrary token bytes (a joined-string key would confuse
    // ["ab"] with ["a","b"])
    // BINARY 16-byte key (unhex of the md5 hex), not the 32-char hex
    // string: the key rides every candidate shuffle, both sides of the
    // verify join, and the eager set-pair checkpoint — at the round-11
    // 30x slope corpus the verified pair set is ~89M rows and hex-string
    // keys alone put the checkpoint past the storage pool (measured 3x
    // per-pair slowdown from the spill cliff); binary halves the key
    // bytes everywhere and compares with the same unsigned-lexicographic
    // order, so the skey_a < skey_b pair canonicalization is unchanged.
    // Persisted: the member-expansion joins and the group table each
    // traverse this corpus-wide projection (5 consumers) — without the
    // cache every consumer re-runs the scan+tokenize pipeline, and the
    // statistics action below is a separate job, so shuffle reuse can't
    // help across the boundary. MEMORY_AND_DISK: spills, never recomputes.
    val keyed = prepared
      .withColumn("skey", unhex(md5(to_json(col("toks")).cast("binary"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = keyed.select(col("skey"), col("id"))
    // groups / prefix construction moved BELOW the statistics pass
    // (round 13): the wide stages carry their stats-derived shuffle
    // width as explicit repartitions now, so their plans can only be
    // assembled once the estimates exist. Everything is lazy — only
    // `keyed` is consumed by the stats job, so the reorder changes no
    // execution order.

    // Candidate-count estimates; only a handful of rows reach the
    // driver. ONE rollup job over the keyed table yields both the
    // size histogram (distinct sets per set size) and the vocabulary
    // size: grouping keys are tiny (dozens of sizes + the grand-total
    // row), so map-side partial aggregation collapses each task's
    // output to a few HLL sketches and the shuffle is a few KB. The
    // previous design needed the full skey shuffle (groups) plus a
    // second df-join + per-set-window pass for the exact prefix
    // estimate — ~1.5s of wall-clock spent serially ahead of the main
    // job at sf0.1. approx_count_distinct (~2% error) is fine: the
    // stats only PICK a plan and SIZE its shuffles, and both plans are
    // recall-complete, so estimation error affects cost, never the
    // answer. The rollup now runs for FORCED arms too — the candidate
    // estimate also drives the shuffle width below.
    val statRows = keyed
      .select(col("skey"), size(col("toks")).as("n"), explode(col("toks")).as("tok"))
      .rollup("n")
      .agg(approx_count_distinct(col("skey")).as("g"),
        approx_count_distinct(col("tok")).as("v"))
      .collect()
    val hist = statRows.filter(!_.isNullAt(0))
      .map(r => (r.getInt(0), r.getLong(1)))
    val vocab = statRows.find(_.isNullAt(0)).map(_.getLong(2)).getOrElse(1L).max(1L)
    // BigInt accumulation: a corpus with a few dominant set sizes puts
    // counts ~1e9+ in the histogram, and a Long product would wrap
    // negative — passing the threshold test and selecting the dense
    // path exactly where it is quadratically catastrophic.
    val denseEst = (for {
      (na, ca) <- hist; (nb, cb) <- hist
      if nb <= na && math.min(na, nb) >= minJaccard * math.max(na, nb)
    } yield BigInt(ca) * BigInt(cb)).sum
    // closed-form prefix-cost model instead of a second stats job:
    // P = total prefix entries (from the histogram), and under a
    // uniform token-frequency assumption the prefix join produces
    // ~ sum_tok (P/V)^2 * V = P^2 / V rows. Rarest-first prefix
    // selection makes real collisions strictly SMALLER than the
    // uniform model, so this over-estimates prefix cost — it can
    // only mis-choose toward the size path, never pick a
    // degenerate prefix plan (cost-only decision either way).
    val prefixEntries = hist.map { case (n, c) =>
      BigInt(c) * (n - math.ceil(minJaccard * n).toLong + 1).max(1L)
    }.sum
    val prefixEst = prefixEntries * prefixEntries / BigInt(vocab)
    val usePrefix = blocking match {
      case "prefix" => true
      case "size"   => false
      case _ =>
        if (denseEst <= BigInt(250000L) * par) false
        else prefixEst <= denseEst
    }

    // Shuffle width scales with the ESTIMATED candidate volume — the
    // round-11 slope lesson (the connectedComponents fix's sibling): at
    // a fixed session width, per-task candidate state (the dedup
    // aggregate, the verify sort) grows linearly with the corpus. The
    // 30x slope decomposition measured the candidate dedup DOMINANT
    // (443M raw -> 115M distinct pairs, ~105 s of a 181 s arm), which
    // also motivated fusing the dedup onto the verify's partitioning
    // below (one wide shuffle instead of two). ~2M estimated candidates
    // per task keeps the per-task working set flat at any scale; the
    // estimate is a deliberate over-estimate (see the prefix-cost model
    // above) and overshooting costs only task overhead.
    //
    // The width rides EXPLICIT repartitions on the wide stages (round
    // 13; previously a scoped session-conf set/restore a concurrent or
    // deferred caller could observe — see the identical note on
    // connectedComponents): each token-mass or pair-mass exchange below
    // is either pinned directly (`w`) or aligned by EnsureRequirements
    // to a pinned sibling, which shuffles an unpartitioned join side to
    // the satisfied side's partition count. The set-cardinality
    // aggregations (groups, dfreq) stay at session width on purpose:
    // their reduce state is set-count-sized — small at any corpus that
    // fits the estimates — and pre-repartitioning them would forfeit
    // the map-side partial aggregation that collapses exact-duplicate
    // mass before the shuffle.
    val sessionParts =
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val chosenEst = if (usePrefix) prefixEst else denseEst
    val wideParts = math.max(sessionParts,
      (chosenEst / 2000000L + 1).min(BigInt(2048)).toInt)
    val wide = wideParts > sessionParts
    def w(df: DataFrame, keys: Column*): DataFrame =
      if (wide) df.repartition(wideParts, keys: _*) else df

    // one row per distinct token set; persisted because the statistics
    // jobs below and the final plan each traverse it (the CBO-stats
    // amortization — without it every consumer re-reads the corpus)
    val groups = keyed.groupBy("skey")
      .agg(first(col("toks")).as("toks"), count(lit(1)).as("cnt"))
      .withColumn("n", size(col("toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // prefix table (linear work): global token document frequency over
    // DISTINCT SETS, rarest-first order, keep the prefix per set
    val tokSets = groups.select(col("skey"), col("n"), explode(col("toks")).as("tok"))
    val dfreq = tokSets.groupBy("tok").agg(count(lit(1)).as("df"))
    // Position of each prefix token within the set's FULL (df, tok)-
    // ordered token list rides along (`p`): the candidate join's
    // positional filter below needs it. (df, tok) is a strict total
    // order (tokens are distinct within a set), identical across sets.
    // Both token-mass stages are width-pinned when wide: the df join by
    // tok, then the per-set window by skey (the window reuses the
    // explicit skey partitioning, so no second exchange).
    val prefix = w(w(tokSets, col("tok")).join(dfreq, Seq("tok")), col("skey"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("skey")).orderBy(col("df"), col("tok"))))
      .filter(col("__rn") <= col("n") - ceil(lit(minJaccard) * col("n")) + 1)
      .select(col("tok"), col("skey"), col("n"), col("__rn").as("p"))

    val (setPairsCk, membersCk) = {
    val sizeOk = least(col("n_a"), col("n_b")) >=
      lit(minJaccard) * greatest(col("n_a"), col("n_b"))
    // Fuse the candidate dedup onto the verify's partitioning ONLY when
    // the stats say the candidate volume is big (the same signal that
    // widens the shuffles): a pair sharing k prefix tokens is generated
    // k times (~3.9x at the 30x slope corpus — 443M raw rows for 115M
    // distinct pairs). At scale, duplicates of a pair come from
    // DIFFERENT tokens living in different map partitions, so distinct's
    // map-side partial aggregation collapses almost nothing and its
    // reduce shuffle carries the raw volume ANYWAY — then the verify
    // re-shuffles the survivors: two big shuffles. Fused: one wide
    // repartition of the raw stream by skey_a, then dropDuplicates —
    // HashPartitioning(skey_a) satisfies the aggregate's clustering
    // requirement ([skey_a] ⊆ [skey_a, skey_b]), so the dedup runs
    // exchange-free on top and the verify join reuses the partitioning
    // (measured 181 -> ~145 s on the 30x arm). On a SMALL corpus the
    // trade inverts — few tokens means same-pair duplicates DO meet in
    // one map partition, partial agg collapses them pre-shuffle, and the
    // fused shape ships the raw stream instead (measured 1.7 -> 3.7 s at
    // sf0.1) — so the bare .distinct() stays the small-corpus plan.
    val fuseDedup = wide
    val candidates =
      if (usePrefix) {
        // ONE width-pinned tok-exchange feeds both join sides: pa and pb
        // project from the same repartitioned subplan, so Spark's
        // exchange reuse materializes it once (the conf-scoped plan had
        // the same reuse; pinning the shared parent keeps it)
        val prefixJ = w(prefix, col("tok"))
        val pa = prefixJ.select(col("tok"), col("skey").as("skey_a"),
          col("n").as("n_a"), col("p").as("p_a"))
        val pb = prefixJ.select(col("tok"), col("skey").as("skey_b"),
          col("n").as("n_b"), col("p").as("p_b"))
        // POSITIONAL filter (PPJoin, Xiao et al. WWW'08): a pair needs
        // set overlap o >= alpha = ceil(t/(1+t) * (n_a+n_b)) to reach
        // Jaccard t, and every common token sits at global order >= the
        // pair's FIRST common token, so on that token's row the overlap
        // is bounded by the smaller remaining suffix:
        // o <= min(n_a - p_a + 1, n_b - p_b + 1). Rows failing the bound
        // are pruned BEFORE the candidate dedup/verify; the first-common-
        // token row of any true pair always passes (for it the bound >=
        // o >= alpha, and under sizeOk that token provably lies in both
        // stored prefixes), so the pair still reaches verification via
        // that row — exact, recall-complete, cost-only. The 30x slope
        // corpus generated ~3.9 raw rows per distinct pair; later-token
        // rows are exactly the redundant ones this bound removes. The
        // 1e-9 slack keeps double round-up of an integer-valued alpha
        // from strengthening the bound (only ever weakens it by <<1).
        val alpha = ceil(
          lit(minJaccard) * (col("n_a") + col("n_b")) / lit(1 + minJaccard)
            - lit(1e-9))
        val raw = pa.join(pb, Seq("tok"))
          .filter(col("skey_a") < col("skey_b") && sizeOk)
          .filter(least(col("n_a") - col("p_a"), col("n_b") - col("p_b")) + 1
            >= alpha)
          .select(col("skey_a"), col("skey_b"))
        if (fuseDedup)
          raw.repartition(wideParts, col("skey_a"))
            .dropDuplicates("skey_a", "skey_b")
        else raw.distinct()
      } else {
        // each set seeks partners of size s in [floor(t*n), n]; the size
        // key space is tiny (distinct set sizes), so salt the seeker side
        // by content hash and replicate the partner side across salts —
        // deterministic balance without relying on AQE skew splits.
        // Capped: replication cost is |groups| x salts rows, so tying it
        // to cluster width would make a 4000-core cluster pay 4000x
        // partner duplication to balance work it could finish anyway;
        // 64 salts splits any hot size-band finely enough.
        val salts = math.min(par, 64)
        // width-pinned on the full equi-key (size band, salt): the
        // seeker side carries the explicit partitioning, the replicated
        // partner side aligns to it
        val ga = w(groups
          .select(col("skey").as("skey_a"), col("n").as("n_a"))
          .withColumn("s", explode(sequence(
            greatest(lit(1), (lit(minJaccard) * col("n_a")).cast("int")), col("n_a"))))
          .withColumn("salt", pmod(xxhash64(col("skey_a")), lit(salts)).cast("int")),
          col("s"), col("salt"))
        val gb = groups
          .select(col("skey").as("skey_b"), col("n").as("n_b"))
          .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
        ga.join(gb, col("s") === col("n_b") && ga("salt") === gb("salt"))
          // n_b <= n_a by construction; each unordered pair exactly once
          .filter(col("n_a") > col("n_b") ||
            (col("n_a") === col("n_b") && col("skey_a") < col("skey_b")))
          .filter(sizeOk)
          .select(col("skey_a"), col("skey_b"))
      }

    // verify ONCE per set pair, work hash-distributed by pair (explicit
    // partition count: byte-light, CPU-heavy — AQE would coalesce).
    // WIDTH = the stats-derived wideParts, not defaultParallelism: a
    // fixed core-count pin makes per-task sort state grow linearly with
    // candidate volume. Overshooting the pin costs only empty-task
    // overhead (AQE leaves explicit repartitions alone), and wideParts
    // floors at the session default, so small corpora keep today's plan
    // exactly.
    val ta = groups.select(col("skey").as("skey_a"), col("toks").as("t_a"))
    val tb = groups.select(col("skey").as("skey_b"), col("toks").as("t_b"))
    // fused-dedup candidates arrive already hash-partitioned by skey_a
    // and EnsureRequirements reuses that partitioning for this join —
    // re-repartitioning would shuffle the deduped pairs a second time
    // (user repartitions are never elided); every other arm takes the
    // explicit wide pin
    val verifyIn =
      if (usePrefix && fuseDedup) candidates
      else candidates.repartition(wideParts, col("skey_a"))
    // the second token-table join re-keys by skey_b; the exchange ships
    // candidate rows CARRYING t_a arrays, so it is width-pinned too
    val setPairs = w(verifyIn.join(ta, Seq("skey_a")), col("skey_b"))
      .join(tb, Seq("skey_b"))
      .select(col("skey_a"), col("skey_b"),
        sortedJaccard(col("t_a"), col("t_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

    // Materialize the SET-level results eagerly (GC-tracked local
    // checkpoints; both are small — one row per verified distinct-set
    // pair / per document), then release the corpus-sized caches. The
    // doc-pair expansion below stays LAZY: it is a pair of cheap
    // equi-joins whose output can be enormous (every member cross of
    // every duplicate group), so round-tripping it through block storage
    // would double the operator's heaviest write for nothing.
    val spCk = setPairs.localCheckpoint(true)
    val mCk = members.localCheckpoint(true)
    keyed.unpersist(false)
    groups.unpersist(false)
    (spCk, mCk)
    }

    // expand verdicts to doc pairs: cross-group members in canonical id
    // order, plus within-group pairs (identical sets, Jaccard exactly 1)
    val ma = membersCk.select(col("skey").as("skey_a"), col("id").as("ida"))
    val mb = membersCk.select(col("skey").as("skey_b"), col("id").as("idb"))
    val inter = setPairsCk
      .join(ma, Seq("skey_a"))
      .join(mb, Seq("skey_b"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("jaccard"))
    val intra = membersCk.select(col("skey"), col("id").as("id_a"))
      .join(membersCk.select(col("skey"), col("id").as("id_b")), Seq("skey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    inter.union(intra)
  }

  /**
   * Connected components over a near-duplicate pair graph — the survivor
   * step every dedup variant feeds: pairs from minhash/simhash/ngram/
   * embedding become edges, each connected cluster keeps one canonical
   * document (the minimum id), the rest drop. Duplicate clusters are
   * transitive (A~B, B~C puts A,C in one cluster even below threshold),
   * which per-pair filtering can't express.
   *
   * Algorithm: min-label propagation with POINTER JUMPING — each round,
   * a node adopts the minimum label among itself and its neighbors, then
   * labels compress through their current parent (label(x) :=
   * label(label(x))), so convergence is O(log diameter) rounds, not
   * O(diameter): a 1M-doc duplicate chain settles in ~20 rounds. Each
   * round is two shuffles (neighbor agg + jump join) over the EDGE
   * table, not the corpus; `localCheckpoint` truncates the growing
   * lineage so round N's plan doesn't replay rounds 1..N-1. The driver
   * loop itself is control plane only — the convergence check is a
   * limit-1 scan of the round's own checkpoint blocks (the changed flag
   * is computed inside the jump join, not by a second join).
   *
   * @param edges (id_a, id_b) undirected pairs. Duplicate edge rows are
   *              TOLERATED — min-label propagation is insensitive to a
   *              repeated neighbor, so the answer is identical — but they
   *              are NOT deduplicated here (a corpus-scale pair distinct
   *              is exactly the shuffle that OOMed the round-11 57M-edge
   *              run): each duplicate costs loop-join volume and inflates
   *              the small-graph/width statistics toward the conservative
   *              side. Suppliers in this repo all emit distinct pairs;
   *              an external caller with heavy duplication should dedup
   *              upstream where its own partitioning makes that cheap.
   * @param nodes optional node universe; nodes without any edge become
   *              singleton components (id = component). Defaults to the
   *              ids appearing in edges.
   * @return (id, component) with component = min id of the cluster
   *
   * Width contract (shared with [[ngramJaccardPairs]]): large graphs
   * scale the label loop's shuffle width through EXPLICIT repartitions
   * pinned to the measured edge count (round 13 — previously a scoped
   * set/restore of the session's `spark.sql.shuffle.partitions`, which
   * a concurrent or deferred caller on the same session could observe;
   * no session state is touched anymore, so concurrent callers are
   * safe). The label table carries the width and every per-round join
   * aligns to it via EnsureRequirements.
   */
  /** Symmetric-edge threshold below which [[connectedComponents]] solves
    * on the driver (union-find) instead of iterating distributed rounds.
    * 500k edge rows ≈ tens of MB collected — driver-scale by contract;
    * the duplicate-pair graph only exceeds this when duplicate MASS is
    * huge, exactly when the distributed loop is the right tool. */
  val SmallGraphMaxEdges: Long = 500000L

  /** Companion BYTE cap on the driver escape: the row count alone says
    * nothing about collect footprint when ids are strings — 500k
    * symmetric edges of URL-like ids are hundreds of MB boxed, not the
    * "tens of MB" the contract assumes. The gate sums raw id bytes over
    * the symmetric edge list (UTF-8 for strings, fixed 16/row for
    * numerics) and refuses the escape past 64 MB raw — boxed Rows,
    * String headers, and the union-find maps expand that ~4x, keeping
    * worst-case driver cost in the low hundreds of MB. */
  val SmallGraphMaxIdBytes: Long = 64L * 1024 * 1024

  /** The driver-escape decision, separated so the cost gate is testable
    * without steering a job through one path by observation: under BOTH
    * caps, and only for id types whose JVM ordering matches Spark's
    * `least` (Long/Int, String via explicit UTF-8 byte compare). */
  private[graft] def smallGraphEligible(symCount: Long, symIdBytes: Long,
      idType: org.apache.spark.sql.types.DataType,
      maxEdges: Long, maxIdBytes: Long): Boolean =
    symCount <= maxEdges && symIdBytes <= maxIdBytes && (idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    })

  def connectedComponents(edges: DataFrame, nodes: Option[DataFrame] = None,
      maxIter: Int = 50,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges,
      smallGraphMaxIdBytes: Long = SmallGraphMaxIdBytes): DataFrame = {
    // null endpoints are dropped up front, for BOTH paths: a null id
    // can't have matched anything in the equi-joins that build pair
    // graphs upstream, and keeping it here would give the two execution
    // paths different null semantics (null join keys silently miss in
    // the distributed loop; a driver comparator would NPE or unbox to 0)
    val e0 = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // when a node universe is given, propagation is CONFINED to it: an
    // edge endpoint outside the universe must neither become a component
    // label nor bridge two in-universe nodes (callers pass supersets in
    // practice, but the contract is "components of the induced subgraph")
    // The distinct node universe is consumed twice (edge confinement +
    // the singleton join-back at the end) — materialize it ONCE, scoped
    // to this call like every other intermediate, instead of running the
    // corpus-sized scan+distinct per consumer.
    val nOpt = nodes.map(n0 =>
      n0.select(col(n0.columns(0)).as("id")).distinct().localCheckpoint(true))
    val e = nOpt match {
      case None => e0
      case Some(n) =>
        e0.join(n.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(n.select(col("id").as("dst")), Seq("dst"), "left_semi")
          // USING-joins move the join column FIRST, so after the dst
          // semi-join the frame is (dst, src) — and the symmetric union
          // below is POSITIONAL. Restore the order explicitly or the
          // reversal becomes a values-level no-op.
          .select(col("src"), col("dst"))
    }
    // Symmetric edge list once; reused every round. NO distinct: min-label
    // propagation is insensitive to duplicate edges (min over a repeated
    // neighbor is the same min), every pair supplier in this file already
    // emits distinct pairs (bucketPairs ends in distinct), and a
    // corpus-scale pair distinct is exactly the shuffle that broke at the
    // round-11 57M-edge slope run: a distinct over E edge KEYS builds
    // E/numPartitions-entry hash maps in every map task — at the session's
    // fixed partition count that's per-task state growing linearly with
    // the graph, and it OOMed before the loop's scaled-shuffle scope below
    // could take effect. The union is a narrow projection: the checkpoint
    // materializes it with NO shuffle at any graph size. (Duplicate edges,
    // if a caller passes them, cost loop-join volume, not correctness;
    // symCount below then over-counts them — acceptable for a threshold
    // heuristic, erring toward the distributed path and wider shuffles.)
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)

    // SMALL-GRAPH FAST PATH (CBO-style escape, like the ngram blocking
    // choice): the edge-participating subgraph is the TRUE-DUPLICATE
    // mass, a sliver of the corpus by construction — in practice it is
    // often a few thousand pairs while the distributed loop below pays
    // ~3 fixed-overhead jobs (two shuffle joins + a checkpoint) PER
    // ROUND regardless of size, O(log diameter) rounds. Under the
    // thresholds (checkpointed count + raw id bytes — one cheap scan
    // computes both), solve with driver union-find instead: exact same
    // min-label answer, one collect bounded by the caps, zero iterative
    // jobs. Long/Int/String ids only (the min-label semantics must match
    // Spark's `least` ordering, which for those types equals the JVM
    // ordering); anything else — and every graph past a threshold, e.g.
    // the 9.5M-edge ScaleSmoke clique graphs or a sub-count graph of
    // wide URL ids — takes the distributed loop.
    val idType = sym.schema("src").dataType
    val idWidth = idType match {
      case org.apache.spark.sql.types.StringType =>
        octet_length(col("src")).cast("long") +
          octet_length(col("dst")).cast("long")
      case _ => lit(16L)
    }
    val symStats = sym.agg(count(lit(1)).as("n"),
      coalesce(sum(idWidth), lit(0L)).as("b")).head()
    val (symCount, symIdBytes) = (symStats.getLong(0), symStats.getLong(1))
    val smallOk = smallGraphEligible(symCount, symIdBytes, idType,
      smallGraphMaxEdges, smallGraphMaxIdBytes)
    if (smallOk) {
      val parent = new scala.collection.mutable.HashMap[Any, Any]()
      // every endpoint, tracked independently of the unions: a node whose
      // only edges are self-loops never creates a parent entry but must
      // still emit its (id, id) row, exactly as the distributed loop's
      // labels (built from ALL sym endpoints) do
      val seen = new scala.collection.mutable.HashSet[Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        // path compression
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val next = parent.getOrElse(c, c); parent(c) = r; c = next
        }
        r
      }
      sym.collect().foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        seen += a; seen += b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      // min-label ordering must MATCH Spark's least/min on the id type:
      // for strings that is UTF8String's unsigned UTF-8 BYTE order, which
      // diverges from Java String.compareTo (UTF-16 code units) beyond
      // the BMP — a supplementary-plane id would otherwise elect a
      // different canonical min on the two paths
      val lt: (Any, Any) => Boolean = idType match {
        case org.apache.spark.sql.types.StringType =>
          (a, b) => {
            val (x, y) = (
              a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
              b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var i = 0
            var res = 0
            while (res == 0 && i < x.length && i < y.length) {
              res = (x(i) & 0xff) - (y(i) & 0xff); i += 1
            }
            (if (res == 0) x.length - y.length else res) < 0
          }
        case org.apache.spark.sql.types.IntegerType =>
          (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
        case _ => (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      }
      val ids = seen.toSeq
      val minOfRoot = new scala.collection.mutable.HashMap[Any, Any]()
      ids.foreach { id =>
        val r = find(id)
        if (!minOfRoot.contains(r) || lt(id, minOfRoot(r))) minOfRoot(r) = id
      }
      val spark = edges.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType)))
      val rows = ids.map(id =>
        org.apache.spark.sql.Row(id, minOfRoot(find(id))))
      // LocalRelation, NOT parallelize: parallelize ships the whole
      // result set inside one task closure (a 5 MB task at the sf0.1
      // dedup graph — TaskSetManager warns at 1 MB), while a local
      // table stays on the driver, carries real size stats, and the
      // singleton join below broadcasts it as a proper broadcast
      import scala.jdk.CollectionConverters._
      val connected = spark.createDataFrame(rows.asJava, schema)
      return nOpt match {
        case None => connected
        case Some(n) =>
          n.join(connected, Seq("id"), "left")
            .select(col("id"),
              coalesce(col("component"), col("id")).as("component"))
      }
    }

    // The iteration runs over EDGE-PARTICIPATING nodes only: in a dedup
    // graph the duplicate mass is a sliver of the corpus, and a node with
    // no edge can never change its label — iterating the full node
    // universe would shuffle corpus-sized label tables O(log d) times for
    // nothing. Isolated nodes join back as singletons at the end, one
    // corpus-sized left join total.
    //
    // Shuffle width scales with the MEASURED edge count (symCount is
    // already on hand from the CBO escape): the session default
    // (local[32] → 32) pins per-task state to edges/32, which grows
    // linearly with the graph — the round-11 slope run OOMed the loop's
    // join/agg tasks at 57M pairs (UNABLE_TO_ACQUIRE_MEMORY: 32 peer
    // tasks' sorters + the loop's live label checkpoints exhausted the
    // unified pool) while the pair GENERATION survived fine. ~1M
    // symmetric edges per task keeps per-task sort/agg state ~tens of MB
    // at any graph size; AQE's byte-based coalescing shrinks the extra
    // partitions right back when the graph is small, so overshooting
    // costs nothing.
    //
    // The width rides EXPLICIT repartitions, not a session-conf scope
    // (rounds 11-12 set/restored `spark.sql.shuffle.partitions` — a
    // concurrent or deferred caller on the same session could observe
    // the widened value; round 13 removes the hazard, advisor ask): the
    // node-sized LABEL table is hash-repartitioned by id at loopParts
    // before every round's checkpoint (the checkpoint's LogicalRDD
    // preserves that partitioning), so the round's edge-sized sym-join
    // exchange ALIGNS to it — EnsureRequirements shuffles the
    // unpartitioned side to the satisfied side's partition count, which
    // is exactly where the session conf used to apply. The self-join's
    // probe side is likewise pinned through an explicit lbl-repartition.
    // The one exchange left at session width is the neighbor-min
    // aggregation: its reduce state is (node, min-label) pairs — bytes
    // per entry, nodes/32 per task even at huge graphs — and a
    // pre-repartition there would forfeit the map-side partial min that
    // collapses the edge-sized join output to node-sized partials.
    val sessionParts =
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(sessionParts,
      math.min(2048L, symCount / 1000000L + 1).toInt)
    val widen = loopParts > sessionParts
    def wById(df: DataFrame): DataFrame =
      if (widen) df.repartition(loopParts, col("id")) else df
    var labels = wById(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // 1. neighbor-min: each node sees its neighbors' current labels
      // (aggregate-then-join, not a union back into `labels` — a union
      // whose second child embeds the first's attributes trips Catalyst's
      // Union constraint rewriting)
      val nbrMin = sym
        .join(labels.select(col("id").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("lbl")).as("__nmin"))
      val afterMin = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), col("__nmin")).as("lbl"),
          col("lbl").as("__old"))
      // 2. pointer jump: follow the label one hop (label of my label).
      // The round's OLD label rides along so the convergence flag is
      // computed inside this same plan — the per-round check then reads
      // the already-materialized checkpoint blocks with an early-exit
      // limit(1), instead of re-joining two label tables (a second
      // shuffle join per round, which dominated fixed overhead at small
      // duplicate mass). At widened width the probe (c) side is pinned
      // by an explicit lbl-repartition and the parent (p) side aligns
      // to it; the final wById re-pins the checkpoint by id so the NEXT
      // round's sym join inherits loopParts — replacing, not adding to,
      // the label-side exchange that join would otherwise plan.
      val amC =
        if (widen) afterMin.repartition(loopParts, col("lbl")) else afterMin
      val jumped = wById(amC.alias("c")
        .join(afterMin.select(col("id").as("__lid"), col("lbl").as("__plbl"))
          .alias("p"), col("c.lbl") === col("__lid"), "left")
        .select(col("c.id").as("id"),
          least(col("c.lbl"), coalesce(col("__plbl"), col("c.lbl"))).as("lbl"),
          col("c.__old").as("__old"))
        .select(col("id"), col("lbl"), (col("lbl") =!= col("__old")).as("__chg")))
        .localCheckpoint(true)
      converged = jumped.filter(col("__chg")).limit(1).count() == 0
      labels = jumped.select(col("id"), col("lbl"))
      iter += 1
    }
    val connected = labels.select(col("id"), col("lbl").as("component"))
    nOpt match {
      case None => connected
      case Some(n) =>
        // singleton components for nodes that never appeared in an edge
        n.join(connected, Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    }
  }

  /** Survivor table from a pair graph: one row per component —
    * (component, n_members, keep_id = component). */
  def dedupSurvivors(edges: DataFrame, nodes: Option[DataFrame] = None): DataFrame =
    connectedComponents(edges, nodes)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
      .withColumn("keep_id", col("component"))

  /**
   * Survivor table with a QUALITY policy: one row per component keeping
   * the highest-scoring member (ties -> smallest id) instead of the
   * min-id — production pipelines keep the longest / highest-quality
   * member of a duplicate cluster, not the first-crawled. A node with no
   * score row fails fast (an inner join would silently shrink its
   * component's member count instead).
   *
   * Scale shape: the [[connectedComponents]] label table, one id-keyed
   * join against the score table, one component aggregation — the argmax
   * is a struct-max inside the agg (score, then negated id, so ties take
   * the smallest id under MAX), never a per-component window. The score
   * table is max-collapsed per id first (map-side partial agg), so
   * duplicate score rows can neither inflate `n_members` through join
   * fan-out nor make the winner depend on row order — a doc's score is
   * the max of its score rows.
   *
   * @return (component, n_members, keep_id, keep_score)
   */
  def dedupSurvivorsBest(edges: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String,
      nodes: Option[DataFrame] = None): DataFrame =
    connectedComponents(edges, nodes)
      .join(scores.select(col(idCol).as("id"), col(scoreCol).as("__s"))
          .groupBy("id").agg(max(col("__s")).as("__s")),
        Seq("id"), "left")
      .withColumn("__s",
        when(col("__s").isNull, raise_error(concat(
          lit("Dedup.dedupSurvivorsBest: no score for id "),
          col("id").cast("string")))).otherwise(col("__s")))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("__s").as("s"), (-col("id")).as("negid"))).as("__best"))
      .select(col("component"), col("n_members"),
        (-col("__best.negid")).as("keep_id"), col("__best.s").as("keep_score"))

  // ------------------------------------------------- incremental (indexed)

  /** The per-doc minhash derivation shared by the one-shot and indexed
    * paths: (id, shingles, band, key) — one row per band. */
  private def minhashBanded(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    spreadIfNarrow(docs
        // spread-if-narrow (see [[spreadIfNarrow]]): no corpus-text
        // shuffle when the scan is already wide
        .select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"), canonicalText(col(textCol)).as("__canon"))
      .select(col("id"),
        array_distinct(charShinglesCanon(col("__canon"), shingleK)).as("shingles"))
      .withColumn("sig", minhashSignature(col("shingles"), numHashes))
      .withColumn("bandkeys", minhashBandKeys(col("sig"), bands, rows))
      .select(col("id"), col("shingles"),
        posexplode_outer(col("bandkeys")).as(Seq("band", "key")))
  }

  /** The minhash verify: Jaccard over the stored shingle sets. */
  private def minhashFamily(minJaccard: Double) =
    BandFamily.scored("shingles" -> "sh")("jaccard",
      (a, b) => jaccard(a("sh"), b("sh")), _ >= minJaccard)

  /**
   * Persist a minhash index at `path`: per-document shingle sets and LSH
   * band keys, partitioned by band. This is the production ingestion
   * pattern at corpus scale — signature work happens ONCE per document
   * ever; each day's batch dedups against the index without touching the
   * corpus text ([[incrementalNearDupPairs]]), then appends its own rows.
   */
  def buildMinhashIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, shingleK: Int = 5, numHashes: Int = 16,
      bands: Int = 4): Unit =
    writeBands(minhashBanded(docs, textCol, idCol, shingleK, numHashes,
      bands), "overwrite", path)

  /** The index write discipline (round 15; SIZE-AWARE since the r18
    * optimization round): shuffle on (band, id) before partitionBy so
    * files per band directory never equal the INPUT width — a 100 TB
    * corpus read at ~100k input splits would otherwise write ~100k tiny
    * files into each of a handful of band dirs. The round-15 form was a
    * fixed-width repartition (session shuffle width), which bounded
    * files per dir at 32 REGARDLESS of bytes — a 3-batch streaming
    * ingest at bench scale accumulated ~128 near-empty files per
    * generation and every subsequent index read paid ~384 footer opens
    * (guide §6: small files hurt twice). Now a REBALANCE hint: AQE
    * sizes the write partitions by advisoryPartitionSizeInBytes, so a
    * small batch writes ~`bands` files and a 100 TB build writes
    * ~64 MB-target files, splitting oversized partitions (skewed hot
    * bands) instead of serializing them. With AQE off the hint plans as
    * a plain (band, id) hash shuffle at the session width — exactly the
    * round-15 behavior. */
  private[operators] def indexWrite(sigs: DataFrame) =
    IndexStore.writer(sigs.hint("rebalance", col("band"), col("id")))

  /** The minhash index exists in two partition layouts: FLAT (`band=`
    * dirs at the root — [[buildMinhashIndex]]/[[appendToMinhashIndex]])
    * and BATCH (`batch=N/band=` — the streaming [[ingestBatch]] path).
    * Mixing them in one directory makes every subsequent read of the
    * whole index throw (inconsistent partition depth — the same
    * brick-the-index failure appendLsh's legacy-layout guard exists
    * for), so each writer refuses the OTHER layout's tree before
    * writing anything. */
  private[operators] def requireLayout(spark: org.apache.spark.sql.SparkSession, path: String,
      forbidden: String, op: String, fix: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath) &&
      fs.listStatus(hPath).iterator.map(_.getPath.getName)
        .exists(_.startsWith(s"$forbidden="))) {
      throw new IllegalStateException(
        s"$op($path): the index root already holds $forbidden= " +
          s"partition directories — writing this layout next to them " +
          s"would give the table inconsistent partition depths and make " +
          s"every read of the index throw. $fix")
    }
  }

  /** Append a batch's rows to an existing index (same parameters as the
    * build — the caller owns that contract). Refuses a BATCH-layout
    * tree: `band=` dirs next to `batch=` dirs brick the read. */
  def appendToMinhashIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, shingleK: Int = 5, numHashes: Int = 16,
      bands: Int = 4): Unit =
    appendBands(docs.sparkSession, path, "appendToMinhashIndex",
      "ingestBatch")(minhashBanded(docs, textCol, idCol, shingleK,
      numHashes, bands))

  /**
   * Near-dup pairs of a NEW batch against an indexed corpus (plus within
   * the batch itself): batch signatures are computed fresh, corpus
   * signatures come off the index — the corpus text is never re-read and
   * never re-hashed. Join shape: the (band, key) equi-join touches only
   * index rows whose band key collides with the batch (a day's batch vs
   * a years-deep corpus: the batch side broadcasts), and the verify uses
   * shingle sets stored in the index. Returns (id_a, id_b, jaccard) with
   * the smaller id first, batch-internal pairs included, each pair once.
   *
   * @param scope id-set restricting which INDEXED documents the batch
   *   may pair with (round 16 — the [[AnnIndex.lshKnnJoin]] `scope`
   *   discipline on the dedup index): a tenant / license / language
   *   filter resolved upstream to an id table lets ONE shared index
   *   serve per-tenant dedup without per-filter index rebuilds. The
   *   semi-join applies to the index rows BEFORE the band join (the
   *   same seam as the tombstone anti-join — positive polarity), so a
   *   scoped probe of the full index equals a probe of an index built
   *   from the scope subset alone; out-of-scope docs neither surface
   *   nor suppress. `None` (default) leaves the plan untouched.
   *   In-batch pairs are NOT scoped — the caller owns the batch frame
   *   and pre-filters it when the batch itself needs restricting. */
  def incrementalNearDupPairs(newDocs: DataFrame, textCol: String,
      idCol: String, indexPath: String, shingleK: Int = 5,
      numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.8,
      scope: Option[DataFrame] = None): DataFrame =
    probeBands(minhashBanded(newDocs, textCol, idCol, shingleK, numHashes,
      bands), minhashFamily(minJaccard), indexPath, scope)

  /**
   * One ingestion micro-batch, signature work done ONCE: compute the
   * batch's banded signatures a single time, write them to
   * `indexBatchDir` (the batch's own index partition — overwrite, so a
   * replayed batch is idempotent), and return the batch's near-dup pairs
   * — against the existing index when `indexPath` is given, plus within
   * the batch itself. This is the streaming-cadence entry point
   * ([[graft.streaming.Streams.dedupIngest]]); calling the one-shot
   * operators per batch would run the CPU-heavy canon+shingle+minhash
   * chain twice per document (once for pairs, once for the index append),
   * violating the index contract that signatures are computed once ever.
   *
   * @param pairsSink the streaming cadence's per-batch pairs directory:
   *   when set, the pairs materialize DIRECTLY into it (see
   *   [[materializePairs]] — one write job instead of
   *   checkpoint-then-rewrite) and the returned frame reads it back.
   *   That frame is a lazy read of the directory, not a snapshot: consume
   *   it before anything overwrites the directory (a replay of the batch,
   *   or a later batch given the same sink) — after that it reads the
   *   newer rows or fails mid-scan. Without a sink the frame is a
   *   GC-tracked local checkpoint that keeps its own rows.
   */
  def ingestBatch(newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: Option[String], indexBatchDir: String, shingleK: Int = 5,
      numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.8,
      pairsSink: Option[String] = None): DataFrame = {
    ingestRoot(newDocs.sparkSession, indexBatchDir, "ingestBatch",
      "appendToMinhashIndex")
    ingestBands(minhashBanded(newDocs, textCol, idCol, shingleK, numHashes,
      bands), minhashFamily(minJaccard), indexPath, indexBatchDir,
      pairsSink, "ingestBatch")
  }

  // --------------------------------------------- the band-index kit
  //
  // The four near-dup band indexes — minhash above, embedding in
  // [[Similarity]], phash in [[PhashDedup]], audio in [[AudioDedup]] —
  // share one build, append, probe and ingest body. A family supplies
  // its banding into (id, band, key, payload…) and its [[BandFamily]]
  // verify; the kit composes them with the candidate stage (band-key
  // collisions, pair-dedup before the verify) and the write discipline
  // ([[indexWrite]]). [[BandLayout]] serves the lifecycle verbs.

  /** A band family's verify half. `payload` (banded column → short name)
    * rides the batch-vs-index join as `<short>_n`/`<short>_c` and joins
    * back per side as `<short>_a`/`<short>_b` onto in-set pairs.
    * `verify(pairs, x, y, sideX, sideY)` turns candidate pairs
    * (id_x, id_y, payload…) into the (id_x, id_y, score) rows that
    * pass; `sideX`/`sideY` are each side's banded rows, for a verify
    * that reads more than a per-id payload (audio's aligned windows,
    * which declare none). The score must be symmetric in the sides. */
  private[operators] case class BandFamily(payload: Seq[(String, String)],
      verify: (DataFrame, String, String, DataFrame, DataFrame) => DataFrame) {
    def carried(x: String): Seq[Column] =
      payload.map { case (c, s) => col(c).as(s"${s}_$x") }
    def carriedNames(x: String): Seq[String] = payload.map(p => s"${p._2}_$x")
  }

  private[operators] object BandFamily {
    /** A per-pair `score` over the payload (each side's columns by short
      * name), kept where `keep` holds. */
    def scored(payload: (String, String)*)(name: String,
        score: (String => Column, String => Column) => Column,
        keep: Column => Column): BandFamily =
      BandFamily(payload, (pairs, x, y, _, _) =>
        pairs.select(col(s"id_$x"), col(s"id_$y"),
          score(c => col(s"${c}_$x"), c => col(s"${c}_$y")).as(name))
          .filter(keep(col(name))))
  }

  /** The band index write: one (band, id)-rebalanced partitionBy("band")
    * write — a build (overwrite), an append, an ingest's own batch dir. */
  private[operators] def writeBands(banded: DataFrame, mode: String,
      path: String): Unit =
    indexWrite(banded).mode(mode).partitionBy("band").parquet(path)

  /** The flat-layout append preamble: refuse a mid-vacuum tree and a
    * streaming batch= tree (see [[requireLayout]]). */
  private[operators] def requireAppendable(
      spark: org.apache.spark.sql.SparkSession, path: String, op: String,
      ingestOp: String): Unit = {
    IndexStore.requireNoInterruptedVacuum(IndexStore.fsOf(spark, path),
      path, op, BandLayout)
    requireLayout(spark, path, "batch", op,
      s"Use $ingestOp (a batch= subdirectory) on this index.")
  }

  /** Append a banded batch to a flat index, after the preamble. */
  private[operators] def appendBands(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String, ingestOp: String)(banded: => DataFrame): Unit = {
    requireAppendable(spark, path, op, ingestOp)
    writeBands(banded, "append", path)
  }

  /** In-set pairs of one banded set: the bucket self-join on keys alone
    * ([[bucketPairs]]), each side's payload joined back from the set's
    * band-0 rows (bytes proportional to the pair count), the family's
    * verify. Every family bands by `posexplode`, so an id's band rows
    * are one input row's explode: band 0 holds its payload once, with
    * no dedup and so no shuffle (a row-less or null-keyed id never
    * pairs). Both sides read that ONE table, so over a checkpointed set
    * the second side's broadcast plans as a reuse of the first, and it
    * starts with the first wave of stages whatever the in-set pairs
    * turn out to be. A set that repeats an id verifies each of its
    * rows. */
  private[operators] def inSetPairs(banded: DataFrame,
      f: BandFamily): DataFrame = {
    val idPairs = bucketPairs(
      banded.select(col("band"), col("key"), col("id")), Seq("band", "key"))
    val payload = banded.filter(col("band") === 0)
      .select(col("id") +: f.payload.map(p => col(p._1)): _*)
    def side(x: String) = payload.select(col("id").as(s"id_$x") +: f.carried(x): _*)
    val pairs =
      if (f.payload.isEmpty) idPairs
      else idPairs.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
    f.verify(pairs, "a", "b", banded, banded)
  }

  /** Batch-vs-index pairs: collide the batch's band keys (side n) with
    * the index rows' (side c), self-pairs out, the family's verify,
    * canonical (id_a < id_b) order. Repartition BEFORE the (id_n, id_c)
    * dedup: one exchange serves both the dedup (subset clustering —
    * duplicates co-locate) and the verify width (see the bucketPairs
    * note); duplicate keys carry identical payloads, so the
    * arbitrary-row pick is value-deterministic. */
  private def indexPairs(batch: DataFrame, index: DataFrame,
      f: BandFamily): DataFrame = {
    def side(df: DataFrame, x: String) = df.select(
      Seq(col("band"), col("key"), col("id").as(s"id_$x")) ++ f.carried(x): _*)
    val cands = side(batch, "n").join(side(index, "c"), Seq("band", "key"))
      .filter(col("id_n") =!= col("id_c"))
      .select((Seq("id_n", "id_c") ++ f.carriedNames("n") ++
        f.carriedNames("c")).map(col): _*)
      .repartition(batch.sparkSession.sparkContext.defaultParallelism,
        col("id_n"))
      .dropDuplicates("id_n", "id_c")
    val scored = f.verify(cands, "n", "c", batch, index)
    scored.select(least(col("id_n"), col("id_c")).as("id_a"),
      greatest(col("id_n"), col("id_c")).as("id_b"), col(scored.columns(2)))
  }

  /** The pairs of a checkpointed banded batch, the one body under the
    * probe and the ingest: in-set, plus against `index` when given. A
    * pair of two batch ids that are both indexed surfaces on several
    * paths (both orders through the index, and in-set);
    * [[materializePairs]]' distinct folds them, so each canonical pair
    * comes out once. */
  private def batchPairs(batch: DataFrame, index: Option[DataFrame],
      f: BandFamily, pairsSink: Option[String]): DataFrame = {
    val inSet = inSetPairs(batch, f)
    materializePairs(index.fold(inSet)(indexPairs(batch, _, f).union(inSet)),
      pairsSink)
  }

  /**
   * The incremental probe of every band family: each canonical pair of
   * a batch id once, against the live index AND within the batch. The
   * banded batch is checkpointed for the call (see [[ingestBands]]);
   * tombstoned index rows are anti-joined and `scope` semi-joins the
   * index rows BEFORE the band join (in-batch pairs are not scoped).
   */
  private[operators] def probeBands(banded: DataFrame, f: BandFamily,
      indexPath: String, scope: Option[DataFrame]): DataFrame = {
    val spark = banded.sparkSession
    val batch = banded.localCheckpoint(true)
    val live = IndexStore.liveRows(spark, indexPath, BandLayout,
      Some(batch.schema))
    val index = scope.fold(live)(s =>
      live.join(s.select(col(s.columns.head).as("id")).distinct(),
        Seq("id"), "left_semi"))
    batchPairs(batch, Some(index), f, None)
  }

  /** The ingest gates, run before anything is read or written: the
    * batch dir's parent is the index root, which must not be mid-vacuum
    * and must not be a flat (band=) tree — batch= dirs next to it brick
    * every read ([[requireLayout]]). @return the index root */
  private[operators] def ingestRoot(spark: org.apache.spark.sql.SparkSession,
      indexBatchDir: String, op: String, appendOp: String): String = {
    val parent = Option(new org.apache.hadoop.fs.Path(indexBatchDir).getParent)
      .map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"$op: $indexBatchDir has no parent index root"))
    IndexStore.requireNoInterruptedVacuum(IndexStore.fsOf(spark, parent),
      parent, op, BandLayout)
    requireLayout(spark, parent, "band", op, "Rebuild the index under " +
      s"batch= directories (or append with $appendOp instead).")
    parent
  }

  /** One ingest micro-batch of any band family, after [[ingestRoot]]:
    * the banded batch materialized once by an eager local checkpoint,
    * its pairs ([[batchPairs]]) materialized FIRST — they read the index
    * before this batch's own rows join it — then the batch dir written
    * from the same rows (overwrite, so a replay is idempotent). A
    * checkpoint, not `persist`: a self-join of the batch (the in-set
    * payload sides) then plans its second exchange as a reuse of the
    * first, which two scans of a cached relation never do under AQE
    * (each becomes its own cache stage, compared by identity); and its
    * blocks go with the frame (see [[materializeAndRelease]]) instead
    * of needing an unpersist.
    * `observed` wraps that write (a family's `observe()` bookkeeping).
    * See [[ingestBatch]] for `pairsSink`. */
  private[operators] def ingestBands(banded: DataFrame, f: BandFamily,
      indexPath: Option[String], indexBatchDir: String,
      pairsSink: Option[String], op: String,
      observed: DataFrame => DataFrame = identity): DataFrame = {
    val spark = banded.sparkSession
    val batch = banded.localCheckpoint(true)
    val index = indexPath.map { p =>
      // re-ingesting a tombstoned id is legal but invisible until a
      // vacuum/compaction clears the sidecar
      IndexStore.warnTombstonedIngest(spark, p, batch, BandLayout, op)
      IndexStore.liveRows(spark, p, BandLayout, Some(batch.schema))
    }
    val out = batchPairs(batch, index, f, pairsSink)
    writeBands(observed(batch), "overwrite", indexBatchDir)
    out
  }

  // ----------------------------------- persisted-index lifecycle (r15)
  //
  // The ANN index's lifecycle discipline (tombstone delete -> physical
  // drop by a targeted vacuum or a compaction), applied to the band
  // indexes: a takedown must also stop suppressing fresh content as
  // "duplicates of a removed document" — the signature rows are how a
  // deleted doc keeps influencing dedup decisions — and the batch=
  // directories a long-lived stream accumulates (one per micro-batch,
  // forever) need the same bounded-files reclaim. The verbs are
  // layout-generic (an `id` column under `band=` / `batch=N/band=`
  // trees, payload columns never read), so the minhash, embedding,
  // phash and audio indexes share them; the on-disk protocol is
  // [[IndexStore]]'s.

  /** A band index's read schema from the schema of a frame banded by
    * the same writer: the frame minus `band`, then `band` (int) as a
    * partition column, plus `batch` (long — discovery would say int,
    * the cast is per-spec safe) when the root holds streaming batch=
    * generations. */
  private def bandReadSchema(fs: org.apache.hadoop.fs.FileSystem,
      path: String, banded: StructType): StructType = {
    val hasBatch = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .iterator.map(_.getPath.getName).exists(_.startsWith("batch="))
    StructType(banded.fields.filterNot(_.name == "band") ++
      Seq(StructField("band", IntegerType)) ++
      (if (hasBatch) Seq(StructField("batch", LongType)) else Nil))
  }

  /** Fail-closed layout check for the mutations and health: a tree with
    * neither layout's partition directories is not a band index, and
    * tombstoning or rewriting rows whose layout is unknown helps
    * nobody. @return "batch" (`batch=N/band=`) or "flat" (`band=`) */
  private def requireBandLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String, root: Set[String]): String =
    if (root.exists(_.startsWith("batch="))) "batch"
    else if (root.exists(_.startsWith("band="))) "flat"
    else throw new IllegalStateException(
      s"$op($path): no band=/batch= partition directories — not a " +
        s"minhash index layout; refusing to act on a tree whose " +
        s"layout is unknown.")

  /** The band indexes' [[IndexStore.Layout]]. A delete prices
    * tombstones against the signature rows (a parquet metadata count —
    * deletes run at takedown cadence, and the id floor gates it). The
    * vacuum keys the staged rewrite on the PARTITION COLUMNS alone, at
    * a width bounded by the affected count, so each affected
    * directory's survivors colocate into ~one file (keying on the id
    * would replace each deleted file with up to a task-width of smaller
    * ones). A compaction writes under [[indexWrite]] and collapses every
    * `batch=N` generation into ONE `batch=-1` — a value no streaming
    * batchId takes, so a replayed micro-batch can never collide with
    * compacted history. The embedding index's frozen plan (`_embplan`)
    * and its advisory `_rows` drift baseline are carried, never
    * re-stamped: dropping the baseline would hand the next stream batch
    * a fresh-start count and silently disable the drift WARN. */
  private[graft] val BandLayout = IndexStore.Layout("Dedup", "id",
    "deleteFromMinhashIndex", "vacuumMinhashTombstones",
    "compactMinhashIndex", requireBandLayout,
    (spark, path) => spark.read.parquet(path).count(),
    (aff, affected) => {
      val parts = math.max(1,
        math.min(aff.sparkSession.sessionState.conf.numShufflePartitions,
          affected))
      val pCols =
        if (aff.columns.contains("batch")) Seq("batch", "band")
        else Seq("band")
      IndexStore.writer(aff.repartition(parts, pCols.map(col): _*))
        .partitionBy(pCols: _*)
    },
    live =>
      if (live.columns.contains("batch"))
        indexWrite(live.withColumn("batch", lit(-1L)))
          .partitionBy("batch", "band")
      else indexWrite(live).partitionBy("band"),
    // one bounded write leaves at most a session width of files per band
    // dir ([[indexWrite]])
    fragmentUnit = (bands, width) => bands * width,
    carried = Seq("_embplan", "_rows"), readSchema = bandReadSchema)

  /**
   * Tombstone-delete documents from a persisted band index (takedown,
   * re-crawl replacement): O(ids), idempotent, no data rewrite
   * ([[IndexStore.delete]]). Every index read anti-joins the sidecar, so
   * a deleted doc stops matching new content immediately;
   * [[vacuumMinhashTombstones]] or [[compactMinhashIndex]] makes the
   * delete physical. Fail-closed on a directory that is not a band
   * index layout.
   *
   * @return distinct ids tombstoned in this call
   */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String = "id"): Long =
    IndexStore.delete(spark, path, ids, idCol, BandLayout)

  /** [[IndexStore.health]] for a band index of either layout ("flat"
    * `band=` at root, "batch" `batch=N/band=`): `partitions` is the band
    * count, `generations` the `batch=` dirs. The fragmentation unit is
    * one write's bounded worth (bands × session width, see
    * [[indexWrite]]), and a `batch=` tree also flags on its size-aware
    * generation trigger. `tombstoneHeavy` is the absolute floor alone:
    * the delete WARN's proportional clause needs a row count this
    * snapshot never pays for. There is no drift signal — shingle/hash
    * parameters are the caller's contract, not data-dependent. */
  def minhashIndexHealth(spark: org.apache.spark.sql.SparkSession,
      path: String, fragmentFactor: Double = 2.0,
      tombstoneFloor: Long = 1024L, minCompactionGain: Double = 0.1,
      maxGenerations: Int = 64): IndexStore.IndexHealth[IndexStore.Signal] =
    IndexStore.health(spark, path, BandLayout, "minhashIndexHealth",
      fragmentFactor, tombstoneFloor, minCompactionGain, maxGenerations)(
      (_, _) => IndexStore.NoSignal)

  /** [[IndexStore.maintain]] on [[minhashIndexHealth]]:
    * [[compactMinhashIndex]] on fragmentation, else
    * [[vacuumMinhashTombstones]] on tombstone mass (O(affected files),
    * never the corpus); a healthy index is left untouched.
    *
    * @return the actions taken, in order */
  def maintainMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, fragmentFactor: Double = 2.0,
      tombstoneFloor: Long = 1024L, minCompactionGain: Double = 0.1,
      maxGenerations: Int = 64): Seq[String] =
    IndexStore.maintain(spark, path, BandLayout, minhashIndexHealth(spark,
      path, fragmentFactor, tombstoneFloor, minCompactionGain,
      maxGenerations))(Left(None))

  /**
   * Compact a persisted band index: drop tombstoned rows PHYSICALLY,
   * clear the `_tombstones` sidecar, and rewrite the data under the
   * index write discipline ([[indexWrite]]) — reclaiming both the
   * per-probe anti-join and the file accumulation of appends and
   * micro-batches. A flat tree rewrites in place (`band=` dirs
   * preserved); a batch tree collapses into ONE `batch=-1` generation.
   * Run it between streaming runs (the stream stopped). Crash-safe
   * staged swap ([[IndexStore.compact]]); refuses to empty the index.
   *
   * @return (data files before, data files after)
   */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long) =
    IndexStore.compact(spark, path, BandLayout)

  /**
   * Make tombstone deletes physical by rewriting ONLY the files that
   * hold tombstoned rows ([[IndexStore.vacuum]]): O(affected files),
   * never O(index) — the verb for takedown-cadence deletes on a
   * streaming-scale index. Partition directories are preserved as-is;
   * unlike compaction, a vacuum never collapses generations. A crash
   * rolls forward on the next call; it WARNs when the takedown touches
   * so many files that [[compactMinhashIndex]] is the better verb.
   *
   * @return (files rewritten, rows dropped); (0, 0) when there is
   *         nothing to vacuum
   */
  def vacuumMinhashTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long) =
    IndexStore.vacuum(spark, path, BandLayout)
}
