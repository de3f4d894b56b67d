package graft

import graft.functions.TextFunctions._
import graft.operators.{Bm25, Dedup, LineDedup, Mixture, NgramLm, RepeatedSpans, Sharding, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators over `documents` and `embeddings`:
 * dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard /
 * embedding-cosine), similarity search, language ID, quality scoring,
 * token counting, fingerprinting. Oracles mirror the md5-based hashing so
 * DuckDB reproduces the exact same signatures.
 */
object QueriesText {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DuckDB mirror of TextFunctions.canonicalText. */
  private val canonSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** DuckDB mirror of TextFunctions.tokens (lowercase whitespace split). */
  private val toksSql =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)"

  /** The 12-bit hyperplane-LSH signature as DuckDB SQL over a 64-dim
    * vector expression — generated from the SAME splitmix constants the
    * Spark kernel uses, term order matching its left fold exactly
    * (x * +-1.0 == +-x bit-for-bit, so signatures agree across engines
    * without rounding). Shared by ann_lsh_topk and ann_knn_join. */
  private def lshSigSql(vec: String): String = (0 until 12).map { i =>
    val terms = (0 until 64).map { j =>
      val op = if (graft.operators.Similarity.hyperplaneSign(i, j) > 0) "+" else "-"
      s"$op CAST($vec[${j + 1}] AS DOUBLE)"
    }.mkString(" ")
    s"(CASE WHEN ($terms) >= 0 THEN ${1L << i} ELSE 0 END)"
  }.mkString("\n             + ")

  /** The minhash-LSH candidate+verify pipeline as DuckDB CTEs ending in
    * `pairs (id_a, id_b, jaccard)` — shared by the pair query, the
    * survivor-cluster query, and the curation pipeline (which runs it
    * over a derived relation, hence the `rel` parameter: any CTE/table
    * with (doc_id, text) columns). Hash family mirrored exactly from
    * MinhashSignature.a/b: x = polynomial hash of the shingle chars
    * (mod 2^31-1), h_i(x) = (a_i * x + b_i) mod 2^31-1. */
  private[graft] def minhashPairsCtesFrom(rel: String): String = {
    import graft.functions.MinhashSignature.{a, b}
    val sigList = (0 until 16).map { i =>
      s"list_min(list_transform(xs, x -> (${a(i)} * x + ${b(i)}) % 2147483647))"
    }.mkString(",\n                ")
    s"""sh AS (
        SELECT doc_id,
               list_distinct([substr(c, i, 5) FOR i IN range(1, greatest(len(c) - 3, 2))]) AS shingles
        FROM (SELECT doc_id, $canonSql AS c FROM $rel)),
      hx AS (
        SELECT doc_id, shingles,
               list_transform(shingles, t ->
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     [CAST(ord(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT)
                      FOR i IN range(1, len(t) + 1)]),
                   (a, c2) -> (a * 31 + c2) % 2147483647)) AS xs
        FROM sh),
      sig AS (
        SELECT doc_id, shingles,
               [$sigList] AS sig
        FROM hx),
      banded AS (
        SELECT doc_id, shingles, b AS band,
               md5(CAST(b AS VARCHAR) || '|' || CAST(sig[4*b+1] AS VARCHAR) || '|' ||
                   CAST(sig[4*b+2] AS VARCHAR) || '|' || CAST(sig[4*b+3] AS VARCHAR) || '|' ||
                   CAST(sig[4*b+4] AS VARCHAR)) AS key
        FROM sig, range(0, 4) r(b)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.shingles, b.shingles)) /
               CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id)"""
  }

  private val minhashPairsCtes: String = minhashPairsCtesFrom("documents")

  /** The composed quality-gate disposition (Curation.withDisposition's
    * first-failing-rule CASE) as DuckDB CTEs ending in
    * `disp (doc_id, t, disposition)` — `rel` is any relation with
    * (doc_id, t) where t is the document text. Shared by
    * text_quality_gate and the streaming-ingest oracles so the gate SQL
    * can never drift between them. */
  private def gateDispCtes(rel: String): String = s"""
      g_toks AS (
        SELECT doc_id, t,
               list_filter(string_split_regex(lower(t), '\\s+'), x -> len(x) > 0) AS tk
        FROM $rel),
      g_scored AS (
        SELECT doc_id, t, tk,
               len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
               len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','los','se','por'))) AS s_es,
               len(list_filter(tk, x -> x IN ('der','die','das','und','ist','ein','zu','den','von','mit'))) AS s_de,
               len(list_filter(tk, x -> x IN ('le','la','de','et','un','est','que','pour','dans','des'))) AS s_fr,
               CASE WHEN len(tk) >= 2
                    THEN list_transform(range(0, len(tk) - 1),
                           i -> array_to_string(list_slice(tk,
                             CAST(i + 1 AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))
                    ELSE [array_to_string(tk, ' ')] END AS gs
        FROM g_toks),
      disp AS (
        SELECT doc_id, t,
             CASE
               WHEN t IS NULL OR len(tk) < 10 THEN 'too_short'
               WHEN NOT (greatest(s_en, s_es, s_de, s_fr) > 0
                         AND s_en = greatest(s_en, s_es, s_de, s_fr)) THEN 'non_english'
               WHEN (CASE WHEN len(t) > 0
                          THEN len(regexp_replace(t, '[^A-Za-z]', '', 'g')) / CAST(len(t) AS DOUBLE)
                          ELSE 0.0 END) < 0.6 THEN 'low_alpha'
               WHEN (CASE WHEN len(gs) > 0
                          THEN 1.0 - len(list_distinct(gs)) / CAST(len(gs) AS DOUBLE)
                          ELSE 0.0 END) > 0.5 THEN 'repetitive'
               WHEN regexp_replace(regexp_replace(regexp_replace(t,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                      '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
                      '(?:\\+?1[-. ])?(?:\\([0-9]{3}\\)|[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g')
                    <> t THEN 'pii'
               ELSE 'keep' END AS disposition
        FROM g_scored)"""

  /** The min-reachable-id transitive-closure CTE block shared by every
    * components-over-minhash-pairs oracle (survivors, best-survivors,
    * the curation near_dup stage): mp -> edges -> reach -> rm, where
    * rm(src, m) is the min id reachable from src. Component of a doc =
    * least(doc_id, coalesce(rm.m, doc_id)). */
  private val closureCtes: String =
    """mp AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
      edges AS (
        SELECT id_a AS a, id_b AS b FROM mp
        UNION SELECT id_b, id_a FROM mp),
      reach AS (
        SELECT a AS src, b AS dst FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      rm AS (SELECT src, min(dst) AS m FROM reach GROUP BY src)"""

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------ dedup: exact
    QueryDef("dedup_exact", Some(s"""
      SELECT md5($canonSql) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
      FROM documents GROUP BY 1"""),
      (s, dir) => Dedup.fingerprintGroups(t(s, dir, "documents"), "text", "doc_id")),

    // ------------------------------------------------- dedup: soft (1/n)
    // Probabilistic exact dedup: every duplicate-cluster member survives
    // with probability 1/n_cluster (expected ONE copy per distinct
    // canonical text) — the downweight-don't-delete alternative to
    // keep-first that preserves the corpus distribution in expectation.
    // Membership is the deterministic id hash with soft dedup's OWN
    // multiplier 1779033703 (Dedup.SoftDedupMult) so survivors'
    // default-multiplier hashes stay uniform for downstream samplers;
    // DuckDB replays the exact keep set. Unique docs are always kept
    // (hash in [0,1) < 1/1).
    QueryDef("dedup_soft", Some(s"""
      WITH c AS (SELECT doc_id, md5($canonSql) AS fp FROM documents),
      n AS (SELECT fp, COUNT(*) AS n_docs FROM c GROUP BY fp)
      SELECT c.doc_id, c.fp, n.n_docs
      FROM c JOIN n USING (fp)
      WHERE ((doc_id % 2147483647) * 1779033703) % 2147483647
            / 2147483647.0 < 1.0 / n_docs"""),
      (s, dir) => Dedup.softDedup(t(s, dir, "documents"), "text", "doc_id")),

    // ------------------------------------------------- dedup: minhash LSH
    // Hash family mirrored exactly from MinhashSignature.a/b:
    // x = polynomial hash of the shingle chars (mod 2^31-1),
    // h_i(x) = (a_i * x + b_i) mod 2^31-1.
    QueryDef("dedup_minhash",
      Some(s"WITH $minhashPairsCtes" +
        " SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5"),
      (s, dir) => Dedup.minhashNearDupPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)),

    // --------------------------------- dedup: bloom-accelerated incremental
    // The daily-ingest exact-dedup: which batch docs are NEW vs the corpus
    // fingerprint table, using Spark's own runtime-filter expressions
    // (BloomFilterAggregate / BloomFilterMightContain — codegen'd, no UDF)
    // as an explicit pre-filter. No false negatives, false positives die
    // in the verification semi-join, so the result is EXACTLY the
    // anti-join the oracle states. The batch carries re-idd copies of the
    // corpus (%7 docs) so the dup-detection arm really fires.
    QueryDef("dedup_bloom_incremental", Some(s"""
      WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
      batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 1000000, text FROM corpus WHERE doc_id % 7 = 0),
      fps AS (SELECT DISTINCT md5($canonSql) AS fp FROM corpus)
      SELECT b.doc_id FROM (SELECT doc_id, md5($canonSql) AS fp FROM batch) b
      WHERE NOT EXISTS (SELECT 1 FROM fps WHERE fps.fp = b.fp)"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val batch = docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(corpus.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        graft.operators.BloomDedup.newDocs(batch,
          corpus.select(fingerprint(col("text")).as("fp")).distinct(),
          "text")
          .select(col("doc_id"))
      }),

    // ------------------------------- dedup: incremental (persisted index)
    // The production ingestion shape: the corpus (doc_id % 5 != 0) is
    // indexed ONCE (band-partitioned parquet of shingles + LSH keys); the
    // day's batch (doc_id % 5 = 0) dedups against the index without
    // re-reading corpus text, plus within itself. The result must equal
    // the one-shot LSH pairs restricted to pairs touching the batch —
    // which is exactly what the oracle asserts, reusing the same
    // splitmix-mirrored banding CTEs as dedup_minhash.
    QueryDef("dedup_minhash_incremental",
      Some(s"WITH $minhashPairsCtes" + """
        SELECT id_a, id_b, jaccard FROM pairs
        WHERE jaccard >= 0.5 AND (id_a % 5 = 0 OR id_b % 5 = 0)"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val batch = docs.filter(col("doc_id") % 5 === 0)
        // per-process scratch (unique per JVM, shutdown-deleted): no
        // cross-session overwrite race, no accumulation across runs
        val idx = Tables.scratchDir("mh_idx")
        Dedup.buildMinhashIndex(corpus, "text", "doc_id", idx,
          shingleK = 5, numHashes = 16, bands = 4)
        Dedup.incrementalNearDupPairs(batch, "text", "doc_id", idx,
          shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)
      }),

    // --------------------- dedup: index takedown + compaction (r15, late)
    // The ANN lifecycle discipline on the OTHER persisted incremental
    // structure: a taken-down document's signature rows keep suppressing
    // fresh content as "duplicates of a removed doc" until they are
    // deleted. The index is built the STREAMING way (two ingestBatch
    // calls -> batch= dirs), corpus docs with doc_id % 7 = 1 are
    // tombstoned, compaction makes the delete physical (and collapses
    // the batch dirs into one generation), and the day's batch dedups
    // against the survivors. The oracle states exactly that: one-shot
    // pairs touching the batch, minus any pair whose corpus side was
    // deleted — a delete that leaks (or drops the wrong side) hash-fails.
    QueryDef("dedup_index_delete",
      Some(s"WITH $minhashPairsCtes" + """
        SELECT id_a, id_b, jaccard FROM pairs
        WHERE jaccard >= 0.5 AND (id_a % 5 = 0 OR id_b % 5 = 0)
          AND NOT (id_a % 5 <> 0 AND id_a % 7 = 1)
          AND NOT (id_b % 5 <> 0 AND id_b % 7 = 1)"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val idx = Tables.scratchDir("mh_del_idx")
        Dedup.ingestBatch(corpus.filter(col("doc_id") % 2 === 0), "text",
          "doc_id", None, s"$idx/batch=0", shingleK = 5, numHashes = 16,
          bands = 4, minJaccard = 0.5)
        Dedup.ingestBatch(corpus.filter(col("doc_id") % 2 =!= 0), "text",
          "doc_id", Some(idx), s"$idx/batch=1", shingleK = 5,
          numHashes = 16, bands = 4, minJaccard = 0.5)
        Dedup.deleteFromMinhashIndex(s, idx,
          corpus.filter(col("doc_id") % 7 === 1).select("doc_id"),
          idCol = "doc_id")
        val (before, after) = Dedup.compactMinhashIndex(s, idx)
        require(after < before, s"compaction was a no-op: $before -> $after")
        val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$idx/_tombstones")),
          "compaction left the _tombstones sidecar — probes would anti-join")
        Dedup.incrementalNearDupPairs(docs.filter(col("doc_id") % 5 === 0),
          "text", "doc_id", idx, shingleK = 5, numHashes = 16, bands = 4,
          minJaccard = 0.5)
      }),

    // --------------------- dedup: index targeted vacuum (r16)
    // The round-15 ANN verb on the second index: a takedown's physical
    // reclamation must rewrite the files HOLDING tombstoned rows, not
    // the corpus — at 100 TB compaction-per-takedown is the exact cost
    // cliff vacuumTombstones removed for ANN. Same streaming-layout
    // build and same doomed set as dedup_index_delete, but the physical
    // delete is vacuumMinhashTombstones (locate scan + per-file
    // survivor rewrite + roll-forward manifest) — so the row shares the
    // survivor-restricted oracle, and the requires pin what makes a
    // vacuum a vacuum: the sidecar is gone (the probe runs with no
    // anti-join), and the generation structure is PRESERVED (a
    // compaction in vacuum's clothing — batch dirs collapsed — fails).
    // Per-file targeting (untouched files byte-identical) is pinned at
    // controlled scale in DedupIndexSpec, like ann_vacuum_knn's.
    QueryDef("dedup_index_vacuum",
      Some(s"WITH $minhashPairsCtes" + """
        SELECT id_a, id_b, jaccard FROM pairs
        WHERE jaccard >= 0.5 AND (id_a % 5 = 0 OR id_b % 5 = 0)
          AND NOT (id_a % 5 <> 0 AND id_a % 7 = 1)
          AND NOT (id_b % 5 <> 0 AND id_b % 7 = 1)"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val idx = Tables.scratchDir("mh_vac_idx")
        Dedup.ingestBatch(corpus.filter(col("doc_id") % 2 === 0), "text",
          "doc_id", None, s"$idx/batch=0", shingleK = 5, numHashes = 16,
          bands = 4, minJaccard = 0.5)
        Dedup.ingestBatch(corpus.filter(col("doc_id") % 2 =!= 0), "text",
          "doc_id", Some(idx), s"$idx/batch=1", shingleK = 5,
          numHashes = 16, bands = 4, minJaccard = 0.5)
        Dedup.deleteFromMinhashIndex(s, idx,
          corpus.filter(col("doc_id") % 7 === 1).select("doc_id"),
          idCol = "doc_id")
        val (rewritten, dropped) =
          Dedup.vacuumMinhashTombstones(s, idx)
        require(rewritten > 0 && dropped > 0,
          s"vacuum was a no-op (files=$rewritten rows=$dropped)")
        val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$idx/_tombstones")),
          "vacuum left the _tombstones sidecar — probes would anti-join")
        val gens = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
          .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
        require(gens.toSeq == Seq("batch=0", "batch=1"),
          s"vacuum changed the generation structure (${gens.toSeq}) — " +
            "that is compaction, not a targeted rewrite")
        Dedup.incrementalNearDupPairs(docs.filter(col("doc_id") % 5 === 0),
          "text", "doc_id", idx, shingleK = 5, numHashes = 16, bands = 4,
          minJaccard = 0.5)
      }),

    // --------------------- dedup: scoped incremental probe (r16)
    // The ann_scoped_knn discipline on the dedup index: a tenant /
    // license filter resolved upstream to an id table dedups a batch
    // against a SUBSET of one shared index — no per-filter index
    // rebuilds. The scope semi-joins the INDEX side before the band
    // join (positive polarity, the tombstone seam), so out-of-scope
    // corpus docs neither surface nor suppress; in-batch pairs are
    // untouched. Oracle: one-shot pairs touching the batch, minus any
    // pair whose corpus side is out of scope (doc_id % 3 <> 0) — a
    // post-filter that lets out-of-scope docs suppress, or a scope
    // leak, hash-fails.
    QueryDef("dedup_index_scoped",
      Some(s"WITH $minhashPairsCtes" + """
        SELECT id_a, id_b, jaccard FROM pairs
        WHERE jaccard >= 0.5 AND (id_a % 5 = 0 OR id_b % 5 = 0)
          AND NOT (id_a % 5 <> 0 AND id_a % 3 <> 0)
          AND NOT (id_b % 5 <> 0 AND id_b % 3 <> 0)"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val idx = Tables.scratchDir("mh_scope_idx")
        Dedup.buildMinhashIndex(corpus, "text", "doc_id", idx,
          shingleK = 5, numHashes = 16, bands = 4)
        Dedup.incrementalNearDupPairs(docs.filter(col("doc_id") % 5 === 0),
          "text", "doc_id", idx, shingleK = 5, numHashes = 16, bands = 4,
          minJaccard = 0.5,
          scope = Some(corpus.filter(col("doc_id") % 3 === 0)
            .select("doc_id")))
      }),

    // --------------------- dedup: index health snapshot (r15, late)
    // minhashIndexHealth as an oracle row — the ann_health treatment for
    // the second index: the snapshot's DETERMINISTIC fields (layout,
    // generation/band counts from the directory listing, the tombstone
    // count from the sidecar, the tombstone-mass flag and the
    // prescription it forces) replay in DuckDB value-for-value. The
    // fragmentation flag is a physical-layout fact (file counts) and
    // stays spec-covered in DedupIndexSpec, like ann_health's. Round 16:
    // health prescribes BY CAUSE — tombstone mass alone (this scenario:
    // 2 generations, under every fragmentation trigger) now prescribes
    // the targeted vacuum, not the full rewrite.
    QueryDef("dedup_index_health", Some("""
      SELECT 'batch' AS layout, 2 AS batches, 4 AS bands,
        (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
          WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1) AS tombstones,
        true AS tombstone_heavy,
        'vacuumMinhashTombstones' AS prescription"""),
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val idx = Tables.scratchDir("mh_health_idx")
        Dedup.ingestBatch(corpus.filter(col("doc_id") % 2 === 0), "text",
          "doc_id", None, s"$idx/batch=0", shingleK = 5, numHashes = 16,
          bands = 4, minJaccard = 0.5)
        Dedup.ingestBatch(corpus.filter(col("doc_id") % 2 =!= 0), "text",
          "doc_id", Some(idx), s"$idx/batch=1", shingleK = 5,
          numHashes = 16, bands = 4, minJaccard = 0.5)
        Dedup.deleteFromMinhashIndex(s, idx,
          corpus.filter(col("doc_id") % 7 === 1).select("doc_id"),
          idCol = "doc_id")
        val h = Dedup.minhashIndexHealth(s, idx, tombstoneFloor = 10L)
        Seq((h.layout, h.generations, h.partitions, h.tombstones,
          h.tombstoneHeavy, h.prescription))
          .toDF("layout", "batches", "bands", "tombstones",
            "tombstone_heavy", "prescription")
      }),

    // --------------------------------- dedup: minhash -> survivor clusters
    // The composed production chain: LSH pairs feed connected components,
    // every doc maps to its duplicate-cluster representative. Oracle:
    // recursive transitive closure over the same pair CTEs — component =
    // min(self, min reachable id).
    QueryDef("dedup_minhash_survivors",
      Some(s"""
      WITH RECURSIVE $minhashPairsCtes,
      $closureCtes
      SELECT d.doc_id AS id,
             least(d.doc_id, coalesce(rm.m, d.doc_id)) AS component
      FROM documents d LEFT JOIN rm ON d.doc_id = rm.src"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
          shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)
          .select("id_a", "id_b")
        Dedup.connectedComponents(pairs,
          Some(docs.select(col("doc_id").as("id"))))
      }),

    // --------------------------------- dedup: quality-policy survivors
    // Keep the BEST member of each near-dup cluster (here: the most
    // tokens, ties to the smallest id) instead of the min-id — the
    // representative-selection policy production dedup actually ships.
    // Same recursive-closure components as dedup_minhash_survivors; the
    // oracle's per-component argmax is the window formulation of the
    // engine's struct-max aggregation (integer scores, no float cuts).
    QueryDef("dedup_best_survivors",
      Some(s"""
      WITH RECURSIVE $minhashPairsCtes,
      $closureCtes,
      comp AS (
        SELECT d.doc_id AS id,
               least(d.doc_id, coalesce(rm.m, d.doc_id)) AS component,
               CAST(len($toksSql) AS BIGINT) AS score
        FROM documents d LEFT JOIN rm ON d.doc_id = rm.src),
      r AS (
        SELECT component, id, score,
               row_number() OVER (PARTITION BY component
                 ORDER BY score DESC, id) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
        FROM comp)
      SELECT component, n_members, id AS keep_id, score AS keep_score
      FROM r WHERE rn = 1"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
          shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)
          .select("id_a", "id_b")
        Dedup.dedupSurvivorsBest(pairs,
          docs.select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("score")),
          "doc_id", "score",
          Some(docs.select(col("doc_id").as("id"))))
      }),

    // ------------------------------------------------- dedup: n-gram jaccard
    // The prefix-filter blocking is recall-COMPLETE (any pair at Jaccard
    // >= t shares a rarest-token prefix entry), so the oracle asserts the
    // stronger property directly: brute-force all pairs >= t, pruned only
    // by the size bound min(|A|,|B|) >= t*max(|A|,|B|) implied by t.
    QueryDef("dedup_ngram_jaccard", Some(s"""
      WITH prep AS (
        SELECT doc_id, list_distinct($toksSql) AS toks
        FROM documents
        WHERE len($toksSql) > 0)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.toks, b.toks)) /
             CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jaccard
      FROM prep a JOIN prep b
        ON a.doc_id < b.doc_id
       AND least(len(a.toks), len(b.toks)) >= 0.8 * greatest(len(a.toks), len(b.toks))
      WHERE len(list_intersect(a.toks, b.toks)) /
            CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.8"""),
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 0.8)),

    // --------------------------------------------- dedup: survivor clusters
    // Connected components over a pair graph (the transitive-closure step
    // after any near-dup variant). Edges chain consecutive order keys, so
    // the truth is the gaps-and-islands closed form: id - row_number() is
    // constant exactly on runs of consecutive ids — an oracle that needs
    // no recursion while the Spark side runs the general log-diameter
    // label-propagation loop.
    QueryDef("dedup_components", Some("""
      WITH n AS (SELECT o_orderkey AS id FROM orders),
      isl AS (SELECT id, id - row_number() OVER (ORDER BY id) AS grp FROM n)
      SELECT id, min(id) OVER (PARTITION BY grp) AS component FROM isl"""),
      (s, dir) => {
        val n = t(s, dir, "orders").select(col("o_orderkey").as("id"))
        val edges = n.select(col("id").as("id_a"))
          .join(n.select(col("id").as("id_b")),
            col("id_b") === col("id_a") + 1)
        Dedup.connectedComponents(edges, Some(n))
      }),

    // ------------------------------------------------- dedup: simhash
    // 60-bit simhash from the polynomial/affine family (Simhash kernel),
    // mirrored term-by-term below. 4x15-bit banding is recall-complete for
    // hamming <= 3 (pigeonhole), so the oracle is the BRUTE-FORCE pair
    // scan — it asserts the banded plan loses nothing.
    QueryDef("dedup_simhash", Some {
      import graft.functions.MinhashSignature.{a, b}
      val polyhash =
        """list_reduce(list_prepend(CAST(0 AS BIGINT),
          |                 [CAST(ord(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT)
          |                  FOR i IN range(1, len(t) + 1)]),
          |               (acc, c2) -> (acc * 31 + c2) % 2147483647)""".stripMargin
      val bitTerms = (0 until 60).map { j =>
        s"(CASE WHEN list_sum(list_transform(xs, x -> CASE WHEN (((x * ${a(j)} + ${b(j)}) % 2147483647) & 1) = 1 THEN 1 ELSE -1 END)) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n             + ")
      s"""
      WITH hx AS (
        SELECT doc_id,
               list_transform($toksSql, t -> $polyhash) AS xs
        FROM documents),
      sim AS (
        SELECT doc_id,
               ($bitTerms) AS simhash
        FROM hx)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
    },
      (s, dir) => Dedup.simhashNearDupPairs(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3, bits = 60, bands = 4)),

    // ------------------------------------------- dedup: embedding cosine
    // Banded component-sign LSH (4 bands x 16 sign bits), mirrored exactly;
    // the blocking is approximate by construction, so the oracle replays
    // the same bands rather than brute-forcing.
    QueryDef("dedup_embedding", Some {
      val whens = (0 until 4).map { k =>
        val key = (0 until 16).map { j =>
          s"CASE WHEN embedding[${k * 16 + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"WHEN $k THEN ($key)"
      }.mkString("\n               ")
      s"""
      WITH cells AS (
        SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM embeddings),
      banded AS (
        SELECT vec_id,
               r.band,
               CASE r.band
               $whens
               END AS key
        FROM cells, range(0, 4) r(band)),
      pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.vec_id < b.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b,
               list_dot_product(ca.v, cb.v) /
                 (sqrt(list_dot_product(ca.v, ca.v)) *
                  sqrt(list_dot_product(cb.v, cb.v))) AS cos
        FROM pairs p
        JOIN cells ca ON ca.vec_id = p.id_a
        JOIN cells cb ON cb.vec_id = p.id_b)
      SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored
      WHERE round(cos, 6) >= 0.9"""
    },
      (s, dir) => Similarity.embeddingNearDupPairs(t(s, dir, "embeddings"),
        "embedding", "vec_id", minCosine = 0.9, bands = 4, bitsPerBand = 16)),

    // -------------------- dedup: embedding incremental (persisted index)
    // The minhash index's production shape on the embedding family
    // (round 16): the corpus's band keys AND vectors persist once
    // (Similarity.buildEmbeddingIndex — plan frozen in `_embplan`), and
    // the day's batch dedups against the index without re-banding the
    // corpus. The synthetic embeddings carry no cos>=0.9 pairs at
    // oracle SFs, so the batch plants x2-scaled copies of corpus %7=0
    // vectors under shifted ids (scale-invariant cosine, exact in
    // IEEE754, sign-banding keys identical) — every planted copy MUST
    // surface through the index path. Oracle: the one-shot banded CTEs
    // over corpus+batch, restricted to pairs touching the batch.
    QueryDef("dedup_embedding_incremental", Some {
      val whens = (0 until 4).map { k =>
        val key = (0 until 16).map { j =>
          s"CASE WHEN embedding[${k * 16 + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"WHEN $k THEN ($key)"
      }.mkString("\n               ")
      s"""
      WITH planted AS (
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(embedding, x -> x * 2)::FLOAT[] AS embedding
        FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id % 7 = 0),
      allv AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM planted),
      cells AS (
        SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM allv),
      banded AS (
        SELECT vec_id,
               r.band,
               CASE r.band
               $whens
               END AS key
        FROM cells, range(0, 4) r(band)),
      pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.vec_id < b.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b,
               list_dot_product(ca.v, cb.v) /
                 (sqrt(list_dot_product(ca.v, ca.v)) *
                  sqrt(list_dot_product(cb.v, cb.v))) AS cos
        FROM pairs p
        JOIN cells ca ON ca.vec_id = p.id_a
        JOIN cells cb ON cb.vec_id = p.id_b)
      SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored
      WHERE round(cos, 6) >= 0.9
        AND ((id_a % 5 = 0 AND id_a < 1000000) OR id_a >= 1000000
          OR (id_b % 5 = 0 AND id_b < 1000000) OR id_b >= 1000000)"""
    },
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val corpus = e.filter(col("vec_id") % 5 =!= 0)
        val batch = e.filter(col("vec_id") % 5 === 0)
          .unionByName(corpus.filter(col("vec_id") % 7 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f))
                .as("embedding")))
        val idx = Tables.scratchDir("emb_idx")
        Similarity.buildEmbeddingIndex(corpus, "embedding", "vec_id",
          idx, minCosine = 0.9, bands = 4, bitsPerBand = 16)
        Similarity.incrementalEmbeddingPairs(batch, "embedding",
          "vec_id", idx)
      }),

    // ---------------- streaming: embedding near-dup ingest (r16)
    // Streams.embDedupIngest end-to-end through a real FileStreamSource
    // (the stream_dedup_ingest treatment on the embedding band index):
    // three micro-batches, the FIRST freezing the banding plan (train
    // step), later batches banding under it and dedup'ing against the
    // accumulated index. Each pair is emitted exactly once — in the
    // batch where its later member arrives (in-batch via the band
    // self-join, cross-batch via the index) — so the unioned per-batch
    // outputs must equal the ONE-SHOT banded pair set over everything.
    // Planted x2-scaled copies land in different micro-batches than
    // their originals (1000000 % 3 = 1 shifts the id class), so the
    // cross-batch index path is guaranteed non-vacuous.
    QueryDef("stream_emb_ingest", Some {
      val whens = (0 until 4).map { k =>
        val key = (0 until 16).map { j =>
          s"CASE WHEN embedding[${k * 16 + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"WHEN $k THEN ($key)"
      }.mkString("\n               ")
      s"""
      WITH planted AS (
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(embedding, x -> x * 2)::FLOAT[] AS embedding
        FROM embeddings WHERE vec_id % 7 = 0),
      allv AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM planted),
      cells AS (
        SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM allv),
      banded AS (
        SELECT vec_id,
               r.band,
               CASE r.band
               $whens
               END AS key
        FROM cells, range(0, 4) r(band)),
      pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.vec_id < b.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b,
               list_dot_product(ca.v, cb.v) /
                 (sqrt(list_dot_product(ca.v, ca.v)) *
                  sqrt(list_dot_product(cb.v, cb.v))) AS cos
        FROM pairs p
        JOIN cells ca ON ca.vec_id = p.id_a
        JOIN cells cb ON cb.vec_id = p.id_b)
      SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored
      WHERE round(cos, 6) >= 0.9"""
    },
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val planted = e.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        val root = Tables.freshScratch("stream_emb")
        val src = stageMicroBatches(s, e.unionByName(planted), root,
          idCol = "vec_id")
        val q = graft.streaming.Streams.embDedupIngest(src, "embedding",
          "vec_id", s"$root/idx", s"$root/pairs", s"$root/ckpt",
          minCosine = 0.9)
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/pairs")
          .select(col("id_a"), col("id_b"), col("cosine"))
      }),

    // ---------------- dedup: embedding index reindex (r17)
    // The drift WARN's prescribed verb end-to-end — the round-14
    // reindexLsh discipline on the third index: a deliberately NARROW
    // forced-plan build ((2, 8) sign keys — a DIFFERENT key space than
    // the oracle's (4, 16) banding, with ~256 cells/band its candidate
    // sets differ at these corpora), a takedown, then
    // reindexEmbeddingIndex re-plans FROM THE INDEX'S OWN ROWS (the
    // vectors are stored — no corpus re-read), honoring tombstones
    // (the deleted docs must not resurrect) and refreshing `_embplan`
    // under the staged swap. The probe then answers the shared
    // incremental oracle AT THE RE-PICKED (4, 16) PLAN — a reindex
    // that kept the old keys, resurrected a tombstone, or left the
    // sidecar stale hash-fails.
    QueryDef("dedup_embedding_reindex", Some {
      val whens = (0 until 4).map { k =>
        val key = (0 until 16).map { j =>
          s"CASE WHEN embedding[${k * 16 + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"WHEN $k THEN ($key)"
      }.mkString("\n               ")
      s"""
      WITH planted AS (
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(embedding, x -> x * 2)::FLOAT[] AS embedding
        FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id % 7 = 0),
      live AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 5 <> 0 AND vec_id % 11 <> 1),
      allv AS (
        SELECT vec_id, embedding FROM live
        UNION ALL SELECT vec_id, embedding FROM embeddings
          WHERE vec_id % 5 = 0
        UNION ALL SELECT vec_id, embedding FROM planted),
      cells AS (
        SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM allv),
      banded AS (
        SELECT vec_id,
               r.band,
               CASE r.band
               $whens
               END AS key
        FROM cells, range(0, 4) r(band)),
      pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.vec_id < b.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b,
               list_dot_product(ca.v, cb.v) /
                 (sqrt(list_dot_product(ca.v, ca.v)) *
                  sqrt(list_dot_product(cb.v, cb.v))) AS cos
        FROM pairs p
        JOIN cells ca ON ca.vec_id = p.id_a
        JOIN cells cb ON cb.vec_id = p.id_b)
      SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored
      WHERE round(cos, 6) >= 0.9
        AND ((id_a % 5 = 0 AND id_a < 1000000) OR id_a >= 1000000
          OR (id_b % 5 = 0 AND id_b < 1000000) OR id_b >= 1000000)"""
    },
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val corpus = e.filter(col("vec_id") % 5 =!= 0)
        val batch = e.filter(col("vec_id") % 5 === 0)
          .unionByName(corpus.filter(col("vec_id") % 7 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f))
                .as("embedding")))
        val idx = Tables.scratchDir("emb_reidx")
        Similarity.buildEmbeddingIndex(corpus, "embedding", "vec_id",
          idx, minCosine = 0.9, bands = 2, bitsPerBand = 8,
          autoPlan = false)
        Dedup.deleteFromMinhashIndex(s, idx,
          corpus.filter(col("vec_id") % 11 === 1).select("vec_id"),
          idCol = "vec_id")
        val plan = Similarity.reindexEmbeddingIndex(s, idx,
          bands = 4, bitsPerBand = 16, autoPlan = true)
        require(plan == ((4, 16)),
          s"reindex re-picked $plan at oracle scale — the oracle " +
            "replays (4, 16) sign banding; counts this small must " +
            "keep the reference plan")
        val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$idx/_tombstones")),
          "reindex carried the _tombstones sidecar — the rebuild " +
            "consumes it (deletes are physical now)")
        require(Similarity.readEmbPlan(s, idx).planned == ((4, 16)),
          "reindex left a stale _embplan — probes would band with " +
            "the OLD keys and lose every collision")
        Similarity.incrementalEmbeddingPairs(batch, "embedding",
          "vec_id", idx)
      }),

    // ---------------- dedup: embedding index health snapshot (r17)
    // embeddingIndexHealth as an oracle row — the dedup_index_health /
    // ann_recon_health treatment on the third index. The snapshot's
    // data-derived fields are DuckDB-replayed value-for-value: the
    // bucket-occupancy scan (buckets / max bucket / mean occupancy at
    // 6dp, over LIVE rows — the tombstoned docs must be excluded
    // before the group-by) via the same banded CTE the pair oracles
    // use, the skew verdict via the exact comparison the engine makes
    // (max > skewFactor × greatest(mean, occupancy target)), the
    // tombstone count from the sidecar, and the BY-CAUSE prescription.
    // `drifted` is false by construction at oracle counts (the planner
    // is a no-op below the occupancy threshold) and `fragmented` is a
    // physical-layout fact — both are REQUIRED quiet here (loud
    // failure, not a hash mismatch) and get their flipped arms in
    // EmbeddingIndexSpec.
    QueryDef("dedup_embedding_health", Some {
      val whens = (0 until 4).map { k =>
        val key = (0 until 16).map { j =>
          s"CASE WHEN embedding[${k * 16 + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"WHEN $k THEN ($key)"
      }.mkString("\n               ")
      s"""
      WITH live AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 5 <> 0 AND vec_id % 7 <> 1),
      banded AS (
        SELECT vec_id,
               r.band,
               CASE r.band
               $whens
               END AS key
        FROM live, range(0, 4) r(band)),
      occ AS (
        SELECT band, key, count(*) AS c FROM banded GROUP BY band, key),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS buckets,
               CAST(max(c) AS BIGINT) AS max_bucket,
               CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_raw
        FROM occ)
      SELECT 'flat' AS layout, 4 AS bands, 16 AS bits,
             (SELECT CAST(count(DISTINCT vec_id) AS BIGINT)
              FROM embeddings WHERE vec_id % 5 <> 0) AS vectors,
             false AS drifted,
             buckets, max_bucket,
             round(mean_raw, 6) AS mean_occupancy,
             CAST(max_bucket AS DOUBLE) > 8.0 * greatest(mean_raw, 2.0)
               AS skewed,
             (SELECT CAST(count(DISTINCT vec_id) AS BIGINT)
              FROM embeddings
              WHERE vec_id % 5 <> 0 AND vec_id % 7 = 1) AS tombstones,
             true AS tombstone_heavy,
             CASE
               WHEN CAST(max_bucket AS DOUBLE) >
                 8.0 * greatest(mean_raw, 2.0)
                 THEN 'reindexEmbeddingIndex'
               ELSE 'vacuumMinhashTombstones'
             END AS prescription
      FROM agg"""
    },
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val corpus = e.filter(col("vec_id") % 5 =!= 0)
        val idx = Tables.scratchDir("emb_health_idx")
        Similarity.buildEmbeddingIndex(corpus, "embedding", "vec_id",
          idx, minCosine = 0.9, bands = 4, bitsPerBand = 16)
        Dedup.deleteFromMinhashIndex(s, idx,
          corpus.filter(col("vec_id") % 7 === 1).select("vec_id"),
          idCol = "vec_id")
        val h = Similarity.embeddingIndexHealth(s, idx,
          tombstoneFloor = 10L)
        require(!h.fragmented, "one bounded build fragmented the index")
        // the oracle replays (4,16) sign banding — assert the PLAN, not
        // drifted (which is vacuously false right after any build: the
        // fresh plan re-derives from the same recorded count)
        require(Similarity.readEmbPlan(s, idx).planned == ((4, 16)),
          s"planner widened at ${h.signal.vectors} vectors — oracle counts " +
            "must keep the reference plan")
        require(h.tombstoneHeavy, "takedown below the 10-id floor")
        val sig = h.signal
        Seq((h.layout, sig.bands, sig.bits, sig.vectors, sig.drifted,
          sig.buckets, sig.maxBucket, sig.meanOccupancy, sig.skewed,
          h.tombstones, h.tombstoneHeavy, h.prescription))
          .toDF("layout", "bands", "bits", "vectors", "drifted",
            "buckets", "max_bucket", "mean_occupancy", "skewed",
            "tombstones", "tombstone_heavy", "prescription")
          .withColumn("mean_occupancy", round(col("mean_occupancy"), 6))
      }),

    // ---------------- streaming: embedding ingest + in-stream REINDEX
    // (r17) The three-family stream-maintenance symmetry's last row
    // (stream_dedup_maintain / stream_ann_maintain /
    // stream_ivfpq_maintain exist): a microscopic occupancy target
    // makes the training batch freeze a plan the growing stream
    // outgrows on EVERY later batch, so maintainEvery=1 executes the
    // drift-prescribed reindexEmbeddingIndex IN-STREAM — mid-stream
    // the index re-plans and re-bands from its own rows while later
    // batches keep dedup'ing against it. The requires pin that the
    // final frozen plan equals the plan AT THE FULL COUNT and differs
    // from batch 0's (a stream that never re-planned fails loudly);
    // the oracle is BRUTE-FORCE all-pairs cosine — plan-independent by
    // construction, valid because planted ×2 twins collide in every
    // band under ANY sign/ortho plan (scale-invariant keys) and the
    // synthetic embeddings carry no accidental cos >= 0.9 pairs at
    // oracle SFs. Twins land in different micro-batches than their
    // originals (1000000 % 3 = 1), so every twin pair crosses a
    // reindexed index boundary.
    QueryDef("stream_emb_maintain", Some("""
      WITH planted AS (
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(embedding, x -> x * 2)::FLOAT[] AS embedding
        FROM embeddings WHERE vec_id % 7 = 0),
      cells AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL SELECT vec_id, embedding::DOUBLE[] AS v FROM planted),
      scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))) AS cos
        FROM cells a JOIN cells b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored
      WHERE round(cos, 6) >= 0.9"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val planted = e.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        val allv = e.unionByName(planted)
        val root = Tables.freshScratch("stream_emb_mnt")
        val src = stageMicroBatches(s, allv, root, idCol = "vec_id")
        val q = graft.streaming.Streams.embDedupIngest(src, "embedding",
          "vec_id", s"$root/idx", s"$root/pairs", s"$root/ckpt",
          minCosine = 0.9, targetOccupancy = 0.001, maintainEvery = 1)
        try q.processAllAvailable() finally q.stop()
        val total = allv.count()
        val b0 = allv.filter(pmod(col("vec_id"), lit(3)) === 0).count()
        val got = Similarity.readEmbPlan(s, s"$root/idx").planned
        require(got == Similarity.planEmbeddingBands(total, 0.9, 4, 16,
          targetOccupancy = 0.001),
          s"final plan $got is not the full-count plan — the in-stream " +
            "reindex did not run (or re-planned at the wrong count)")
        require(got != Similarity.planEmbeddingBands(b0, 0.9, 4, 16,
          targetOccupancy = 0.001),
          "fixture defect: the stream never outgrew batch 0's plan — " +
            "the in-stream reindex was vacuous")
        require(!Similarity.embeddingIndexHealth(s, s"$root/idx",
          checkOccupancy = false).signal.drifted,
          "post-stream health still reports drift")
        s.read.parquet(s"$root/pairs")
          .select(col("id_a"), col("id_b"), col("cosine"))
      }),

    // The EXPLICIT-PLAN twin (round 13: the occupancy auto-plan became
    // the production default, mirroring round 12's autoSalt flip — the
    // base row above now exercises the default-auto path): this row pins
    // autoPlan = false, covering the fixed (4, 16) API arm a caller uses
    // to reproduce the oracle-replayed banding at ANY corpus size. Below
    // the occupancy threshold the auto plan IS (4, 16), so at oracle
    // scale both rows are bit-identical and the shared oracle SQL guards
    // the gate end-to-end (the >threshold arm is spec-covered on planted
    // dups and measured in the scaling record).
    QueryDef("dedup_embedding_fixed", Some {
      val whens = (0 until 4).map { k =>
        val key = (0 until 16).map { j =>
          s"CASE WHEN embedding[${k * 16 + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"WHEN $k THEN ($key)"
      }.mkString("\n               ")
      s"""
      WITH cells AS (
        SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM embeddings),
      banded AS (
        SELECT vec_id,
               r.band,
               CASE r.band
               $whens
               END AS key
        FROM cells, range(0, 4) r(band)),
      pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.vec_id < b.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b,
               list_dot_product(ca.v, cb.v) /
                 (sqrt(list_dot_product(ca.v, ca.v)) *
                  sqrt(list_dot_product(cb.v, cb.v))) AS cos
        FROM pairs p
        JOIN cells ca ON ca.vec_id = p.id_a
        JOIN cells cb ON cb.vec_id = p.id_b)
      SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored
      WHERE round(cos, 6) >= 0.9"""
    },
      (s, dir) => Similarity.embeddingNearDupPairs(t(s, dir, "embeddings"),
        "embedding", "vec_id", minCosine = 0.9, bands = 4, bitsPerBand = 16,
        autoPlan = false)),

    // ------------------------------------------- embeddings: SemDeDup
    // Semantic dedup (SemDeDup, arXiv:2303.09540) end-to-end: sign-pattern
    // clusters -> per-cluster centroids -> within-cluster cosine pairs ->
    // connected components -> keep the lowest-cos-to-centroid member of
    // each dup group. Oracle replays the whole operator: zipped-unnest
    // per-dim means, list_dot_product cosines, recursive-CTE closure.
    // The synthetic embeddings carry no cos>=0.9 pairs at the oracle SFs
    // (dedup_embedding legitimately returns zero rows there), so the drop
    // arm is exercised by planting semantic dups: every %97 vector gets a
    // x2-scaled copy under a shifted id. Cosine is scale-invariant and x2
    // is exact in IEEE754, so copy and original tie exactly on
    // cos-to-centroid and the id tie-break must keep the ORIGINAL.
    QueryDef("emb_semdedup", Some(semdedupOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings").select("vec_id", "embedding")
        val planted = e.filter(col("vec_id") % 97 === 0)
          .select((col("vec_id") + 1000000000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        Similarity.semDedup(e.unionByName(planted),
            "embedding", "vec_id", minCosine = 0.9, signBits = 6)
          .withColumnRenamed("id", "vec_id")
      }),

    // The EXPLICIT-PLAN twin (same rationale and gating as
    // dedup_embedding_fixed — the auto plan is the production default
    // since round 13, so the base row above covers the default-auto
    // path and this one pins autoPlan = false): below the occupancy
    // threshold the plan is (4, 16) exactly, so at oracle scale both
    // rows are bit-identical and the shared oracle guards the gate; the
    // >threshold arm is spec-covered and measured in the scaling record.
    QueryDef("emb_semdedup_fixed", Some(semdedupOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings").select("vec_id", "embedding")
        val planted = e.filter(col("vec_id") % 97 === 0)
          .select((col("vec_id") + 1000000000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        Similarity.semDedup(e.unionByName(planted),
            "embedding", "vec_id", minCosine = 0.9, signBits = 6,
            autoPlan = false)
          .withColumnRenamed("id", "vec_id")
      }),


    // ------------------------------------------------- similarity: brute
    QueryDef("ann_cosine_topk", Some("""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT vec_id,
               round(list_dot_product(embedding::DOUBLE[], qv) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                  sqrt(list_dot_product(qv, qv))), 6) AS cosine
        FROM embeddings, q)
      SELECT vec_id, cosine FROM scored
      ORDER BY cosine DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        e.crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id").asc)
          .limit(10)
      }),

    // ------------------------------------- similarity: hard negatives
    // Contrastive-training data mining: for each anchor vector, the top-3
    // most-similar vectors with a DIFFERENT label (similar-but-wrong — the
    // negatives that actually teach). Anchors broadcast (mining batches
    // are small vs the corpus); ranking is per-anchor on the ROUNDED
    // cosine with a vec_id tiebreak so both engines cut identically;
    // parallelism is the anchor count — the real mining case ranks every
    // training query as an anchor, so the per-anchor window distributes.
    QueryDef("emb_hard_negatives", Some("""
      WITH a AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av, label AS a_label
                 FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT a.anchor_id, e.vec_id,
               round(list_dot_product(e.embedding::DOUBLE[], a.av) /
                 (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(a.av, a.av))), 6) AS cosine
        FROM embeddings e CROSS JOIN a
        WHERE e.label <> a.a_label),
      r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
                        ORDER BY cosine DESC, vec_id) AS rn FROM scored)
      SELECT anchor_id, vec_id, cosine FROM r WHERE rn <= 3"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings")
        val anchors = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("anchor_id"), col("embedding").as("__av"),
            col("label").as("__al"))
        val w = Window.partitionBy("anchor_id")
          .orderBy(col("cosine").desc, col("vec_id"))
        e.crossJoin(broadcast(anchors))
          .filter(col("label") =!= col("__al"))
          .select(col("anchor_id"), col("vec_id"),
            round(Similarity.cosine(col("embedding"), col("__av")), 6)
              .as("cosine"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 3)
          .drop("__rn")
      }),

    // ------------------------------------------------- similarity: LSH
    // The 12 deterministic +-1 hyperplanes are generated into the SQL from
    // Similarity.hyperplaneSign, term order matching the Spark plan's
    // left-fold exactly (x * +-1.0 == +-x bit-for-bit, so the signatures
    // agree across engines without rounding).
    QueryDef("ann_lsh_topk", Some(annLshTopkOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qRow = e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0)
        Similarity.lshTopK(e, "embedding", "vec_id", qRow, 10)
      }),

    // The EXPLICIT-PLAN twin (same rationale and gating as
    // dedup_embedding_fixed — lshTopK's autoPlan became the production
    // default late in round 13, so the base row above covers the
    // default-auto path and this one pins autoPlan = false): below the
    // occupancy threshold the plan IS (12, 2), so at oracle scale both
    // rows are bit-identical and the shared oracle guards the gate.
    QueryDef("ann_lsh_topk_fixed", Some(annLshTopkOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qRow = e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0)
        Similarity.lshTopK(e, "embedding", "vec_id", qRow, 10,
          autoPlan = false)
      }),

    // ------------------------------------------------- similarity: kNN join
    // Batched k-NN JOIN: every query row (here vec_id < 5, realistic
    // mining shape: queries drawn from the corpus itself) gets its top-3
    // corpus neighbors. Spark executes the SCALE formulation — the query
    // side explodes its hamming-1 multiprobe ball and equi-joins the
    // corpus on the bucket key, per-query windows — while the oracle
    // states the equivalent hamming-distance filter over the small query
    // set. Same probe ball, same candidates, value-matched.
    QueryDef("ann_knn_join", Some(annKnnJoinOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.lshKnnJoin(e.filter(col("vec_id") < 5), e,
          "embedding", "vec_id", k = 3, bits = 12, probeHamming = 1)
      }),

    // ------------------------------- similarity: kNN join, persisted index
    // The same probe ball against the PERSISTED LSH table (round 14 —
    // the last cell of the batched × persisted matrix): corpus
    // signatures come from the index instead of being recomputed per
    // call, the (sig_grp, sig) equi-join prunes at the partition level,
    // and bits/family are recovered from the _plan sidecar only. At
    // oracle scale the autoPlan build is a no-op at the reference
    // (12, 1) +-1 plan, so the row SHARES ann_knn_join's oracle — the
    // equality of the two rows' results IS the persisted-vs-in-memory
    // equivalence, driver-checked every round.
    QueryDef("ann_lsh_knn_indexed", Some(annKnnJoinOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("lsh_knn_idx")
        graft.operators.AnnIndex.buildLsh(e, "embedding", "vec_id", idx,
          dims = 64, bits = 12, refHamming = 1)
        graft.operators.AnnIndex.lshKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      }),

    // ---------------------------- similarity: incremental append (r14)
    // The index LIFECYCLE row: build the LSH index from HALF the corpus,
    // appendLsh the other half under the frozen _plan geometry (the
    // FAISS train-then-add shape — at 100 TB the alternative to append
    // is a full-corpus rebuild for a <1% daily batch), then run the
    // batched kNN join. Signatures are geometry-only, so the
    // half-build + append index must serve answers IDENTICAL to the
    // one-shot full build — the row shares ann_knn_join's full-corpus
    // oracle, making that equivalence driver-checked every round.
    QueryDef("ann_append_knn", Some(annKnnJoinOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("lsh_append_idx")
        graft.operators.AnnIndex.buildLsh(
          e.filter(col("vec_id") % 2 === 0), "embedding", "vec_id", idx,
          dims = 64, bits = 12, refHamming = 1)
        graft.operators.AnnIndex.appendLsh(
          e.filter(col("vec_id") % 2 =!= 0), "embedding", "vec_id", idx)
        graft.operators.AnnIndex.lshKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      }),

    // --------------------------- similarity: reindexed lifecycle (r14)
    // The drift WARN's prescribed action, driver-gated: build the index
    // at a deliberately narrow 4-bit plan (the outgrown state), append
    // the rest, reindexLsh — the index rebuilds FROM ITS OWN ROWS at the
    // re-picked plan (the (12, 1) +-1 reference at oracle scale), and
    // the probe must match the same full-corpus oracle as every other
    // lifecycle row.
    QueryDef("ann_reindex_knn", Some(annKnnJoinOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("lsh_reindex_idx")
        graft.operators.AnnIndex.buildLsh(
          e.filter(col("vec_id") % 2 === 0), "embedding", "vec_id", idx,
          dims = 64, bits = 4, autoPlan = false)
        graft.operators.AnnIndex.appendLsh(
          e.filter(col("vec_id") % 2 =!= 0), "embedding", "vec_id", idx)
        graft.operators.AnnIndex.reindexLsh(s, idx)
        graft.operators.AnnIndex.lshKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      }),

    // --------------------------- similarity: compacted lifecycle (r14)
    // The full lifecycle under one oracle: build half, append the rest,
    // COMPACT (staged-rename rewrite, geometry byte-identical), probe.
    // Compaction must not move a single answer — the row shares the
    // same full-corpus oracle as ann_knn_join/ann_append_knn, so a
    // compaction bug (dropped rows, wrong sort, lost sidecar) fails the
    // driver gate, not just the spec.
    QueryDef("ann_compact_knn", Some(annKnnJoinOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("lsh_compact_idx")
        graft.operators.AnnIndex.buildLsh(
          e.filter(col("vec_id") % 2 === 0), "embedding", "vec_id", idx,
          dims = 64, bits = 12, refHamming = 1)
        graft.operators.AnnIndex.appendLsh(
          e.filter(col("vec_id") % 2 =!= 0), "embedding", "vec_id", idx)
        graft.operators.AnnIndex.compactIndex(s, idx)
        graft.operators.AnnIndex.lshKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      }),

    // --------------------------- similarity: tombstone delete (r15)
    // The lifecycle's last verb, driver-gated: build the full corpus,
    // deleteIds a planted id set (vec_id % 10 = 3 — tombstones appended
    // to the `_tombstones` sidecar, O(ids), no data rewrite), probe with
    // the batched join. Deleted rows must neither appear nor consume
    // top-k slots — the oracle ranks over SURVIVORS, so a tombstone
    // filter applied after the cut (or not at all) hash-fails. The
    // physical half (compaction drops tombstoned rows, clears the
    // sidecar, survivors byte-identical) is AnnAppendSpec's
    // delete-then-compact == build-from-survivors arm.
    QueryDef("ann_delete_knn", Some(annDeleteKnnOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("lsh_delete_idx")
        graft.operators.AnnIndex.buildLsh(e, "embedding", "vec_id", idx,
          dims = 64, bits = 12, refHamming = 1)
        graft.operators.AnnIndex.deleteIds(s, idx,
          e.filter(col("vec_id") % 10 === 3).select("vec_id"))
        graft.operators.AnnIndex.lshKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      }),

    // ------------------------ similarity: targeted vacuum (r15)
    // ann_delete_knn's PHYSICAL half, driver-gated: the same build +
    // planted tombstones, then vacuumTombstones rewrites ONLY the files
    // holding tombstoned rows (manifest roll-forward commit) and clears
    // the sidecar — so the probe runs with NO tombstone anti-join in the
    // plan, over physically-dropped rows. Shares ann_delete_knn's
    // survivor-ranked oracle: a vacuum that drops the wrong rows, leaks
    // a tombstoned row, or loses a survivor file hash-fails here. The
    // require pins that the probe really took the sidecar-free path.
    QueryDef("ann_vacuum_knn", Some(annDeleteKnnOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("lsh_vacuum_idx")
        graft.operators.AnnIndex.buildLsh(e, "embedding", "vec_id", idx,
          dims = 64, bits = 12, refHamming = 1)
        graft.operators.AnnIndex.deleteIds(s, idx,
          e.filter(col("vec_id") % 10 === 3).select("vec_id"))
        val (rewritten, dropped) =
          graft.operators.AnnIndex.vacuumTombstones(s, idx)
        require(rewritten > 0 && dropped > 0,
          s"vacuum was a no-op (files=$rewritten rows=$dropped)")
        val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$idx/_tombstones")),
          "vacuum left the _tombstones sidecar — probe would anti-join")
        graft.operators.AnnIndex.lshKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      }),

    // ------------------------ similarity: scoped search (r15, late)
    // Scoped (filtered) ANN over a SHARED index: a tenant / license /
    // language filter resolved upstream to an id table searches a
    // subset without rebuilding one index per filter — the real
    // retrieval shape at 100 TB ("top-k similar WHERE lang='en'"). The
    // scope is a semi-join applied BEFORE the top-k cut (the tombstone
    // discipline, positive polarity): the oracle ranks over the allowed
    // subset, so a post-filter implementation — where out-of-scope rows
    // eat k slots and the tail goes missing — hash-fails here.
    QueryDef("ann_scoped_knn", Some(annScopedKnnOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("lsh_scope_idx")
        graft.operators.AnnIndex.buildLsh(e, "embedding", "vec_id", idx,
          dims = 64, bits = 12, refHamming = 1)
        graft.operators.AnnIndex.lshKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3,
          scope = Some(e.filter(col("vec_id") % 3 === 0).select("vec_id")))
      }),

    // ------------------------ similarity: index health (r15, late)
    // indexHealth as an oracle row: the snapshot's DETERMINISTIC fields
    // (layout, row/tombstone counts from sidecars, the planned sign key
    // space, the planIvfCells re-plan and the drift/tombstone-mass flags)
    // are all DuckDB-replayable — count(*), the 2-bit key space, and the
    // max(cur, 2^ceil(log2(n/target))) plan formula — so
    // a health API that misreads a sidecar, re-plans with the wrong
    // formula, or flips a threshold hash-fails at the driver. File/
    // fragmentation fields are physical-layout facts (not SQL-stable)
    // and stay spec-covered in AnnMaintainSpec.
    QueryDef("ann_health", Some(annHealthOracleSql),
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("ivf_health_idx")
        graft.operators.AnnIndex.buildIvf(e, "embedding", "vec_id", idx,
          nCells = 4, autoPlan = false, quantizer = "sign")
        graft.operators.AnnIndex.deleteIds(s, idx,
          e.filter(col("vec_id") % 10 === 3).select("vec_id"))
        val h = graft.operators.AnnIndex.indexHealth(s, idx,
          targetCellRows = 64L)
        Seq((h.layout, h.rows.get, h.tombstones,
          h.signal.currentUnits.toLong, h.signal.plannedUnits.toLong,
          h.signal.drifted, h.tombstoneHeavy))
          .toDF("layout", "n_rows", "tombstones", "cells",
            "planned_cells", "drifted", "tombstone_heavy")
      }),

    // ---------------- similarity: codebook-staleness health (r16)
    // The lossy families' DISTRIBUTION-shift signal, value-matched:
    // occupancy drift catches growth, not a moved data mix — so builds
    // stamp a sampled reconstruction error into `_recon`, appends
    // re-measure THEIR batch against the frozen codebooks, and
    // indexHealth flags `stale` when the appended mass degrades past
    // 1.5x the baseline, prescribing the corpus-bound reindex. Every
    // field is deterministic with the sign quantizer at oracle scale
    // (the 256k hash-sample is the whole corpus): DuckDB replays the
    // normalize, the codes, the member-mean codebooks, BOTH mean
    // squared reconstruction errors (6dp) and the 1.5x comparison —
    // a health that mis-measures either side, or a build/append that
    // stamps the wrong mass, hash-fails value-for-value.
    QueryDef("ann_recon_health", Some {
      val codeList = (0 until 16).map { j =>
        (0 until 4).map { b =>
          s"(CASE WHEN nv[${j * 4 + b + 1}] >= 0 THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString("[", ",\n        ", "]")
      s"""
      WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      shifted AS (
        SELECT vec_id + 1000000 AS vec_id,
               [v[i] * (CASE WHEN (i - 1) % 2 = 1 THEN 100.0 ELSE 1.0 END)
                FOR i IN range(1, len(v) + 1)] AS v
        FROM raw WHERE vec_id % 10 = 7),
      nb AS (SELECT vec_id, CASE WHEN sqrt(list_dot_product(v, v)) > 0
               THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
               ELSE v END AS nv FROM raw),
      na AS (SELECT vec_id, CASE WHEN sqrt(list_dot_product(v, v)) > 0
               THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
               ELSE v END AS nv FROM shifted),
      cb_coded AS (SELECT vec_id, nv, $codeList AS code FROM nb),
      ap_coded AS (SELECT vec_id, nv, $codeList AS code FROM na),
      -- codebooks: member means over the BUILD corpus only
      expl AS (SELECT code, unnest(range(len(nv))) AS i, unnest(nv) AS x FROM cb_coded),
      assign AS (SELECT CAST(i // 4 AS INT) AS j, CAST(i % 4 AS INT) AS p, x,
                        code[CAST(i // 4 AS INT) + 1] AS c FROM expl),
      cb AS (SELECT j, c, p, avg(x) AS m FROM assign GROUP BY j, c, p),
      -- mean squared reconstruction error of a coded set vs those books
      be AS (SELECT sum((t.x - cb.m) * (t.x - cb.m)) /
                    (SELECT count(*) FROM cb_coded) AS err
             FROM assign t JOIN cb USING (j, c, p)),
      ae0 AS (SELECT CAST(i // 4 AS INT) AS j, CAST(i % 4 AS INT) AS p, x,
                     code[CAST(i // 4 AS INT) + 1] AS c
              FROM (SELECT code, unnest(range(len(nv))) AS i,
                           unnest(nv) AS x FROM ap_coded)),
      ae AS (SELECT sum((t.x - cb.m) * (t.x - cb.m)) /
                    (SELECT count(*) FROM ap_coded) AS err
             FROM ae0 t JOIN cb USING (j, c, p))
      SELECT 'ivfpq' AS layout,
             round((SELECT err FROM be), 6) AS base_recon,
             round((SELECT err FROM ae), 6) AS appended_recon,
             (SELECT CAST(count(*) AS BIGINT) FROM ap_coded) AS appended_n,
             (SELECT err FROM ae) > 1.5 * (SELECT err FROM be) AS stale"""
    },
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("recon_health_idx")
        graft.operators.AnnIndex.buildIvfPq(e, "embedding", "vec_id", idx,
          nCells = 16, m = 16, quantizer = "sign", autoPlan = false)
        // the appended mass: a positively-scaled (sign-preserving, so
        // cells/codes stay covered) re-crawl of the %10=7 slice — the
        // normalized VALUES move, the frozen codebooks don't
        val shifted = e.filter(col("vec_id") % 10 === 7).select(
          (col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(pmod(i, lit(2)) === 1, x * lit(100.0f))
              .otherwise(x)).as("embedding"))
        graft.operators.AnnIndex.appendIvfPq(shifted, "embedding",
          "vec_id", idx)
        val h = graft.operators.AnnIndex.indexHealth(s, idx,
          staleMinRows = 1L)
        Seq((h.layout, h.signal.baseReconErr, h.signal.appendedReconErr,
          h.signal.appendedReconRows, h.signal.stale))
          .toDF("layout", "base_raw", "appended_raw", "appended_n", "stale")
          .select(col("layout"),
            round(col("base_raw"), 6).as("base_recon"),
            round(col("appended_raw"), 6).as("appended_recon"),
            col("appended_n"), col("stale"))
      }),

    // ----------------------- similarity: streaming ANN ingest (r14)
    // Streams.annIngest end-to-end through a real FileStreamSource: the
    // first micro-batch BUILDS the LSH index (the train step — its plan
    // freezes in the _plan sidecar), later batches appendLsh under the
    // frozen geometry, and the batched kNN join probes the accumulated
    // index. Signatures are geometry-only, so the streamed index must
    // serve the same answers as the one-shot full build — the row
    // shares ann_knn_join's full-corpus oracle like ann_append_knn.
    QueryDef("stream_ann_ingest", Some(annKnnJoinOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val root = Tables.freshScratch("stream_ann")
        val src = stageMicroBatches(s, e, root, idCol = "vec_id")
        val q = graft.streaming.Streams.annIngest(src, "embedding",
          "vec_id", s"$root/idx", s"$root/ckpt")
        try q.processAllAvailable() finally q.stop()
        graft.operators.AnnIndex.lshKnnJoin(s, s"$root/idx",
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      }),

    // ------------- similarity: streaming ingest + maintenance (r15, late)
    // annIngest with maintainEvery: the stream ANSWERS its own drift /
    // fragmentation signals by running maintainIndex between micro-
    // batches (reindex on drift, compact on the small-file accumulation
    // appends inherently create — both crash-safe staged swaps, both
    // answer-preserving). At oracle scale the build+2 appends leave 3
    // files per group dir, so the in-stream COMPACT must fire — the
    // require pins it physically (a maintainEvery that never runs, or a
    // maintenance that breaks answers, fails the gate) — and the probe
    // still matches the same full-corpus oracle as every lifecycle row.
    QueryDef("stream_ann_maintain", Some(annKnnJoinOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val root = Tables.freshScratch("stream_ann_mnt")
        val src = stageMicroBatches(s, e, root, idCol = "vec_id")
        val q = graft.streaming.Streams.annIngest(src, "embedding",
          "vec_id", s"$root/idx", s"$root/ckpt", maintainEvery = 1)
        try q.processAllAvailable() finally q.stop()
        val h = graft.operators.AnnIndex.indexHealth(s, s"$root/idx")
        require(!h.fragmented && h.prescription == "healthy",
          s"in-stream maintenance did not run: $h")
        graft.operators.AnnIndex.lshKnnJoin(s, s"$root/idx",
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3)
      }),

    // ------------- similarity: streaming IVF-PQ ingest (r16)
    // The composite family's streaming face — the production crawl-
    // ingest shape at 100 TB (codes-only footprint): the FIRST
    // micro-batch TRAINS cells + codebooks (buildIvfPq — the FAISS
    // train step), later batches appendIvfPq under the FROZEN geometry,
    // and the batched kNN join probes the accumulated index. Unlike the
    // LSH twin, the trained sidecars are DATA-dependent (member means
    // of the training batch), so sharing the full-corpus-trained oracle
    // would quietly bet that a differently-trained cut keeps the same
    // top-k — instead the oracle replays the ACTUAL semantics: cell
    // centroids and codebooks computed over the batch-0 slice (vec_id %
    // 3 = 0; the stager pins the batch order by mtime), codes/cells
    // over everything, probe ranking, asymmetric-distance cut and exact
    // re-rank value-for-value. An implementation that secretly refits
    // on append — breaking the frozen-geometry contract — hash-fails
    // here, which the shared oracle could never catch.
    // m = 16 (4-bit subspaces) rather than the batch row's m = 8: the
    // codebook trains on batch 0 ALONE, and a 16-code subspace is
    // covered by a few hundred training rows w.h.p. while a 256-code
    // one is not — appends would otherwise carry codes training never
    // saw, which score +inf (the documented hole contract) and would
    // starve the candidate cut. The wider-m/narrower-sub tradeoff IS
    // the production guidance for train-on-first-batch streams.
    QueryDef("stream_ivfpq_ingest", Some(streamIvfPqOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val root = Tables.freshScratch("stream_ivfpq")
        val src = stageOrderedMicroBatches(s, e, root, idCol = "vec_id")
        val q = graft.streaming.Streams.annIngestIvfPq(src, "embedding",
          "vec_id", s"$root/idx", s"$root/ckpt", nCells = 16, m = 16,
          quantizer = "sign", autoPlan = false)
        try q.processAllAvailable() finally q.stop()
        // the streamed index must be the accumulated corpus under the
        // batch-0-frozen plan — a refit-on-append would also hash-fail
        // at the oracle, but fail loudly here first
        require(s.read.parquet(s"$root/idx").count() == e.count(),
          "streamed IVF-PQ index lost rows")
        graft.operators.AnnIndex.ivfPqKnnJoin(s, s"$root/idx",
          e.filter(col("vec_id") < 5), e, "embedding", "vec_id",
          k = 3, nProbe = 8, overFetch = 16)
      }),

    // -------- similarity: streaming IVF-PQ ingest + maintenance (r16)
    // annIngestIvfPq with maintainEvery=1 — the stream_ann_maintain
    // treatment on the composite family: every batch's maintenance runs
    // WITHOUT a corpus handle, so the append fragmentation is compacted
    // in-stream (the require pins it) while the corpus-bound reindex
    // can only ever be REPORTED — a maintenance that retrains the
    // codebooks mid-stream would break the batch-0-trained oracle this
    // row shares with stream_ivfpq_ingest, so the frozen-geometry
    // contract is hash-gated THROUGH the maintenance path too.
    QueryDef("stream_ivfpq_maintain", Some(streamIvfPqOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val root = Tables.freshScratch("stream_ivfpq_mnt")
        val src = stageOrderedMicroBatches(s, e, root, idCol = "vec_id")
        val q = graft.streaming.Streams.annIngestIvfPq(src, "embedding",
          "vec_id", s"$root/idx", s"$root/ckpt", nCells = 16, m = 16,
          quantizer = "sign", autoPlan = false, maintainEvery = 1)
        try q.processAllAvailable() finally q.stop()
        val h = graft.operators.AnnIndex.indexHealth(s, s"$root/idx")
        require(!h.fragmented && !h.signal.drifted,
          s"in-stream maintenance did not compact the append files: $h")
        graft.operators.AnnIndex.ivfPqKnnJoin(s, s"$root/idx",
          e.filter(col("vec_id") < 5), e, "embedding", "vec_id",
          k = 3, nProbe = 8, overFetch = 16)
      }),

    // -------- similarity: in-stream RESERVOIR reindex (r18)
    // The lossy family's last corpus-bound limit, lifted: the stream
    // builds at batch 0 (16 cells), appends batches 1-2 under that
    // frozen geometry, and the post-stream maintenance window
    // (maintainEvery = 3) sees occupancy drift at targetCellRows = 8 —
    // planIvfCells re-plans 16 -> 64 cells — and EXECUTES the rebuild
    // with no corpus handle: quantizers retrain from the `_sample` raw
    // reservoir (grown by the build and every append; at oracle scale
    // it holds every live row, so the retrain is exactly a fresh
    // full-corpus build), codes re-derive, and the staged swap cuts
    // over mid-pipeline. The oracle replays the RE-PLANNED geometry —
    // dynamic sign-bit width from the planner's own formula, centroids
    // and codebooks trained over ALL rows — so a stream that keeps
    // batch-0 geometry (the round-17 reported-not-taken behavior) or
    // one that retrains from lossy reconstructions hash-fails. The
    // requires pin the mechanism: the reindex actually ran in-stream
    // (cell count re-planned) and health settled.
    QueryDef("stream_ivfpq_reindex", Some(reservoirIvfPqOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val root = Tables.freshScratch("stream_ivfpq_reidx")
        val src = stageOrderedMicroBatches(s, e, root, idCol = "vec_id")
        val q = graft.streaming.Streams.annIngestIvfPq(src, "embedding",
          "vec_id", s"$root/idx", s"$root/ckpt", nCells = 16, m = 16,
          quantizer = "sign", autoPlan = false, maintainEvery = 3,
          targetCellRows = 8L)
        try q.processAllAvailable() finally q.stop()
        val planned = graft.operators.Similarity.planIvfCells(
          e.count(), 16, 8L)
        // occupied cells, not the key space — tolerate a rare empty
        // sign pattern; the oracle hash-gates the actual geometry
        val got = graft.operators.AnnIndex.ivfCentroids(s, s"$root/idx")
          .length
        require(got > 16 && got <= planned,
          s"the in-stream reservoir reindex did not re-plan the cells " +
            s"(got $got occupied, planned key space $planned)")
        val h = graft.operators.AnnIndex.indexHealth(s, s"$root/idx",
          targetCellRows = 8L)
        require(!h.fragmented,
          s"post-reindex health did not settle: $h")
        graft.operators.AnnIndex.ivfPqKnnJoin(s, s"$root/idx",
          e.filter(col("vec_id") < 5), e, "embedding", "vec_id",
          k = 3, nProbe = 8, overFetch = 16)
      }),

    // ------------------------------------------------- similarity: IVF
    // VALUE-MATCHED oracle: the sign-pattern coarse quantizer (cell =
    // sign bits of the first 4 dims, centroid = per-dim member mean —
    // the quantizer family emb_semdedup already replays) is fully
    // deterministic, so DuckDB replays cells, centroids, the nProbe=8
    // probe ranking AND the final top-k value-for-value. K-means stays
    // the production quantizer behind the same ivfTopK interface
    // (AnnIndexSpec covers it, incl. recall vs brute force); rankings
    // round to 6dp with cell/vec_id tiebreaks so both engines cut
    // identically.
    QueryDef("ann_ivf_topk", Some(annIvfTopkOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qRow = e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0)
        Similarity.ivfTopK(e, "embedding", "vec_id", qRow, 10,
          nCells = 16, nProbe = 8, quantizer = "sign")
      }),

    // The EXPLICIT-PLAN twin (same gate as ann_lsh_topk_fixed): the IVF
    // cell plan (planIvfCells, rows-per-cell pinned) became the
    // production default late in round 13; below nCells * targetCellRows
    // rows the plan IS the explicit 16 cells, so both rows share the
    // value-matched oracle and the no-op gate is guarded end-to-end.
    QueryDef("ann_ivf_topk_fixed", Some(annIvfTopkOracleSql),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qRow = e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0)
        Similarity.ivfTopK(e, "embedding", "vec_id", qRow, 10,
          nCells = 16, nProbe = 8, quantizer = "sign", autoPlan = false)
      }),

    // --------------------------------------- ANN: batched IVF kNN join
    // The plain-IVF sibling of ann_ivfpq_knn_join (round 14): the
    // persisted raw-vector index serves a corpus-sized query set —
    // broadcast centroid ranking, per-query nProbe cells, cell
    // equi-join (DPP on the data scan), exact cosine in place. The
    // sign-quantizer build (buildIvf(quantizer = "sign")) is fully
    // deterministic, so DuckDB replays cells, member-mean centroids,
    // the per-query probe ranking AND the final per-query top-k
    // value-for-value.
    QueryDef("ann_ivf_knn_join", Some("""
      WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cells AS (
        SELECT vec_id, v,
          (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END) + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END) +
          (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS cell
        FROM raw),
      expl AS (SELECT cell, unnest(range(len(v))) AS i, unnest(v) AS x FROM cells),
      cm AS (SELECT cell, i, avg(x) AS m FROM expl GROUP BY cell, i),
      cent AS (SELECT cell, list(m ORDER BY i) AS c FROM cm GROUP BY cell),
      q AS (SELECT vec_id AS query_id, v AS qv FROM raw WHERE vec_id < 5),
      pranked AS (
        SELECT query_id, cell,
               row_number() OVER (PARTITION BY query_id ORDER BY
                 round(CASE WHEN sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)) > 0
                   THEN list_dot_product(c, qv) / (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)))
                   ELSE 0.0 END, 6) DESC, cell) AS rn
        FROM cent, q),
      probes AS (SELECT query_id, cell FROM pranked WHERE rn <= 8),
      scored AS (
        SELECT query_id, e.vec_id,
               round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv)) > 0
                 THEN list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv)))
                 ELSE 0.0 END, 6) AS cosine
        FROM cells e JOIN probes USING (cell) JOIN q USING (query_id)),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS rn FROM scored)
      SELECT query_id, vec_id, cosine FROM r WHERE rn <= 3"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("ivf_knn_idx")
        graft.operators.AnnIndex.buildIvf(e, "embedding", "vec_id", idx,
          nCells = 16, quantizer = "sign")
        graft.operators.AnnIndex.ivfKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id",
          k = 3, nProbe = 8)
      }),

    // ----------------------------------------------------- ANN: IVF-PQ
    // The composite index for corpora whose raw vectors no longer fit
    // cluster memory: coarse sign cells prune the probe to nProbe
    // PARTITIONS, PQ codes keep each scanned row at m bytes, and an
    // exact re-rank of the overfetched candidates touches raw vectors
    // only for the candidate list. VALUE-MATCHED oracle (sign coarse
    // quantizer + sign sub-quantizer, both deterministic): DuckDB
    // replays cells, cell centroids, probe ranking, shared codebooks,
    // asymmetric distance, the probed candidate cut AND the re-rank.
    QueryDef("ann_ivfpq_topk", Some {
      val codeList = (0 until 8).map { j =>
        (0 until 8).map { b =>
          s"(CASE WHEN nv[${j * 8 + b + 1}] >= 0 THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString("[", ",\n        ", "]")
      val cellBits = (0 until 4).map(j =>
        s"(CASE WHEN nv[${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      s"""
      WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      nrm AS (SELECT vec_id, v,
        CASE WHEN sqrt(list_dot_product(v, v)) > 0
             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             ELSE v END AS nv FROM raw),
      coded AS (SELECT vec_id, nv, $cellBits AS cell, $codeList AS code FROM nrm),
      cexpl AS (SELECT cell, unnest(range(len(nv))) AS i, unnest(nv) AS x FROM coded),
      ccm AS (SELECT cell, i, avg(x) AS m FROM cexpl GROUP BY cell, i),
      cent AS (SELECT cell, list(m ORDER BY i) AS c FROM ccm GROUP BY cell),
      qn AS (SELECT nv AS qv FROM nrm WHERE vec_id = 0),
      probes AS (
        SELECT cell FROM cent, qn
        ORDER BY round(CASE WHEN sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)) > 0
          THEN list_dot_product(c, qv) / (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)))
          ELSE 0.0 END, 6) DESC, cell
        LIMIT 8),
      expl AS (SELECT code, unnest(range(len(nv))) AS i, unnest(nv) AS x FROM coded),
      assign AS (SELECT CAST(i // 8 AS INT) AS j, CAST(i % 8 AS INT) AS p, x,
                        code[CAST(i // 8 AS INT) + 1] AS c FROM expl),
      cb AS (SELECT j, c, p, avg(x) AS m FROM assign GROUP BY j, c, p),
      qd AS (SELECT j, c, sum((m - qv[j * 8 + p + 1]) * (m - qv[j * 8 + p + 1])) AS d
             FROM cb, qn GROUP BY j, c),
      dcode AS (SELECT vec_id, cell, unnest(range(8)) AS j, unnest(code) AS c FROM coded),
      cand AS (SELECT vec_id, round(sum(d), 6) AS ad
               FROM dcode JOIN qd USING (j, c)
               WHERE cell IN (SELECT cell FROM probes)
               GROUP BY vec_id ORDER BY ad, vec_id LIMIT 160),
      qr AS (SELECT v AS qrv FROM raw WHERE vec_id = 0)
      SELECT r.vec_id,
        round(CASE WHEN sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)) > 0
          THEN list_dot_product(r.v, qrv) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)))
          ELSE 0.0 END, 6) AS cosine
      FROM raw r JOIN cand USING (vec_id), qr
      ORDER BY cosine DESC, vec_id LIMIT 10"""
    },
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qRow = e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0)
        val idx = Tables.scratchDir("ivfpq_sign_idx")
        graft.operators.AnnIndex.buildIvfPq(e, "embedding", "vec_id", idx,
          nCells = 16, m = 8, quantizer = "sign")
        graft.operators.AnnIndex.searchIvfPqRerank(s, idx, e,
          "embedding", "vec_id", qRow, 10, nProbe = 8, overFetch = 16)
      }),

    // ------------------------------------------ ANN: batched IVF-PQ kNN join
    // The corpus-sized-query workload against the persisted composite
    // index (round 14): every query row (vec_id < 5 — the ann_knn_join
    // mining shape) ranks the broadcast centroid table, explodes to its
    // nProbe cells, equi-joins the m-byte code rows on `cell` (never a
    // query x corpus cross join; the code scan is DYNAMICALLY
    // partition-pruned by the probed cells), scores codes against its
    // per-query distance table, cuts at k*overFetch by asymmetric
    // distance, and exact-re-ranks only the candidate ids. VALUE-MATCHED
    // oracle (sign quantizers): DuckDB replays cells, centroids,
    // per-query probe ranking, shared codebooks, per-query distance
    // tables, the candidate cut AND the re-rank, with the same 6dp
    // roundings and cell/vec_id tiebreaks.
    QueryDef("ann_ivfpq_knn_join", Some {
      val codeList = (0 until 8).map { j =>
        (0 until 8).map { b =>
          s"(CASE WHEN nv[${j * 8 + b + 1}] >= 0 THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString("[", ",\n        ", "]")
      val cellBits = (0 until 4).map(j =>
        s"(CASE WHEN nv[${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      s"""
      WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      nrm AS (SELECT vec_id, v,
        CASE WHEN sqrt(list_dot_product(v, v)) > 0
             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             ELSE v END AS nv FROM raw),
      coded AS (SELECT vec_id, nv, $cellBits AS cell, $codeList AS code FROM nrm),
      cexpl AS (SELECT cell, unnest(range(len(nv))) AS i, unnest(nv) AS x FROM coded),
      ccm AS (SELECT cell, i, avg(x) AS m FROM cexpl GROUP BY cell, i),
      cent AS (SELECT cell, list(m ORDER BY i) AS c FROM ccm GROUP BY cell),
      q AS (SELECT vec_id AS query_id, v AS qrv, nv AS qv FROM nrm WHERE vec_id < 5),
      pranked AS (
        SELECT query_id, cell,
               row_number() OVER (PARTITION BY query_id ORDER BY
                 round(CASE WHEN sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)) > 0
                   THEN list_dot_product(c, qv) / (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)))
                   ELSE 0.0 END, 6) DESC, cell) AS rn
        FROM cent, q),
      probes AS (SELECT query_id, cell FROM pranked WHERE rn <= 8),
      expl AS (SELECT code, unnest(range(len(nv))) AS i, unnest(nv) AS x FROM coded),
      assign AS (SELECT CAST(i // 8 AS INT) AS j, CAST(i % 8 AS INT) AS p, x,
                        code[CAST(i // 8 AS INT) + 1] AS c FROM expl),
      cb AS (SELECT j, c, p, avg(x) AS m FROM assign GROUP BY j, c, p),
      qd AS (SELECT query_id, j, c,
                    sum((m - qv[j * 8 + p + 1]) * (m - qv[j * 8 + p + 1])) AS d
             FROM cb, q GROUP BY query_id, j, c),
      dcode AS (SELECT vec_id, cell, unnest(range(8)) AS j, unnest(code) AS c FROM coded),
      cand AS (SELECT query_id, vec_id, round(sum(d), 6) AS ad
               FROM dcode JOIN probes USING (cell) JOIN qd USING (query_id, j, c)
               GROUP BY query_id, vec_id),
      cut AS (SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY ad, vec_id) AS rn
                FROM cand) WHERE rn <= 48),
      rr AS (
        SELECT query_id, r.vec_id,
               round(CASE WHEN sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)) > 0
                 THEN list_dot_product(r.v, qrv) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)))
                 ELSE 0.0 END, 6) AS cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(CASE WHEN sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)) > 0
                   THEN list_dot_product(r.v, qrv) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)))
                   ELSE 0.0 END, 6) DESC, r.vec_id) AS rn
        FROM raw r JOIN cut USING (vec_id) JOIN q USING (query_id))
      SELECT query_id, vec_id, cosine FROM rr WHERE rn <= 3"""
    },
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = Tables.scratchDir("ivfpq_knn_idx")
        graft.operators.AnnIndex.buildIvfPq(e, "embedding", "vec_id", idx,
          nCells = 16, m = 8, quantizer = "sign")
        graft.operators.AnnIndex.ivfPqKnnJoin(s, idx,
          e.filter(col("vec_id") < 5), e, "embedding", "vec_id",
          k = 3, nProbe = 8, overFetch = 16)
      }),

    // --------------------------------------------- ANN: product quantization
    // PQ compresses 64 floats to 8 code bytes; search scores CODES against
    // a driver-side distance table (raw vectors untouched), then an exact
    // re-rank of the 16x-overfetched candidates recovers the true head.
    // VALUE-MATCHED oracle via the sign sub-quantizer (code = sign bits of
    // the unit-normalized subvector, codebook entry = member mean): DuckDB
    // replays encode, codebooks, asymmetric distance, the 160-candidate
    // cut and the exact re-rank value-for-value. K-means codebooks stay
    // the production option behind the same buildPq interface
    // (AnnIndexSpec covers them, incl. recall vs brute force). The index
    // lands in a per-process scratch dir (shutdown-deleted) — no
    // temp-dir accumulation across runs and no cross-session races.
    QueryDef("ann_pq_topk", Some {
      val codeList = (0 until 8).map { j =>
        (0 until 8).map { b =>
          s"(CASE WHEN nv[${j * 8 + b + 1}] >= 0 THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString("[", ",\n        ", "]")
      s"""
      WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      nrm AS (SELECT vec_id, v,
        CASE WHEN sqrt(list_dot_product(v, v)) > 0
             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             ELSE v END AS nv FROM raw),
      coded AS (SELECT vec_id, nv, $codeList AS code FROM nrm),
      expl AS (SELECT code, unnest(range(len(nv))) AS i, unnest(nv) AS x FROM coded),
      assign AS (SELECT CAST(i // 8 AS INT) AS j, CAST(i % 8 AS INT) AS p, x,
                        code[CAST(i // 8 AS INT) + 1] AS c FROM expl),
      cb AS (SELECT j, c, p, avg(x) AS m FROM assign GROUP BY j, c, p),
      qn AS (SELECT nv AS qv FROM nrm WHERE vec_id = 0),
      qd AS (SELECT j, c, sum((m - qv[j * 8 + p + 1]) * (m - qv[j * 8 + p + 1])) AS d
             FROM cb, qn GROUP BY j, c),
      dcode AS (SELECT vec_id, unnest(range(8)) AS j, unnest(code) AS c FROM coded),
      cand AS (SELECT vec_id, round(sum(d), 6) AS ad
               FROM dcode JOIN qd USING (j, c) GROUP BY vec_id
               ORDER BY ad, vec_id LIMIT 160),
      qr AS (SELECT v AS qrv FROM raw WHERE vec_id = 0)
      SELECT r.vec_id,
        round(CASE WHEN sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)) > 0
          THEN list_dot_product(r.v, qrv) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)))
          ELSE 0.0 END, 6) AS cosine
      FROM raw r JOIN cand USING (vec_id), qr
      ORDER BY cosine DESC, vec_id LIMIT 10"""
    },
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qRow = e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0)
        val idx = Tables.scratchDir("pq_sign_idx")
        graft.operators.AnnIndex.buildPq(e, "embedding", "vec_id", idx,
          m = 8, quantizer = "sign")
        // overFetch 16: 160 candidates is ~3% of the sf0.1 corpus and
        // scale-invariant in cost (k * overFetch, corpus-size-independent)
        graft.operators.AnnIndex.searchPqRerank(s, idx, e,
          "embedding", "vec_id", qRow, 10, overFetch = 16)
      }),

    // ------------------------------------------------- text: language ID
    QueryDef("text_lang_id", Some(s"""
      WITH scored AS (
        SELECT doc_id,
               len(list_filter($toksSql, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
               len(list_filter($toksSql, x -> x IN ('el','la','de','que','y','en','un','los','se','por'))) AS s_es,
               len(list_filter($toksSql, x -> x IN ('der','die','das','und','ist','ein','zu','den','von','mit'))) AS s_de,
               len(list_filter($toksSql, x -> x IN ('le','la','de','et','un','est','que','pour','dans','des'))) AS s_fr
        FROM documents)
      SELECT doc_id,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                  ELSE 'fr' END AS lang_pred
      FROM scored"""),
      (s, dir) => {
        // tokens materialized once, then the 4 score columns, then the
        // argmax when-chain over score ATTRIBUTES — the convenience
        // langId(text) form would re-tokenize per score reference.
        val langs = Seq("en", "es", "de", "fr")
        t(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("__toks"))
          .select(col("doc_id") +:
            langs.map(l => langScoreFromTokens(col("__toks"), l).as(s"__s_$l")): _*)
          .select(col("doc_id"),
            langIdFromScores(langs.map(l => l -> col(s"__s_$l"))).as("lang_pred"))
      }),

    // ------------------------------------------------- text: quality
    QueryDef("text_quality", Some("""
      SELECT doc_id,
             CASE WHEN len(text) > 0
                  THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(len(text) AS DOUBLE)
                  ELSE 0.0 END AS alpha_ratio,
             CASE WHEN len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) > 0
                  THEN list_sum(list_transform(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0), x -> len(x)))
                       / CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS DOUBLE)
                  ELSE 0.0 END AS mean_tok_len
      FROM documents"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          alphaRatio(col("text")).as("alpha_ratio"),
          when(size(col("__toks")) > 0,
            aggregate(col("__toks"), lit(0L), (acc, x) => acc + length(x))
              .cast("double") / size(col("__toks")))
            .otherwise(lit(0.0)).as("mean_tok_len"))),

    // ------------------------------------------------- text: token counts
    QueryDef("text_token_stats", Some(s"""
      SELECT doc_id,
             CAST(len($toksSql) AS INTEGER) AS n_tokens,
             CAST(list_sum(list_transform($toksSql, x -> CAST(ceil(len(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
      FROM documents"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          size(col("__toks")).as("n_tokens"),
          aggregate(col("__toks"), lit(0L),
            (acc, x) => acc + ceil(length(x) / lit(4.0)).cast("long"))
            .as("n_subwords"))),

    // ---------------------------------------------- text: PII scrubbing
    // Pre-training scrub pass: emails, then SSNs, then phone numbers, in
    // that order (a dashed SSN must not half-match the phone shape).
    // One in seven docs gets a synthesized PII tail so the scrub is
    // exercised on every shape; all patterns are RE2-safe so the oracle
    // replays them verbatim (with the 'g' flag — DuckDB's regexp_replace
    // is first-match-only by default, Spark's is replace-all).
    QueryDef("text_pii_scrub", Some("""
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact bob@example.com or (555) 123-4567 ssn 123-45-6789'
                    ELSE text END,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
               '(?:\+?1[-. ])?(?:\([0-9]{3}\)|[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g')
               AS clean
      FROM documents"""),
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        scrubPii(
          when(col("doc_id") % 7 === 0,
            concat(col("text"),
              lit(" contact bob@example.com or (555) 123-4567 ssn 123-45-6789")))
            .otherwise(col("text"))).as("clean"))),

    // --------------------------------------------- text: repetition stats
    // Gopher-family repetition signals: duplicate-line fraction (sentences
    // split to lines first — the corpus has no raw newlines) and word
    // 2-gram repetition ratio. Both are pure expression trees.
    QueryDef("text_repetition", Some("""
      WITH src AS (
        SELECT doc_id, replace(text, '. ', chr(10)) AS t FROM documents),
      lines AS (
        SELECT doc_id,
               list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                           x -> len(x) > 0) AS ls
        FROM src),
      toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(t), '\s+'), x -> len(x) > 0) AS tk
        FROM src),
      grams AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 2
                    THEN list_transform(range(0, len(tk) - 1),
                           i -> array_to_string(list_slice(tk,
                             CAST(i + 1 AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))
                    ELSE [array_to_string(tk, ' ')] END AS gs
        FROM toks)
      SELECT l.doc_id,
             CASE WHEN len(ls) > 0
                  THEN (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE)
                  ELSE 0.0 END AS dup_line_frac,
             CASE WHEN len(gs) > 0
                  THEN 1.0 - len(list_distinct(gs)) / CAST(len(gs) AS DOUBLE)
                  ELSE 0.0 END AS bigram_rep
      FROM lines l JOIN grams g ON l.doc_id = g.doc_id"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "\\. ", "\n").as("t"))
        .select(col("doc_id"),
          dupLineFraction(col("t")).as("dup_line_frac"),
          ngramRepetitionRatio(col("t"), 2).as("bigram_rep"))),

    // ----------------------------------------- text: quality gate pipeline
    // The composed C4/Gopher-style keep-or-drop gate: every doc gets ONE
    // disposition, the FIRST failing rule in precedence order —
    // too_short (<10 tokens), non_english (stopword-argmax lang id),
    // low_alpha (<0.6 alphabetic), repetitive (bigram repetition >0.5),
    // pii (the scrub pass would change the text; %7 docs carry a
    // synthesized PII tail so the arm is exercised) — else keep. All
    // signals are computed from MATERIALIZED attribute columns (tokens,
    // scores, grams), so the whole gate is one codegen'd projection pass;
    // at corpus scale it is a pure map stage with zero shuffles.
    QueryDef("text_quality_gate", Some(s"""
      WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact bob@example.com or (555) 123-4567'
                    ELSE text END AS t
        FROM documents),
      ${gateDispCtes("src")}
      SELECT doc_id, disposition FROM disp"""),
      (s, dir) => graft.pipelines.Curation.withDisposition(
        t(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0,
              concat(col("text"),
                lit(" contact bob@example.com or (555) 123-4567")))
              .otherwise(col("text")).as("t")),
        "t").select(col("doc_id"), col("disposition"))),

    // ------------------------------------- text: benchmark decontamination
    // Training-data decontamination by n-gram overlap (the GPT-3 appendix-C
    // shape): an eval/benchmark set (here doc_id % 101 = 0) is reduced to
    // its distinct word 5-grams; every training doc is flagged with the
    // number of distinct 5-grams it shares with the benchmark. Scale
    // shape: the benchmark gram set is SMALL by construction (eval suites
    // are thousands of docs, not billions) -> broadcast; the training side
    // explodes grams and aggregates per doc — one shuffle on doc_id, no
    // all-pairs anything. The corpus' near-dup cliques make real overlaps:
    // a training doc that is a near-copy of an eval doc lights up here.
    QueryDef("text_decontaminate", Some(s"""
      WITH toks AS (
        SELECT doc_id, $toksSql AS tk FROM documents),
      grams AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 5
                    THEN list_transform(range(0, len(tk) - 4),
                           i -> array_to_string(list_slice(tk,
                             CAST(i + 1 AS INTEGER), CAST(i + 5 AS INTEGER)), ' '))
                    ELSE [array_to_string(tk, ' ')] END AS gs
        FROM toks),
      eval_grams AS (
        SELECT DISTINCT unnest(gs) AS ngram FROM grams WHERE doc_id % 101 = 0),
      train AS (
        SELECT doc_id, unnest(gs) AS ngram FROM grams WHERE doc_id % 101 <> 0)
      SELECT t.doc_id,
             CAST(COUNT(DISTINCT CASE WHEN e.ngram IS NOT NULL THEN t.ngram END) AS BIGINT) AS n_overlap,
             CASE WHEN COUNT(DISTINCT CASE WHEN e.ngram IS NOT NULL THEN t.ngram END) > 0
                  THEN 1 ELSE 0 END AS contaminated
      FROM train t LEFT JOIN eval_grams e ON t.ngram = e.ngram
      GROUP BY t.doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Decontaminate.ngramOverlap(
          docs.filter(col("doc_id") % 101 =!= 0),
          docs.filter(col("doc_id") % 101 === 0),
          "text", "doc_id", n = 5)
      }),

    // --------------------------------- text: eval-side leak report
    // The report a curation team reads after decontamination: per
    // BENCHMARK doc, how many training docs share at least one 5-gram
    // with it (zero included — a clean eval item is a row, not an
    // absence).
    QueryDef("text_decontaminate_report", Some(s"""
      WITH toks AS (
        SELECT doc_id, $toksSql AS tk FROM documents),
      grams AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 5
                    THEN list_transform(range(0, len(tk) - 4),
                           i -> array_to_string(list_slice(tk,
                             CAST(i + 1 AS INTEGER), CAST(i + 5 AS INTEGER)), ' '))
                    ELSE [array_to_string(tk, ' ')] END AS gs
        FROM toks),
      eval_map AS (
        SELECT DISTINCT eval_id, ngram FROM (
          SELECT doc_id AS eval_id, unnest(gs) AS ngram FROM grams
          WHERE doc_id % 101 = 0)),
      train_g AS (
        SELECT DISTINCT train_id, ngram FROM (
          SELECT doc_id AS train_id, unnest(gs) AS ngram FROM grams
          WHERE doc_id % 101 <> 0))
      SELECT e.eval_id AS doc_id,
             CAST(COUNT(DISTINCT t.train_id) AS BIGINT) AS n_leaking_docs
      FROM eval_map e LEFT JOIN train_g t ON e.ngram = t.ngram
      GROUP BY e.eval_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Decontaminate.evalLeakReport(
          docs.filter(col("doc_id") % 101 =!= 0),
          docs.filter(col("doc_id") % 101 === 0),
          "text", "doc_id", n = 5)
      }),

    // ----------------------------------- text: semantic decontamination
    // Embedding-cosine eval overlap — the paraphrase-robust complement to
    // the n-gram pass (reworded leaks keep their embedding neighborhood
    // but lose their surface grams). Eval side broadcasts; one per-doc
    // regroup. Threshold 0.3 fits the synthetic near-orthogonal vectors
    // (max eval-vs-train cosine ~0.44; real embedding models use ~0.9+),
    // driving both flag directions. Cosines are 6dp-rounded before the
    // cut; zero-norm vectors score 0 (the kernel's convention).
    QueryDef("text_semantic_decontaminate", Some("""
      WITH ev AS (
        SELECT DISTINCT embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id % 101 = 0),
      tr AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id % 101 <> 0),
      h AS (
        SELECT t.vec_id,
               CAST(SUM(CASE WHEN round(
                      CASE WHEN list_dot_product(t.v, t.v) > 0
                            AND list_dot_product(e.v, e.v) > 0
                           THEN list_dot_product(t.v, e.v) /
                                (sqrt(list_dot_product(t.v, t.v)) *
                                 sqrt(list_dot_product(e.v, e.v)))
                           ELSE 0 END, 6) >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_semantic_hits
        FROM tr t CROSS JOIN ev e GROUP BY t.vec_id)
      SELECT vec_id, n_semantic_hits,
             CASE WHEN n_semantic_hits > 0 THEN 1 ELSE 0 END AS contaminated
      FROM h"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        graft.operators.Decontaminate.semanticOverlap(
          e.filter(col("vec_id") % 101 =!= 0),
          e.filter(col("vec_id") % 101 === 0),
          "embedding", "vec_id", minCosine = 0.3)
      }),

    // ------------------------------------- text: CCNet perplexity buckets
    // Head/middle/tail per source at the LM-score terciles (Wenzek et al.
    // 2020 §4.3) — "keep the head, sample the middle, drop the tail". The
    // boundaries are an exact interpolated percentile per source
    // (group-sized, broadcast back; quantile_cont == Spark percentile on
    // identical 6dp-rounded scores), never a per-group sort.
    QueryDef("text_ccnet_buckets", Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_transform(range(0, len(tk) - 1),
                 i -> array_to_string(list_slice(tk,
                   CAST(i + 1 AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))) AS gram
        FROM toks WHERE len(tk) >= 2),
      counts AS (SELECT gram, COUNT(*) AS c12 FROM g GROUP BY gram),
      ctx AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c12) AS c1
              FROM counts GROUP BY 1),
      v AS (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS vs
            FROM (SELECT unnest(tk) AS x FROM toks)),
      s AS (SELECT d.doc_id, round(AVG(-ln((c.c12 + 1.0) / (x.c1 + v.vs))), 6) AS avg_nll
            FROM g d JOIN counts c USING (gram)
            JOIN ctx x ON string_split(d.gram, ' ')[1] = x.w1
            CROSS JOIN v GROUP BY d.doc_id),
      sg AS (SELECT s.doc_id, doc.source, s.avg_nll
             FROM s JOIN documents doc USING (doc_id)),
      b AS (SELECT source, round(quantile_cont(avg_nll, 1.0/3), 6) AS b1,
                   round(quantile_cont(avg_nll, 2.0/3), 6) AS b2
            FROM sg GROUP BY source)
      SELECT sg.doc_id, sg.source, sg.avg_nll,
             CASE WHEN avg_nll <= b1 THEN 'head'
                  WHEN avg_nll <= b2 THEN 'middle' ELSE 'tail' END AS bucket
      FROM sg JOIN b USING (source)"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        NgramLm.perplexityBuckets(docs, "text", "doc_id", "source",
          NgramLm.train(docs, "text"))
      }),

    // --------------------------------------- text: corpus n-gram top-k
    // Exact heavy-hitter bigrams corpus-wide — the frequency table behind
    // n-gram-based filters and stopword induction. Total order (count
    // desc, gram asc) so the limit is deterministic; the plan is partial
    // hash agg -> one shuffle on the gram -> TakeOrderedAndProject (a
    // 20-row total order, never a full sort of the gram table).
    QueryDef("text_top_ngrams", Some(s"""
      WITH toks AS (
        SELECT doc_id, $toksSql AS tk FROM documents),
      grams AS (
        SELECT CASE WHEN len(tk) >= 2
                    THEN list_transform(range(0, len(tk) - 1),
                           i -> array_to_string(list_slice(tk,
                             CAST(i + 1 AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))
                    ELSE [array_to_string(tk, ' ')] END AS gs
        FROM toks),
      flat AS (SELECT unnest(gs) AS ngram FROM grams)
      SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n
      FROM flat GROUP BY ngram
      ORDER BY n DESC, ngram LIMIT 20"""),
      (s, dir) => t(s, dir, "documents")
        .select(tokens(col("text")).as("__toks"))
        .select(explode_outer(wordNgramsFromTokens(col("__toks"), 2)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20)),

    // --------------------------------- text: per-source length quantiles
    // Token-count percentiles per source — the length profile a curation
    // run reads before choosing truncation/shard budgets. Exact
    // percentile (both engines linear-interpolate on the sorted values),
    // exploded to (source, p, value) rows.
    QueryDef("text_token_percentiles", Some(s"""
      WITH t AS (
        SELECT source, CAST(len($toksSql) AS INTEGER) AS n_tokens FROM documents),
      g AS (
        SELECT source, quantile_cont(n_tokens, [0.5, 0.9, 0.99]) AS q
        FROM t GROUP BY source)
      SELECT source, unnest([0.5, 0.9, 0.99]) AS p,
             round(unnest(q), 6) AS value
      FROM g"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), size(tokens(col("text"))).as("n_tokens"))
        .groupBy("source")
        .agg(expr("percentile(n_tokens, array(0.5D, 0.9D, 0.99D))").as("q"))
        .select(col("source"), posexplode(col("q")).as(Seq("i", "v")))
        .select(col("source"),
          element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("i") + 1).as("p"),
          round(col("v"), 6).as("value"))),

    // --------------------------------------------- text: token sharding
    // Token-budget shard assignment for training-data assembly: contiguous
    // ~4096-token shards in doc_id order. The oracle is the single-task
    // global-window formulation; the Spark side computes the identical
    // running total with a range partitioning + two-level prefix sum
    // (operators/Sharding), which is the shape that survives corpus scale.
    QueryDef("text_token_shards", Some(s"""
      WITH t AS (SELECT doc_id, CAST(len($toksSql) AS INTEGER) AS n_tokens FROM documents),
      c AS (SELECT doc_id, n_tokens,
                   CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
            FROM t)
      SELECT doc_id, n_tokens, (cum - n_tokens) // 4096 AS shard FROM c"""),
      (s, dir) => Sharding.tokenBudgetShards(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        size(tokens(col("text"))), "doc_id", 4096L)
        .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
          col("shard"))),

    // ------------------------------------- text: repeated-span removal
    // C4/RefinedWeb boilerplate strip: documents cut into non-overlapping
    // 10-token chunks; any chunk occurring in >1 distinct docs (the
    // near-dup cliques make real cross-doc repeats) is dropped from every
    // doc and the survivors reassembled in order. The DF count groups
    // md5 hashes (fixed-width shuffle keys), the reassembly is one
    // shuffle on doc_id — linear in corpus tokens at any duplication.
    QueryDef("text_line_dedup", Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      chunks AS (
        SELECT doc_id,
               unnest(list_transform(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT)),
                 i -> array_to_string(list_slice(tk,
                   CAST(i * 10 + 1 AS INTEGER), CAST(i * 10 + 10 AS INTEGER)), ' '))) AS line,
               unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS pos
        FROM toks WHERE len(tk) > 0),
      df AS (SELECT md5(line) AS h, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY 1)
      SELECT c.doc_id,
             coalesce(string_agg(CASE WHEN d.df <= 1 THEN c.line END, ' ' ORDER BY c.pos), '') AS clean,
             CAST(COUNT(CASE WHEN d.df > 1 THEN 1 END) AS BIGINT) AS n_dropped,
             CAST(COUNT(*) AS BIGINT) AS n_chunks
      FROM chunks c JOIN df d ON md5(c.line) = d.h
      GROUP BY c.doc_id
      UNION ALL
      -- zero-token AND null-text docs keep a (clean='', 0, 0) row,
      -- matching the Spark side's posexplode_outer contract: an audit
      -- reads absence as a bug (coalesce: len(NULL) is NULL, not 0)
      SELECT doc_id, '' AS clean, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM toks WHERE coalesce(len(tk), 0) = 0"""),
      (s, dir) => LineDedup.removeRepeatedChunks(
        t(s, dir, "documents"), "text", "doc_id", chunkTokens = 10, maxDf = 1)),

    // --------------------------------------- text: bigram LM quality score
    // CCNet-style fluency signal: an add-1 bigram LM trained on the corpus
    // scores each doc's mean -ln P(w2|w1). Near-dup cliques score low
    // (their grams are over-counted), one-off word soup scores high.
    // Rounded to 6 decimals so last-ulp ln() differences between engines
    // can't break the value hash.
    QueryDef("text_lm_perplexity", Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_transform(range(0, len(tk) - 1),
                 i -> array_to_string(list_slice(tk,
                   CAST(i + 1 AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))) AS gram
        FROM toks WHERE len(tk) >= 2),
      counts AS (SELECT gram, COUNT(*) AS c12 FROM g GROUP BY gram),
      ctx AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c12) AS c1
              FROM counts GROUP BY 1),
      v AS (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS vs
            FROM (SELECT unnest(tk) AS x FROM toks))
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(AVG(-ln((c.c12 + 1.0) / (x.c1 + v.vs))), 6) AS avg_nll
      FROM g d
      JOIN counts c USING (gram)
      JOIN ctx x ON string_split(d.gram, ' ')[1] = x.w1
      CROSS JOIN v
      GROUP BY d.doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        NgramLm.scoreNll(docs, "text", "doc_id", NgramLm.train(docs, "text"))
      }),

    // -------------------------------------- text: DSIR importance resampling
    // DSIR (Xie et al. 2023): select raw docs whose bigram-LM likelihood
    // ratio favors a TARGET domain (here source='src0'), via
    // deterministic Gumbel-top-k over log w + g(id). Both LMs, both
    // scoring passes, the hash-derived noise and the rounded-key cut all
    // replay in DuckDB. Unseen grams score through the smoothing mass
    // (LEFT joins + coalesce 0 — the target model has NOT seen most raw
    // docs, unlike the self-trained perplexity query's inner joins).
    QueryDef("text_dsir_sample", Some {
      val gramUnnest = """unnest(list_transform(range(0, len(tk) - 1),
                 i -> array_to_string(list_slice(tk, CAST(i + 1 AS INTEGER), CAST(i + 2 AS INTEGER)), ' ')))"""
      s"""
      WITH toks AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
      g AS (SELECT doc_id, $gramUnnest AS gram FROM toks WHERE len(tk) >= 2),
      rc AS (SELECT gram, COUNT(*) AS c12 FROM g GROUP BY gram),
      rx AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c12) AS c1 FROM rc GROUP BY 1),
      rv AS (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS vs FROM (SELECT unnest(tk) AS x FROM toks)),
      tg AS (SELECT doc_id, $gramUnnest AS gram FROM toks WHERE source = 'src0' AND len(tk) >= 2),
      tc AS (SELECT gram, COUNT(*) AS c12 FROM tg GROUP BY gram),
      tx AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c12) AS c1 FROM tc GROUP BY 1),
      tv AS (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS vs
             FROM (SELECT unnest(tk) AS x FROM toks WHERE source = 'src0')),
      rs AS (SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(AVG(-ln((coalesce(c.c12, 0) + 1.0) / (coalesce(x.c1, 0) + rv.vs))), 6) AS nll_raw
             FROM g d LEFT JOIN rc c USING (gram)
             LEFT JOIN rx x ON string_split(d.gram, ' ')[1] = x.w1
             CROSS JOIN rv GROUP BY d.doc_id),
      ts AS (SELECT d.doc_id,
               round(AVG(-ln((coalesce(c.c12, 0) + 1.0) / (coalesce(x.c1, 0) + tv.vs))), 6) AS nll_target
             FROM g d LEFT JOIN tc c USING (gram)
             LEFT JOIN tx x ON string_split(d.gram, ' ')[1] = x.w1
             CROSS JOIN tv GROUP BY d.doc_id),
      w AS (SELECT r.doc_id, r.n_bigrams, r.nll_raw, t.nll_target,
              round(r.n_bigrams * (r.nll_raw - t.nll_target), 6) AS log_weight
            FROM rs r JOIN ts t USING (doc_id))
      SELECT doc_id, n_bigrams, nll_raw, nll_target, log_weight,
             round(log_weight + (-ln(-ln((((((doc_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 2147483647 + 0.5) / 2147483647.0))), 6) AS sample_key
      FROM w ORDER BY sample_key DESC, doc_id LIMIT 100"""
    },
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Dsir.resampleTopK(docs,
          docs.filter(col("source") === "src0"), "text", "doc_id", k = 100)
      }),

    // ------------------------------------------ text: data-mixture sample
    // Deterministic source-weighted downsampling to a 30k-token budget:
    // weight_s = (source ordinal % 4) + 1 normalized, keep fraction
    // min(1, budget*w/tokens) — the cap arm IS exercised (heavy sources
    // saturate at sf0.01). Membership = Knuth multiplicative hash of
    // doc_id, integer-exact in both engines, partitioning-independent.
    QueryDef("text_mixture_sample", Some(s"""
      WITH t AS (
        SELECT doc_id, source, CAST(len($toksSql) AS INTEGER) AS n_tokens
        FROM documents),
      w AS (SELECT source,
                   CAST(CAST(substr(source, 4) AS INTEGER) % 4 + 1 AS DOUBLE) AS raw
            FROM (SELECT DISTINCT source FROM documents)),
      wn AS (SELECT source, raw / (SELECT SUM(raw) FROM w) AS wgt FROM w),
      tot AS (SELECT source, SUM(n_tokens) AS tot FROM t GROUP BY source),
      f AS (SELECT wn.source, least(1.0, 30000 * wgt / tot) AS keep_frac
            FROM wn JOIN tot USING (source))
      SELECT t.doc_id, t.source, t.n_tokens
      FROM t JOIN f USING (source)
      WHERE ((t.doc_id % 2147483647 * 2654435761) % 2147483647) / 2147483647.0 < f.keep_frac"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).as("n_tokens"))
        val weights = docs.select(col("source")).distinct()
          .select(col("source"),
            (substring(col("source"), 4, 10).cast("int") % 4 + 1)
              .cast("double").as("weight"))
        Mixture.sampleByTokenBudget(docs, "doc_id", "source",
          col("n_tokens"), weights, budgetTokens = 30000L)
          .select(col("doc_id"), col("source"), col("n_tokens"))
      }),

    // --------------------------- text: score-proportional soft sampling
    // sampleByWeight (the FineWeb-Edu shape): keep a doc with probability
    // equal to its quality weight — here a deterministic synthetic score
    // (doc_id % 5) / 4, so both engines replay the same keeps, including
    // the w=0 (never kept) and w=1 (always kept) extremes. One codegen'd
    // filter, zero shuffles at any scale.
    QueryDef("text_weight_sample", Some("""
      SELECT doc_id, source,
             (doc_id % 5) / 4.0 AS quality_w
      FROM documents
      WHERE ((doc_id % 2147483647 * 2654435761) % 2147483647) / 2147483647.0
            < least(1.0, (doc_id % 5) / 4.0)"""),
      (s, dir) => Mixture.sampleByWeight(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            ((col("doc_id") % 5) / 4.0).as("quality_w")),
        "doc_id", "quality_w")),

    // ----------------------- text: temperature-scaled mixture sampling
    // sampleByTemperature (mT5/UniMax alpha sampling): per-source weight
    // ∝ tokens^α with α=0.5 (flattening the natural distribution), keep
    // fraction min(1, budget·w/tokens) rounded to 9 decimals — the same
    // rounding the Scala side applies so a last-ulp-different pow in
    // either engine lands on the same fraction. One agg shuffle keyed by
    // source; the fraction table broadcasts; the sample is a map-side
    // filter.
    QueryDef("text_temperature_sample", Some(s"""
      WITH d AS (
        SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n
        FROM documents),
      tot AS (SELECT source, SUM(n) AS tot FROM d GROUP BY source),
      pw AS (SELECT source, tot,
                    CASE WHEN tot = 0 THEN 0.0
                         ELSE pow(CAST(tot AS DOUBLE), 0.5) END AS pw
             FROM tot),
      f AS (SELECT source,
                   CASE WHEN tot = 0 THEN 0.0
                        ELSE round(least(1.0,
                          20000.0 * (pw / (SELECT SUM(pw) FROM pw)) / tot), 9)
                   END AS kf
            FROM pw)
      SELECT d.doc_id, d.source, d.n AS n_tokens
      FROM d JOIN f USING (source)
      WHERE ((d.doc_id % 2147483647 * 2654435761) % 2147483647) / 2147483647.0 < f.kf"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n_tokens"))
        Mixture.sampleByTemperature(docs, "doc_id", "source",
          col("n_tokens"), alpha = 0.5, budgetTokens = 20000L)
          .select(col("doc_id"), col("source"), col("n_tokens"))
      }),

    // --------------------------- text: data-constrained epoch schedule
    // epochSchedule (the Muennighoff et al. 2023 regime): when the token
    // budget exceeds the corpus, emit each doc min(budget/corpus, 4)
    // times — floor(ratio) epochs for everyone, the fractional remainder
    // assigned by the deterministic id hash, so emitted tokens hit the
    // budget in expectation. One 1-row global agg broadcast back; the
    // expansion is a map-side explode bounded by maxEpochs. At sf0.01
    // (~27k corpus tokens) the 65k budget lands ratio ~2.4: base-2
    // epochs plus a hash-assigned third — both arms exercised. At sf0.1
    // the same budget subsamples (ratio < 1, base 0): the degenerate arm.
    // The fractional draw uses its own multiplier 3266489917
    // (Mixture.EpochMult) so it is independent of upstream keep
    // decisions.
    QueryDef("text_epoch_schedule", Some(s"""
      WITH d AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n FROM documents),
      tot AS (SELECT SUM(n) AS t FROM d),
      r AS (SELECT CASE WHEN t IS NULL OR t <= 0 THEN 0.0
                        ELSE least(65000.0 / t, 4.0) END AS ratio FROM tot),
      s AS (SELECT doc_id,
                   CAST(floor(ratio) AS INT) +
                   CASE WHEN ((doc_id % 2147483647) * 3266489917)
                              % 2147483647 / 2147483647.0
                             < round(ratio - floor(ratio), 9)
                        THEN 1 ELSE 0 END AS n
            FROM d, r)
      SELECT doc_id, unnest(generate_series(1, n)) AS epoch
      FROM s WHERE n >= 1"""),
      (s, dir) => Mixture.epochSchedule(
        t(s, dir, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", col("n_tokens"), budgetTokens = 65000L, maxEpochs = 4)
        .select(col("doc_id"), col("epoch"))),

    // ------------------------------- text: leakage-safe train/val/test split
    // Deterministic hash split (90/5/5): assignment depends ONLY on the
    // id, so docs keep their split across runs, repartitions and
    // incremental appends — eval can never bleed into training as the
    // corpus grows. Zero shuffles (one codegen'd projection). The oracle
    // writes the val bound as 0.9::DOUBLE + 0.05::DOUBLE — the same IEEE
    // double ADDITION the Scala cumulative fold performs (a bare
    // 0.9 + 0.05 would constant-fold in DuckDB DECIMAL arithmetic to
    // exactly 0.95, one ulp BELOW the Scala sum 0.9500000000000001).
    // Independent safety margin: the hash grid m/2147483647 keeps every
    // u at least ~1.6e-10 from any short-decimal bound, so an ulp-level
    // boundary difference could never flip a row anyway — but the
    // invariant coded here is bit-identity, not the grid argument.
    QueryDef("text_hash_split", Some("""
      SELECT doc_id, source,
             CASE WHEN u < 0.9 THEN 'train'
                  WHEN u < 0.9::DOUBLE + 0.05::DOUBLE THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, source,
              ((doc_id % 2147483647 * 2246822519) % 2147483647) / 2147483647.0 AS u
            FROM documents)"""),
      (s, dir) => Mixture.hashSplit(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),

    // --------------------- text: cluster-aware leakage-safe split
    // splitByComponent: near-duplicate clusters travel TOGETHER — the
    // split hashes the duplicate-component label (min id), so two
    // near-dups can never straddle train/test; docs with no component
    // row split on their own id, bit-identical to hashSplit on a
    // dup-free corpus. The component frame here is a deterministic
    // chain graph (consecutive doc_ids < 300 chained within div-5
    // groups) so DuckDB can replay the transitive closure in closed
    // form: islands of consecutive ids within a div-5 group are
    // exactly (id // 5, id - row_number) partitions. The Spark side
    // runs the general log-diameter CC loop on the same edges. Val
    // bound written 0.8::DOUBLE + 0.1::DOUBLE — the same IEEE addition
    // as the Scala cumulative fold (see text_hash_split note).
    QueryDef("text_component_split", Some("""
      WITH sub AS (SELECT doc_id AS id FROM documents WHERE doc_id < 300),
      isl AS (
        SELECT id, id // 5 AS g,
               id - row_number() OVER (PARTITION BY id // 5 ORDER BY id) AS grp
        FROM sub),
      comp AS (
        SELECT id, min(id) OVER (PARTITION BY g, grp) AS component FROM isl),
      k AS (
        SELECT d.doc_id, d.source, coalesce(c.component, d.doc_id) AS key
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
      SELECT doc_id, source,
             CASE WHEN u < 0.8 THEN 'train'
                  WHEN u < 0.8::DOUBLE + 0.1::DOUBLE THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, source,
              ((key % 2147483647 * 2246822519) % 2147483647) / 2147483647.0 AS u
            FROM k)"""),
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
        val sub = docs.select(col("doc_id").as("id")).filter(col("id") < 300)
        val edges = sub.select(col("id").as("id_a"))
          .join(sub.select(col("id").as("id_b")),
            col("id_b") === col("id_a") + 1 && col("id_a") % 5 =!= 4)
        val comps = Dedup.connectedComponents(edges, Some(sub))
        Mixture.splitByComponent(docs, "doc_id", comps,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      }),

    // ----------------------------------- text: corpus distribution drift
    // Per-source token-distribution drift between two snapshots: snapshot
    // B injects boilerplate ('spam spam spam') into every %4 doc, and the
    // report's add-k-smoothed KL(A||B) / Jensen-Shannon divergences
    // surface exactly the shifted sources. Two vocab-bounded count aggs,
    // a vocab-sized full-outer join, broadcast per-source totals — never
    // corpus-sized state. ln-sums rounded 6dp.
    QueryDef("text_dist_drift", Some(s"""
      WITH ta AS (SELECT source, unnest($toksSql) AS tok FROM documents),
      bsrc AS (SELECT source,
                 CASE WHEN doc_id % 4 = 0 THEN text || ' spam spam spam'
                      ELSE text END AS text
               FROM documents),
      tb AS (SELECT source, unnest($toksSql) AS tok FROM bsrc),
      ca AS (SELECT source, tok, COUNT(*) AS c FROM ta GROUP BY 1, 2),
      cb AS (SELECT source, tok, COUNT(*) AS c FROM tb GROUP BY 1, 2),
      j AS (SELECT coalesce(ca.source, cb.source) AS source,
                   coalesce(ca.tok, cb.tok) AS tok,
                   coalesce(ca.c, 0) AS cca, coalesce(cb.c, 0) AS ccb
            FROM ca FULL OUTER JOIN cb
              ON ca.source = cb.source AND ca.tok = cb.tok),
      t AS (SELECT source, CAST(SUM(cca) AS BIGINT) AS tna,
                   CAST(SUM(ccb) AS BIGINT) AS tnb, COUNT(*) AS v
            FROM j GROUP BY source),
      p AS (SELECT j.source, t.tna, t.tnb,
                   (cca + 0.5) / (tna + 0.5 * v) AS pa,
                   (ccb + 0.5) / (tnb + 0.5 * v) AS pb
            FROM j JOIN t USING (source))
      SELECT source, tna AS n_tokens_a, tnb AS n_tokens_b,
             round(SUM(pa * ln(pa / pb)), 6) AS kl_ab,
             round((SUM(pa * ln(pa / ((pa + pb) / 2))) +
                    SUM(pb * ln(pb / ((pa + pb) / 2)))) / 2, 6) AS js
      FROM p GROUP BY source, tna, tnb"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val shifted = docs.select(col("source"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" spam spam spam")))
            .otherwise(col("text")).as("text"))
        graft.operators.CorpusStats.distributionDrift(
          docs, shifted, "text", "source")
      }),

    // ------------------------------------ dedup: cross-source copy matrix
    // Which sources duplicate each other: minhash near-dup pairs labeled
    // with both sides' sources, folded symmetric (least/greatest), counted
    // per source pair. The pair table is skinny (ids only); the two
    // source-label joins shuffle on doc id — at corpus scale the label map
    // is corpus-sized, so no broadcast, and that is the right shape.
    QueryDef("dedup_source_matrix",
      Some(s"""WITH $minhashPairsCtes,
      m AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5)
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM m JOIN documents da ON m.id_a = da.doc_id
             JOIN documents db ON m.id_b = db.doc_id
      GROUP BY 1, 2"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val srcs = docs.select(col("doc_id"), col("source"))
        Dedup.minhashNearDupPairs(docs, "text", "doc_id",
          shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)
          .select(col("id_a"), col("id_b"))
          .join(srcs.select(col("doc_id").as("id_a"), col("source").as("__sa")),
            Seq("id_a"))
          .join(srcs.select(col("doc_id").as("id_b"), col("source").as("__sb")),
            Seq("id_b"))
          .select(least(col("__sa"), col("__sb")).as("source_a"),
            greatest(col("__sa"), col("__sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
      }),

    // ---------------------------------- dedup: repeated substring spans
    // Exact-substring dedup, token-window approximation (Lee et al.
    // 2021): 20-token sliding windows hashed to md5, windows occurring in
    // >=2 distinct docs mark repeated regions, overlapping/adjacent
    // windows merge into maximal per-doc spans (gaps-and-islands INSIDE
    // each doc partition — no global window anywhere). Catches copies at
    // any offset, where chunk-aligned line dedup only sees aligned ones.
    QueryDef("dedup_repeated_spans", Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      wins AS (
        SELECT doc_id,
               unnest(range(0, len(tk) - 19)) AS pos,
               unnest(list_transform(range(0, len(tk) - 19),
                 i -> md5(array_to_string(list_slice(tk,
                   CAST(i + 1 AS INTEGER), CAST(i + 20 AS INTEGER)), ' ')))) AS h
        FROM toks WHERE len(tk) >= 20),
      rep AS (SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS df FROM wins GROUP BY h) WHERE df >= 2),
      r AS (SELECT w.doc_id, w.pos FROM wins w JOIN rep USING (h)),
      isl AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
                    THEN 1 ELSE 0 END AS ni
        FROM r),
      isl2 AS (
        SELECT doc_id, pos,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        FROM isl)
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 20 AS span_end,
             CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM isl2 GROUP BY doc_id, island"""),
      (s, dir) => RepeatedSpans.repeatedSpans(
        t(s, dir, "documents"), "text", "doc_id", windowTokens = 20, minDf = 2)),

    // ------------------------------------------------ text: BM25 search
    // Lexical retrieval over the corpus: Okapi BM25 (k1=1.2, b=0.75,
    // Lucene-style non-negative idf) for a 3-term query, top-10 by
    // (rounded score desc, doc_id). The tf aggregation filters to query
    // terms before grouping; df/idf and corpus stats broadcast; the
    // top-k is TakeOrderedAndProject, never a full sort.
    QueryDef("text_bm25_topk", Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      lens AS (SELECT doc_id, len(tk) AS dl FROM toks),
      stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
      tf AS (
        SELECT doc_id, t AS term, COUNT(*) AS tf FROM (
          SELECT doc_id, unnest(tk) AS t FROM toks)
        WHERE t IN ('join', 'merge', 'vector') GROUP BY 1, 2),
      df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      idf AS (SELECT term, ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) AS idf
              FROM df d CROSS JOIN stats s),
      sc AS (
        SELECT t.doc_id,
               i.idf * t.tf * (1.2 + 1.0) /
                 (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS s
        FROM tf t JOIN idf i USING (term) JOIN lens l USING (doc_id)
        CROSS JOIN stats s)
      SELECT doc_id, round(SUM(s), 6) AS score FROM sc GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 10"""),
      (s, dir) => Bm25.topK(t(s, dir, "documents"), "text", "doc_id",
        Seq("join", "merge", "vector"), k = 10)),

    // ------------------------------------- pipeline: composed curation run
    // The end-to-end curation chain a training-data team schedules —
    // quality gate -> repeated-chunk removal -> minhash near-dup survivors
    // -> benchmark decontamination -> mixture sampling — emitted as the
    // per-stage attrition report (docs/tokens after each stage). The
    // oracle replays every stage from the individually-proven SQL
    // fragments (gate arms, chunk reassembly, the shared minhash CTEs over
    // the CLEANED relation, recursive closure, 5-gram overlap, mixture
    // hash) — so the composition itself is what this row verifies.
    // One emergent semantic the report makes visible: chunk-level dedup
    // upstream also strips the text that decontamination would have
    // caught, so the decontaminate stage legitimately shows zero drops on
    // this corpus.
    QueryDef("curation_report", Some(s"""
      WITH RECURSIVE
      tr AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 101 <> 0),
      ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0),
      g_sc AS (
        SELECT doc_id, source, text, tk,
               len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
               len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','los','se','por'))) AS s_es,
               len(list_filter(tk, x -> x IN ('der','die','das','und','ist','ein','zu','den','von','mit'))) AS s_de,
               len(list_filter(tk, x -> x IN ('le','la','de','et','un','est','que','pour','dans','des'))) AS s_fr,
               CASE WHEN len(tk) >= 2
                    THEN list_transform(range(0, len(tk) - 1),
                           i -> array_to_string(list_slice(tk, CAST(i + 1 AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))
                    ELSE [array_to_string(tk, ' ')] END AS gs
        FROM (SELECT doc_id, source, text, $toksSql AS tk FROM tr)),
      keep2 AS (
        SELECT doc_id, source, text FROM g_sc
        WHERE NOT (len(tk) < 10)
          AND (greatest(s_en, s_es, s_de, s_fr) > 0 AND s_en = greatest(s_en, s_es, s_de, s_fr))
          AND (CASE WHEN len(text) > 0 THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(len(text) AS DOUBLE) ELSE 0.0 END) >= 0.6
          AND (CASE WHEN len(gs) > 0 THEN 1.0 - len(list_distinct(gs)) / CAST(len(gs) AS DOUBLE) ELSE 0.0 END) <= 0.5
          AND regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
                '(?:\\+?1[-. ])?(?:\\([0-9]{3}\\)|[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g') = text),
      l_ch AS (
        SELECT doc_id,
               unnest(list_transform(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT)),
                 i -> array_to_string(list_slice(tk, CAST(i * 10 + 1 AS INTEGER), CAST(i * 10 + 10 AS INTEGER)), ' '))) AS line,
               unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS pos
        FROM (SELECT doc_id, $toksSql AS tk FROM keep2) WHERE len(tk) > 0),
      l_df AS (SELECT md5(line) AS h, COUNT(DISTINCT doc_id) AS df FROM l_ch GROUP BY 1),
      l_re AS (
        SELECT c.doc_id,
               coalesce(string_agg(CASE WHEN d.df <= 1 THEN c.line END, ' ' ORDER BY c.pos), '') AS clean
        FROM l_ch c JOIN l_df d ON md5(c.line) = d.h
        GROUP BY c.doc_id),
      keep3 AS (
        SELECT r.doc_id, k.source, r.clean AS text
        FROM l_re r JOIN keep2 k USING (doc_id) WHERE r.clean <> ''),
      ${minhashPairsCtesFrom("keep3")},
      $closureCtes,
      keep4 AS (
        SELECT k.* FROM keep3 k LEFT JOIN rm ON k.doc_id = rm.src
        WHERE least(k.doc_id, coalesce(rm.m, k.doc_id)) = k.doc_id),
      d_tr AS (
        SELECT doc_id, unnest(CASE WHEN len(tk) >= 5
                 THEN list_transform(range(0, len(tk) - 4),
                        i -> array_to_string(list_slice(tk, CAST(i + 1 AS INTEGER), CAST(i + 5 AS INTEGER)), ' '))
                 ELSE [array_to_string(tk, ' ')] END) AS ngram
        FROM (SELECT doc_id, $toksSql AS tk FROM keep4)),
      d_ev AS (
        SELECT DISTINCT unnest(CASE WHEN len(tk) >= 5
                 THEN list_transform(range(0, len(tk) - 4),
                        i -> array_to_string(list_slice(tk, CAST(i + 1 AS INTEGER), CAST(i + 5 AS INTEGER)), ' '))
                 ELSE [array_to_string(tk, ' ')] END) AS ngram
        FROM (SELECT doc_id, $toksSql AS tk FROM ev)),
      contam AS (SELECT DISTINCT t.doc_id FROM d_tr t JOIN d_ev e USING (ngram)),
      keep5 AS (SELECT * FROM keep4 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      m_t AS (SELECT doc_id, source, text, CAST(len($toksSql) AS INTEGER) AS ntok FROM keep5),
      m_w AS (SELECT source, CAST(CAST(substr(source, 4) AS INTEGER) % 4 + 1 AS DOUBLE) AS raw
              FROM (SELECT DISTINCT source FROM tr)),
      m_wn AS (SELECT source, raw / (SELECT SUM(raw) FROM m_w) AS wgt FROM m_w),
      m_tot AS (SELECT source, SUM(ntok) AS tot FROM m_t GROUP BY source),
      m_f AS (SELECT m_wn.source, least(1.0, 20000 * wgt / tot) AS keep_frac
              FROM m_wn JOIN m_tot USING (source)),
      keep6 AS (
        SELECT t.doc_id, t.source, t.text FROM m_t t JOIN m_f USING (source)
        WHERE ((t.doc_id % 2147483647 * 2654435761) % 2147483647) / 2147483647.0 < m_f.keep_frac)
      SELECT * FROM (
        SELECT 'ingest' AS stage, 1 AS stage_order, COUNT(*) AS n_docs,
               CAST(coalesce(SUM(len($toksSql)), 0) AS BIGINT) AS n_tokens FROM tr
        UNION ALL SELECT 'quality_gate', 2, COUNT(*), CAST(coalesce(SUM(len($toksSql)), 0) AS BIGINT) FROM keep2
        UNION ALL SELECT 'line_dedup', 3, COUNT(*), CAST(coalesce(SUM(len($toksSql)), 0) AS BIGINT) FROM keep3
        UNION ALL SELECT 'near_dup', 4, COUNT(*), CAST(coalesce(SUM(len($toksSql)), 0) AS BIGINT) FROM keep4
        UNION ALL SELECT 'decontaminate', 5, COUNT(*), CAST(coalesce(SUM(len($toksSql)), 0) AS BIGINT) FROM keep5
        UNION ALL SELECT 'mixture', 6, COUNT(*), CAST(coalesce(SUM(len($toksSql)), 0) AS BIGINT) FROM keep6)"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val train = docs.filter(col("doc_id") % 101 =!= 0)
        val weights = train.select(col("source")).distinct()
          .select(col("source"),
            (substring(col("source"), 4, 10).cast("int") % 4 + 1)
              .cast("double").as("weight"))
        graft.pipelines.Curation.attritionReport(train,
          docs.filter(col("doc_id") % 101 === 0), weights,
          "text", "doc_id", "source",
          onStage = (st, sec) =>
            System.err.println(f"[curation] stage $st%-14s ${sec}%.1fs"))
      }),

    // ------------------------------------- text: length-sorted packing
    // Sorted next-fit shard assignment: the same distributed prefix sum
    // as text_token_shards but over (tokens desc, doc_id) — long docs
    // placed first so shard-boundary overshoot comes from the short
    // tail. The oracle is the single-task global-window formulation of
    // the identical composite order.
    QueryDef("text_token_shards_packed", Some(s"""
      WITH t AS (SELECT doc_id, CAST(len($toksSql) AS INTEGER) AS n_tokens FROM documents),
      c AS (SELECT doc_id, n_tokens,
                   CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS cum
            FROM t)
      SELECT doc_id, n_tokens, (cum - n_tokens) // 4096 AS shard FROM c"""),
      (s, dir) => Sharding.packedShards(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        size(tokens(col("text"))), "doc_id", 4096L)
        .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
          col("shard"))),

    // --------------------------------- text: incremental HLL corpus stats
    // Per-source distinct-token cardinality from MERGED per-batch HLL
    // sketches (two disjoint halves sketched independently, unioned,
    // estimated) — the incremental-statistics path that never rescans the
    // corpus. DuckDB has no DataSketches twin, so the restricted oracle
    // mirrors the EXACT side: the Spark result carries the exact distinct
    // count (the oracle replays it) plus est_ok asserting the sketch
    // estimate landed within 5% — the union-correctness claim the
    // incremental path rests on.
    QueryDef("text_distinct_tokens_hll", Some(s"""
      WITH f AS (SELECT source, unnest($toksSql) AS tok FROM documents)
      SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact,
             TRUE AS est_ok
      FROM f GROUP BY source"""),
      (s, dir) => {
        import graft.operators.CorpusStats
        val docs = t(s, dir, "documents")
        val sketches = CorpusStats.tokenSketches(
          docs.filter(col("doc_id") % 2 === 0), "text", "source")
          .unionByName(CorpusStats.tokenSketches(
            docs.filter(col("doc_id") % 2 =!= 0), "text", "source"))
        val est = CorpusStats.estimates(
          CorpusStats.mergeSketches(sketches, "source"), "source")
        val exact = docs
          .select(col("source"), explode_outer(tokens(col("text"))).as("__tok"))
          .groupBy("source")
          .agg(countDistinct(col("__tok")).as("n_exact"))
        exact.join(est, Seq("source"))
          .select(col("source"), col("n_exact"),
            (abs(col("n_distinct_est") - col("n_exact")) <=
              col("n_exact") * 0.05).as("est_ok"))
      }),

    // ------------------------------------------------- text: fingerprint
    QueryDef("text_fingerprint", Some(s"""
      SELECT source, COUNT(DISTINCT md5($canonSql)) AS n_unique, COUNT(*) AS n_docs
      FROM documents GROUP BY source"""),
      (s, dir) => t(s, dir, "documents")
        .groupBy("source")
        .agg(countDistinct(fingerprint(col("text"))).as("n_unique"),
          count(lit(1)).as("n_docs"))),

    // ------------------------------------------- text: rolling-hash fp
    QueryDef("text_rolling_fp", Some(s"""
      WITH c AS (SELECT doc_id, $canonSql AS t FROM documents)
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 [CAST(ord(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT)
                  FOR i IN range(1, len(t) + 1)]),
               (a, x) -> (a * 31 + x) % 2147483647) AS rolling_fp
      FROM c"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), canonicalText(col("text")).as("__canon"))
        .select(col("doc_id"),
          rollingFingerprint(col("__canon")).as("rolling_fp"))),

    // ------------------------------------------------- text: Gopher rules
    // The published Gopher quality-rule battery (Rae et al. 2021,
    // arXiv:2112.11446 Appendix A) as one projection pass. The synthetic
    // arms drive every rule in BOTH directions: %11 prepends TEN bullet
    // lines (10/11 > the paper's 0.9 mostly-bullets threshold), %13
    // appends ellipsis-ended lines, %17 appends '#' symbol words (also
    // dropping the alpha-word fraction), %7 appends enough stop words to
    // pass the stop-word probe, %19 prepends two bullet lines (nonzero
    // fraction that PASSES 0.9); word-count splits naturally on the
    // corpus length distribution. The symbol rule tests '#' and '...'
    // ratios separately, as the paper does.
    QueryDef("text_gopher_rules", Some(raw"""
      WITH src AS (
        SELECT doc_id,
          CASE WHEN doc_id % 11 = 0 THEN repeat('- bullet line' || chr(10), 10) || text
               WHEN doc_id % 13 = 0 THEN text || chr(10) || 'trailing thought...' || chr(10) || 'another...'
               WHEN doc_id % 17 = 0 THEN text || ' # # # # # # # # # # # #'
               WHEN doc_id % 7 = 0 THEN text || ' and that with have be'
               WHEN doc_id % 19 = 0 THEN '- bullet one' || chr(10) || '- bullet two' || chr(10) || text
               ELSE text END AS t
        FROM documents),
      m AS (
        SELECT doc_id, t,
          list_filter(string_split_regex(lower(t), '\s+'), x -> len(x) > 0) AS toks,
          string_split(coalesce(t, ''), chr(10)) AS lines
        FROM src),
      f AS (
        SELECT doc_id,
          len(toks) AS n_words,
          CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) AS mean_len,
          CAST(len(t) - len(replace(t, '#', '')) AS DOUBLE) / len(toks) AS hash_ratio,
          CAST((len(t) - len(replace(t, '...', ''))) / 3 AS DOUBLE) / len(toks) AS ell_sym_ratio,
          CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE) / len(lines) AS bullet_frac,
          CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$$'))) AS DOUBLE) / len(lines) AS ellipsis_frac,
          CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha_frac,
          len(list_intersect(toks, ['the','be','to','of','and','that','have','with'])) AS n_stops,
          t IS NOT NULL AS nn
        FROM m)
      SELECT doc_id,
        coalesce(nn AND n_words >= 50 AND n_words <= 100000, FALSE) AS flag_word_count,
        coalesce(nn AND mean_len >= 3.0 AND mean_len <= 10.0, FALSE) AS flag_mean_word_len,
        coalesce(nn AND hash_ratio <= 0.1 AND ell_sym_ratio <= 0.1, FALSE) AS flag_symbol_ratio,
        coalesce(nn AND bullet_frac <= 0.9, FALSE) AS flag_bullet_lines,
        coalesce(nn AND ellipsis_frac <= 0.3, FALSE) AS flag_ellipsis_lines,
        coalesce(nn AND alpha_frac >= 0.8, FALSE) AS flag_alpha_words,
        coalesce(nn AND n_stops >= 2, FALSE) AS flag_stop_words,
        (coalesce(nn AND n_words >= 50 AND n_words <= 100000, FALSE)
         AND coalesce(nn AND mean_len >= 3.0 AND mean_len <= 10.0, FALSE)
         AND coalesce(nn AND hash_ratio <= 0.1 AND ell_sym_ratio <= 0.1, FALSE)
         AND coalesce(nn AND bullet_frac <= 0.9, FALSE)
         AND coalesce(nn AND ellipsis_frac <= 0.3, FALSE)
         AND coalesce(nn AND alpha_frac >= 0.8, FALSE)
         AND coalesce(nn AND n_stops >= 2, FALSE)) AS gopher_keep
      FROM f"""),
      (s, dir) => {
        val src = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 11 === 0,
            concat(lit("- bullet line\n" * 10), col("text")))
          .when(col("doc_id") % 13 === 0,
            concat(col("text"), lit("\ntrailing thought...\nanother...")))
          .when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" # # # # # # # # # # # #")))
          .when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" and that with have be")))
          .when(col("doc_id") % 19 === 0,
            concat(lit("- bullet one\n- bullet two\n"), col("text")))
          .otherwise(col("text")).as("t"))
        graft.functions.GopherRules.withGopherFlags(src, "t").drop("t")
      }),

    // ------------------------------------------------- url: normalization
    // URL-level curation (the CCNet / RefinedWeb / Dolma provenance
    // stages that run BEFORE any text pass). The crawl URL synthesizes
    // deterministically from (doc_id, source), exercising every
    // normalization arm: uppercase scheme/host + www + tracking params +
    // fragment (%5=0), trailing slash (%5=1), mid-query tracking params
    // (%5=2), surrounding whitespace + bare host (%5=3), a blocklisted
    // domain (%5=4). Normalization is one codegen'd regexp projection —
    // zero shuffles at any scale.
    QueryDef("url_normalize", Some(
      s"WITH urls AS ($urlSynthSql), norm AS ($urlNormSql)" + """
      SELECT doc_id, u AS url_norm,
             regexp_extract(u, '^[a-z]+://([^/?#:]+)', 1) AS domain
      FROM norm"""),
      (s, dir) => {
        import graft.operators.UrlCuration
        val withUrl = synthUrls(t(s, dir, "documents"))
        withUrl
          .select(col("doc_id"),
            UrlCuration.normalizeUrl(col("url")).as("url_norm"))
          .withColumn("domain", UrlCuration.domainOf(col("url_norm")))
      }),

    // ------------------------------------------- url: blocklist + domain cap
    // Domain-diversity cap: blocklisted domains drop (broadcast
    // anti-join), then each surviving domain contributes at most 5
    // documents, chosen by the deterministic multiplicative id hash with
    // an id tiebreak (reproducible, partitioning-independent — never
    // "first N by partition order"). One shuffle keyed by domain.
    QueryDef("url_domain_cap", Some(
      s"WITH urls AS ($urlSynthSql), norm AS ($urlNormSql)," + """
      dom AS (
        SELECT doc_id, regexp_extract(u, '^[a-z]+://([^/?#:]+)', 1) AS domain
        FROM norm),
      kept AS (
        SELECT * FROM dom
        WHERE NOT EXISTS (SELECT 1 FROM (VALUES ('blocked.example.com')) bl(domain)
                          WHERE bl.domain = dom.domain)),
      ranked AS (
        SELECT doc_id, domain,
               row_number() OVER (PARTITION BY domain
                 ORDER BY (doc_id % 2147483647 * 2654435761) % 2147483647, doc_id) AS rn
        FROM kept)
      SELECT doc_id, domain FROM ranked WHERE rn <= 5"""),
      (s, dir) => {
        import s.implicits._
        import graft.operators.UrlCuration
        val doms = synthUrls(t(s, dir, "documents"))
          .select(col("doc_id"),
            UrlCuration.domainOf(UrlCuration.normalizeUrl(col("url")))
              .as("domain"))
        val blocklist = Seq("blocked.example.com").toDF("domain")
        UrlCuration.capPerDomain(
          UrlCuration.filterBlocklist(doms, "domain", blocklist),
          "domain", "doc_id", maxPerDomain = 5)
          .select(col("doc_id"), col("domain"))
      }),

    // ----------------------------------- streaming: incremental dedup ingest
    // The streaming ingestion paths replayed END-TO-END inside one
    // registry query: the corpus is staged as three parquet files, read
    // back as a real FileStreamSource with maxFilesPerTrigger=1 (three
    // micro-batches, fully distributed — no driver-held data), and the
    // actual production StreamingQuery (Streams.dedupIngest →
    // foreachBatch → Dedup.ingestBatch against the accumulated index)
    // runs to completion. The union of the per-batch pair outputs must
    // equal the ONE-SHOT LSH pair set — each pair is emitted exactly
    // once, in the batch where its later member arrives (in-batch pairs
    // via the band self-join, cross-batch pairs via the index), and the
    // collision criterion and Jaccard are identical — so the oracle is
    // dedup_minhash's own whole-corpus CTE block. This is the streaming
    // cadence of the reference's incremental processed-list anti-join
    // (docs/notebooks/elr.Rmd:296-310) at near-dup granularity.
    QueryDef("stream_dedup_ingest",
      Some(s"WITH $minhashPairsCtes" +
        " SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5"),
      (s, dir) => {
        val root = Tables.freshScratch("stream_mh")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val src = stageMicroBatches(s, docs, root)
        val q = graft.streaming.Streams.dedupIngest(src, "text", "doc_id",
          s"$root/idx", s"$root/pairs", s"$root/ckpt", minJaccard = 0.5)
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/pairs")
          .select(col("id_a"), col("id_b"), col("jaccard"))
      }),

    // ----------------- streaming: dedup ingest + maintenance (r15, late)
    // dedupIngest with maintainEvery: the stream compacts its OWN index
    // when minhashIndexHealth prescribes it (here the 3-generation
    // accumulation at the default fragmentFactor), mid-stream, under the
    // staged-swap protocol. Maintenance must not change a single pair —
    // the row shares stream_dedup_ingest's one-shot oracle — and the
    // require pins that the compaction really ran (generations collapsed
    // to the batch=-1 one) and left the index healthy.
    QueryDef("stream_dedup_maintain",
      Some(s"WITH $minhashPairsCtes" +
        " SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5"),
      (s, dir) => {
        val root = Tables.freshScratch("stream_mh_mnt")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val src = stageMicroBatches(s, docs, root)
        val q = graft.streaming.Streams.dedupIngest(src, "text", "doc_id",
          s"$root/idx", s"$root/pairs", s"$root/ckpt", minJaccard = 0.5,
          maintainEvery = 1)
        try q.processAllAvailable() finally q.stop()
        val h = graft.operators.Dedup.minhashIndexHealth(s, s"$root/idx")
        require(h.generations == 1 && h.prescription == "healthy",
          s"in-stream maintenance did not run: $h")
        s.read.parquet(s"$root/pairs")
          .select(col("id_a"), col("id_b"), col("jaccard"))
      }),

    // ------------------------- streaming: quality-gated dedup ingest (pairs)
    // Streams.qualityGatedDedupIngest with the canonical composed gate:
    // only gate-keepers enter the index, so the unioned per-batch pairs
    // must equal the one-shot LSH pairs over the gate-keeper SUBSET —
    // the oracle runs the shared gate CTEs and then the shared minhash
    // CTE block over the keepers.
    QueryDef("stream_qgate_pairs",
      Some(s"""
      WITH tr AS (SELECT doc_id, text AS t FROM documents),
      ${gateDispCtes("tr")},
      gkeep AS (SELECT doc_id, t AS text FROM disp WHERE disposition = 'keep'),
      ${minhashPairsCtesFrom("gkeep")}
      SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5"""),
      (s, dir) => {
        val root = Tables.freshScratch("stream_qg")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val src = stageMicroBatches(s, docs, root)
        val q = graft.streaming.Streams.qualityGatedDedupIngest(src,
          df => graft.pipelines.Curation.withDisposition(df, "text"),
          "text", "doc_id", s"$root/idx", s"$root/pairs", s"$root/rejects",
          s"$root/ckpt", minJaccard = 0.5)
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/pairs")
          .select(col("id_a"), col("id_b"), col("jaccard"))
      }),

    // --------------------------------- streaming: curation ingest (rejects)
    // Streams.curationIngest end-to-end: gate + per-batch n-gram
    // decontamination against a static eval set, rejects carrying their
    // reason. Decontamination is batch-local (keeper grams vs the ONE
    // broadcast eval gram set), so the accumulated rejects must equal
    // the whole-corpus judgment: gate-failures with their first-failing
    // rule, plus gate-keepers sharing a 5-gram with the eval set as
    // 'contaminated'. The %7 PII tail keeps that gate arm exercised
    // (same synthesis as text_quality_gate).
    QueryDef("stream_curation_rejects",
      Some(s"""
      WITH tr AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact bob@example.com or (555) 123-4567'
                    ELSE text END AS t
        FROM documents WHERE doc_id % 101 <> 0),
      ${gateDispCtes("tr")},
      ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0),
      gkeep AS (SELECT doc_id, t AS text FROM disp WHERE disposition = 'keep'),
      d_tr AS (
        SELECT doc_id, unnest(CASE WHEN len(tk) >= 5
                 THEN list_transform(range(0, len(tk) - 4),
                        i -> array_to_string(list_slice(tk, CAST(i + 1 AS INTEGER), CAST(i + 5 AS INTEGER)), ' '))
                 ELSE [array_to_string(tk, ' ')] END) AS ngram
        FROM (SELECT doc_id, $toksSql AS tk FROM gkeep)),
      d_ev AS (
        SELECT DISTINCT unnest(CASE WHEN len(tk) >= 5
                 THEN list_transform(range(0, len(tk) - 4),
                        i -> array_to_string(list_slice(tk, CAST(i + 1 AS INTEGER), CAST(i + 5 AS INTEGER)), ' '))
                 ELSE [array_to_string(tk, ' ')] END) AS ngram
        FROM (SELECT doc_id, $toksSql AS tk FROM ev)),
      contam AS (SELECT DISTINCT t.doc_id FROM d_tr t JOIN d_ev e USING (ngram))
      SELECT doc_id, disposition FROM disp WHERE disposition <> 'keep'
      UNION ALL
      SELECT doc_id, 'contaminated' AS disposition FROM contam"""),
      (s, dir) => {
        val root = Tables.freshScratch("stream_cur")
        val docs = t(s, dir, "documents")
        val train = docs.filter(col("doc_id") % 101 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0,
              concat(col("text"),
                lit(" contact bob@example.com or (555) 123-4567")))
              .otherwise(col("text")).as("text"))
        val evalDocs = docs.filter(col("doc_id") % 101 === 0)
          .select(col("doc_id"), col("text"))
        val src = stageMicroBatches(s, train, root)
        val q = graft.streaming.Streams.curationIngest(src, evalDocs,
          "text", "doc_id", s"$root/idx", s"$root/pairs", s"$root/rejects",
          s"$root/ckpt", minJaccard = 0.5)
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/rejects")
          .select(col("doc_id"), col("disposition"))
      }),

    // ----------------------------- streaming: keep_na retry state machine
    // The REAL streaming twin (Streams.keepNaRetry —
    // flatMapGroupsWithState, EventTimeTimeout) replayed through a file
    // stream and hash-checked: pending roster records wait in state for a
    // matching arrival; matched within the 60-day retention emit with
    // their age, the rest expire when the watermark passes firstSeen+60d
    // (KEEP_NA_ROSTER_SECOND_IN_PROGRESS.Rmd:699-765 — the per-run retry
    // loop with the Delete-folder archive). Synthesis off documents:
    // pending at day p = id%50; ids %3==0 get a MATCH at day p+m
    // (m = id%40+3 — age m is always < 60, and the match's slice lower
    // bound is < p+60 so no matched key can time out first); ids %9==0
    // carry a SECOND pending copy at p+2 (resolved by the same held
    // match, age m-2 — the all-copies contract). Slices are staged in
    // EVENT-TIME order with pinned mtimes so the FileStreamSource replays
    // them as ordered micro-batches and the watermark (1-day delay)
    // advances deterministically; two far-future flush sentinels push the
    // final watermark past every unmatched record's timeout (the second
    // one guarantees a data batch AFTER the first's watermark update, so
    // expiry does not depend on the no-data-batch config).
    QueryDef("stream_keepna",
      Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(doc_id % 40 + 3 AS INTEGER) AS m
        FROM documents)
      SELECT 'k' || CAST(doc_id AS VARCHAR) AS key,
             'rec-' || CAST(doc_id AS VARCHAR) AS payload,
             'matched' AS outcome, m AS "ageDays"
      FROM d WHERE doc_id % 3 = 0
      UNION ALL
      SELECT 'k' || CAST(doc_id AS VARCHAR), 'rec2-' || CAST(doc_id AS VARCHAR),
             'matched', m - 2
      FROM d WHERE doc_id % 9 = 0
      UNION ALL
      SELECT 'k' || CAST(doc_id AS VARCHAR), 'rec-' || CAST(doc_id AS VARCHAR),
             'expired', CAST(60 AS INTEGER)
      FROM d WHERE doc_id % 3 <> 0"""),
      (s, dir) => {
        import s.implicits._
        val root = Tables.freshScratch("stream_kn")
        val ids = t(s, dir, "documents").select(
          col("doc_id"),
          (col("doc_id") % 50).cast("int").as("p"),
          (col("doc_id") % 40 + 3).cast("int").as("m"))
        val ts0 = expr("timestamp'2024-01-01 00:00:00'")
        def ev(key: Column, payload: Column, day: Column) =
          Seq(key.as("key"), payload.as("payload"),
            (ts0 + make_dt_interval(day, lit(0), lit(0), lit(0)))
              .as("firstSeen"),
            day.as("__day"))
        val kcol = concat(lit("k"), col("doc_id").cast("string"))
        val pend1 = ids.select(ev(kcol,
          concat(lit("rec-"), col("doc_id").cast("string")), col("p")): _*)
        val pend2 = ids.filter(col("doc_id") % 9 === 0).select(ev(kcol,
          concat(lit("rec2-"), col("doc_id").cast("string")),
          col("p") + 2): _*)
        val matches = ids.filter(col("doc_id") % 3 === 0).select(ev(kcol,
          concat(lit("MATCH:m"), col("doc_id").cast("string")),
          col("p") + col("m")): _*)
        val flush = Seq(("flushA", "MATCH:flush", 400), ("flushB", "MATCH:flush", 401))
          .toDF("key", "payload", "day")
          .select(ev(col("key"), col("payload"), col("day")): _*)
        val events = pend1.unionByName(pend2).unionByName(matches)
          .unionByName(flush)
        val stage = stageTimedSlices(s, events,
          Seq(0 -> 20, 20 -> 40, 40 -> 60, 60 -> 100, 100 -> 401, 401 -> 500),
          root)
        val src = s.readStream
          .schema("key STRING, payload STRING, firstSeen TIMESTAMP")
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[graft.streaming.PendingRecord]
        val sink = "keepna_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = graft.streaming.Streams.keepNaRetry(src, retentionDays = 60)
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(sink).select(
          col("key"), col("payload"), col("outcome"), col("ageDays"))
      })
  )

  /** Stage `events` (must carry a numeric `__day` column) as one
    * single-file parquet write per `[lo, hi)` day slice, with each
    * slice's file mtime pinned to a strictly increasing clock — the
    * FileStreamSource orders its backlog by modification time, so the
    * slices replay as micro-batches in EVENT-TIME order and watermark
    * advancement across batches is deterministic (load-bearing for the
    * keep_na expiry semantics; the unordered sibling is
    * [[stageMicroBatches]]). */
  /** SemDeDup oracle — shared by `emb_semdedup` and `emb_semdedup_fixed`:
    * at oracle scale the auto row's occupancy gate keeps the plan at the
    * reference (4, 16) banding, so both rows replay the identical SQL. */
  /** ann_lsh_topk oracle — shared by the default-auto row and its
    * explicit-plan `_fixed` twin (lshTopK's occupancy plan is a no-op at
    * oracle scale, so both rows replay the 12-bit ±1 reference
    * signature bit-for-bit). */
  private lazy val annLshTopkOracleSql: String =
    s"""
      WITH q AS (
        SELECT qv, (${lshSigSql("qv")}) AS qsig
        FROM (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)),
      sigs AS (
        SELECT e.vec_id, e.embedding, q.qv, q.qsig,
               (${lshSigSql("e.embedding")}) AS sig
        FROM embeddings e, q)
      SELECT vec_id,
             round(CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                             sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) > 0
               THEN list_dot_product(embedding::DOUBLE[], qv::DOUBLE[]) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                  sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])))
               ELSE 0.0 END, 6) AS cosine
      FROM sigs
      WHERE bit_count(xor(sig, qsig)) <= 2
      ORDER BY cosine DESC, vec_id LIMIT 10"""

  /** ann_knn_join oracle family — the hamming-1 multiprobe ball over
    * the 12-bit +-1 signature family, stated as a hamming-distance
    * filter over the 5-query set, with the CORPUS side optionally
    * restricted by `corpusPred` (ends in " AND " when non-empty). The
    * restriction sits INSIDE the candidate CTE — before the per-query
    * window — so excluded rows neither appear nor consume top-k slots;
    * the query side stays the full-set head (queries are external
    * probes, not index rows). */
  private def annKnnJoinOracle(corpusPred: String): String = s"""
      WITH sigs AS (
        SELECT vec_id, embedding, (${lshSigSql("embedding")}) AS sig
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qv, sig AS qsig
            FROM sigs WHERE vec_id < 5),
      cand AS (
        SELECT q.query_id, s.vec_id,
               round(CASE WHEN sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[])) *
                               sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) > 0
                 THEN list_dot_product(s.embedding::DOUBLE[], q.qv::DOUBLE[]) /
                   (sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))
                 ELSE 0.0 END, 6) AS cosine
        FROM sigs s, q
        WHERE ${corpusPred}bit_count(xor(s.sig, q.qsig)) <= 1),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS rn FROM cand)
      SELECT query_id, vec_id, cosine FROM r WHERE rn <= 3"""

  /** Shared by the in-memory row AND every persisted-index lifecycle
    * row (`ann_lsh_knn_indexed`, append / compact / reindex / stream —
    * the autoPlan build is a no-op at oracle scale, so all compute the
    * identical probe). */
  private lazy val annKnnJoinOracleSql: String = annKnnJoinOracle("")

  /** ann_delete_knn / ann_vacuum_knn oracle — corpus restricted to
    * SURVIVORS (vec_id % 10 <> 3 is tombstoned by the Spark side):
    * deleted rows must neither appear nor consume top-k slots. */
  private lazy val annDeleteKnnOracleSql: String =
    annKnnJoinOracle("s.vec_id % 10 <> 3 AND ")

  /** ann_scoped_knn oracle — corpus restricted to the ALLOWED id set
    * (vec_id % 3 = 0 is the scope frame the Spark side passes): scoped
    * search ranks over the subset, never post-filters the full top-k. */
  private lazy val annScopedKnnOracleSql: String =
    annKnnJoinOracle("s.vec_id % 3 = 0 AND ")

  /** ann_health oracle — replays indexHealth's deterministic fields:
    * `n_rows`/`tombstones` are plain counts (the `_rows` sidecar is
    * stamped at build — a stale stamp diverges from count(*) and
    * hash-fails), `cells` is the planned key space of the 2-bit sign
    * quantizer (nCells=4 → sign of dims 1..2, the quantizer
    * annIvfTopkOracleSql already replays: 4 cells, occupied or not),
    * `planned_cells` is planIvfCells at
    * targetCellRows=64 — max(cur, 2^ceil(log2(max(1, n/64)))) — and the
    * flags are the drift and tombstone-mass thresholds verbatim. */
  private lazy val annHealthOracleSql: String = """
      WITH base AS (
        SELECT count(*) AS n,
               count(*) FILTER (WHERE vec_id % 10 = 3) AS tomb
        FROM embeddings),
      c AS (SELECT 4 AS cur),
      p AS (
        SELECT GREATEST(cur, LEAST(1048576,
          CAST(pow(2.0, CEIL(log2(GREATEST(1.0, n / 64.0)))) AS BIGINT)))
          AS planned
        FROM base, c)
      SELECT 'ivf' AS layout, n AS n_rows, tomb AS tombstones,
             cur AS cells, planned AS planned_cells,
             planned > cur AS drifted,
             (tomb >= 1024 AND tomb * 100 >= n) AS tombstone_heavy
      FROM base, c, p"""

  /** ann_ivf_topk oracle — shared by the default-auto row and its
    * explicit-plan `_fixed` twin (the planIvfCells no-op at oracle scale
    * keeps both at the replayed 16 sign-pattern cells). */
  private lazy val annIvfTopkOracleSql: String = """
      WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cells AS (
        SELECT vec_id, v,
          (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END) + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END) +
          (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS cell
        FROM raw),
      expl AS (SELECT cell, unnest(range(len(v))) AS i, unnest(v) AS x FROM cells),
      cm AS (SELECT cell, i, avg(x) AS m FROM expl GROUP BY cell, i),
      cent AS (SELECT cell, list(m ORDER BY i) AS c FROM cm GROUP BY cell),
      q AS (SELECT v AS qv FROM raw WHERE vec_id = 0),
      probes AS (
        SELECT cell FROM cent, q
        ORDER BY round(CASE WHEN sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)) > 0
          THEN list_dot_product(c, qv) / (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)))
          ELSE 0.0 END, 6) DESC, cell
        LIMIT 8)
      SELECT e.vec_id,
        round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv)) > 0
          THEN list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv)))
          ELSE 0.0 END, 6) AS cosine
      FROM cells e JOIN probes USING (cell), q
      ORDER BY cosine DESC, vec_id LIMIT 10"""

  private lazy val semdedupOracleSql: String = {
    val clusterKey = (0 until 6).map(j =>
      s"(CASE WHEN v[${j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val bandWhens = (0 until 4).map { k =>
      val key = (0 until 16).map { j =>
        s"CASE WHEN v[${k * 16 + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"WHEN $k THEN ($key)"
    }.mkString("\n               ")
    s"""
      WITH RECURSIVE cells0 AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
      cells1 AS (
        SELECT id, v FROM cells0
        UNION ALL
        SELECT id + 1000000000000, list_transform(v, x -> x * 2)
        FROM cells0 WHERE id % 97 = 0),
      cells AS (
        SELECT id, v, $clusterKey AS cluster FROM cells1),
      banded AS (
        SELECT id, cluster, r.band,
               CASE r.band
               $bandWhens
               END AS key
        FROM cells, range(0, 4) r(band)),
      cent AS (
        SELECT cluster, i, avg(x) AS m FROM (
          SELECT cluster, unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x
          FROM cells)
        GROUP BY cluster, i),
      centroid AS (
        SELECT cluster, list(m ORDER BY i) AS c FROM cent GROUP BY cluster),
      cosc AS (
        SELECT k.id, k.cluster,
               round(CASE WHEN list_dot_product(k.v, k.v) > 0
                           AND list_dot_product(c.c, c.c) > 0
                     THEN list_dot_product(k.v, c.c) /
                          (sqrt(list_dot_product(k.v, k.v)) *
                           sqrt(list_dot_product(c.c, c.c)))
                     ELSE 0.0 END, 6) AS cos_centroid
        FROM cells k JOIN centroid c ON k.cluster = c.cluster),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b
          ON a.cluster = b.cluster AND a.band = b.band AND a.key = b.key
        WHERE a.id < b.id),
      mp AS (
        SELECT p.id_a, p.id_b
        FROM cand p
        JOIN cells a ON a.id = p.id_a
        JOIN cells b ON b.id = p.id_b
        WHERE round(CASE WHEN list_dot_product(a.v, a.v) > 0
                          AND list_dot_product(b.v, b.v) > 0
                    THEN list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v)))
                    ELSE 0.0 END, 6) >= 0.9),
      edges AS (
        SELECT id_a AS a, id_b AS b FROM mp
        UNION SELECT id_b, id_a FROM mp),
      reach AS (
        SELECT a AS src, b AS dst FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      rm AS (SELECT src, min(dst) AS m FROM reach GROUP BY src),
      comp AS (
        SELECT k.id, k.cluster,
               least(k.id, coalesce(rm.m, k.id)) AS component
        FROM cells k LEFT JOIN rm ON k.id = rm.src)
      SELECT c.id AS vec_id, c.cluster, c.component, s.cos_centroid,
             CASE WHEN COUNT(*) OVER (PARTITION BY c.component) > 1
                    AND ROW_NUMBER() OVER (PARTITION BY c.component
                          ORDER BY s.cos_centroid, c.id) > 1
                  THEN 'drop' ELSE 'keep' END AS action
      FROM comp c JOIN cosc s ON c.id = s.id"""
  }

  private def stageTimedSlices(s: SparkSession, events: DataFrame,
      slices: Seq[(Int, Int)], root: String): String = {
    val stage = s"$root/stage"
    var seen = Set.empty[java.nio.file.Path]
    slices.zipWithIndex.foreach { case ((lo, hi), i) =>
      events.filter(col("__day") >= lo && col("__day") < hi).drop("__day")
        .coalesce(1).write.mode("append").parquet(stage)
      import scala.jdk.CollectionConverters._
      val files = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(stage)))(
        _.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSet)
      (files -- seen).foreach(f => java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L)))
      seen = files
    }
    stage
  }

  /** One-pass batch-file staging shared by [[stageMicroBatches]] and
    * [[stageOrderedMicroBatches]] (r18 optimization round): ALL batch
    * files land in ONE Spark job — the old shape looped `nBatches`
    * filter + coalesce(1) writes, re-scanning the source per batch on a
    * single task each (guide §1.2: fewer passes). The batch key is
    * hash-REPARTITIONED so each key's rows live in exactly one task and
    * partitionBy emits exactly one file per batch dir; the files are
    * then renamed into the flat stage root the FileStreamSource lists,
    * with explicit ascending mtimes one minute apart so "batch i" is
    * DETERMINISTICALLY the `id % nBatches = i` slice (previously only
    * the ordered variant pinned this; the order-free families tolerate
    * any order, so imposing one changes nothing and removes the
    * same-millisecond listing-order tie). */
  private def stageBatchFiles(s: SparkSession, df: DataFrame,
      stage: String, nBatches: Int, idCol: String): Unit = {
    val tmpDir = s"$stage.__staging"
    df.withColumn("__b", pmod(col(idCol), lit(nBatches)))
      .repartition(nBatches, col("__b"))
      .write.mode("overwrite").partitionBy("__b").parquet(tmpDir)
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val fs = stagePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(stagePath)
    val t0 = System.currentTimeMillis() - (nBatches + 1) * 60000L
    (0 until nBatches).foreach { i =>
      val dir = new org.apache.hadoop.fs.Path(s"$tmpDir/__b=$i")
      val files =
        if (fs.exists(dir))
          fs.listStatus(dir).map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
        else Array.empty[org.apache.hadoop.fs.Path]
      require(files.length == 1,
        s"stageBatchFiles($stage): batch $i staged ${files.length} " +
          s"files — the corpus is too small to split into $nBatches " +
          s"non-empty micro-batches, or the one-file-per-key invariant " +
          s"broke")
      val dst = new org.apache.hadoop.fs.Path(stage, s"batch-$i.parquet")
      if (!fs.rename(files.head, dst)) throw new java.io.IOException(
        s"stageBatchFiles($stage): rename ${files.head} -> $dst failed")
      fs.setTimes(dst, t0 + i * 60000L, -1)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
  }

  /** Stage `df` as `nBatches` single-file parquet writes under
    * `root/stage` and open a FileStreamSource over them with
    * maxFilesPerTrigger=1 — a real streaming source delivering the frame
    * as `nBatches` micro-batches, rows split by a doc_id mod (fully
    * distributed; no driver-held data). One staging job total (see
    * [[stageBatchFiles]]). */
  private[graft] def stageMicroBatches(s: SparkSession, df: DataFrame,
      root: String, nBatches: Int = 3, idCol: String = "doc_id"): DataFrame = {
    val stage = s"$root/stage"
    stageBatchFiles(s, df, stage, nBatches, idCol)
    s.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
  }

  /** The train-on-batch-0 IVF-PQ oracle shared by `stream_ivfpq_ingest`
    * and `stream_ivfpq_maintain`: centroids and codebooks replay over
    * the vec_id % 3 = 0 slice ONLY (the frozen-geometry contract),
    * codes/cells over everything, probe ranking + asymmetric-distance
    * cut + exact re-rank value-for-value. */
  /** The shared sign-quantizer IVF-PQ replay (m=16, sub=4, nProbe 8,
    * k=3 at overFetch 16): cells, member-mean centroids, codebooks over
    * the `trainSql` slice, probe ranking, asymmetric-distance cut and
    * exact re-rank — value-for-value. `cellSql` is the coarse-cell
    * expression (static 4 bits for the frozen-batch-0 stream rows;
    * planner-replaying dynamic width for the reservoir-reindex row). */
  private def ivfPqReplayOracleSql(cellSql: String,
      trainSql: String): String = {
      val codeList = (0 until 16).map { j =>
        (0 until 4).map { b =>
          s"(CASE WHEN nv[${j * 4 + b + 1}] >= 0 THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString("[", ",\n        ", "]")
      s"""
      WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      nrm AS (SELECT vec_id, v,
        CASE WHEN sqrt(list_dot_product(v, v)) > 0
             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             ELSE v END AS nv FROM raw),
      coded AS (SELECT vec_id, nv, $cellSql AS cell, $codeList AS code FROM nrm),
      train AS ($trainSql),
      cexpl AS (SELECT cell, unnest(range(len(nv))) AS i, unnest(nv) AS x FROM train),
      ccm AS (SELECT cell, i, avg(x) AS m FROM cexpl GROUP BY cell, i),
      cent AS (SELECT cell, list(m ORDER BY i) AS c FROM ccm GROUP BY cell),
      q AS (SELECT vec_id AS query_id, v AS qrv, nv AS qv FROM nrm WHERE vec_id < 5),
      pranked AS (
        SELECT query_id, cell,
               row_number() OVER (PARTITION BY query_id ORDER BY
                 round(CASE WHEN sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)) > 0
                   THEN list_dot_product(c, qv) / (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv)))
                   ELSE 0.0 END, 6) DESC, cell) AS rn
        FROM cent, q),
      probes AS (SELECT query_id, cell FROM pranked WHERE rn <= 8),
      expl AS (SELECT code, unnest(range(len(nv))) AS i, unnest(nv) AS x FROM train),
      assign AS (SELECT CAST(i // 4 AS INT) AS j, CAST(i % 4 AS INT) AS p, x,
                        code[CAST(i // 4 AS INT) + 1] AS c FROM expl),
      cb AS (SELECT j, c, p, avg(x) AS m FROM assign GROUP BY j, c, p),
      qd AS (SELECT query_id, j, c,
                    sum((m - qv[j * 4 + p + 1]) * (m - qv[j * 4 + p + 1])) AS d
             FROM cb, q GROUP BY query_id, j, c),
      dcode AS (SELECT vec_id, cell, unnest(range(16)) AS j, unnest(code) AS c FROM coded),
      cand AS (SELECT query_id, vec_id, round(sum(d), 6) AS ad
               FROM dcode JOIN probes USING (cell) JOIN qd USING (query_id, j, c)
               GROUP BY query_id, vec_id),
      cut AS (SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY ad, vec_id) AS rn
                FROM cand) WHERE rn <= 48),
      rr AS (
        SELECT query_id, r.vec_id,
               round(CASE WHEN sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)) > 0
                 THEN list_dot_product(r.v, qrv) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)))
                 ELSE 0.0 END, 6) AS cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(CASE WHEN sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)) > 0
                   THEN list_dot_product(r.v, qrv) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qrv, qrv)))
                   ELSE 0.0 END, 6) DESC, r.vec_id) AS rn
        FROM raw r JOIN cut USING (vec_id) JOIN q USING (query_id))
      SELECT query_id, vec_id, cosine FROM rr WHERE rn <= 3"""
      }

  private lazy val streamIvfPqOracleSql: String = ivfPqReplayOracleSql(
    cellSql = (0 until 4).map(j =>
      s"(CASE WHEN nv[${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + "),
    // the training slice: ONLY batch 0 (vec_id % 3 = 0) shapes the
    // centroids and codebooks — the frozen-geometry contract
    trainSql = "SELECT * FROM coded WHERE vec_id % 3 = 0")

  /** The reservoir-reindex oracle (round 18): the stream's final
    * maintenance re-plans cells at the FULL live count (planIvfCells at
    * targetCellRows = 8, replayed as the dynamic sign-bit width) and
    * retrains centroids + codebooks from the raw reservoir — which at
    * oracle scale is EVERY live row, so the replay trains on the whole
    * corpus. A stream that keeps batch-0 geometry (reindex skipped or
    * reported-only), or one that retrains from reconstructions instead
    * of the raw reservoir, hash-fails. */
  private lazy val reservoirIvfPqOracleSql: String = ivfPqReplayOracleSql(
    cellSql = """CAST(list_sum(list_transform(
        range((SELECT greatest(4, CAST(ceil(log2(greatest(
          count(*) / 8.0, 1.0))) AS INT)) FROM raw)),
        j -> CASE WHEN nv[CAST(j AS INT) + 1] >= 0
             THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)""",
    trainSql = "SELECT * FROM coded")

  /** [[stageMicroBatches]] with a PINNED batch order: FileStreamSource
    * drains oldest-modification-time first, and two sequential local
    * writes can land in the same millisecond — ties then resolve by
    * listing order, which is hash-random. The LSH/minhash ingest rows
    * don't care (their geometry is batch-order-free), but a
    * TRAIN-THEN-ADD stream's first batch IS the training set, and its
    * oracle replays training on exactly the `id % n = 0` slice — so
    * each staged file gets an explicit mtime one minute after the
    * previous batch's, making "batch 0" deterministic. */
  private def stageOrderedMicroBatches(s: SparkSession, df: DataFrame,
      root: String, nBatches: Int = 3,
      idCol: String = "doc_id"): DataFrame = {
    val stage = s"$root/stage"
    // one staging job; explicit ascending mtimes pin the batch order
    // (see [[stageBatchFiles]])
    stageBatchFiles(s, df, stage, nBatches, idCol)
    s.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
  }

  /** Deterministic crawl-URL synthesis for the url_* queries (Spark
    * side; [[urlSynthSql]] is the DuckDB mirror). */
  private def synthUrls(docs: DataFrame): DataFrame = {
    val arm = col("doc_id") % 5
    val id50 = (col("doc_id") % 50).cast("string")
    val id = col("doc_id").cast("string")
    docs.select(col("doc_id"),
      when(arm === 0, concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM/A/B/?utm_source=feed&id="), id50, lit("#frag")))
        .when(arm === 1, concat(lit("https://"), col("source"),
          lit(".example.com/page/"), id, lit("/")))
        .when(arm === 2, concat(lit("http://www."), col("source"),
          lit(".example.org/x?id="), id50, lit("&utm_campaign=c&ref=tw")))
        .when(arm === 3, concat(lit(" https://"), col("source"),
          lit(".example.net ")))
        .otherwise(concat(lit("https://blocked.example.com/item/"), id))
        .as("url"))
  }

  // defs, not vals: `defs` above initializes first, and a forward val
  // reference would interpolate as null into the oracle SQL
  private def urlSynthSql: String = """
      SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'HTTPS://WWW.' || upper(source) || '.Example.COM/A/B/?utm_source=feed&id=' || (doc_id % 50) || '#frag'
          WHEN 1 THEN 'https://' || source || '.example.com/page/' || doc_id || '/'
          WHEN 2 THEN 'http://www.' || source || '.example.org/x?id=' || (doc_id % 50) || '&utm_campaign=c&ref=tw'
          WHEN 3 THEN ' https://' || source || '.example.net '
          ELSE 'https://blocked.example.com/item/' || doc_id
        END AS url
      FROM documents"""

  /** DuckDB mirror of UrlCuration.normalizeUrl over the `urls` CTE
    * (backrefs are \1 in DuckDB vs $1 in Spark; 'g' = replace-all). */
  private def urlNormSql: String = """
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      lower(regexp_extract(trim(url), '^([^:]+://[^/?#]*)', 1)) ||
                        substring(trim(url), length(regexp_extract(trim(url), '^([^:]+://[^/?#]*)', 1)) + 1, 1000000),
                      '#.*$', '', 'g'),
                    '^([a-z]+://)www\.', '\1', 'g'),
                  '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
                '\?&+', '?', 'g'),
              '&&+', '&', 'g'),
            '[?&]+$', '', 'g'),
          '([a-z]+://[^/]+/.+?)/$', '\1', 'g') AS u
      FROM urls"""
}
