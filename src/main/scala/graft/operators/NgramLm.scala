package graft.operators

import graft.functions.TextFunctions.{tokens, wordNgramsFromTokens}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Corpus bigram language model for perplexity-style quality scoring —
 * the CCNet/Wikipedia-LM curation signal: documents whose token stream
 * is improbable under a reference model (here: the corpus itself, or
 * any corpus passed to [[train]]) score a high mean negative
 * log-likelihood and can be filtered or bucketed by fluency.
 *
 * Model: add-k smoothed bigram probabilities
 * P(w2 | w1) = (c(w1 w2) + k) / (c(w1 ·) + k·|V|), scored as the mean
 * of -ln P over a document's bigrams.
 *
 * Scale shape (100 TB lens): training is ONE corpus pass — a single
 * hash aggregation over positional (w, next) token pairs, from which
 * gram counts, context counts AND the vocabulary size all derive; the
 * model lives as materialized DataFrames keyed by gram / context word,
 * bounded by distinct-bigram count, not corpus size. Scoring explodes
 * each doc's bigrams and joins the count tables — broadcast-hinted
 * when the measured pair mass fits the session threshold, shuffle
 * joins above it; the only corpus-wide shuffle is the per-document
 * regroup. |V| is the single driver-side scalar (one bounded agg).
 */
object NgramLm {

  /** Trained model: `grams(gram, __c12)`, `contexts(__w1, __c1)`,
    * vocabulary size. Both tables are vocabulary-bounded, MATERIALIZED
    * (GC-tracked local checkpoint of the shared pair-count table), and
    * carry an explicit broadcast hint when the measured pair mass fits
    * under the session's autoBroadcastJoinThreshold. */
  case class BigramModel(grams: DataFrame, contexts: DataFrame, vocabSize: Long)

  /** Rough broadcast-relation bytes for the pair-count table: per-row
    * HashedRelation overhead (key hash + pointers + row header) plus
    * twice the UTF8 character mass (the gram string is built from both
    * words). Deliberately conservative — a false "too big" only costs
    * the hint, never correctness. */
  private def estimatedBroadcastBytes(nPairs: Long, charBytes: Long): Long =
    nPairs * 64L + charBytes * 2L

  /** Count bigrams and contexts over the training corpus. Documents
    * shorter than two tokens contribute nothing to the gram tables;
    * every token contributes to the vocabulary.
    *
    * ONE corpus pass (r19 optimization; the old shape re-ran the
    * tokenize+explode+aggregate through lineage once for `contexts`,
    * once for the vocabulary count, and once per scoring join): each
    * document explodes to positional (w, next) pairs — `next` is null
    * at the last position — and a single hash aggregation counts them.
    * grams (next non-null), contexts (sum over next) and the
    * vocabulary (distinct w — every token instance appears exactly
    * once as w) all derive from that vocabulary²-bounded pair table,
    * integer-exact, so the outputs are bit-identical to the per-
    * consumer passes. The pair table is eagerly checkpointed (its
    * lineage would otherwise re-run the corpus pass per consumer); the
    * checkpoint loses plan-time size stats — the r18 revert's lesson:
    * the scoring joins then fell back to SortMergeJoin and paid a
    * corpus-sized shuffle-write before AQE's runtime rescue — so the
    * model tables carry an explicit broadcast hint whenever the
    * measured pair mass fits the session's autoBroadcastJoinThreshold
    * (guide §3.1: estimates are wrong after UDFs/checkpoints; hint
    * when you know). Oversized vocabularies (the 100 TB regime) keep
    * the un-hinted shuffle join — correct at that scale — while still
    * paying the corpus pass only once.
    *
    * Lifetime: the checkpointed pair table's blocks are held by the
    * returned model's frames. Spark's ContextCleaner drops them once the
    * [[BigramModel]] and every frame derived from it are unreachable
    * and the driver has garbage-collected them. A session that trains
    * many models therefore holds the blocks of every model it still
    * references; a dropped model frees its blocks at a later driver GC,
    * not at once. Keep references only to the models in use — no
    * explicit release is needed. */
  def train(docs: DataFrame, textCol: String): BigramModel = {
    val toksCol = col("__toks")
    val pairCounts = docs
      .select(tokens(col(textCol)).as("__toks"))
      // size(null) = -1: null-text docs drop here, as they did from
      // both the explode'd vocab count and the gram filter before
      .filter(size(toksCol) >= 1)
      // sequence(0, -1) counts DOWN (the rollingFingerprint trap) —
      // the size >= 1 filter above keeps the range ascending
      .select(explode(transform(sequence(lit(0), size(toksCol) - 1),
        i => struct(
          element_at(toksCol, i + 1).as("w"),
          when(i < size(toksCol) - 1, element_at(toksCol, i + 2))
            .as("next")))).as("__p"))
      .groupBy(col("__p.w").as("__w"), col("__p.next").as("__next"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    // one bounded agg over the checkpointed pair table: the exact
    // vocabulary size (the NLL denominator — must be exact) plus the
    // byte mass the broadcast decision needs
    val stats = pairCounts.agg(
      countDistinct(col("__w")),
      count(lit(1)),
      sum(length(col("__w")) + coalesce(length(col("__next")), lit(0))))
      .head()
    val vocab = stats.getLong(0)
    val est = estimatedBroadcastBytes(stats.getLong(1),
      if (stats.isNullAt(2)) 0L else stats.getLong(2))
    val thr = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    def hinted(df: DataFrame): DataFrame =
      if (thr > 0 && est <= thr) broadcast(df) else df
    val bigrams = pairCounts.filter(col("__next").isNotNull)
    // tokens never contain whitespace (split on \s+), so
    // concat_ws(" ", w, next) is exactly wordNgramsFromTokens' gram
    // string and substring_index(gram, " ", 1) recovers w
    val grams = bigrams
      .select(concat_ws(" ", col("__w"), col("__next")).as("gram"),
        col("__c").as("__c12"))
    val contexts = bigrams
      .groupBy(col("__w").as("__w1"))
      .agg(sum(col("__c")).as("__c1"))
    BigramModel(hinted(grams), hinted(contexts), vocab)
  }

  /**
   * Score documents under a trained model. Unseen bigrams/contexts fall
   * back to count 0 (pure smoothing mass), so scoring a corpus the
   * model was not trained on is well-defined.
   *
   * @return one row per document with >= 2 tokens:
   *         (idCol, n_bigrams, avg_nll rounded to 6 decimals — the
   *         rounding absorbs last-ulp libm differences so independent
   *         engines reproduce the value bit-for-bit).
   */
  def scoreNll(docs: DataFrame, textCol: String, idCol: String,
      model: BigramModel, addK: Double = 1.0): DataFrame =
    scoreNllCarrying(docs, textCol, idCol, Nil, model, addK)

  /** [[scoreNll]] with extra per-doc columns carried through the scoring
    * pipeline (grouped alongside the id — callers pass columns
    * functionally dependent on it, e.g. source/language), so consumers
    * that need them avoid a second corpus scan + re-join. */
  private[graft] def scoreNllCarrying(docs: DataFrame, textCol: String,
      idCol: String, carryCols: Seq[String], model: BigramModel,
      addK: Double): DataFrame = {
    val reserved = Set("gram", "__toks", "__w1", "__nll", "__c12", "__c1",
      "n_bigrams", "avg_nll")
    require(!carryCols.exists(reserved), "NgramLm.scoreNllCarrying: carried " +
      s"columns collide with the scoring pipeline's internals: " +
      carryCols.filter(reserved).mkString(", "))
    // idCol already leads the grouping key: carrying it again (or the
    // same column twice) would build a duplicate grouping column and die
    // later as an ambiguous-reference analysis error — fail fast instead
    require(!carryCols.contains(idCol) &&
      carryCols.distinct.size == carryCols.size,
      "NgramLm.scoreNllCarrying: carried columns must not repeat the id " +
        s"column or each other: ${carryCols.mkString(", ")}")
    val keyCols = (idCol +: carryCols).map(col)
    val docGrams = docs
      .select(keyCols :+ tokens(col(textCol)).as("__toks"): _*)
      .filter(size(col("__toks")) >= 2)
      .select(keyCols :+
        explode(wordNgramsFromTokens(col("__toks"), 2)).as("gram"): _*)
    docGrams
      .join(model.grams, Seq("gram"), "left")
      .withColumn("__w1", substring_index(col("gram"), " ", 1))
      .join(model.contexts, Seq("__w1"), "left")
      .select(keyCols :+
        (-log((coalesce(col("__c12"), lit(0L)) + lit(addK)) /
          (coalesce(col("__c1"), lit(0L)) + lit(addK) * model.vocabSize)))
          .as("__nll"): _*)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__nll")), 6).as("avg_nll"))
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020, arXiv:
   * 1911.00359 §4.3): score every document under `model` and split each
   * group (language / source) into head / middle / tail at the group's
   * LM-score terciles — the standard "keep the head, sample the middle,
   * drop the tail" curation signal. Scale shape: the boundaries are TWO
   * numbers per group — an exact interpolated-percentile aggregation
   * over the scored frame (group-count-sized, BROADCAST back) — never a
   * per-group global sort; bucket assignment is a map-side comparison.
   * The scored frame is skinny (id, group, score) and localCheckpoint'ed
   * before it fans out to the boundary aggregation and the assignment
   * join, so the corpus-sized scoring pipeline runs ONCE (the same
   * double-pass trap [[Dsir.logImportance]] documents). Scores and
   * boundaries are 6dp-rounded ([[scoreNll]]'s convention + round on the
   * percentile), so the tercile cuts replay identically in any engine.
   * Documents with fewer than two tokens have no score and are excluded,
   * as in [[scoreNll]].
   *
   * Percentile machinery: the default (`approxBounds = false`) is
   * Spark's EXACT `percentile` — it buffers distinct (value, count)
   * pairs per group, which is bounded here because avg_nll is 6dp-ROUNDED
   * (the distinct-value count is capped by the score range x 10^6, not
   * the corpus), and it is what the DuckDB oracle (`quantile_cont`)
   * replays bit-for-bit. At 100 TB-native group cardinalities pass
   * `approxBounds = true`: `approx_percentile` with `accuracy` (default
   * 10^5) bounds memory at O(accuracy) per group regardless of the score
   * distribution, at the price of boundary placement within
   * ~1/accuracy relative rank error — documents whose score lies within
   * that rank band of a tercile may land in the adjacent bucket, and the
   * result is no longer cross-engine reproducible (keep exact for oracle
   * work, approx for production scale).
   *
   * @return (idCol, groupCol, avg_nll, bucket in head|middle|tail)
   */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, model: BigramModel, addK: Double = 1.0,
      approxBounds: Boolean = false, accuracy: Int = 100000): DataFrame = {
    // the group column rides through the scoring aggregation itself —
    // no second corpus scan, no doc-count-sized re-join to re-attach it
    val scored = scoreNllCarrying(docs, textCol, idCol, Seq(groupCol),
        model, addK)
      .localCheckpoint()
    val pctExpr =
      if (approxBounds)
        s"approx_percentile(avg_nll, array(1.0D/3, 2.0D/3), $accuracy)"
      else "percentile(avg_nll, array(1.0D/3, 2.0D/3))"
    val bounds = scored.groupBy(col(groupCol))
      .agg(expr(pctExpr).as("__q"))
      .select(col(groupCol),
        round(element_at(col("__q"), 1), 6).as("__b1"),
        round(element_at(col("__q"), 2), 6).as("__b2"))
    scored.join(broadcast(bounds), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("avg_nll"),
        when(col("avg_nll") <= col("__b1"), "head")
          .when(col("avg_nll") <= col("__b2"), "middle")
          .otherwise("tail").as("bucket"))
  }
}
