package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** N-gram language-model quality scoring — the perplexity-proxy filter of
  * large-scale training-data pipelines: train bigram/unigram counts on a
  * held-in split of the corpus, score every document by its mean token
  * log-probability under stupid backoff (Brants et al. 2007, "Large
  * Language Models in Machine Translation": score = c₂(w₁w₂)/c₁(w₁) when
  * the bigram was seen, else α·c₁(w₂)/T with α = 0.4, no normalization —
  * the backoff that scales to web corpora precisely because it needs
  * nothing but raw counts). Low-scoring documents are boilerplate,
  * gibberish, or wrong-language — the same signal CCNet/RefinedWeb-style
  * pipelines use for quality bucketing.
  *
  * Determinism across engines (the DuckDB value gate hashes per-doc
  * sums): each bigram's log-prob is truncated to FIXED-POINT
  * (`floor(ln p · 10⁴)` as a long) BEFORE aggregation, so the per-doc
  * reduction is an integer sum — order-free and exact — rather than a
  * float fold whose result depends on partial-aggregation order (the
  * systematic cross-engine risk). The p values are single IEEE-exact op
  * chains over integer counts (divide, or multiply-then-divide —
  * correctly-rounded operations, identical in any IEEE-754 engine); ln
  * itself carries NO correct-rounding guarantee, so JVM and libm may
  * differ by 1 ulp — a gate flip needs ln(p)·10⁴ within that ulp of an
  * integer, a ~10⁻¹¹-per-distinct-ratio event (p ranges over count
  * ratios, so distinct values number in the thousands; none observed).
  *
  * Scale shape (100 TB corpus):
  *  - the token/bigram count tables are vocabulary-bounded, built with
  *    map-side partial aggregation (`groupBy.count` — shuffle carries
  *    distinct keys, not token occurrences);
  *  - scoring joins shuffle on token keys, which are Zipf-skewed ("the"
  *    heads a constant fraction of rows) — AQE skew-join splits the hot
  *    keys; when the vocabulary fits the broadcast threshold the unigram
  *    side broadcasts and only the bigram join shuffles;
  *  - the corpus total T rides along as a broadcast one-row join, never
  *    a driver-side collect;
  *  - bigram extraction is a per-row array transform (no shuffle, no
  *    self-join): tokens each pair with their successor inside one
  *    Generate pass.
  */
object NgramLm {

  /** Per-document stupid-backoff score parts: (id, n_bigrams, lp_sum)
    * where lp_sum = Σ floor(ln p · 10⁴) over the doc's bigrams (fixed-
    * point; divide by 10⁴·n_bigrams for mean log-prob, negate/exp for a
    * perplexity). Documents with fewer than two tokens score (0, 0).
    *
    * @param trainPred rows satisfying it form the count (training) split;
    *                  score is computed for ALL rows. Backoff paths only
    *                  fire for scored docs outside the split (a training
    *                  doc's bigrams are by construction all seen).
    */
  def score(docs: DataFrame, textCol: String, idCol: String,
      trainPred: Column): DataFrame = {
    // trainPred may reference ANY docs column (text length, source, …),
    // so it is materialized as a flag BEFORE the projection down to
    // tokens/bigrams — filtering the projected frames directly would
    // throw UNRESOLVED_COLUMN for any predicate beyond the id column
    val flag = "__graft_is_train"
    val toks = docs.withColumn(flag, trainPred)
      .select(col(idCol), col(flag),
        split(lower(trim(col(textCol))), "\\s+").as("w"))
    val trainToks = toks.where(col(flag))
      .select(explode(col("w")).as("w"))
    val uni = trainToks.groupBy("w").agg(count(lit(1)).as("c1"))
    val total = trainToks.agg(count(lit(1)).as("tt"))
    val big = bigramsOf(toks.where(col(flag)), idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    scoreWith(docs, textCol, idCol, uni, big, total)
  }

  /** Score every document against EXPLICIT count tables — the scoring
    * half of [[score]], shared with the persisted-store path
    * ([[scoreWithStore]]) so stored-count scores are bit-identical to a
    * fresh train over the same split. `uni` = (w, c1), `big` =
    * (w1, w2, c2), `total` = one row (tt). */
  def scoreWith(docs: DataFrame, textCol: String, idCol: String,
      uni: DataFrame, big: DataFrame, total: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol),
      split(lower(trim(col(textCol))), "\\s+").as("w"))
    // bigrams in ONE narrow pass (shared guard in adjacentPairs)
    val bigrams = bigramsOf(toks, idCol)
    val d = "double"
    val scored = bigrams
      .join(big, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("c1").as("c1w1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .withColumn("p",
        when(col("c2").isNotNull, col("c2").cast(d) / col("c1w1").cast(d))
          .otherwise((lit(0.4) * coalesce(col("c1w2"), lit(1L)).cast(d))
            / col("tt").cast(d)))
      .withColumn("lp", floor(log(col("p")) * lit(10000.0)).cast(LongType))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lp_sum"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lp_sum"), lit(0L)).as("lp_sum"))
  }

  private def bigramsOf(toks: DataFrame, idCol: String): DataFrame =
    toks.select(col(idCol),
        explode(graft.functions.TextFunctions.adjacentPairs(col("w"))).as("bg"))
      .select(col(idCol), col("bg.l").as("w1"), col("bg.r").as("w2"))

  /** Persist the LM's count tables — n-gram counts are ADDITIVE, so the
    * store is blind-appendable batch by batch (the same per-batch
    * pattern as the BM25 index's stats): every row carries its
    * `batch_id`, and the read side dedups on (batch_id, gram) then SUMS
    * across batches — a replayed batch changes nothing. At 100 TB the
    * quality LM trains ONCE on the held-in split at dump time; every
    * later crawl batch scores against the stored counts without
    * re-reading the training corpus. The tables are vocabulary-bounded
    * (distinct grams, not occurrences), so the store stays small
    * relative to the corpus and needs no partition pruning. */
  def writeCounts(train: DataFrame, textCol: String, idCol: String,
      path: String, batchId: String = "batch-0"): Unit =
    putCounts(train, textCol, idCol, path, batchId, append = false)

  private def putCounts(train: DataFrame, textCol: String, idCol: String,
      path: String, batchId: String, append: Boolean): Unit = {
    val toks = train.select(col(idCol),
      split(lower(trim(col(textCol))), "\\s+").as("w"))
    val trainToks = toks.select(explode(col("w")).as("w"))
    val uni = trainToks.groupBy("w").agg(count(lit(1)).as("c1"))
      .withColumn("batch_id", lit(batchId))
    StoreCompaction.writeBatch(uni, s"$path/uni", append)
    val big = bigramsOf(toks, idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .withColumn("batch_id", lit(batchId))
    StoreCompaction.writeBatch(big, s"$path/big", append)
    val stats = trainToks.agg(count(lit(1)).as("tt"))
      .withColumn("batch_id", lit(batchId))
    StoreCompaction.writeBatch(stats, s"$path/stats", append)
  }

  /** Blind-append a new training batch's counts. Distinct `batchId` per
    * batch; replaying the same batchId is neutral. */
  def appendCounts(train: DataFrame, textCol: String, idCol: String,
      path: String, batchId: String): Unit =
    putCounts(train, textCol, idCol, path, batchId, append = true)

  /** Score documents against a persisted count store — bit-identical to
    * [[score]] with a fresh train over the union of the stored batches
    * (shared [[scoreWith]] arithmetic; the gate pins the identity). */
  def scoreWithStore(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, textCol: String, idCol: String,
      path: String): DataFrame = {
    val uni = StoreCompaction.readVisible(spark, s"$path/uni")
      .dropDuplicates("batch_id", "w")
      .groupBy("w").agg(sum("c1").as("c1"))
    val big = StoreCompaction.readVisible(spark, s"$path/big")
      .dropDuplicates("batch_id", "w1", "w2")
      .groupBy("w1", "w2").agg(sum("c2").as("c2"))
    val total = StoreCompaction.readVisible(spark, s"$path/stats")
      .dropDuplicates("batch_id")
      .agg(coalesce(sum("tt"), lit(0L)).as("tt"))
    scoreWith(docs, textCol, idCol, uni, big, total)
  }

  /** Compact the count store's three tables into one generation each,
    * pre-applying exactly [[scoreWithStore]]'s replay-collapse + sum —
    * scores stay bit-identical while listing/dedup cost stops growing
    * with appended batches ([[StoreCompaction]] protocol). */
  def compactCounts(spark: org.apache.spark.sql.SparkSession,
      path: String, targetPartitions: Int = 1): Unit = {
    StoreCompaction.compact(spark, s"$path/uni", (df, cmpId) =>
      df.dropDuplicates("batch_id", "w")
        .groupBy("w").agg(sum("c1").as("c1"))
        .withColumn("batch_id", lit(cmpId)),
      targetPartitions = targetPartitions)
    StoreCompaction.compact(spark, s"$path/big", (df, cmpId) =>
      df.dropDuplicates("batch_id", "w1", "w2")
        .groupBy("w1", "w2").agg(sum("c2").as("c2"))
        .withColumn("batch_id", lit(cmpId)),
      targetPartitions = targetPartitions)
    StoreCompaction.compact(spark, s"$path/stats", (df, cmpId) =>
      df.dropDuplicates("batch_id")
        .agg(coalesce(sum("tt"), lit(0L)).as("tt"))
        .withColumn("batch_id", lit(cmpId)),
      targetPartitions = 1)
  }
}
