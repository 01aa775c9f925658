package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus sampling/rebalancing for training-data pipelines.
  *
  * Stratified sampling re-weights a mixed corpus (e.g. downsample web
  * text, keep all code) without collecting anything: `sampleBy` keeps
  * each row with its stratum's probability via a per-row Bernoulli draw,
  * one codegen'd map over the data. Deterministic under a fixed seed —
  * retries/re-runs keep the same rows (the same requirement the sketch
  * kernels satisfy).
  *
  * `weightedUnion` composes per-source fractions into one mixture scan —
  * the "data recipe" step of corpus assembly.
  */
object Sampling {

  /** Keep each stratum at its configured fraction (missing strata keep
    * fraction 0). */
  def stratified(df: DataFrame, stratumCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Deterministic hash-based sampling: keeps exactly the rows whose
    * key-hash falls under the fraction — stable across runs AND across
    * engines (no RNG), so joins between samples of different tables
    * stay consistent (sample lineitem and orders by the same key →
    * referential integrity preserved). */
  def byKeyHash(df: DataFrame, keyCol: String, fraction: Double,
      seed: Long = 42L): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    val buckets = 1000000L
    df.where(pmod(xxhash64(col(keyCol), lit(seed)), lit(buckets))
      < lit((fraction * buckets).toLong))
  }

  /** Engine-portable deterministic sampler: 16-bit md5-prefix bucket of
    * the key compared against the fraction's hex threshold — any engine
    * with md5() replays the IDENTICAL sample (the cross-engine variant
    * of [[byKeyHash]]; xxhash64 is faster but Spark-only). */
  /** The md5-prefix keep threshold for a fraction — THE single place
    * this formula lives (inline copies reintroduced the fraction-1.0
    * bug twice). 1.0 maps to "g": every 4-hex prefix sorts below it,
    * while the arithmetic "10000" (5 chars) sorts below "1xxx".."ffff"
    * and silently kept ~6%. */
  def md5Threshold(fraction: Double): String = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction not in [0,1]")
    if (fraction >= 1.0) "g" else f"${(fraction * 65536).toInt}%04x"
  }

  def byMd5Prefix(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.where(substring(md5(col(keyCol).cast("string")), 1, 4)
      < lit(md5Threshold(fraction)))

  /** Engine-portable STRATIFIED sampler: per-stratum fraction applied
    * through the same md5-prefix rule as [[byMd5Prefix]] — the
    * deterministic analog of `df.stat.sampleBy` (which is Bernoulli-RNG
    * and thus engine-private). Strata absent from `fractions` keep
    * fraction 0. A fraction ≥ 1 compares against "g" (every 4-hex md5
    * prefix sorts below it — "ffff" < "g"); the naive "10000" threshold
    * would sort BELOW "ffff" lexicographically and drop the stratum. */
  def stratifiedByMd5(df: DataFrame, stratumCol: String, keyCol: String,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions must be in [0,1]")
    val threshold = fractions.foldLeft(lit("0000")) { case (acc, (k, f)) =>
      when(col(stratumCol) === k, lit(md5Threshold(f))).otherwise(acc)
    }
    df.where(substring(md5(col(keyCol).cast("string")), 1, 4) < threshold)
  }

  /** Deterministic fixed-SIZE per-group sample — the no-RNG reservoir:
    * rank rows inside each group by the md5 of their key (a uniform,
    * engine-portable permutation; the key itself tiebreaks hash
    * collisions) and keep the first k. Unlike fraction-based samplers
    * this guarantees exactly min(k, |group|) rows per group — the
    * "k examples per source for the eval set" move. One shuffle on the
    * group key; rank is a window, so groups far larger than k should
    * pre-thin with [[byMd5Prefix]] first at extreme scale. */
  def topKPerGroup(df: DataFrame, groupCol: String, keyCol: String,
      k: Int, salt: Int = 64): DataFrame = {
    require(k > 0 && salt > 0)
    val rankKey = md5(col(keyCol).cast("string"))
    // salted lossless prefilter (FreqStore.truncated's trick): a single
    // per-group window sorts the ENTIRE group in one task — at corpus
    // scale a hot group (one domain, one language) is the whole batch.
    // Any row in the group's global top-k is top-k inside its salt
    // bucket too (total order), so ranking within (group, salt) first
    // and keeping k per bucket is exact and caps the one-task window's
    // input at salt·k rows per group.
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), pmod(xxhash64(col(keyCol)), lit(salt)))
      .orderBy(rankKey, col(keyCol))
    val pre = df.withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= k).drop("_r1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(rankKey, col(keyCol))
    pre.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Temperature-flattened domain sampling — the `p_d ∝ n_d^α` mixture
    * move of multilingual / web-corpus assembly (CC-100 / XLM-R style:
    * α < 1 flattens the head so giant domains stop dominating and the
    * tail survives). Per-domain acceptance rate
    *   r_d = min(1, scale · n_d^(α-1))
    * gives an expected kept count of min(n_d, scale · n_d^α). Each row
    * accepts iff its 16-bit md5 key bucket < floor(65536 · r_d) —
    * deterministic, engine-portable, retry-stable (no RNG; same
    * contract as [[byMd5Prefix]]).
    *
    * With the default α = 0.5 the rate is `scale / sqrt(n_d)`: IEEE
    * sqrt, multiply and divide are correctly-rounded single ops in
    * every engine, so the integer threshold replays bit-identically in
    * SQL. General α routes through pow(), whose last-ulp behavior is
    * libm-specific — still a correct sampler, but cross-engine value
    * gates should pin α = 0.5.
    *
    * Plan shape (the part that must survive 100 TB): one map-side
    * partial-agg groupBy for the domain counts, one hash equi-join back
    * (a hot domain is many PROBE rows against a single build row — no
    * per-domain window, no single-task sort anywhere), one codegen
    * filter. Output keeps the input columns plus `n_d`. */
  def temperatureSample(df: DataFrame, domainCol: String, keyCol: String,
      scale: Double, alpha: Double = 0.5): DataFrame = {
    require(scale > 0, s"scale=$scale must be positive")
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha not in (0,1]")
    // null domains are EXCLUDED explicitly (no identity to weigh); the
    // equi-join would drop them silently anyway (null never equals null
    // in a join key) — the filter makes the contract visible instead of
    // incidental (the Curation empty-host lesson)
    val nonNull = df.where(col(domainCol).isNotNull)
    val counts = nonNull.groupBy(domainCol).agg(count(lit(1)).as("n_d"))
    nonNull.join(counts, Seq(domainCol))
      .where(keyBucket16(keyCol) < acceptThreshold(scale, alpha))
  }

  /** floor(65536·min(1, scale·n_d^(α-1))) over the joined `n_d` column —
    * the ONE definition of the acceptance threshold, shared by
    * [[temperatureSample]] and [[temperatureSampleFromStore]] so the
    * store-served ≡ one-shot invariant can't silently diverge. α = 0.5
    * routes through sqrt (correctly-rounded in every engine → the
    * integer threshold replays bit-identically in SQL); general α uses
    * pow (libm-specific last ulp — see the method doc). */
  private def acceptThreshold(scale: Double, alpha: Double): Column = {
    val rate =
      if (alpha == 0.5) lit(65536.0 * scale) / sqrt(col("n_d").cast("double"))
      else lit(65536.0 * scale) *
        pow(col("n_d").cast("double"), lit(alpha - 1.0))
    least(lit(65536L), floor(rate).cast(org.apache.spark.sql.types.LongType))
  }

  /** The row's deterministic 16-bit md5 bucket ([[byMd5Prefix]]
    * contract). */
  private def keyBucket16(keyCol: String): Column =
    conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10)
      .cast(org.apache.spark.sql.types.LongType)

  // ------------------------------------------------ domain-count store
  // Temperature sampling needs the CORPUS-WIDE domain counts — a batch
  // sampled against its own counts over-keeps every domain that happens
  // to be small in the batch. The store is the same blind-append
  // contract as the sentence/LM/graph stores: additive (dom, cnt,
  // batch_id) rows, (dom, batch_id) read-side replay dedup, so a
  // re-crawl batch samples at rates reflecting ALL history without a
  // rescan, and retried writes are neutral.

  /** Write one batch's per-domain counts (null domains excluded — the
    * [[temperatureSample]] contract). */
  def writeDomainCounts(df: DataFrame, domainCol: String, path: String,
      batchId: String): Unit =
    StoreCompaction.writeBatch(domainCountRows(df, domainCol, batchId),
      path, append = false)

  def appendDomainCounts(df: DataFrame, domainCol: String, path: String,
      batchId: String): Unit =
    StoreCompaction.writeBatch(domainCountRows(df, domainCol, batchId),
      path, append = true)

  private def domainCountRows(df: DataFrame, domainCol: String,
      batchId: String): DataFrame =
    df.where(col(domainCol).isNotNull)
      .groupBy(col(domainCol).as("dom")).agg(count(lit(1)).as("cnt"))
      .withColumn("batch_id", lit(batchId))

  /** Merged corpus-wide domain counts: replayed batches collapse first,
    * then counts sum — (dom, n_d). */
  def storedDomainCounts(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    StoreCompaction.readVisible(spark, path)
      .groupBy("dom", "batch_id").agg(max("cnt").as("cnt"))
      .groupBy("dom").agg(sum("cnt").as("n_d"))

  /** Compact the domain-count store: accrued batches rewrite into one
    * generation of MERGED (dom, cnt) rows — exactly
    * [[storedDomainCounts]]' replay-collapse + sum, so sampling
    * verdicts are identical before and after ([[StoreCompaction]]
    * crash-safe protocol; bounds listing/dedup cost at daemon
    * cadence). */
  def compactDomainCounts(spark: org.apache.spark.sql.SparkSession,
      path: String, targetPartitions: Int = 1): Long =
    StoreCompaction.compact(spark, path, (df, cmpId) =>
      df.groupBy("dom", "batch_id").agg(max("cnt").as("cnt"))
        .groupBy("dom").agg(sum("cnt").as("cnt"))
        .withColumn("batch_id", lit(cmpId)),
      targetPartitions = targetPartitions)

  /** [[temperatureSample]] with the domain counts served by the store:
    * when the store holds every batch, sampling any slice is IDENTICAL
    * to one-shot sampling of the union restricted to that slice
    * (membership is a pure function of (key md5, corpus n_d) — gate-
    * proven by sharing the one-shot oracle). Domains the store has
    * never seen are dropped with their rows — the conservative contract
    * for an unweighable domain (documented; a lagging store should
    * append before sampling). */
  def temperatureSampleFromStore(df: DataFrame, domainCol: String,
      keyCol: String, spark: org.apache.spark.sql.SparkSession,
      path: String, scale: Double, alpha: Double = 0.5): DataFrame = {
    require(scale > 0 && alpha > 0 && alpha <= 1)
    val counts = storedDomainCounts(spark, path)
      .withColumnRenamed("dom", domainCol)
    df.where(col(domainCol).isNotNull)
      .join(counts, Seq(domainCol))
      .where(keyBucket16(keyCol) < acceptThreshold(scale, alpha))
  }

  /** Mixture of sources at given fractions (a training-data recipe):
    * each (df, fraction) sampled by key hash, unioned by name. */
  def weightedUnion(sources: Seq[(DataFrame, String, Double)],
      seed: Long = 42L): DataFrame =
    sources.map { case (df, key, frac) => byKeyHash(df, key, frac, seed) }
      .reduce(_ unionByName _)

  /** Deterministic corpus shuffle + shard assignment — the "fix the
    * training order" step: every row gets a reproducible pseudo-random
    * sort key (`ord` = md5 of its id — stable across engines, retries
    * and re-runs, unlike an RNG shuffle) and a `shard` in [0, nShards)
    * from the key's leading hex digits, so loader files are both
    * equal-sized in expectation AND internally order-stable. At 100 TB
    * the write is `repartitionByRange(col("shard"), col("ord"))` +
    * `sortWithinPartitions("shard", "ord")` + `partitionBy("shard")` —
    * one range exchange emits every shard already in reading order.
    * Sorting by ord ALONE is a trap: the dynamic-partition writer
    * re-sorts each task's rows by the partition column (shard) with an
    * unstable sort, scrambling the reading order inside every file —
    * the leading shard key keeps the writer's required ordering already
    * satisfied (spec-pinned). nShards ≤ 4096: the bucket has 16 bits of
    * md5-prefix resolution, so with ≥16 prefixes per shard the worst
    * residue imbalance is ≤ 17/16 (~6%); allowing nShards near 65536
    * would let non-divisors give some shards exactly 2× the rows. */
  def shuffledShards(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards > 0 && nShards <= 4096, s"nShards=$nShards")
    val ord = md5(col(keyCol).cast("string"))
    // hex prefix -> int via a digit-value walk (conv() is Spark-only;
    // this form replays in any engine with substring/strpos)
    val hex = "0123456789abcdef"
    val d1 = (instr(lit(hex), substring(ord, 1, 1)) - 1) * 4096
    val d2 = (instr(lit(hex), substring(ord, 2, 1)) - 1) * 256
    val d3 = (instr(lit(hex), substring(ord, 3, 1)) - 1) * 16
    val d4 = instr(lit(hex), substring(ord, 4, 1)) - 1
    df.withColumn("ord", ord)
      .withColumn("shard", pmod(d1 + d2 + d3 + d4, lit(nShards)).cast("int"))
  }
}
