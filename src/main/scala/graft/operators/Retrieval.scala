package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Keyword retrieval scoring over the corpus — Okapi BM25 (Robertson &
  * Zaragoza 2009), the lexical complement to the embedding ANN path: a
  * training-data pipeline uses it for query-based corpus slicing and as
  * the sparse half of hybrid (BM25 + cosine) retrieval.
  *
  * Scale shape: ONE corpus-scale shuffle. Per-doc length and every
  * query-term tf come out of a single conditional aggregation keyed by
  * doc (map-side combine collapses the exploded tokens back to one row
  * per doc per partition before the exchange), and the corpus constants
  * (N, avgdl, per-term df) reduce from that same aggregate into one
  * broadcast row. Docs with zero query-term hits are filtered before
  * scoring, so everything downstream of the shuffle is bounded by
  * matching docs. A naive tf⋈dl formulation re-shuffles the corpus-wide
  * doc-length table a second time — at 10^11 docs that join is TBs of
  * avoidable exchange.
  *
  * Determinism contract (the reason scores are integers): each term's
  * contribution is floor-truncated to integer micro-points (1e-6) BEFORE
  * the per-doc sum, so the sum is exact integer arithmetic — immune to
  * float summation order across partitions, engines, and retries. The
  * double math inside one contribution is a fixed IEEE op sequence that
  * DuckDB replays literally (same trick as the int8 ANN quantizer).
  */
object Retrieval {

  /** BM25 scores for `terms` against every matching document.
    *
    * @return (idCol, matched, score_micro): number of distinct query
    *         terms present and the BM25 score in integer micro-points.
    */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // distinct: a repeated query term would both double-count its
    // contribution and blow up the term->tf map (duplicate map keys
    // throw under Spark's default EXCEPTION dedup policy)
    termContribs(docs, textCol, idCol, terms.distinct, k1, b)
      .groupBy(idCol)
      .agg(count(lit(1)).as("matched"), sum("micro").as("score_micro"))

  /** Batch BM25 — MANY queries against one shared corpus pass. The
    * per-(doc, term) contribution is query-independent (tf, dl, df, N
    * are corpus facts), so the corpus is tokenized, aggregated and
    * scored ONCE over the union of all query terms; fanning out to
    * per-query scores is a broadcast join of the tiny (query, term)
    * map against the matched contributions. N queries cost one corpus
    * pass + N×matched-docs of post-shuffle work — the same batching
    * move as [[Similarity.batchTopK]].
    *
    * @return (query_id, idCol, matched, score_micro)
    */
  def bm25Batch(docs: DataFrame, textCol: String, idCol: String,
      queries: Map[String, Seq[String]], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.values.forall(_.nonEmpty))
    val allTerms = queries.values.flatten.toSeq.distinct.sorted
    val contribs = termContribs(docs, textCol, idCol, allTerms, k1, b)
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries.toSeq.sortBy(_._1)
      .flatMap { case (q, ts) => ts.distinct.map(q -> _) }
      .toDF("query_id", "term")
    contribs.join(broadcast(qt), "term")
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("matched"), sum("micro").as("score_micro"))
  }

  /** One (doc, term) micro-contribution — the exact IEEE op sequence
    * both the in-memory path and the persisted-index path must share,
    * so index-served scores are BIT-identical to a fresh corpus pass
    * (the q_bm25_index gate pins this identity). All stat inputs are
    * doubles. */
  private def microContrib(tf: Column, dl: Column, df: Column,
      nDocs: Column, tokTotal: Column, k1: Double, b: Double): Column = {
    val d = DoubleType
    // idf = ln(1 + (N - df + 0.5) / (df + 0.5)); Okapi's +1 form stays
    // positive for df > N/2 terms
    val idf = log(lit(1.0) + ((nDocs - df) + lit(0.5)) / (df + lit(0.5)))
    val avgdl = tokTotal / nDocs
    val tfd = tf.cast(d)
    val denom = tfd +
      lit(k1) * (lit(1.0 - b) + lit(b) * (dl.cast(d) / avgdl))
    floor(idf * ((tfd * lit(k1 + 1.0)) / denom) * lit(1000000.0))
  }

  /** The shared scoring core: one corpus-scale shuffle producing the
    * floor-truncated integer micro-contribution of every (matching doc,
    * query term) pair. */
  private def termContribs(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k1: Double, b: Double): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val tokens = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
    // the one corpus-scale pass: per-doc length + per-query-term tf
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      count(when(col("term") === t, 1)).as(s"tf_$i")
    }
    val perDoc = tokens.groupBy(idCol)
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    // corpus constants: tok_total and per-term df reduce from the
    // aggregate, but N counts ALL docs — a NULL-text doc produces no
    // token rows (explode drops it), and deriving N from the token
    // aggregate would silently deflate idf/avgdl on partially-null
    // corpora and diverge from the oracle's count(*) FROM documents
    val tokStatCols =
      Seq(sum("dl").cast(DoubleType).as("tok_total")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1.0).otherwise(0.0)).as(s"df_$i"))
    val stats = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      .crossJoin(perDoc.agg(tokStatCols.head, tokStatCols.tail: _*))
    // long form (doc, term, tf) for matching docs only
    val termTf = map(terms.zipWithIndex.flatMap { case (t, i) =>
      Seq(lit(t), col(s"tf_$i")) }: _*)
    val matched = perDoc
      .where(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col(idCol), col("dl"),
        explode(termTf).as(Seq("term", "tf")))
      .where(col("tf") > 0)
    val termDf = element_at(
      map(terms.zipWithIndex.flatMap { case (t, i) =>
        Seq(lit(t), col(s"df_$i")) }: _*), col("term"))
    matched.crossJoin(broadcast(stats))
      .select(col(idCol), col("term"),
        microContrib(col("tf"), col("dl"), termDf,
          col("n_docs"), col("tok_total"), k1, b).as("micro"))
  }

  /** Persist a BM25-ready INVERTED INDEX: posting rows
    * `(idCol, term, tf, dl)` written as a lake table PARTITIONED by
    * `bucket = xxhash64(term) mod buckets`, so a query's term set
    * prunes whole directories at file-listing time (the lexical analog
    * of [[Similarity.writeIndex]]'s cell partitioning). `dl` is
    * denormalized onto every posting (impact-style) so scoring never
    * joins a corpus-wide doc-length table. Corpus constants land in a
    * side `stats` table as ONE ROW PER BATCH `(batch_id, n_docs,
    * tok_total)` — the read side dedups by batch_id then SUMS, which
    * makes [[appendIndexBm25]] a blind append that is also safe under
    * at-least-once retries (a replayed batch changes nothing).
    *
    * At 100 TB: tokenize+aggregate once at dump time; every later query
    * costs only the pruned buckets of its terms instead of a corpus
    * re-tokenization. */
  def writeIndexBm25(docs: DataFrame, textCol: String, idCol: String,
      path: String, buckets: Int = 64, batchId: String = "batch-0"): Unit =
    putIndexBm25(docs, textCol, idCol, path, buckets, batchId, append = false)

  private def putIndexBm25(docs: DataFrame, textCol: String, idCol: String,
      path: String, buckets: Int, batchId: String, append: Boolean): Unit = {
    val postings = postingsFor(docs, textCol, idCol, buckets)
    StoreCompaction.writeBatch(postings, s"$path/postings", append,
      partitionBy = Seq("bucket"))
    // N counts ALL docs (a NULL-text doc has no postings but still
    // deflates idf/avgdl if dropped — same rule as the in-memory path)
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      // Σ tf over all (doc, term) rows = total tokens = Σ per-doc dl
      .crossJoin(postings.agg(coalesce(sum("tf"), lit(0L)).as("tok_total")))
      .withColumn("batch_id", lit(batchId))
    StoreCompaction.writeBatch(stats, s"$path/stats", append)
  }

  /** The index's posting rows `(idCol, term, tf, dl, bucket)` — the
    * corpus-scale half of [[writeIndexBm25]], exposed for the scale
    * probe: one tokenize pass, two doc-keyed aggregations (per-(doc,
    * term) tf; per-doc dl rejoined — both shuffle on the SAME doc key,
    * so the exchange is reused), one term-hash bucket column — INT, the
    * persisted index's partition column type (as [[Similarity.withCell]]
    * does for `cell`), so the pinned read type never depends on
    * partition-directory type inference. */
  def postingsFor(docs: DataFrame, textCol: String, idCol: String,
      buckets: Int): DataFrame = {
    val tokens = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
    val dl = tokens.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    tokens.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, Seq(idCol))
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int"))
  }

  /** Blind-append a new corpus batch to an existing index. Give each
    * batch a distinct `batchId`; replaying the SAME batchId is safe
    * (stats dedup by batch_id; postings dedup at query time). */
  def appendIndexBm25(newDocs: DataFrame, textCol: String, idCol: String,
      path: String, buckets: Int = 64, batchId: String): Unit =
    putIndexBm25(newDocs, textCol, idCol, path, buckets, batchId, append = true)

  /** Compact the BM25 index: postings collapse to one row per
    * (doc, term) re-partitioned on `bucket` (the term-pruning
    * [[queryIndexBm25]] depends on survives), and the per-batch stats
    * rows pre-sum into ONE row — both exactly the read side's
    * dedup/merge, so scores are bit-identical before and after while
    * listing and dedup cost stop growing with appended batches. Each
    * table compacts crash-safely on its own ([[StoreCompaction]]). */
  def compactIndexBm25(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, targetPartitions: Int = 1): Unit = {
    StoreCompaction.compact(spark, s"$path/postings", (df, _) =>
      df.dropDuplicates(idCol, "term"),
      partitionColumns = Seq("bucket"), targetPartitions = targetPartitions)
    StoreCompaction.compact(spark, s"$path/stats", (df, cmpId) =>
      df.dropDuplicates("batch_id")
        .agg(sum("n_docs").as("n_docs"), sum("tok_total").as("tok_total"))
        .withColumn("batch_id", lit(cmpId)),
      targetPartitions = 1)
  }

  /** BM25 from the persisted index — BIT-identical scores to [[bm25]]
    * over the same corpus (shared [[microContrib]] op sequence; the
    * gate pins the identity). The term set's bucket predicate prunes
    * partitions at listing time, so the scan touches only
    * ~|terms|/buckets of the index; df per term is re-counted from the
    * pruned postings themselves and the corpus constants come from the
    * summed stats rows. Retried appends are neutralized here:
    * postings dedup on (idCol, term), stats on batch_id. */
  def queryIndexBm25(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, buckets: Int = 64): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val ts = terms.distinct
    // driver-side replay of the writer's bucket fold (catalyst eval of
    // the same XxHash64 expression — no job, k·1 expressions)
    val tBuckets = ts.map { t =>
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      // seed 42 = the seed functions.xxhash64 hard-codes
      val h = XxHash64(Seq(Literal(t)), 42L).eval().asInstanceOf[Long]
      ((h % buckets) + buckets) % buckets
    }.distinct
    val post = StoreCompaction.readVisible(spark, s"$path/postings")
      .where(col("bucket").isin(tBuckets: _*) && col("term").isin(ts: _*))
      .dropDuplicates(idCol, "term")
    val d = DoubleType
    val stats = StoreCompaction.readVisible(spark, s"$path/stats")
      .dropDuplicates("batch_id")
      .agg(sum("n_docs").cast(d).as("n_docs"),
        sum("tok_total").cast(d).as("tok_total"))
    val df = post.groupBy("term").agg(count(lit(1)).cast(d).as("df"))
    post.join(broadcast(df), Seq("term")).crossJoin(broadcast(stats))
      .select(col(idCol), col("term"),
        microContrib(col("tf"), col("dl"), col("df"),
          col("n_docs"), col("tok_total"), k1, b).as("micro"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("matched"), sum("micro").as("score_micro"))
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR 2009) — the standard
    * hybrid-retrieval combiner: each ranked list contributes
    * 1/(k + rank) and lists need no score calibration against each
    * other (ranks, not scores, fuse). The inputs are top-N lists — by
    * construction tiny — so the full-outer joins broadcast; nothing
    * here touches the corpus.
    *
    * Determinism: ranks are integers, each list's contribution is a
    * fixed IEEE division, and the sum runs in the (fixed) list order —
    * left-to-right over `rankings`, absent entries contributing an
    * exact 0.0 — so the fused score replays bit-identically in the
    * oracle. The output is floor-truncated micro-points.
    *
    * @param rankings each `(idCol, rank)` with rank 1-based
    * @return (idCol, rrf_micro)
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
      k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    val named = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rank").as(s"r_$i"))
    }
    val joined = named.reduce(_.join(_, Seq(idCol), "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(
        lit(1.0) / (lit(k.toDouble) + col(s"r_$i").cast(DoubleType)),
        lit(0.0)))
      .reduce(_ + _)
    joined.select(col(idCol),
      floor(score * lit(1000000.0)).as("rrf_micro"))
  }
}
