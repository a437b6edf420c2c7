package perfbench

import graft.llm._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The benchmark's only entry into `graft.llm`. When that API changes,
  * this file changes and each request keeps its meaning. Documents are
  * `(doc_id, text)`, vectors `(doc_id, embedding)`, change feeds
  * `(doc_id, text, op)`. */
object Llm {

  val Buckets = 8
  val TopK = 10

  // ---------------------------------------------------- inverted index

  def indexWrite(docs: DataFrame, path: String): Unit = {
    InvertedIndex.write(docs, col("doc_id"), col("text"), path, nBuckets = Buckets)
    ()
  }

  def compact(spark: SparkSession, path: String): Unit = {
    InvertedIndex.compact(spark, path)
    ()
  }

  /** (id, score) rows, best first. */
  def bm25(spark: SparkSession, path: String, terms: Seq[String]): DataFrame =
    InvertedIndex.bm25TopKAuto(spark, path, terms, TopK)

  def upsert(feed: DataFrame, path: String): Unit = {
    InvertedIndex.applyChangeFeed(feed, col("doc_id"), col("text"), col("op"), path)
    ()
  }

  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    InvertedIndex.delete(spark, path, ids, col("doc_id"))

  /** (n_docs, n_tombstoned) as the index reports them. */
  def indexState(spark: SparkSession, path: String): (Long, Long) = {
    val r = InvertedIndex.describe(spark, path).head()
    (r.getAs[Double]("n_docs").toLong, r.getAs[Long]("n_tombstoned"))
  }

  // ---------------------------------------------------- IVF-PQ

  final case class Quantizer(cents: Array[Array[Double]], pq: Array[Array[Array[Double]]])

  val Clusters = 16
  val NProbe = 4
  /** The re-rank depth the engine's own IVF-PQ queries use. */
  val RerankR = 200

  /** Trains the coarse and product quantizers and writes a raw-stored
    * IVF-PQ index. */
  def vectorIndexWrite(vecs: DataFrame, path: String): Quantizer = {
    val (_, cents) = Cluster.kmeansWithCentroids(vecs, col("doc_id"), col("embedding"), Clusters, 5)
    val pq = ProductQuant.fit(vecs, col("doc_id"), col("embedding"), m = 8, k = 16, iters = 5)
    IvfPq.write(vecs, col("doc_id"), col("embedding"), cents, pq, path, storeRaw = true)
    Quantizer(cents, pq)
  }

  /** (id, d2) rows, nearest first. */
  def ann(spark: SparkSession, path: String, q: Quantizer, vec: Array[Double]): DataFrame =
    IvfPq.serveRerankedFromIndex(spark, path, q.cents, q.pq, vec, NProbe, RerankR, TopK)

  /** Reciprocal-rank fusion of the lexical and dense arms. */
  def hybrid(spark: SparkSession, lexPath: String, vecPath: String, q: Quantizer,
      terms: Seq[String], vec: Array[Double]): DataFrame =
    Fusion.rrfFromIndexes(spark, lexPath, vecPath, terms, vec, q.cents, q.pq,
      NProbe, RerankR, TopK)

  // ---------------------------------------------------- curation

  def dedupExact(docs: DataFrame): DataFrame =
    Dedup.exact(docs, col("text"), col("doc_id"))

  /** doc_id plus the Gopher rule columns (n_words, …, keep). */
  def quality(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: Gopher.ruleColumns(col("text")): _*)

  /** (id, comp): the near-duplicate components of MinHash-LSH pairs. */
  def nearDupComponents(docs: DataFrame): DataFrame =
    Dedup.connectedComponents(Dedup.minhashNearDupPairs(docs, col("doc_id"), col("text"),
      shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5))

  val KmvK = 256
  val HllP = 12

  /** Per source: (grp, est_distinct) from KMV and from HLL over the text. */
  def sketches(docs: DataFrame): (DataFrame, DataFrame) =
    (Sketches.kmvDistinct(docs, col("source"), col("text"), KmvK),
      Sketches.hllDistinct(docs, col("source"), col("text"), HllP))
}
