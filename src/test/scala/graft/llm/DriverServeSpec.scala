package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Driver-local serving ([[DriverScan]]): every request shape the local
  * path accepts returns exactly the distributed plan's rows, runs zero
  * Spark jobs within the warm-serve metadata budget, and a request past
  * [[DriverScan.LocalServeBytes]] keeps the distributed plan.
  */
class DriverServeSpec extends SparkSpec {

  private lazy val docs = graft.Tables.documents(spark, sf)
  private lazy val emb = graft.Tables.embeddings(spark, sf)
  private lazy val cents = Cluster.fitCentroids(
    emb.select(col("vec_id").as("id"), col("embedding").as("v")), k = 4, iters = 1)
  private lazy val pqCents = ProductQuant.fit(
    emb, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 1)
  private def vecOf(id: Long) = emb.where(col("vec_id") === id)
    .select("embedding").head().getSeq[Float](0).toArray.map(_.toDouble)

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getAs[Number]("id").longValue, r.getDouble(1))).toSeq

  /** (id, rank) by `order`, the ranking [[Fusion.rrf]] takes. */
  private def ranked(df: DataFrame, order: org.apache.spark.sql.Column*) =
    df.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)))
      .select("id", "rank")

  private def fused(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Number]("id").longValue, r.getAs[Double]("rrf_score"),
      r.getAs[Long]("n_lists"))).sortBy(t => (-t._2, t._1)).toSeq

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Runs `f` in its own job group; returns its result and the group's jobs. */
  private def jobsOf[T](group: String)(f: => T): (T, Seq[Int]) = {
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = f
      (out, spark.sparkContext.statusTracker.getJobIdsForGroup(group).toSeq)
    } finally spark.sparkContext.clearJobGroup()
  }

  // the lexical shapes: 1–3 terms, an absent and a duplicated term, and a
  // rare term under a topK far above its hit count
  private lazy val termSets: Seq[(Seq[String], Int)] = {
    val byDf = docs.select(explode(array_distinct(
        TextStats.tokens(lower(col("text"))))).as("t"))
      .groupBy("t").count().orderBy(col("count"), col("t")).collect()
      .map(_.getString(0))
    Seq(Seq("scan") -> 20, Seq("scan", "filter") -> 20,
      Seq("scan", "filter", "vector") -> 20,
      Seq("no_such_term_x", "vector") -> 20, Seq("no_such_term_x") -> 20,
      Seq("scan", "scan", "filter") -> 20,
      Seq(byDf.head) -> 1000, Seq(byDf.last, byDf.head) -> 5)
  }

  test("driver-local BM25, ANN and hybrid serves equal the distributed plans row for row") {
    import spark.implicits._
    // a maintained lexical index: base write (gen 0), append (1), delete
    // (2), upsert (3 tombstones, 4 re-appends) — so asOfGen and the
    // tombstone rule both have work to do
    val lex = tmp("drv_lex")
    InvertedIndex.write(docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      col("doc_id"), col("text"), lex, nBuckets = 4)
    def checkLex(asOf: Option[Long]): Unit = termSets.foreach { case (ts, k) =>
      val local = InvertedIndex.bm25Local(spark, lex, ts, k, asOf, Long.MaxValue)
      assert(local.isDefined)
      val want = rows(InvertedIndex.bm25TopKDistributed(spark, lex, ts, k, asOf))
      assert(rows(local.get.toDF(spark, "score")) === want,
        s"terms $ts topK $k asOf $asOf")
    }
    checkLex(None)
    InvertedIndex.append(docs.where(pmod(col("doc_id"), lit(5)) === 0),
      col("doc_id"), col("text"), lex)
    InvertedIndex.delete(spark, lex,
      docs.where(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"), col("doc_id"))
    InvertedIndex.applyChangeFeed(
      docs.where(pmod(col("doc_id"), lit(11)) === 1)
        .select(col("doc_id"), concat(col("text"), lit(" scan scan")).as("text"),
          lit("upsert").as("op")),
      col("doc_id"), col("text"), col("op"), lex)
    assert(InvertedIndex.readGen(spark, lex) === 4L)
    Seq(None, Some(0L), Some(1L), Some(2L), Some(3L)).foreach(checkLex)

    // a maintained raw-stored vector index, the same generations
    val vec = tmp("drv_vec")
    IvfPq.write(emb.where(pmod(col("vec_id"), lit(5)) =!= 0),
      col("vec_id"), col("embedding"), cents, pqCents, vec, storeRaw = true)
    IvfPq.append(emb.where(pmod(col("vec_id"), lit(5)) === 0),
      col("vec_id"), col("embedding"), cents, pqCents, vec)
    IvfPq.delete(spark, vec,
      emb.where(pmod(col("vec_id"), lit(7)) === 0).select("vec_id"), col("vec_id"))
    val queries = Seq(0L, 3L, 14L).map(vecOf)
    for (q <- queries; nProbe <- Seq(1, 2, cents.length);
         asOf <- Seq(None, Some(0L), Some(1L))) {
      val local = IvfPq.rerankedLocal(spark, vec, cents, pqCents, q, nProbe,
        rerankR = 15, topK = 10, asOf, Long.MaxValue)
      assert(local.isDefined)
      val want = rows(IvfPq.serveRerankedDistributed(spark, vec, cents,
        pqCents, q, nProbe, rerankR = 15, topK = 10, asOf))
      assert(rows(local.get.toDF(spark, "d2")) === want && want.nonEmpty,
        s"nProbe $nProbe asOf $asOf")
    }

    // hybrid: the public entry fuses on the driver; the reference is rrf
    // over the two distributed arms
    for ((ts, _) <- termSets.take(4); q <- queries) {
      val got = Fusion.rrfFromIndexes(spark, lex, vec, ts, q, cents, pqCents,
        nProbe = 2, rerankR = 15, topK = 10)
      assert(isLocal(got))
      val lexical = InvertedIndex.bm25TopKDistributed(spark, lex, ts, 10, None)
      val dense = IvfPq.serveRerankedDistributed(spark, vec, cents, pqCents,
        q, 2, 15, 10, None)
      assert(fused(got) === fused(Fusion.rrf(Seq(
          ranked(lexical, col("score").desc, col("id")),
          ranked(dense, col("d2"), col("id"))), "id", "rank")),
        s"hybrid $ts")
    }
    assert(Seq(1L, 2L).toDF("x").count() === 2) // session still healthy
  }

  test("a warm local serve runs zero Spark jobs within the listStatus budget") {
    val lex = tmp("drv_jobs_lex")
    InvertedIndex.write(docs, col("doc_id"), col("text"), lex, nBuckets = 4)
    val vec = tmp("drv_jobs_vec")
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, vec,
      storeRaw = true)
    val q = vecOf(0L)
    val terms = Seq("scan", "filter", "vector")
    val requests: Seq[(String, () => DataFrame)] = Seq(
      "bm25" -> (() => InvertedIndex.bm25TopKAuto(spark, lex, terms, topK = 20)),
      "ann" -> (() => IvfPq.serveRerankedFromIndex(spark, vec, cents, pqCents,
        q, nProbe = 2, rerankR = 15, topK = 10)),
      "hybrid" -> (() => Fusion.rrfFromIndexes(spark, lex, vec, terms, q,
        cents, pqCents, nProbe = 2, rerankR = 15, topK = 10)))
    requests.foreach { case (name, serve) =>
      serve().collect() // warm the stats and relation caches
      val l0 = InvertedIndex.FsMetaOps.listStatus.get()
      val (out, jobs) = jobsOf(s"drv_local_$name") {
        val df = serve()
        assert(isLocal(df), s"$name did not take the local path")
        df.collect()
      }
      val listed = InvertedIndex.FsMetaOps.listStatus.get() - l0
      assert(jobs.isEmpty, s"$name launched jobs $jobs")
      assert(out.nonEmpty, name)
      assert(listed <= 3, s"$name made $listed listStatus calls")
    }
  }

  test("a request over the byte budget keeps the distributed plan and its rows") {
    // one bucket of high-entropy postings: the probed file alone is past
    // LocalServeBytes, so the public entry must plan a real scan
    val big = spark.range(0, 20000).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(48)),
        i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(500000L))
          .cast("string")))).as("text"))
    val lex = tmp("drv_big")
    InvertedIndex.write(big.union(docs.select("doc_id", "text")
        .withColumn("doc_id", col("doc_id") + 1000000L)),
      col("doc_id"), col("text"), lex, nBuckets = 1)
    val probed = DriverScan.files(spark.read.parquet(lex), _ => true).bytes
    assert(probed > DriverScan.LocalServeBytes,
      s"fixture too small: $probed bytes")
    val terms = Seq("scan", "w17", "w4242")
    val served = InvertedIndex.bm25TopKAuto(spark, lex, terms, topK = 20)
    assert(!isLocal(served))
    assert(served.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(InvertedIndex.bm25Local(spark, lex, terms, 20, None,
      DriverScan.LocalServeBytes).isEmpty)
    val want = InvertedIndex.bm25Local(spark, lex, terms, 20, None, Long.MaxValue)
    assert(rows(served) === want.get.rows && want.get.rows.nonEmpty)
    // hybrid with one arm over budget: the distributed fusion, a local
    // dense arm entering it as a LocalRelation
    val vec = tmp("drv_big_vec")
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, vec,
      storeRaw = true)
    val q = vecOf(0L)
    val hybrid = Fusion.rrfFromIndexes(spark, lex, vec, terms, q, cents,
      pqCents, nProbe = 2, rerankR = 15, topK = 10)
    assert(!isLocal(hybrid))
    assert(IvfPq.rerankedLocal(spark, vec, cents, pqCents, q, 2, 15, 10, None,
      maxBytes = 0L).isEmpty)
    val dense = IvfPq.rerankedLocal(spark, vec, cents, pqCents, q, 2, 15, 10,
      None, Long.MaxValue).get.toDF(spark, "d2")
    val lexical = InvertedIndex.bm25Local(spark, lex, terms, 10, None,
      Long.MaxValue).get.toDF(spark, "score")
    assert(fused(hybrid) === fused(Fusion.rrf(Seq(
      ranked(lexical, col("score").desc, col("id")),
      ranked(dense, col("d2"), col("id"))), "id", "rank")))
  }
}
