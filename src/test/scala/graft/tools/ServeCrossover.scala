package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The driver-local vs distributed serve crossover behind
  * `DriverScan.LocalServeBytes` (SCALING.md, "Driver-local serving").
  *
  * `sbt "Test/runMain graft.tools.ServeCrossover <corpusDir> [artifact]"`
  * builds a compacted 16-bucket inverted index and a raw-stored 16-cluster
  * IVF-PQ index over `<corpusDir>` (untimed), then for BM25 requests of 1–3
  * common terms in distinct buckets and ANN requests of nProbe 1–8 times
  * both plans of the same request, interleaved, with [[LatSampling]]'s
  * steal discipline. Each point is (probed bytes, local p50, distributed
  * p50); rows are checked equal once per point. One JSON line per point
  * on stdout, all points to `artifact` when given. Reps:
  * SPARK_GRAFT_LAT_REPS (default 15); cores: SPARK_GRAFT_CPUS (default 4).
  */
object ServeCrossover {

  def main(args: Array[String]): Unit = {
    import graft.llm.{Cluster, InvertedIndex, IvfPq, ProductQuant, TextStats}
    val corpusDir = args(0)
    val reps = sys.env.getOrElse("SPARK_GRAFT_LAT_REPS", "15").toInt
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.excludedRules", graft.SessionTuning.ExcludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.documents(spark, corpusDir)
    val lex = graft.TempDirs.create("crossover_lex")
    InvertedIndex.write(docs, col("doc_id"), col("text"), lex, nBuckets = 16)
    InvertedIndex.compact(spark, lex)
    val emb = graft.Tables.embeddings(spark, corpusDir)
    val cents = Cluster.fitCentroids(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), k = 16, iters = 3)
    val pq = ProductQuant.fit(emb, col("vec_id"), col("embedding"), m = 8, k = 16, iters = 3)
    val vec = graft.TempDirs.create("crossover_vec")
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pq, vec, storeRaw = true)
    val query = emb.orderBy("vec_id").select("embedding").head()
      .getSeq[Float](0).toArray.map(_.toDouble)

    // the most document-frequent terms, one per bucket
    val common = docs.select(explode(array_distinct(
        TextStats.tokens(lower(col("text"))))).as("t"))
      .groupBy("t").count().orderBy(desc("count"), col("t"))
      .limit(200).collect().map(_.getString(0))
      .groupBy(InvertedIndex.bucketOfLocal(_, 16)).values.map(_.head).toSeq.sorted
    def bytesUnder(dir: String, part: String, values: Set[Int]): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(s => s.isDirectory &&
          values.exists(v => s.getPath.getName == s"$part=$v"))
        .flatMap(d => fs.listStatus(d.getPath)).map(_.getLen).sum
    }
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getAs[Number]("id").longValue, r.getDouble(1))).toSeq

    // (kind, size, probed bytes, local plan, distributed plan)
    val points: Seq[(String, Int, Long, () => DataFrame, () => DataFrame)] =
      (1 to 3).map { n =>
        val ts = common.take(n)
        ("bm25", n,
          bytesUnder(lex, "bucket", ts.map(InvertedIndex.bucketOfLocal(_, 16)).toSet),
          () => InvertedIndex.bm25Local(spark, lex, ts, 10, None, Long.MaxValue)
            .get.toDF(spark, "score"),
          () => InvertedIndex.bm25TopKDistributed(spark, lex, ts, 10, None))
      } ++ Seq(1, 2, 4, 8).map { np =>
        ("ann", np, bytesUnder(vec, "cluster", IvfPq.probeOrder(cents, query, np).toSet),
          () => IvfPq.rerankedLocal(spark, vec, cents, pq, query, np, 200, 10,
            None, Long.MaxValue).get.toDF(spark, "d2"),
          () => IvfPq.serveRerankedDistributed(spark, vec, cents, pq, query, np,
            200, 10, None))
      }

    val quiet = QuietGate.await()
    val lat = new LatSampling()
    def timed(f: () => DataFrame): Double = lat.sampled {
      val t0 = System.nanoTime(); f().collect(); (System.nanoTime() - t0) / 1e6
    }
    val out = points.map { case (kind, size, bytes, local, dist) =>
      require(rows(local()) == rows(dist()), s"$kind $size: local != distributed")
      (1 to 2).foreach { _ => local().collect(); dist().collect() }
      val l = collection.mutable.ArrayBuffer.empty[Double]
      val d = collection.mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { i =>
        if (i % 2 == 0) { l += timed(local); d += timed(dist) }
        else { d += timed(dist); l += timed(local) }
      }
      val line = f"""{"kind":"$kind","size":$size,"probed_bytes":$bytes,""" +
        f""""local_p50_ms":${lat.pct(l.sorted.toIndexedSeq, 0.5)}%.1f,""" +
        f""""dist_p50_ms":${lat.pct(d.sorted.toIndexedSeq, 0.5)}%.1f,"reps":$reps}"""
      println(line)
      line
    }
    val json = s"""{"corpus":"$corpusDir","cpus":$cpus,${quiet.jsonFields},""" +
      s""""steal_retries":${lat.retries},"points":[${out.mkString(",")}]}"""
    println(json)
    args.lift(1).foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"))
    spark.stop()
  }
}
