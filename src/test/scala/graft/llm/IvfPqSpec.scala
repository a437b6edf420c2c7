package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IVF-PQ operator API: append ≡ rebuild against frozen models, the
  * probed scan prunes partitions, and the exact re-rank can only improve
  * (never degrade) recall while reading a bounded raw-vector shortlist.
  */
class IvfPqSpec extends SparkSpec {

  private lazy val emb = graft.Tables.embeddings(spark, sf)
  // small deterministic models fitted once for the suite
  private lazy val cents = Cluster.fitCentroids(
    emb.select(col("vec_id").as("id"), col("embedding").as("v")), k = 4, iters = 1)
  private lazy val pqCents = ProductQuant.fit(
    emb, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 1)
  private lazy val anchor = emb.where(col("vec_id") === 0)
    .select("embedding").head().getSeq[Float](0).toArray.map(_.toDouble)

  test("append of a delta serves identically to a full rebuild") {
    val incr = java.nio.file.Files.createTempDirectory("ivfpq_incr").toString
    val full = java.nio.file.Files.createTempDirectory("ivfpq_full").toString
    IvfPq.write(emb.where(pmod(col("vec_id"), lit(5)) =!= 0),
      col("vec_id"), col("embedding"), cents, pqCents, incr)
    IvfPq.append(emb.where(pmod(col("vec_id"), lit(5)) === 0),
      col("vec_id"), col("embedding"), cents, pqCents, incr)
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, full)
    def serveAll(path: String) =
      IvfPq.serve(spark, path, cents, pqCents, anchor, nProbe = 2, topK = 20)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("adc"))).toSeq
    assert(serveAll(incr) === serveAll(full))
  }

  test("the probed scan reads only the probed clusters' directories") {
    val out = java.nio.file.Files.createTempDirectory("ivfpq_prune").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, out)
    val probes = IvfPq.probeOrder(cents, anchor, nProbe = 2)
    val touched = IvfPq.probedCodes(spark, out, cents, anchor, nProbe = 2)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .flatMap(f => "cluster=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt))
      .distinct.sorted.toSeq
    assert(touched === probes.sorted)
    // and the corpus populates more clusters than were probed
    val all = spark.read.parquet(out).select("cluster").distinct().count()
    assert(all > probes.size, s"expected >2 populated clusters, got $all")
  }

  test("exact re-rank recall is at least ADC recall, shortlist bounded by R") {
    val out = java.nio.file.Files.createTempDirectory("ivfpq_rerank").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, out)
    val k = 10
    val candIds = IvfPq.probedCodes(spark, out, cents, anchor, nProbe = 3)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    // R covering ALL candidates makes the re-rank provably optimal over
    // the probed set, so the ≥-recall assertion below can't flake
    val r = math.max(k, candIds.size)
    val exact = ProductQuant.exactTopK(emb, col("vec_id"), col("embedding"),
      anchor, topK = k).collect().map(_.getAs[Long]("id")).toSet
    val adc = IvfPq.serve(spark, out, cents, pqCents, anchor, nProbe = 3, topK = k)
      .collect().map(_.getAs[Long]("id")).toSet
    val rr = IvfPq.serveReranked(spark, out, emb, col("vec_id"), col("embedding"),
      cents, pqCents, anchor, nProbe = 3, rerankR = r, topK = k)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(rr.size === k)
    assert(rr.intersect(exact).size >= adc.intersect(exact).size,
      s"re-rank recall ${rr.intersect(exact).size} < ADC ${adc.intersect(exact).size}")
    // within the probed candidate set, the re-ranked top-k IS the exact
    // top-k of that set (re-ranking leaves nothing quantized behind)
    val exactOfCand = ProductQuant.exactTopK(
      emb.where(col("vec_id").isin(candIds.toSeq: _*)),
      col("vec_id"), col("embedding"), anchor, topK = k)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(rr === exactOfCand)
  }

  test("delete tombstones serve-invisibly now; compact equals a rebuild on survivors") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_del").toString
    val reb = java.nio.file.Files.createTempDirectory("ivfpq_del_reb").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, idx)
    val deadIds = emb.where(pmod(col("vec_id"), lit(4)) === 1)
    IvfPq.delete(spark, idx, deadIds.select("vec_id"), col("vec_id"))
    val dead = deadIds.select("vec_id").collect().map(_.getLong(0)).toSet
    def serve(p: String) =
      IvfPq.serve(spark, p, cents, pqCents, anchor, nProbe = 4, topK = 20)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("adc"))).toSeq
    // pre-compact: tombstoned ids never surface
    val pre = serve(idx)
    assert(pre.nonEmpty && pre.forall(r => !dead(r._1)))
    IvfPq.compact(spark, idx)
    IvfPq.write(emb.where(pmod(col("vec_id"), lit(4)) =!= 1),
      col("vec_id"), col("embedding"), cents, pqCents, reb)
    assert(serve(idx) === serve(reb))
    // compact also == the pre-compact logical view (codes deterministic)
    assert(serve(idx) === pre)
    assert(!new java.io.File(idx, "_tombstones").exists())
    // one file per cluster directory after compact
    new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
      .foreach { c =>
        val n = c.listFiles().count(_.getName.endsWith(".parquet"))
        assert(n === 1, s"${c.getName} has $n files after compact")
      }
  }

  test("vector change feed: upserts re-embed past their tombstone; compact equals rebuild on the merged set") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_ups").toString
    val reb = java.nio.file.Files.createTempDirectory("ivfpq_ups_reb").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, idx)
    // upsert: vectors re-embedded as their reverse; delete another slice
    val reverseU = udf { (v: Seq[Float]) => v.reverse }
    val upserts = emb.where(pmod(col("vec_id"), lit(6)) === 2)
      .select(col("vec_id"), reverseU(col("embedding")).as("embedding"),
        lit("upsert").as("op"))
    val deletes = emb.where(pmod(col("vec_id"), lit(6)) === 3)
      .select(col("vec_id"), col("embedding"), lit("delete").as("op"))
    IvfPq.applyChangeFeed(upserts.unionByName(deletes),
      col("vec_id"), col("embedding"), col("op"), idx, cents, pqCents)
    IvfPq.compact(spark, idx)
    val merged = emb.where(pmod(col("vec_id"), lit(6)) =!= 3)
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(6)) === 2, reverseU(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
    IvfPq.write(merged, col("vec_id"), col("embedding"), cents, pqCents, reb)
    def serve(p: String) =
      IvfPq.serve(spark, p, cents, pqCents, anchor, nProbe = 4, topK = 50)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("adc"))).toSeq
    assert(serve(idx) === serve(reb))
    val deadIds = deletes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(serve(idx).map(_._1).forall(id => !deadIds(id)))
  }

  test("as-of-generation vector serving is exact time travel; compactIfNeeded gates on debt") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_asof").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, idx)
    def serve(g: Option[Long]) =
      IvfPq.serve(spark, idx, cents, pqCents, anchor, nProbe = 4, topK = 50,
        asOfGen = g)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("adc"))).toSeq
    val preFeed = serve(None)
    val reverseU = udf { (v: Seq[Float]) => v.reverse }
    val upserts = emb.where(pmod(col("vec_id"), lit(6)) === 2)
      .select(col("vec_id"), reverseU(col("embedding")).as("embedding"),
        lit("upsert").as("op"))
    val deletes = emb.where(pmod(col("vec_id"), lit(6)) === 3)
      .select(col("vec_id"), col("embedding"), lit("delete").as("op"))
    IvfPq.applyChangeFeed(upserts.unionByName(deletes),
      col("vec_id"), col("embedding"), col("op"), idx, cents, pqCents)
    // gen 0 = pre-feed state, exactly; mid-feed gen 1 hides every
    // touched id; current gen = live serve
    assert(serve(Some(0L)) === preFeed)
    val touched = upserts.unionByName(deletes)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(serve(Some(1L)).forall(p => !touched(p._1)))
    assert(serve(Some(2L)) === serve(None))
    // 2/7 of stored rows carry tombstones (both feed halves tombstone;
    // upserts re-appended): below a 50% threshold → untouched, past
    // 10% → compacts
    assert(!IvfPq.compactIfNeeded(spark, idx, maxDeadFrac = 0.5))
    assert(new java.io.File(idx, "_tombstones").exists())
    assert(IvfPq.compactIfNeeded(spark, idx, maxDeadFrac = 0.1))
    assert(!new java.io.File(idx, "_tombstones").exists())
    assert(!IvfPq.compactIfNeeded(spark, idx, maxDeadFrac = 0.1))
    assert(serve(None).map(_._1).forall(id =>
      !deletes.select("vec_id").collect().map(_.getLong(0)).toSet(id)))
  }

  test("batched ANN serving equals per-query serve row-for-row") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_batch").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, idx)
    val anchors = Seq(3L, 11L, 29L).map { vid =>
      s"q$vid" -> emb.where(col("vec_id") === vid).select("embedding")
        .head().getSeq[Float](0).toArray.map(_.toDouble)
    }
    val batch = IvfPq.serveBatch(spark, idx, cents, pqCents, anchors,
      nProbe = 3, topK = 15)
      .collect()
      .map(r => (r.getAs[String]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("adc")))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(p => (p._2, p._1)).toSeq)
      .toMap
    for ((qid, q) <- anchors) {
      val single = IvfPq.serve(spark, idx, cents, pqCents, q,
        nProbe = 3, topK = 15)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("adc"))).toSeq
      assert(batch(qid) === single, s"batch result for $qid drifted")
    }
  }

  test("filtered serving equals filtering the unfiltered candidates, never re-ranks") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_filt").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, idx)
    val allowed = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val okIds = allowed.select("vec_id").collect().map(_.getLong(0)).toSet
    val got = IvfPq.serveFiltered(spark, idx, cents, pqCents, anchor,
      nProbe = 4, topK = 10, allowed = allowed, id = col("vec_id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("adc"))).toSeq
    // reference: unfiltered serve over ALL candidates, filtered after
    val ref = IvfPq.serve(spark, idx, cents, pqCents, anchor,
      nProbe = 4, topK = 1000000)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("adc")))
      .filter(p => okIds(p._1)).sortBy(p => (p._2, p._1)).take(10).toSeq
    assert(got === ref && got.nonEmpty)
    assert(got.forall(p => okIds(p._1)))
  }

  test("raw-stored index: rerank-from-index equals rerank-from-corpus; ADC scans prune the vec column; layout survives append+compact") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_raw").toString
    IvfPq.write(emb.where(pmod(col("vec_id"), lit(5)) =!= 0),
      col("vec_id"), col("embedding"), cents, pqCents, idx, storeRaw = true)
    // append inherits raw storage; compact preserves it
    IvfPq.append(emb.where(pmod(col("vec_id"), lit(5)) === 0),
      col("vec_id"), col("embedding"), cents, pqCents, idx)
    assert(IvfPq.hasRaw(spark, idx))
    def fromIdx() = IvfPq.serveRerankedFromIndex(spark, idx, cents, pqCents,
        anchor, nProbe = 3, rerankR = 30, topK = 10)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("d2"))).toSeq
    val fromCorpus = IvfPq.serveReranked(spark, idx, emb, col("vec_id"),
        col("embedding"), cents, pqCents, anchor, nProbe = 3, rerankR = 30,
        topK = 10)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("d2"))).toSeq
    assert(fromIdx() === fromCorpus && fromCorpus.nonEmpty)
    // the rerank plan reads ONLY the index directory — no corpus table:
    // the distributed plan's scans, and the files the driver-local path
    // opens
    val plan = IvfPq.serveRerankedDistributed(spark, idx, cents, pqCents,
      anchor, nProbe = 3, rerankR = 30, topK = 10, asOfGen = None)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("FileScan") && !plan.contains("embeddings.parquet"),
      s"rerank-from-index must not scan the embeddings table:\n$plan")
    val opened = collection.mutable.ArrayBuffer.empty[String]
    DriverScan.onOpen = p => opened.synchronized { opened += p }
    try IvfPq.serveRerankedFromIndex(spark, idx, cents, pqCents, anchor,
      nProbe = 3, rerankR = 30, topK = 10).collect()
    finally DriverScan.onOpen = _ => ()
    val root = new java.io.File(idx).toURI.toString.stripSuffix("/")
    assert(opened.nonEmpty && opened.forall(_.startsWith(root + "/cluster=")),
      s"local rerank opened files outside $idx:\n${opened.mkString("\n")}")
    // ADC serving never pays for the stored vectors: column pruning
    // keeps `vec` out of every ReadSchema in its plan
    val adcPlan = IvfPq.serve(spark, idx, cents, pqCents, anchor,
      nProbe = 3, topK = 10).queryExecution.executedPlan.toString()
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(adcPlan).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("vec")),
      s"ADC serve must prune the vec column:\n${readSchemas.mkString("\n")}")
    IvfPq.compact(spark, idx)
    assert(IvfPq.hasRaw(spark, idx))
    assert(fromIdx() === fromCorpus)
    // a code-only index refuses the from-index rerank loudly
    val plain = java.nio.file.Files.createTempDirectory("ivfpq_plain").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, plain)
    intercept[IllegalArgumentException] {
      IvfPq.serveRerankedFromIndex(spark, plain, cents, pqCents, anchor,
        nProbe = 2, rerankR = 10, topK = 5)
    }
  }

  test("batched index-only re-rank equals per-query serveRerankedFromIndex") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_rrbatch").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, idx,
      storeRaw = true)
    val qs = Seq(0L, 7L, 42L).map { vid =>
      s"q$vid" -> emb.where(col("vec_id") === vid)
        .select("embedding").head().getSeq[Float](0).toArray.map(_.toDouble)
    }
    val batched = IvfPq.serveRerankedBatch(spark, idx, cents, pqCents, qs,
        nProbe = 3, rerankR = 30, topK = 10)
      .collect().map(r => (r.getAs[String]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("d2")))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(p => (p._2, p._1)).toSeq).toMap
    qs.foreach { case (qid, qv) =>
      val single = IvfPq.serveRerankedFromIndex(spark, idx, cents, pqCents,
          qv, nProbe = 3, rerankR = 30, topK = 10)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("d2"))).toSeq
      assert(batched(qid) === single, s"$qid: batched re-rank drifted")
    }
    // code-only index refuses loudly
    val plain = java.nio.file.Files.createTempDirectory("ivfpq_rrb_plain").toString
    IvfPq.write(emb.limit(20), col("vec_id"), col("embedding"), cents, pqCents, plain)
    intercept[IllegalArgumentException] {
      IvfPq.serveRerankedBatch(spark, plain, cents, pqCents, qs,
        nProbe = 2, rerankR = 10, topK = 5)
    }
  }

  test("filtered re-rank: results within the allowed set, all-ids filter equals unfiltered, batch equals per-query") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_rrfilt").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, idx,
      storeRaw = true)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("d2"))).toSeq
    val allowed = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val got = pairs(IvfPq.serveRerankedFiltered(spark, idx, cents, pqCents,
      anchor, nProbe = 3, rerankR = 30, topK = 10,
      allowed = allowed, id = col("vec_id")))
    assert(got.nonEmpty && got.forall(_._1 % 3 == 0),
      s"filtered serve leaked disallowed ids: $got")
    // an all-ids filter must not change the unfiltered answer
    val all = pairs(IvfPq.serveRerankedFiltered(spark, idx, cents, pqCents,
      anchor, nProbe = 3, rerankR = 30, topK = 10,
      allowed = emb, id = col("vec_id")))
    val unfiltered = pairs(IvfPq.serveRerankedFromIndex(spark, idx, cents,
      pqCents, anchor, nProbe = 3, rerankR = 30, topK = 10))
    assert(all === unfiltered)
    // batch ≡ per-query under the same shared filter
    val qs = Seq(0L, 7L, 42L).map { vid =>
      s"q$vid" -> emb.where(col("vec_id") === vid)
        .select("embedding").head().getSeq[Float](0).toArray.map(_.toDouble)
    }
    val batched = IvfPq.serveRerankedFilteredBatch(spark, idx, cents, pqCents,
        qs, nProbe = 3, rerankR = 30, topK = 10,
        allowed = allowed, id = col("vec_id"))
      .collect().map(r => (r.getAs[String]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("d2")))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(p => (p._2, p._1)).toSeq).toMap
    qs.foreach { case (qid, qv) =>
      val single = pairs(IvfPq.serveRerankedFiltered(spark, idx, cents,
        pqCents, qv, nProbe = 3, rerankR = 30, topK = 10,
        allowed = allowed, id = col("vec_id")))
        .sortBy(p => (p._2, p._1))
      assert(batched(qid) === single, s"$qid: filtered batch drifted")
    }
  }

  test("warm vector serve constructs with zero Spark jobs (open-reader relation cache)") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_warm").toString
    IvfPq.write(emb, col("vec_id"), col("embedding"), cents, pqCents, idx)
    // first serve resolves + caches the relation (pays schema inference
    // and the partition listing once per maintenance generation)
    IvfPq.serve(spark, idx, cents, pqCents, anchor, nProbe = 2, topK = 10)
      .collect()
    spark.sparkContext.setJobGroup("warm_vec_probe", "warm vector routing")
    val served = IvfPq.serve(spark, idx, cents, pqCents, anchor,
      nProbe = 2, topK = 10)
    val jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("warm_vec_probe")
    spark.sparkContext.clearJobGroup()
    assert(jobs.isEmpty, s"warm-serve construction launched jobs: ${jobs.toSeq}")
    assert(served.limit(1).collect().nonEmpty)
    // a maintenance verb bumps the generation: the cached relation must
    // refresh (stale file lists would throw or serve deleted rows)
    IvfPq.delete(spark, idx, emb.where(col("vec_id") === 0).select("vec_id"),
      col("vec_id"))
    val after = IvfPq.serve(spark, idx, cents, pqCents, anchor,
        nProbe = 2, topK = 10)
      .collect().map(_.getAs[Long]("id"))
    assert(!after.contains(0L), "tombstoned id served from a stale relation")
  }

  test("merge of disjoint vector indexes equals a fresh build; source tombstones apply; raw/code mixing refuses") {
    val a = java.nio.file.Files.createTempDirectory("ivfpq_mrg_a").toString
    val b = java.nio.file.Files.createTempDirectory("ivfpq_mrg_b").toString
    val dst = java.nio.file.Files.createTempDirectory("ivfpq_mrg").toString
    val reb = java.nio.file.Files.createTempDirectory("ivfpq_mrg_reb").toString
    IvfPq.write(emb.where(pmod(col("vec_id"), lit(2)) === 0),
      col("vec_id"), col("embedding"), cents, pqCents, a)
    IvfPq.write(emb.where(pmod(col("vec_id"), lit(2)) === 1),
      col("vec_id"), col("embedding"), cents, pqCents, b)
    // half B carries pending deletes: merge must apply them
    IvfPq.delete(spark, b,
      emb.where(pmod(col("vec_id"), lit(5)) === 1).select("vec_id"),
      col("vec_id"))
    IvfPq.merge(spark, Seq(a, b), dst)
    val survivors = emb.where(
      !(pmod(col("vec_id"), lit(5)) === 1 && pmod(col("vec_id"), lit(2)) === 1))
    IvfPq.write(survivors, col("vec_id"), col("embedding"), cents, pqCents, reb)
    def serve(p: String) =
      IvfPq.serve(spark, p, cents, pqCents, anchor, nProbe = 3, topK = 50)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("adc"))).toSeq
    assert(serve(dst) === serve(reb) && serve(dst).nonEmpty)
    assert(IvfPq.readGen(spark, dst) === 0L)
    // raw-stored and code-only indexes refuse to merge
    val rawIdx = java.nio.file.Files.createTempDirectory("ivfpq_mrg_raw").toString
    IvfPq.write(emb.limit(10), col("vec_id"), col("embedding"),
      cents, pqCents, rawIdx, storeRaw = true)
    intercept[IllegalArgumentException] {
      IvfPq.merge(spark, Seq(a, rawIdx), dst + "_x")
    }
  }

  test("anchor's own cluster is always first in probe order") {
    val probes = IvfPq.probeOrder(cents, anchor, nProbe = cents.length)
    assert(probes.length === cents.length && probes.distinct.length === probes.length)
    // nearest centroid first: distances are non-decreasing along the order
    def d2(c: Array[Double]) = {
      var d = 0.0
      c.indices.foreach(i => { val x = anchor(i) - c(i); d += x * x })
      math.floor(d * 1e6 + 0.5) / 1e6
    }
    val ds = probes.map(p => d2(cents(p)))
    assert(ds === ds.sorted)
  }
}
