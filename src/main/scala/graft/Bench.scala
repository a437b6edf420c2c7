package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** One benched query: min-of-N seconds, all samples, GC delta, wall
    * offset, host-load provenance (1-min loadavg at start + steal ms
    * across the samples), and how many contaminated samples were
    * discarded and re-run. */
  private final case class QueryResult(name: String, min: Double,
      samples: Seq[Double], gcMs: Long, offsetMs: Long,
      load1: Double, stealMs: Long, stealRetries: Int, extCpuMs: Long)
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // parsed to Int at read time: the raw env string is interpolated into
    // both JSON artifacts, so a non-numeric value ('4g', empty) must fail
    // fast here rather than corrupt bench_detail.json (ADVICE r11)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)
    // wait (bounded) for a quiet host before measuring anything: the
    // per-sample steal discard below can only re-run samples, not stop a
    // whole run from starting inside a storm (VERDICT r12 item 3); the
    // spend and final readings land in the artifact either way
    val quiet = graft.tools.QuietGate.await()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC") // match Verify: tz-dependent queries must bench the verified work
      // shared session tuning (see SessionTuning); env override for A/B
      // isolation of the rule exclusion alone
      .config("spark.sql.optimizer.excludedRules",
        sys.env.getOrElse("SPARK_GRAFT_EXCLUDED_RULES", SessionTuning.ExcludedRules))
      // measurement knob for the serve-latency AQE-floor experiment
      // (VERDICT r14 item 6): LAT_ONLY A/B runs flip it; the default —
      // and every driver-comparable run — keeps AQE on
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JIT/codegen/parquet-reader/regex-engine init otherwise lands
    // on whichever query happens to exercise each kernel first (~4.5s of
    // session overhead plus ~1s of java.util.regex JIT)
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      // enough corpus-scale regex invocations to carry java.util.regex
      // through C2 before any measured query runs (~1.4s one-time cost
      // that would otherwise land on the first regex-heavy query)
      spark.range(60000).selectExpr(
        "regexp_count(repeat('the and of a, in. es la de ', 20), '\\\\b(the|and|of)\\\\b') AS r",
        "regexp_count(repeat('a. b, c! ', 30), '\\\\p{Punct}') AS p",
        "size(regexp_extract_all(repeat('ab1, x ', 30), '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\\\s]', 0)) AS s",
        "size(split(trim(repeat('w x  y ', 30)), '\\\\s+')) AS w")
        .selectExpr("sum(r)", "sum(p)", "sum(s)", "sum(w)").collect()
      Tables.names.foreach(t => Tables.load(spark, sfDir, t).limit(1).count())
    } catch { case _: Throwable => }
    // min-of-N per query: a single sample is hostage to GC pauses / JIT /
    // machine drift (BENCH_r02's q_text_stats "regression" gate); the min
    // is the least-noisy estimator of the plan's actual cost. ALL samples
    // plus per-query GC-time deltas and wall-clock timestamps are emitted
    // too, so a machine stall (r4) is attributable from the JSON alone:
    // a stalled query shows one wild sample among normal ones and/or a
    // gc_ms spike, a real regression shows every sample uniformly slower.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_LAT_ONLY=1: skip the query loop, run ONLY the
    // serve-latency sidecar (SCALING measures latency flatness across
    // scale factors without paying a full bench per point)
    val latOnly = sys.env.get("SPARK_GRAFT_LAT_ONLY").contains("1")
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }
    // HOST-LOAD PROVENANCE (VERDICT r9 item 1): the r9 close-out
    // artifacts were contaminated by external load waves (recorded
    // min-of-3 up to 37x a quiet probe) with nothing in the JSON to
    // prove it. Per query we record the 1-minute load average at start
    // and the steal-time delta across its samples, so a contaminated
    // sample is machine-detectable from the artifact alone: honest
    // regressions show flat load/steal, machine waves show load >> ncpu
    // or steal spikes.
    def load1(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def stealJiffies(): Long =
      try {
        val f = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } catch { case _: Throwable => 0L }
    // NON-STEAL contention provenance (VERDICT r11 item 4: a query read
    // 2.9/1.6/4.2 s samples with ZERO recorded steal — CPU contention
    // below the steal counter's visibility). Per query we record
    // EXTERNAL CPU time: the whole box's busy jiffies minus this JVM's
    // own process CPU — co-tenant compute the steal counter can't see.
    // Provenance only (a discard gate on load would misfire during the
    // bench's own legitimate 32-thread stretches); a contaminated entry
    // now carries the evidence either way.
    def busyJiffies(): Long =
      try {
        val f = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        // fields after "cpu": user nice system idle(3) iowait(4) irq
        // softirq steal(7) guest(8) guest_nice(9). Busy = compute the
        // host actually ran for someone: exclude idle/iowait, but ALSO
        // steal (recorded separately as steal_ms — summing it here
        // double-reported contention) and guest/guest_nice (already
        // accounted inside user/nice, so adding them double-counts VM
        // compute) — ADVICE r12
        val vals = f.drop(1).map(_.toLong)
        def at(i: Int) = if (vals.length > i) vals(i) else 0L
        vals.sum - at(3) - at(4) - at(7) - at(8) - at(9)
      } catch { case _: Throwable => 0L }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def procCpuMs(): Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1000000L
      case _ => 0L
    }
    val startedAtMs = System.currentTimeMillis()
    var failures = List.empty[String]
    var errors = Map.empty[String, String]
    // STEAL-AWARE SAMPLING (VERDICT r10 item 7): min-of-N absorbs a
    // noisy sample only if SOME sample ran on a quiet host; when every
    // sample landed in an external load wave the recorded min is still
    // contaminated (the sf1 close-outs carried 637 s of recorded steal).
    // A sample whose steal time exceeds maxStealFrac of its wall (and
    // isn't jiffy-granularity noise) is DISCARDED and re-run, up to
    // stealRetries extra runs per query; the per-query retry count is
    // emitted so a host that never quiets is visible in the artifact.
    val maxStealFrac =
      sys.env.getOrElse("SPARK_GRAFT_MAX_STEAL_FRAC", "0.15").toDouble
    val stealRetryBudget =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_RETRIES", "2").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => !latOnly && only.forall(_.contains(name)) }
    val results = selected.map { case (name, fn) =>
      // execute the FULL physical plan (projection, sort, every output
      // column) without collecting to the driver; a count() would let
      // Catalyst prune the query's own work away
      val gc0 = gcMillis()
      val steal0 = stealJiffies()
      val busy0 = busyJiffies()
      val proc0 = procCpuMs()
      val ld = load1()
      val at = System.currentTimeMillis() - startedAtMs
      var retries = 0
      val samples = (1 to reps).map { _ =>
        var kept = Double.NaN
        while (kept.isNaN) {
          val s0 = stealJiffies()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
            val wall = (System.nanoTime() - t0) / 1e9
            val stealMs = (stealJiffies() - s0) * 10
            // >50 ms guard: USER_HZ=100 jiffies make sub-100 ms samples
            // threshold noise
            if (stealMs > 50 && stealMs > maxStealFrac * wall * 1000 &&
                retries < stealRetryBudget) retries += 1
            else kept = wall
          } catch { case scala.util.control.NonFatal(e) =>
            // a failing query must name its exception in the artifacts —
            // round 6's fixture drift surfaced only as bare names in
            // `failures`, invisible to CORRECTNESS (construction-time
            // throws never reach the dump)
            if (!errors.contains(name))
              errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            kept = -1.0
          }
        }
        kept
      }
      val ok = samples.forall(_ >= 0)
      if (!ok) failures ::= name
      // steal jiffies -> ms at USER_HZ=100
      QueryResult(name, if (ok) samples.min else -1.0, samples,
        gcMillis() - gc0, at, ld, (stealJiffies() - steal0) * 10, retries,
        math.max(0L, (busyJiffies() - busy0) * 10 - (procCpuMs() - proc0)))
    }
    // SERVE-LATENCY SIDECAR (VERDICT r9 item 3): the production serving
    // paths — bm25TopK over the persisted inverted index and
    // IvfPq.serve over the IVF-PQ layout — measured as repeated
    // single-request latencies against indexes built OUTSIDE the
    // timing, so the 2x gate has a pinned serve-latency row that index
    // build cost can never contaminate.
    val latReps = sys.env.getOrElse("SPARK_GRAFT_LAT_REPS", "15").toInt
    val latencies: Seq[(String, Double)] =
      if (only.isDefined && !latOnly) Seq.empty // partial runs skip the sidecar
      else try {
        import org.apache.spark.sql.functions.col
        def runMs(df: => org.apache.spark.sql.DataFrame): Double = {
          val t0 = System.nanoTime()
          df.queryExecution.toRdd.foreach(_ => ())
          (System.nanoTime() - t0) / 1e6
        }
        // STEAL-AWARE LATENCY SAMPLING: the r10 item-7 contamination
        // discard guarded only the query loop; a host storm spanning a
        // latency pass inflated every rep and the p50 silently carried
        // it (a 32-thread sf1 pass recorded 117 s of steal and +40% on
        // every row, non-monotonic across scale points). Same policy as
        // the query loop — a rep whose steal exceeds maxStealFrac of
        // its wall (and jiffy noise) is discarded and re-run, with the
        // spend recorded in the artifact (`lat_steal_retries` /
        // `lat_steal_discard_ms`).
        //
        // The budget is TIME-based and scales with the reps actually
        // measured (VERDICT r13 item 4: a fixed 40-discard count
        // exhausted three rounds running at sf10, where each rep runs
        // ~10× longer and spends ~10× more wall exposed to the host's
        // waves — after exhaustion, contaminated reps were silently
        // kept): discards are allowed while their cumulative wall stays
        // under `discardFrac` of the cumulative KEPT wall, floored so
        // the first long rep is retryable.
        var latStealRetries = 0
        var latDiscardMs = 0.0
        var latKeptMs = 0.0
        val latDiscardFrac =
          sys.env.getOrElse("SPARK_GRAFT_LAT_DISCARD_FRAC", "1.0").toDouble
        def latBudgetMs = math.max(10000.0, latDiscardFrac * latKeptMs)
        def sampled(f: => Double): Double = {
          var out = Double.NaN
          while (out.isNaN) {
            val s0 = stealJiffies()
            val v = f
            val st = (stealJiffies() - s0) * 10
            if (st > 50 && st > maxStealFrac * v &&
                latDiscardMs + v <= latBudgetMs) {
              latStealRetries += 1
              latDiscardMs += v
            } else {
              out = v
              latKeptMs += v
            }
          }
          out
        }
        def pct(sorted: IndexedSeq[Double], p: Double): Double =
          sorted(math.min(sorted.size - 1, (p * (sorted.size - 1)).round.toInt))
        // Serving indexes are COMPACTED after build: write() fans each
        // bucket across one file per input split, so an uncompacted
        // index's serve-time task count scales with BUILD parallelism
        // (32 splits at sf1+ vs a handful at sf0.1) — a file-count
        // artifact that masquerades as corpus growth in the latency
        // curve. Production serving tiers serve compacted segments
        // (one file per bucket); compact() is exactly that operator.
        val idx = TempDirs.create("bench_lat_postings")
        graft.llm.InvertedIndex.write(Tables.documents(spark, sfDir),
          col("doc_id"), col("text"), idx,
          nBuckets = QueriesQuality.PostingsBuckets)
        graft.llm.InvertedIndex.compact(spark, idx)
        val bm = (1 to latReps).map(_ => sampled(runMs(
          graft.llm.InvertedIndex.bm25TopK(spark, idx,
            QueriesQuality.PostingsTerms, topK = 20)))).sorted
        // MaxScore variant on the same index/terms: documents the
        // crossover point — at small corpora the extra θ-probe job
        // costs more than the pruned aggregation saves; the ratio
        // across scale factors is the signal (SCALING.md r11)
        def wandOnce(): Double = {
          val t0 = System.nanoTime()
          graft.llm.InvertedIndex.bm25TopKMaxScore(spark, idx,
            QueriesQuality.PostingsTerms, topK = 20)
            .queryExecution.toRdd.foreach(_ => ())
          (System.nanoTime() - t0) / 1e6
        }
        val wand = (1 to latReps).map(_ => sampled(wandOnce())).sorted
        // the FETCH endpoint (q_snippets' serve shape): BM25 + evidence
        // windows + stored-field text, all index-owned storage. Its own
        // positional+stored index so the BM25 row's substrate (a plain
        // index) stays comparable across rounds. Construction does the
        // driver-side hit routing, so time the whole call like wandOnce.
        val sidx = TempDirs.create("bench_lat_snip")
        graft.llm.InvertedIndex.write(Tables.documents(spark, sfDir),
          col("doc_id"), col("text"), sidx,
          nBuckets = QueriesQuality.PostingsBuckets,
          positions = true, storedFields = true)
        graft.llm.InvertedIndex.compact(spark, sidx)
        def snipOnce(): Double = {
          val t0 = System.nanoTime()
          graft.llm.InvertedIndex.snippetTopKStored(spark, sidx,
            QueriesQuality.PostingsTerms, topK = 20,
            pad = QueriesQuality.SnippetPad,
            maxSpan = QueriesQuality.SnippetMaxSpan)
            .queryExecution.toRdd.foreach(_ => ())
          (System.nanoTime() - t0) / 1e6
        }
        val snip = (1 to latReps).map(_ => sampled(snipOnce())).sorted
        val emb = Tables.embeddings(spark, sfDir)
        val cents = QueriesPipeline.kmeansCentsOf(spark, sfDir)
        val pqCents = QueriesQuality.pqCentsOf(spark, sfDir)
        val anchorV = emb.where(col("vec_id") === QueriesQuality.PqAnchor)
          .select("embedding").head().getSeq[Float](0).toArray.map(_.toDouble)
        val vidx = TempDirs.create("bench_lat_ivfpq")
        graft.llm.IvfPq.write(emb, col("vec_id"), col("embedding"),
          cents, pqCents, vidx)
        graft.llm.IvfPq.compact(spark, vidx)
        val ann = (1 to latReps).map(_ => sampled(runMs(
          graft.llm.IvfPq.serve(spark, vidx, cents, pqCents, anchorV,
            QueriesQuality.IvfNProbe, QueriesQuality.PqTopK)))).sorted
        // the fused-retrieval request (q_hybrid_rrf's serve shape):
        // lexical arm from the prebuilt inverted index, dense arm a
        // cosine top-k, RRF on the driver-side plan — the full hybrid
        // endpoint latency, index build outside the timing
        import org.apache.spark.sql.expressions.Window
        val embQ = emb.where(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        def hybridOnce(): org.apache.spark.sql.DataFrame = {
          val cos = graft.llm.Similarity.topK(
              emb.where(col("vec_id") =!= 0), col("vec_id"),
              col("embedding"), embQ, 20)
            .withColumn("rank", org.apache.spark.sql.functions.row_number()
              .over(Window.orderBy(col("sim").desc, col("vec_id"))))
            .select(col("vec_id").as("id"), col("rank"))
          graft.llm.Fusion.rrfFromIndex(spark, idx,
            QueriesQuality.PostingsTerms, topK = 20, dense = cos)
        }
        val hyb = (1 to latReps).map(_ => sampled(runMs(hybridOnce()))).sorted
        // FULLY index-served hybrid (VERDICT r10 item 1): dense arm =
        // probes + exact re-rank over the raw-stored IVF-PQ index — the
        // per-request cost is probe-bounded, never a corpus scan
        val vidxRaw = TempDirs.create("bench_lat_ivfpq_raw")
        graft.llm.IvfPq.write(emb, col("vec_id"), col("embedding"),
          cents, pqCents, vidxRaw, storeRaw = true)
        graft.llm.IvfPq.compact(spark, vidxRaw)
        // exact-re-rank rows, unfiltered vs ACL-filtered (VERDICT r11
        // item 4): the allowed-id snapshot is a prebuilt small dimension
        // (written outside the timing — at scale an ACL table, not a
        // corpus scan), so the filtered row isolates what the semi-join
        // itself costs; flat vs the unfiltered row = the filter adds no
        // corpus-proportional stage
        val aclDir = TempDirs.create("bench_lat_acl")
        emb.where(col("label") === QueriesQuality.FilterLabel)
          .select("vec_id").coalesce(1).write.mode("overwrite").parquet(aclDir)
        val allowedDf = spark.read.parquet(aclDir)
        val annRr = (1 to latReps).map(_ => sampled(runMs(
          graft.llm.IvfPq.serveRerankedFromIndex(spark, vidxRaw, cents,
            pqCents, anchorV, QueriesQuality.IvfNProbe,
            QueriesQuality.IvfRerankR, QueriesQuality.PqTopK)))).sorted
        val annRrF = (1 to latReps).map(_ => sampled(runMs(
          graft.llm.IvfPq.serveRerankedFiltered(spark, vidxRaw, cents,
            pqCents, anchorV, QueriesQuality.IvfNProbe,
            QueriesQuality.IvfRerankR, QueriesQuality.PqTopK,
            allowedDf, col("vec_id"))))).sorted
        def hybridIndexedOnce(): org.apache.spark.sql.DataFrame =
          graft.llm.Fusion.rrfFromIndexes(spark, idx, vidxRaw,
            QueriesQuality.PostingsTerms, anchorV, cents, pqCents,
            QueriesQuality.IvfNProbe, QueriesQuality.IvfRerankR, topK = 20)
        val hybIdx = (1 to latReps).map(_ => sampled(runMs(hybridIndexedOnce()))).sorted
        // BATCH AMORTIZATION (VERDICT r10 item 8): the q_hybrid_batch
        // pipeline (bm25TopKBatch + Similarity.topKBatch + RRF) at
        // batch sizes 3 and 10, reported as PER-REQUEST ms — pinning
        // that batching amortizes against the single-request hybrid row
        import spark.implicits._
        val termSets = Seq(QueriesQuality.PostingsTerms,
          QueriesQuality.IncrTerms, QueriesQuality.UpsertTerms)
        val batchAnchors: Map[Long, Array[Float]] = emb
          .where(col("vec_id") < 10)
          .select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        def hybridBatchOnce(n: Int): org.apache.spark.sql.DataFrame = {
          val qs = (0 until n).map(i => (s"q$i", termSets(i % 3), i.toLong))
          val queriesDf = qs.map { case (q, t, _) => (q, t) }.toDF("qid", "terms")
          val lex = graft.llm.InvertedIndex.bm25TopKBatch(spark, idx,
              queriesDf, col("qid"), col("terms"), topK = 20)
            .withColumn("rank", org.apache.spark.sql.functions.row_number()
              .over(Window.partitionBy("qid")
                .orderBy(col("score").desc, col("id"))))
            .select("qid", "id", "rank")
          val dense = graft.llm.Similarity.topKBatch(emb, col("vec_id"),
              col("embedding"),
              qs.map { case (q, _, a) => (q, batchAnchors(a)) }, k = 20)
            .withColumn("rank", org.apache.spark.sql.functions.row_number()
              .over(Window.partitionBy("qid")
                .orderBy(col("sim").desc, col("vec_id"))))
            .select(col("qid"), col("vec_id").as("id"), col("rank"))
          lex.unionByName(dense)
            .select(col("qid"), col("id"),
              (org.apache.spark.sql.functions.lit(1.0) /
                (org.apache.spark.sql.functions.lit(60.0) +
                  col("rank").cast("double"))).as("contrib"))
            .groupBy("qid", "id")
            .agg(org.apache.spark.sql.functions.sum("contrib").as("rrf_score"))
        }
        // steal is judged against the RAW wall time; per-request division
        // happens after the discard decision — dividing first made the
        // steal-fraction threshold n× stricter for batch reps and burned
        // the shared retry budget on them (ADVICE r11: LAT_sf1 spent all
        // 40 retries, after which contaminated reps were silently kept)
        val b3 = (1 to latReps).map(_ => sampled(runMs(hybridBatchOnce(3))) / 3).sorted
        val b10 = (1 to latReps).map(_ => sampled(runMs(hybridBatchOnce(10))) / 10).sorted
        // the FULLY index-served batch (q_hybrid_indexed_batch's shape):
        // both arms index-only, so the per-request cost is probe-bounded
        // AND amortized — the only batch row whose curve can stay flat
        // at 100× corpus (the exact-arm batch above pays a corpus-scan
        // dense pass that grows with the data; it stays as the recall
        // gate's batch twin)
        val batchAnchorsD: Map[Long, Array[Double]] =
          batchAnchors.map { case (k, v) => k -> v.map(_.toDouble) }
        def hybridIdxBatchOnce(n: Int): org.apache.spark.sql.DataFrame = {
          val qs = (0 until n).map(i => (s"q$i", termSets(i % 3), i.toLong))
          val queriesDf = qs.map { case (q, t, _) => (q, t) }.toDF("qid", "terms")
          val lex = graft.llm.InvertedIndex.bm25TopKBatch(spark, idx,
              queriesDf, col("qid"), col("terms"), topK = 20)
            .withColumn("rank", org.apache.spark.sql.functions.row_number()
              .over(Window.partitionBy("qid")
                .orderBy(col("score").desc, col("id"))))
            .select("qid", "id", "rank")
          val dense = graft.llm.IvfPq.serveRerankedBatch(spark, vidxRaw,
              cents, pqCents,
              qs.map { case (q, _, a) => (q, batchAnchorsD(a)) },
              nProbe = QueriesQuality.IvfNProbe,
              rerankR = QueriesQuality.IvfRerankR, topK = 20)
            .withColumn("rank", org.apache.spark.sql.functions.row_number()
              .over(Window.partitionBy("qid").orderBy(col("d2"), col("id"))))
            .select("qid", "id", "rank")
          lex.unionByName(dense)
            .select(col("qid"), col("id"),
              (org.apache.spark.sql.functions.lit(1.0) /
                (org.apache.spark.sql.functions.lit(60.0) +
                  col("rank").cast("double"))).as("contrib"))
            .groupBy("qid", "id")
            .agg(org.apache.spark.sql.functions.sum("contrib").as("rrf_score"))
        }
        val ib3 = (1 to latReps).map(_ => sampled(runMs(hybridIdxBatchOnce(3))) / 3).sorted
        val ib10 = (1 to latReps).map(_ => sampled(runMs(hybridIdxBatchOnce(10))) / 10).sorted
        // the batched FETCH endpoint (VERDICT r11 item 5): whole-call
        // timing like snipOnce — construction does the driver routing
        // and the fused point-lookup collect
        def snipBatchOnce(n: Int): Double = {
          val qs = (0 until n).map(i => (s"q$i", termSets(i % 3)))
          val queriesDf = qs.toDF("qid", "terms")
          val t0 = System.nanoTime()
          graft.llm.InvertedIndex.snippetTopKStoredBatch(spark, sidx,
            queriesDf, col("qid"), col("terms"), topK = 20,
            pad = QueriesQuality.SnippetPad,
            maxSpan = QueriesQuality.SnippetMaxSpan)
            .queryExecution.toRdd.foreach(_ => ())
          (System.nanoTime() - t0) / 1e6
        }
        val sb10 = (1 to latReps).map(_ => sampled(snipBatchOnce(10)) / 10).sorted
        Seq("bm25_p50_ms" -> pct(bm, 0.50), "bm25_p95_ms" -> pct(bm, 0.95),
          "bm25_wand_p50_ms" -> pct(wand, 0.50),
          "snippet_p50_ms" -> pct(snip, 0.50),
          "snippet_p95_ms" -> pct(snip, 0.95),
          "snippet_b10_ms_per_req_p50" -> pct(sb10, 0.50),
          "ann_p50_ms" -> pct(ann, 0.50), "ann_p95_ms" -> pct(ann, 0.95),
          "ann_rerank_p50_ms" -> pct(annRr, 0.50),
          "ann_rerank_filt_p50_ms" -> pct(annRrF, 0.50),
          "hybrid_p50_ms" -> pct(hyb, 0.50), "hybrid_p95_ms" -> pct(hyb, 0.95),
          "hybrid_indexed_p50_ms" -> pct(hybIdx, 0.50),
          "hybrid_indexed_p95_ms" -> pct(hybIdx, 0.95),
          "hybrid_b3_ms_per_req_p50" -> pct(b3, 0.50),
          "hybrid_b10_ms_per_req_p50" -> pct(b10, 0.50),
          "hybrid_idx_b3_ms_per_req_p50" -> pct(ib3, 0.50),
          "hybrid_idx_b10_ms_per_req_p50" -> pct(ib10, 0.50),
          "lat_steal_retries" -> latStealRetries.toDouble,
          "lat_steal_discard_ms" -> latDiscardMs,
          "lat_steal_budget_ms" -> latBudgetMs)
      } catch { case scala.util.control.NonFatal(e) =>
        errors += "serve_latency" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        Seq.empty
      }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map(r => s"\"" + r.name + "\":" + r.min)
      .mkString("{", ",", "}")
    def fmtSec(d: Double) = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def fmtMs(d: Double) = BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    val sampleStr = results.map { r =>
      "\"" + r.name + "\":[" + r.samples.map(fmtSec).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val gcStr = results.map(r => s"\"" + r.name + "\":" + r.gcMs)
      .mkString("{", ",", "}")
    val atStr = results.map(r => s"\"" + r.name + "\":" + r.offsetMs)
      .mkString("{", ",", "}")
    val loadStr = results.map(r => s"\"" + r.name + "\":" + fmtSec(r.load1))
      .mkString("{", ",", "}")
    val stealStr = results.map(r => s"\"" + r.name + "\":" + r.stealMs)
      .mkString("{", ",", "}")
    val retryStr = results.map(r => s"\"" + r.name + "\":" + r.stealRetries)
      .mkString("{", ",", "}")
    val extCpuStr = results.map(r => s"\"" + r.name + "\":" + r.extCpuMs)
      .mkString("{", ",", "}")
    val latStr = latencies.map { case (k, v) => s"\"$k\":${fmtMs(v)}" }
      .mkString("{", ",", "}")
    val errStr = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.collect { case r if r.min >= 0 => r.min }.sum
    // build vs serve families (VERDICT r9 item 2): index-construction
    // pipelines stopped the headline total being round-comparable
    val totalBuild = results
      .collect { case r if r.min >= 0 && SparkEntry.buildQueries(r.name) => r.min }.sum
    val totalServe = total - totalBuild
    val failStr = failures.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // aqe / excluded_rules: the EFFECTIVE session values, so a run under
    // a SPARK_GRAFT_AQE or SPARK_GRAFT_EXCLUDED_RULES override is told
    // apart from a default run by its artifact alone
    val detail = s"""{${graft.tools.Provenance.jsonFields},${quiet.jsonFields},"metric":"total","value":$total,"unit":"sec","total_build":${fmtSec(totalBuild)},"total_serve":${fmtSec(totalServe)},"queries":$qs,"samples":$sampleStr,"gc_ms":$gcStr,"offset_ms":$atStr,"load1":$loadStr,"steal_ms":$stealStr,"steal_retries":$retryStr,"ext_cpu_ms":$extCpuStr,"serve_latency_ms":$latStr,"started_at_ms":$startedAtMs,"reps":$reps,"lat_reps":$latReps,"cpus":$cpus,"sf":"$sfDir","aqe":${jstr(spark.conf.get("spark.sql.adaptive.enabled"))},"excluded_rules":${jstr(spark.conf.get("spark.sql.optimizer.excludedRules", ""))},"failures":$failStr,"errors":$errStr}"""
    // full per-query detail (all samples, gc deltas, offsets, error texts):
    // stderr + a repo file, NOT stdout — the driver stores and parses only
    // a 2000-char stdout tail, so stdout must stay a single short line
    System.err.println(detail)
    try {
      // a partial probe (SPARK_GRAFT_ONLY / SPARK_GRAFT_LAT_ONLY) must
      // not clobber the committed full-run artifact: default its detail
      // to a suffixed path unless the caller chose one explicitly
      val defaultDetail =
        if (latOnly || only.isDefined) "/root/repo/bench_detail_partial.json"
        else "/root/repo/bench_detail.json"
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", defaultDetail)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), detail + "\n")
    } catch { case scala.util.control.NonFatal(_) => }
    // LAST line = the driver-parsed one. The driver stores only the final
    // 2000 chars of stdout and json-parses them; every round 1-6 shipped a
    // single >2000-char line, so BENCH_r*.json carried "parsed": null.
    // Emit a compact line and degrade precision until it provably fits.
    def compact(dp: Int, topN: Int, withLat: Boolean): String = {
      def f(d: Double) = BigDecimal(d).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toString
      // when the full per-query map can't fit, keep the SLOWEST topN
      // entries (the ones a perf comparison needs) rather than none
      val kept = results.sortBy(-_.min).take(topN)
      val q = kept.map(r => s"\"" + r.name + "\":" + (if (r.min >= 0) f(r.min) else "-1"))
        .mkString("{", ",", "}")
      val omitted = results.size - kept.size
      val omittedStr = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      val latPart =
        if (latencies.isEmpty || !withLat) "" else s""","serve_latency_ms":$latStr"""
      s"""{"metric":"total","value":${f(total)},"unit":"sec","total_build":${f(totalBuild)},"total_serve":${f(totalServe)}$latPart,"queries":$q$omittedStr,"reps":$reps,"cpus":$cpus,"sf":"$sfDir","failures":$failStr}"""
    }
    // the per-query map is what the driver's PERF comparison consumes, so
    // it gets the byte budget: full map + latency sidecar when both fit
    // (small/partial runs), else shed the ~570-char latency map first
    // (bench_detail.json and the stderr detail keep it in full), then the
    // FASTEST queries a few at a time — r14 shipped only the slowest 48
    // of 156 because the latency map rode every candidate line
    val candidates = Seq(compact(3, results.size, true),
      compact(2, results.size, true), compact(2, results.size, false)) ++
      (results.size to 1 by -4).map(n => compact(2, n, false))
    val line = candidates.find(_.length <= 1900).getOrElse(
      s"""{"metric":"total","value":${fmtSec(total)},"unit":"sec","queries":{},"reps":$reps,"sf":"$sfDir","failures":$failStr,"note":"see bench_detail.json"}""")
    println(line)
    spark.stop()
    // prompt CLI exit after the one driver-parsed stdout line is flushed
    // (VERDICT r8 nit 3: local[n] shutdown otherwise lingers minutes)
    sys.exit(0)
  }
}
