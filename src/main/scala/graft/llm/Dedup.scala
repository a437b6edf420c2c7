package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every path is shuffle-partitionable on a key — exact dedup
  * shuffles on the content hash (bounded per-group size), LSH shuffles on
  * band keys (bucket sizes bounded by hash uniformity), and pair
  * verification joins only within candidate buckets, never cross-joining
  * the corpus. Nothing collects to the driver.
  */
object Dedup {

  // ---------------- exact ----------------

  /** Keep the first row (by `orderCol`) per exact key. Implemented as a
    * min-order semi-join rather than a window so the shuffle carries only
    * (key, order) pairs and skewed giant groups don't serialize through a
    * single window partition.
    *
    * `orderCol` should be unique (e.g. a row id): rows tying on
    * (key, order) are all kept, unlike row_number()-based dedup.
    */
  def exact(df: DataFrame, key: Column, orderCol: Column): DataFrame = {
    // 128 bits of key hash (two independently-seeded xxhash64): a single
    // 64-bit hash has expected collisions at multi-billion-row corpora,
    // which would silently drop distinct rows from an "exact" dedup.
    // The salt must come FIRST: xxhash64 chains left-to-right with the
    // accumulated hash as the next seed, so xxhash64(key, salt) would make
    // _dk2 a pure function of _dk1 (any _dk1 collision collides _dk2 too);
    // xxhash64(salt, key) hashes the key under a different effective seed.
    val keyed = df
      .withColumn("_dk1", xxhash64(key))
      .withColumn("_dk2", xxhash64(lit(0x9E3779B9L), key))
      .withColumn("_ord", orderCol)
    val winners = keyed.groupBy("_dk1", "_dk2").agg(min("_ord").as("_ord"))
    keyed.join(winners, Seq("_dk1", "_dk2", "_ord"), "left_semi")
      .drop("_dk1", "_dk2", "_ord")
  }

  /** Exact-dup groups: (key hash, count) for groups with >1 member. */
  def exactGroups(df: DataFrame, key: Column): DataFrame =
    df.groupBy(xxhash64(key).as("dup_key")).count().where(col("count") > 1)

  /** Shared LSH bucket builder: group `tagged` rows by `keys`, collect the
    * sorted member-id array, keep buckets of >= 2 members TRUNCATED to
    * their first `cap` ids.
    *
    * The cap is the hot-bucket skew guard every LSH path carries: an
    * uncapped bucket is |bucket|² candidate pairs — the classic
    * skewed-key scale-killer at 100 TB. Truncation (not dropping) keeps
    * recall on giant exact-duplicate clusters (boilerplate pages
    * collapsing onto one signature are the highest-value dedup targets):
    * the first `cap` sorted members still pair with each other, so the
    * cluster is flagged and transitively collapsible, at ≤ cap²/2 cost.
    * The cap is applied by a `row_number` window over the SAME
    * partitioning the groupBy needs — Spark reuses the exchange, and the
    * collect_list buffer is bounded at `cap` ids instead of materializing
    * the full hot bucket before slicing.
    */
  private[llm] def cappedBuckets(tagged: DataFrame, keys: Seq[String],
      idCol: String, cap: Int): DataFrame = {
    require(cap >= 2,
      s"bucket cap must be >= 2 (got $cap) — a smaller cap silently yields no pairs")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    tagged
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= cap)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) >= 2)
  }

  // ---------------- shingling + MinHash ----------------

  /** Distinct word n-gram shingles of a text column (pure column algebra:
    * split → sliding windows via transform over an index sequence).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val words = TextStats.tokens(text)
    if (n == 1) return array_distinct(words) // no window building needed
    val count = size(words) - (n - 1)
    // sequence(1, 0) would descend; guard short texts to an empty set
    when(count < 1, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), count),
        i => concat_ws(" ", slice(words, i, lit(n))))))
  }

  /** Deterministic 64-bit mixing constants (splitmix64 stream). */
  private[llm] def mixConstants(n: Int): IndexedSeq[Long] = {
    var x = 0x9E3779B97F4A7C15L
    (0 until n).map { _ =>
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  /** MinHash signature. Shingles are hashed ONCE (xxhash64), then each of
    * the `numHashes` functions is an XOR permutation of that base hash —
    * so signature cost is one string hash + numHashes long ops per
    * shingle, not numHashes string hashes (the difference is ~50× wall
    * clock at corpus scale). XOR by a fixed constant is a bijection on
    * Int64, which is all MinHash needs from its hash family.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(transform(shingles, s => xxhash64(s)), numHashes)

  /** Same, over an already-hashed shingle column. IMPORTANT: pass a bound
    * attribute (a real column), not an expression — each per-function
    * array_min references the input, and an inline expression would be
    * re-evaluated numHashes times (no CSE across lambda bodies).
    */
  def minhashSignatureFromHashes(shingleHashes: Column, numHashes: Int): Column = {
    val mixes = mixConstants(numHashes)
    array((0 until numHashes).map { i =>
      array_min(transform(shingleHashes, h => h.bitwiseXOR(lit(mixes(i)))))
    }: _*)
  }

  /** LSH band keys: the signature split into `bands` rows-per-band chunks,
    * each hashed to one bucket key. Equal band key ⇒ candidate pair.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), slice(signature, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Candidate near-dup pairs (idA < idB) via MinHash LSH, verified with
    * exact shingle Jaccard ≥ `threshold`.
    *
    * One explode + one shuffle on band keys; bucket self-join only.
    */
  /** JVM fast path for the per-document LSH prepare stage: shingle set +
    * band keys in one primitive-typed pass. Spark's higher-order array
    * functions (transform/aggregate) evaluate interpreted — for a
    * ~200-shingle document the column-algebra version costs ~1 ms/doc vs
    * ~10 µs here. Semantics identical: \\s+ word split, space-joined
    * n-grams, distinct, xxhash64(seed 42), XOR-permutation minima, band
    * keys folded with the band index as seed chain.
    */
  /** JVM kernel: the distinct word-n-gram shingle set (empty when the doc
    * has fewer than n words).
    */
  private[graft] def shingleSet(text: String, n: Int): Array[String] = {
    val words =
      if (text == null || text.trim.isEmpty) Array.empty[String]
      else text.trim.split("\\s+")
    if (words.length < n) Array.empty[String]
    else {
      val set = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n <= words.length) {
        val sb = new java.lang.StringBuilder(words(i))
        var j = 1
        while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
        set += sb.toString
        i += 1
      }
      set.toArray
    }
  }

  /** JVM kernel: MinHash signature + LSH band keys for one document; None
    * for docs too short to shingle. Shared by the batch UDFs and the
    * streaming dedup state operator so both paths hash identically.
    */
  private[graft] def signatureAndBandKeys(text: String, n: Int, numHashes: Int,
      bands: Int): Option[(Array[Long], Array[Long])] = {
    val shingles = shingleSet(text, n)
    if (shingles.isEmpty) None
    else Some(signatureAndBandKeysFromShingles(shingles, numHashes, bands))
  }

  private[graft] def signatureAndBandKeysFromShingles(shingles: Array[String],
      numHashes: Int, bands: Int): (Array[Long], Array[Long]) = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val mixes = mixConstants(numHashes).toArray
    val rowsPerBand = numHashes / bands
    val hashes = shingles.map(s => XXH64.hashUTF8String(UTF8String.fromString(s), 42L))
    val sig = Array.tabulate(numHashes) { k =>
      var m = Long.MaxValue
      var h = 0
      while (h < hashes.length) {
        val v = hashes(h) ^ mixes(k)
        if (v < m) m = v
        h += 1
      }
      m
    }
    val keys = Array.tabulate(bands) { b =>
      var acc = 42L
      acc = XXH64.hashInt(b, acc)
      var j = 0
      while (j < rowsPerBand) { acc = XXH64.hashLong(sig(b * rowsPerBand + j), acc); j += 1 }
      acc
    }
    (sig, keys)
  }

  private def shingleBandsUdf(n: Int, numHashes: Int, bands: Int) =
    udf { (text: String) =>
      val shingles = shingleSet(text, n)
      if (shingles.isEmpty) None
      else {
        val (_, keys) = signatureAndBandKeysFromShingles(shingles, numHashes, bands)
        Some((shingles, keys))
      }
    }

  /** Shingle-set-only kernel (same word split / n-gram / distinct
    * semantics as [[shingleBandsUdf]], minus the MinHash work) — the verify
    * joins need shingles but not signatures, so recomputing via this
    * lighter pass skips the per-shingle hashing entirely.
    */
  private def shinglesUdf(n: Int) = udf { (text: String) =>
    val s = shingleSet(text, n)
    if (s.isEmpty) None else Some(s)
  }

  /** Corpus passes are bounded and slim by construction (no persist — a
    * cache here would leak into the caller's session):
    *
    *  1. ONE full shingle+MinHash pass feeds candidate generation. Buckets
    *     are built by groupBy + collect_list over (band, id) pairs —
    *     grouping instead of a bucket self-join means the prepare lineage
    *     is scanned once, not once per join side — and pairs explode from
    *     the sorted id array with plain column algebra.
    *  2. TWO light shingle-only passes (no hashing) feed the verify joins.
    *
    * (Round-1 shape recomputed the full prepare 4×: both self-join sides
    * plus both verify sides.)
    *
    * Session requirement: the shingle+MinHash kernel runs once per
    * corpus row only when the session excludes `InferFiltersFromGenerate`
    * ([[graft.SessionTuning.ExcludedRules]] in
    * `spark.sql.optimizer.excludedRules`, as every entry point of this
    * repo sets it). Under a default session that rule infers a
    * `size(...) > 0` filter from the `posexplode` over the kernel's
    * output and evaluates the kernel a second time below it — the same
    * pairs, at up to twice the candidate-pass cost. The same holds for
    * the `explode(array(jaccard(...)))` barrier of
    * [[minhashNearDupJoin]].
    */
  def minhashNearDupPairs(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 200): DataFrame = {
    val bandsOnly = shingleBandsUdf(shingleSize, numHashes, bands)(text).as("sb")
    // candidate generation shuffles (band, id) pairs only — shingle arrays
    // never enter the LSH shuffle. NO isNotNull filter on the UDF output:
    // posexplode drops null-struct rows (short docs) by generator
    // semantics anyway, and a filter referencing the UDF column gets
    // pushed below the projection and re-evaluates the whole
    // shingle+MinHash kernel per corpus row (guide §4.4 duplication,
    // round 15 — plan-verified two ScalaUDF sites before the fix)
    val exploded = df.select(id.as("id"), bandsOnly)
      .select(col("id"), posexplode(col("sb._2")).as(Seq("band_idx", "band_key")))
    // skew guard: degenerate signatures (boilerplate/near-empty docs) can
    // produce quadratic hot buckets; truncate oversized buckets to their
    // first `maxBucketSize` sorted members (see [[cappedBuckets]] — recall
    // on giant duplicate clusters survives, cost stays bounded)
    val buckets = cappedBuckets(exploded, Seq("band_idx", "band_key"), "id",
      maxBucketSize)
    // all (i < j) pairs of the sorted bucket: explode each member, then
    // explode the ids after it — worst case maxBucketSize² rows per
    // bucket, bounded by the cap
    val candidates = buckets
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify candidates against exact shingle Jaccard. ONE shingle pass and
    // ONE join: each pair explodes to its two member ids, the shingle table
    // joins once by id (AQE broadcasts the candidate side when it is
    // small), and the pair reassembles by grouping — vs joining separate
    // A/B shingle projections, which would scan AND shuffle the shingled
    // corpus twice
    // no isNotNull filter on the UDF column (§4.4: it would re-evaluate
    // the shingle kernel per corpus row below the pushed filter); short
    // docs carry a null sh but can never match a candidate id (candidates
    // come from banded = shingled docs), so the inner join excludes them
    val sh = shinglesUdf(shingleSize)(text).as("sh")
    val shingled = df.select(id.as("id"), sh)
    val sides = candidates.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("id"))
    // jaccard computed INSIDE the aggregate's result projection (round
    // 15): the threshold filter then references the Aggregate's output
    // attribute, which Catalyst cannot push below a non-grouping column
    // — ONE evaluation of the set arithmetic per pair, where the r13
    // shape evaluated the jaccard UDF in both the pushed filter and the
    // output projection. The set ops are the codegen'd array built-ins
    // ([[jaccard]]); on distinct shingle arrays they compute the exact
    // integer intersection/union sizes the old Set-based UDF did, so the
    // double (and its 6-dp rounding) is bit-identical.
    val shA = first(when(col("id") === col("id_a"), col("sh")),
      ignoreNulls = true)
    val shB = first(when(col("id") === col("id_b"), col("sh")),
      ignoreNulls = true)
    sides.join(shingled, "id")
      .groupBy("id_a", "id_b")
      .agg(shA.as("sh_a"), shB.as("sh_b"), jaccard(shA, shB).as("jaccard"))
      .where(col("sh_a").isNotNull && col("sh_b").isNotNull &&
        col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cross-snapshot near-dup JOIN: MinHash-LSH candidates between a NEW
    * batch and an EXISTING corpus, verified by exact shingle Jaccard —
    * the incremental complement of [[minhashNearDupPairs]] (and the
    * near-dup complement of the Bloom-gated EXACT path in
    * [[Incremental]]): a crawl pipeline dedups each incoming batch
    * against the accumulated corpus without ever forming old×old pairs.
    *
    * Scale shape: each side contributes only (band_idx, band_key, id)
    * triples to the candidate shuffle — the new side is typically ≪ the
    * old side, and the band join touches only keys present on BOTH
    * sides, so cost tracks the batch, not the corpus. Each side's bucket
    * membership is truncated to its first `maxBucketSize` sorted ids
    * (the shared hot-bucket discipline, applied per side BEFORE the join
    * so a degenerate band key costs ≤ cap² candidate rows, never
    * |new|·|old|). Verify joins each side's light shingle pass by id.
    * At 100 TB the old side's band tags are a one-off artifact worth
    * persisting bucketed by (band_idx, band_key) — then each batch join
    * is shuffle-free on the corpus side.
    */
  def minhashNearDupJoin(
      newDf: DataFrame, newId: Column, newText: Column,
      oldDf: DataFrame, oldId: Column, oldText: Column,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 200): DataFrame = {
    require(maxBucketSize >= 1,
      s"maxBucketSize must be >= 1 (got $maxBucketSize)")
    def sideTags(df: DataFrame, id: Column, text: Column, idName: String) = {
      // no isNotNull filter on the UDF output (§4.4 — a pushed filter
      // re-evaluates the shingle+MinHash kernel per row); posexplode
      // drops the null-struct short-doc rows by generator semantics
      val tagged = df
        .select(id.as(idName),
          shingleBandsUdf(shingleSize, numHashes, bands)(text).as("sb"))
        .select(col(idName),
          posexplode(col("sb._2")).as(Seq("band_idx", "band_key")))
      val w = Window.partitionBy("band_idx", "band_key").orderBy(col(idName))
      tagged.withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= maxBucketSize)
        .drop("_rn")
    }
    val candidates = sideTags(newDf, newId, newText, "id_new")
      .join(sideTags(oldDf, oldId, oldText, "id_old"),
        Seq("band_idx", "band_key"))
      .select("id_new", "id_old")
      .dropDuplicates("id_new", "id_old")
    // no isNotNull filters on the UDF columns (§4.4 — each pushed filter
    // re-evaluated the shingle kernel per corpus row); null-sh short docs
    // can never match a candidate id (candidates come from banded docs,
    // and banded ⟺ shingled), so the inner joins exclude them unchanged
    val shNew = newDf.select(newId.as("id_new"),
      shinglesUdf(shingleSize)(newText).as("sh_new"))
    val shOld = oldDf.select(oldId.as("id_old"),
      shinglesUdf(shingleSize)(oldText).as("sh_old"))
    // jaccard behind a one-element generate (round 15): the threshold
    // filter cannot push through a generator's output attribute, so the
    // set arithmetic runs ONCE per candidate pair — the r13 shape pushed
    // `jaccardUdf(...) >= threshold` into the join while ALSO computing
    // the UDF in the output projection (two evaluations per pair). The
    // codegen'd [[jaccard]] built-in computes the same integer set sizes
    // as the old Set-based UDF on these distinct arrays — bit-identical
    // doubles and 6-dp rounding.
    candidates
      .join(shNew, "id_new")
      .join(shOld, "id_old")
      .select(col("id_new"), col("id_old"),
        explode(array(jaccard(col("sh_new"), col("sh_old")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard between two shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0d).otherwise(
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))

  /** Drop every document that has a verified near-dup with a smaller id
    * (greedy keep-first; transitive chains collapse toward the smallest id
    * in practice — the standard single-pass approximation).
    */
  def dedupByPairs(df: DataFrame, id: Column, pairs: DataFrame): DataFrame = {
    val losers = pairs.select(col("id_b").as("_loser")).distinct()
    df.join(losers, id === col("_loser"), "left_anti")
  }

  /** Canonical-representative selection: for each dedup component, the
    * member with the highest score (ties → smallest id) plus the member
    * count — the "which copy do we KEEP" half of dedup that min-id
    * collapse skips (a real pipeline keeps the highest-QUALITY copy, not
    * the oldest). `components` is (id, comp) as produced by
    * [[connectedComponents]]; `scored` is (id, score) with score already
    * rounded to a fixed dp grid (cross-engine argmax discipline — see
    * [[graft.llm.Similarity.assignClusters]]).
    *
    * One shuffle (the groupBy on comp); the argmax is a struct-max
    * aggregate — (score, -id) lexicographic max picks highest score then
    * smallest id deterministically, with no per-group window or sort.
    */
  def canonicalPick(components: DataFrame, scored: DataFrame): DataFrame =
    components.join(scored, "id")
      .groupBy(col("comp").as("component"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("score"), (-col("id")).as("_nid"))).as("_best"))
      .select(col("component"),
        (-col("_best._nid")).as("canonical_id"),
        col("_best.score").as("score"),
        col("n_members"))

  /** Connected components over an undirected pair set (`id_a`, `id_b`):
    * every node is labeled with the smallest id reachable through the
    * pair graph — the exact dedup-group collapse (greedy keep-first can
    * split long transitive chains; components never do).
    *
    * Iterative min-label propagation with pointer jumping: each round
    * takes the min label over the neighborhood, then path-halves
    * (`comp := label(comp)`), so convergence is O(log diameter) rounds —
    * a 1000-link chain settles in ~10 rounds, not 1000. Each round's
    * result is `localCheckpoint`ed to truncate the exponentially-growing
    * lineage — call-scoped, no cache leak into the caller's session
    * beyond GC.
    *
    * Returns (id, component) for every node appearing in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // undirected edge list, both directions
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(false)
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(false)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // smallest label among self + neighbors
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("comp"))
      val propagated = labels.select(col("id"), col("comp"))
        .union(viaNeighbors)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint(false)
      // convergence = no label changed this round, counted exactly with a
      // keyed join against the previous labels. (A decimal label-sum is
      // cheaper but silently null-casts non-numeric ids — string-keyed
      // graphs would "converge" after one round and under-merge long
      // chains.) The count doubles as the action that materializes the
      // checkpoint, so the pointer-jump self-join below reads the cache
      // twice instead of recomputing the propagation.
      val changed = propagated
        .join(labels.select(col("id"), col("comp").as("_prev")), Seq("id"))
        .where(col("comp") =!= col("_prev"))
        .count()
      // pointer jump: follow my label to ITS label (labels are node ids,
      // so the lookup is a self-join); halves remaining path length
      labels = propagated.as("x")
        .join(propagated.select(col("id").as("comp"), col("comp").as("_c2")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("_c2"), col("comp")).as("comp"))
      converged = changed == 0
      iter += 1
    }
    labels
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash over word hashes: per bit, sum +1/-1 votes across
    * words, take the sign.
    *
    * The word hashes come from codegen'd xxhash64; the 64-bit vote fold is
    * a scalar UDF — a single primitive-typed pass per document, which
    * beats the pure-column alternative (64 separate array aggregates) by
    * an order of magnitude at corpus scale while staying a narrow,
    * deterministic map.
    */
  private val simhashFold = udf { (words: Seq[String]) =>
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val votes = Array.ofDim[Int](64)
    words.foreach { w =>
      // same hash as functions.xxhash64 (seed 42)
      val h = XXH64.hashUTF8String(UTF8String.fromString(w), 42L)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  /** Duplicated-content fraction per document — the MassiveText/RefinedWeb
    * quality signal "what share of this document's n-grams also appear in
    * OTHER documents": near-1.0 marks boilerplate and template spam that
    * pairwise dedup keeps (every copy differs somewhere) but a corpus-level
    * frequency view catches.
    *
    * Per document: the distinct word `n`-grams (the [[shingleSet]] kernel),
    * and the fraction of them whose corpus document-frequency is ≥ 2.
    * Gram-less documents (< n tokens) report (0, 0.0).
    *
    * Scale shape: grams shuffle as (xxhash64, id) PAIRS — never strings
    * (the exact-dedup digest discipline; at ~10¹² corpus grams the 64-bit
    * birthday risk is a single coalesced gram pair, which moves one
    * document's fraction by 1/|grams| — accepted and documented, the
    * string-keyed variant costs ~10× shuffle volume). Three keyed stages:
    * df per gram (map-side partial agg), hits join on the gram hash
    * (co-partitioned with the df shuffle), per-doc count — all bounded,
    * no window, no skew hotspot (a gram shared by every document still
    * aggregates to ONE df row; the join fan-out is per-doc gram count,
    * not df).
    */
  def dupShingleFraction(docs: DataFrame, id: Column, text: Column,
      n: Int = 4): DataFrame = {
    val grams = docs
      .select(id.as("id"), explode(shinglesUdf(n)(text)).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("h"))
    val df = grams.groupBy("h").agg(count(lit(1)).as("df"))
    val perDoc = grams.join(df, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("df") >= 2).cast("long")).as("n_dup"))
    docs.select(id.as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(coalesce(col("n_dup").cast("double") / col("n_grams"), lit(0.0)), 6)
          .as("dup_frac"))
  }

  /** Exact shared-span detection: document pairs sharing at least one
    * verbatim run of `n` consecutive tokens, with the count of distinct
    * shared spans — the exact-substring-overlap signal (the "50-token
    * verbatim match" dedup rule of large-corpus training-data hygiene)
    * that sketch-based near-dup misses when the overlap is a small part
    * of each document (quotations, syndicated passages, license blocks).
    *
    * Scale shape: per-doc DISTINCT n-gram spans ([[shingleSet]]) shuffle
    * as (xxhash64, id) pairs; spans are grouped once and pairs emitted by
    * the sorted collect_list + slice-explosion kernel (the MinHash-LSH
    * bucket shape) — no self-join. Spans shared by more than `maxDf`
    * documents are boilerplate, not plagiarism: they are dropped BEFORE
    * pair explosion, making the per-span fan-out ≤ C(maxDf, 2) and the
    * whole pass quadratic-free. The final per-pair count is one slim
    * (id_a, id_b) aggregate.
    */
  def sharedSpanPairs(docs: DataFrame, id: Column, text: Column,
      n: Int = 8, maxDf: Int = 50): DataFrame = {
    require(n >= 2, s"sharedSpanPairs: span length must be >= 2 (got $n)")
    require(maxDf >= 2, s"sharedSpanPairs: maxDf must be >= 2 (got $maxDf)")
    val grams = docs
      .select(id.as("id"), explode(shinglesUdf(n)(text)).as("gram"))
      .select(xxhash64(col("gram")).as("h"), col("id"))
    val buckets = grams.groupBy("h")
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, maxDf))
    buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_spans"))
  }

  def simhash(text: Column): Column = simhashFold(TextStats.tokens(text))

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on 4 16-bit chunks (a pair within
    * Hamming distance ≤ 3 of 64 bits must agree on at least one chunk),
    * verify with bit_count.
    *
    * `maxBucketSize` is the shared hot-bucket discipline
    * ([[cappedBuckets]]): a chunk value hit by a giant identical-content
    * cluster (every member has the SAME signature, so all 4 chunks
    * collide) would otherwise explode |bucket|² candidate pairs;
    * truncation to the first cap sorted members keeps the cluster
    * flagged at ≤ cap²/2 cost. Residual scale note: 16-bit chunks give
    * 4·n²/2^16 RANDOM collisions — negligible at bench scales but a real
    * term at 10⁸+ docs; the production answer is blocking on chunk PAIRS
    * (6 combos of 32 bits, Hamming ≤ 2 guarantee) which drops the random
    * floor to n²/2^32, not raising the cap.
    */
  def simhashNearDupPairs(df: DataFrame, id: Column, text: Column,
                          maxHamming: Int = 3,
                          maxBucketSize: Int = 200): DataFrame = {
    // bucket membership via groupBy + pair explosion (same shape as the
    // MinHash path): the signature pass runs ONCE — a bucket self-join
    // would recompute the per-document SimHash fold on both sides
    val sigs = df.select(id.as("id"), simhash(text).as("sig"))
    val chunks = sigs.select(
      struct(col("id"), col("sig")).as("m"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sig"), i * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk_idx", "chunk")))
    // struct members sort by (id, sig); id is unique, so truncation keeps
    // the smallest-id members deterministically
    val buckets = cappedBuckets(chunks, Seq("chunk_idx", "chunk"), "m", maxBucketSize)
      .withColumnRenamed("ids", "ms")
    buckets
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
      .select(col("a.id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.id").as("id_b"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hammingDistance(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---------------- corpus overlap ----------------

  /** Pairwise corpus overlap between groups (sources, snapshots, domains):
    * for every group pair, the number of distinct word `n`-gram shingles
    * they share and the Jaccard of their shingle sets — the signal behind
    * mixture design ("how much of src_b is already in src_a?") and
    * provenance auditing (two crawls of the same site show near-1 overlap).
    *
    * Scale shape: shingles are hashed to 64 bits immediately (collision
    * odds are negligible below ~10⁹ distinct grams per the birthday bound,
    * same discipline as [[dupShingleFraction]]), so the one corpus-wide
    * shuffle carries slim (long, partial set) rows, never gram strings.
    * ONE pass groups by shingle hash into `collect_set(group)` — the
    * aggregation state is bounded by the GROUP COUNT, not by how many
    * documents repeat the gram, and partial aggregation collapses hot
    * grams map-side, so corpus volume cannot create a hot key. Ordered
    * pairs then explode from each sorted set (fan-out ≤ groups²/2 per
    * gram — the output dimension the caller chose).
    *
    * Per-group totals are a groups-sized table, so they are computed once
    * and COLLECTED (the centroids/percentile house pattern: S rows reach
    * the driver, never corpus rows), then re-joined as a local relation.
    * Deriving them lazily from a shared plan branch would recompute the
    * whole shingle pass per branch: `collect_set` is non-deterministic to
    * Catalyst, which blocks exchange reuse across branches.
    */
  def sourceOverlap(docs: DataFrame, group: Column, text: Column,
      n: Int = 4): DataFrame = {
    val grams = docs
      .select(group.as("src"), explode(shinglesUdf(n)(text)).as("gram"))
      .select(col("src"), xxhash64(col("gram")).as("h"))
    val countsBig = grams.distinct()
      .groupBy("src").agg(count(lit(1)).as("n_grams"))
    val counts = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(countsBig.collect(): _*), countsBig.schema)
    val pairs = grams
      .groupBy("h").agg(sort_array(collect_set(col("src"))).as("srcs"))
      .where(size(col("srcs")) >= 2)
      .select(col("srcs"), posexplode(col("srcs")).as(Seq("i", "src_a")))
      .select(col("src_a"),
        explode(slice(col("srcs"), col("i") + lit(2), size(col("srcs"))))
          .as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(counts.select(col("src").as("src_a"),
        col("n_grams").as("n_a"))), "src_a")
      .join(broadcast(counts.select(col("src").as("src_b"),
        col("n_grams").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("shared"),
        round(col("shared").cast("double")
          / (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
  }
}
