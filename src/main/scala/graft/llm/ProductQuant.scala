package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"): split the embedding space into `m`
  * subspaces, train a small k-means codebook per subspace, and represent
  * every vector by its `m` code bytes. Asymmetric distance computation
  * (ADC) then scores a query against the corpus from a precomputed
  * m × k lookup table — the standard memory-compressed ANN path
  * (4 bytes/vector here vs 256 bytes raw for dim-64 float32).
  *
  * Scale design: codebooks are the ONLY driver-side state (m × k ×
  * subdim doubles — [[Cluster]]'s justification verbatim). Training runs
  * ALL subspaces per Lloyd iteration in one distributed pass: assign is
  * a narrow kernel with the codebooks broadcast, the mean update is one
  * posexplode + groupBy((subspace, cid, pos)) with map-side partial
  * aggregation, so the shuffle carries ≤ m·k·subdim rows per partition
  * regardless of corpus size. Encoding + ADC scoring is a single narrow
  * kernel pass (the distance table is m × k broadcast scalars) followed
  * by a TakeOrderedAndProject top-k — no global sort, no vector shuffle.
  *
  * Cross-engine determinism (the q_pq_topk oracle unrolls per-subspace
  * Lloyd's in SQL): [[Cluster]]'s contract — seeds are the raw
  * sub-vectors of the k smallest ids, updated centroid components round
  * to 6 dp, squared distances round to 6 dp before argmin with ties to
  * the lower code, and the ADC sum adds the m rounded subspace distances
  * in subspace order so both engines sum identical doubles identically.
  */
object ProductQuant {

  /** Trained codebooks: cents(j)(c) is the centroid of code c in
    * subspace j (each of length dim/m).
    */
  def fit(df: DataFrame, id: Column, vec: Column, m: Int, k: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val base = df.select(id.as("id"), vec.as("v"))
    val dim = base.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    // seeds: raw sub-vectors of the k smallest ids (float→double exact)
    var cents: Array[Array[Array[Double]]] = {
      val seedRows = base.orderBy("id").limit(k).collect()
        .map(_.getSeq[Float](1).toArray.map(_.toDouble))
      require(seedRows.length == k, s"need >= $k rows to seed $k codes")
      Array.tabulate(m)(j => seedRows.map(_.slice(j * sub, (j + 1) * sub)))
    }

    for (_ <- 1 to iters) {
      val cur = cents
      val assignU = udf { (v: Seq[Float]) =>
        Array.tabulate(m)(j =>
          Cluster.assign(v.slice(j * sub, (j + 1) * sub), cur(j))._1)
      }
      // one distributed pass updates every subspace: global pos → (j =
      // pos/sub, spos = pos%sub), cid = codes[j]; ≤ m·k·sub tiny rows
      val means = base
        .withColumn("codes", assignU(col("v")))
        .select(col("codes"), posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("j", (col("pos") / sub).cast("int"))
        .withColumn("cid", element_at(col("codes"), col("j") + 1))
        .groupBy("j", "cid", "pos")
        .agg(round(avg(col("x").cast("double")), 6).as("mval"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      means.foreach { r =>
        val j = r.getInt(0)
        next(j)(r.getInt(1))(r.getInt(2) - j * sub) = r.getDouble(3)
      }
      cents = next
    }
    cents
  }

  /** 6-dp-rounded squared distance from `q` to each centroid of one
    * codebook — one row of the ADC lookup table.
    */
  private def distTable(q: Array[Double],
      cents: Array[Array[Double]]): Array[Double] =
    cents.map { ct =>
      var d = 0.0
      var i = 0
      while (i < ct.length) { val t = q(i) - ct(i); d += t * t; i += 1 }
      math.floor(d * 1e6 + 0.5) / 1e6
    }

  /** The full m × k ADC lookup table for `query` against `cents` — the
    * per-query constant every ADC serve broadcasts ([[adcFromCodes]]
    * builds it internally; batched serving builds one per query).
    */
  def adcTable(query: Array[Double],
      cents: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val m = cents.length
    val sub = cents(0)(0).length
    require(query.length == m * sub, "query dim mismatch")
    Array.tabulate(m)(j =>
      distTable(query.slice(j * sub, (j + 1) * sub), cents(j)))
  }

  /** The ADC distance of one stored code row: the m rounded table
    * entries summed in subspace order, rounded to 6 dp. The one body of
    * every ADC kernel — the UDFs and the driver-local serve both call
    * it, so the two paths cannot drift.
    */
  def adcOf(table: Array[Array[Double]], codes: collection.Seq[Int]): Double = {
    var adc = 0.0
    var j = 0
    while (j < table.length) { adc += table(j)(codes(j)); j += 1 }
    math.floor(adc * 1e6 + 0.5) / 1e6
  }

  /** The 6-dp-rounded exact squared L2 between `q` and a stored float
    * vector — the one body of every exact re-rank kernel ([[adcOf]]'s
    * discipline).
    */
  def exactD2Of(q: Array[Double], v: collection.Seq[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < q.length) { val t = v(i).toDouble - q(i); d += t * t; i += 1 }
    math.floor(d * 1e6 + 0.5) / 1e6
  }

  /** Exact squared-L2 top-k against `query` — the recall baseline for
    * [[adcTopK]]: same 6-dp distance rounding, same id tie-break, one
    * narrow kernel pass + TakeOrderedAndProject.
    */
  def exactTopK(df: DataFrame, id: Column, vec: Column,
      query: Array[Double], topK: Int): DataFrame = {
    val bcQ = df.sparkSession.sparkContext.broadcast(query)
    val kernel = udf { (v: Seq[Float]) => exactD2Of(bcQ.value, v) }
    df.select(id.as("id"), kernel(vec).as("d2"))
      .orderBy(col("d2"), col("id"))
      .limit(topK)
  }

  /** Per-group mean quantization error: (group as `label`, n, avg_qerr)
    * — the squared-L2 a vector loses when replaced by its codebook
    * reconstruction, the PQ compression-quality metric. Each vector's
    * qerr is the subspace-ordered sum of its 6-dp assign distances (one
    * narrow kernel pass); the aggregation shuffles one scalar per row,
    * partial-aggregated to |groups| rows. avg rounds to 6 dp on both
    * engines ([[Cluster]]'s summation-noise discipline).
    */
  def distortionByGroup(df: DataFrame, group: Column, vec: Column,
      cents: Array[Array[Array[Double]]]): DataFrame = {
    val m = cents.length
    val sub = cents(0)(0).length
    val bcC = df.sparkSession.sparkContext.broadcast(cents)
    val kernel = udf { (v: Seq[Float]) =>
      var qe = 0.0
      var j = 0
      while (j < m) {
        qe += Cluster.assign(v.slice(j * sub, (j + 1) * sub), bcC.value(j))._2
        j += 1
      }
      qe
    }
    df.select(group.as("label"), kernel(vec).as("qe"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg(col("qe")), 6).as("avg_qerr"))
  }

  /** Encode every vector to its m code bytes: (id, codes array<int>) —
    * the persisted column of an IVF-PQ layout, where the serving read
    * touches code bytes only (m bytes/vector vs 4·dim raw). One narrow
    * kernel pass with the codebooks broadcast; no shuffle.
    */
  def encode(df: DataFrame, id: Column, vec: Column,
      cents: Array[Array[Array[Double]]]): DataFrame = {
    val m = cents.length
    val sub = cents(0)(0).length
    val bcC = df.sparkSession.sparkContext.broadcast(cents)
    val kernel = udf { (v: Seq[Float]) =>
      Array.tabulate(m)(j =>
        Cluster.assign(v.slice(j * sub, (j + 1) * sub), bcC.value(j))._1)
    }
    df.select(id.as("id"), kernel(vec).as("codes"))
  }

  /** ADC top-k over STORED code bytes (the [[encode]] output read back
    * from an index layout) — the query never touches a raw vector: the
    * m × k distance table is broadcast scalars, the kernel sums the m
    * rounded entries in subspace order (identical doubles to
    * [[adcTopK]]'s on-the-fly path), TakeOrdered merges per-partition
    * top-ks on the driver.
    */
  def adcFromCodes(df: DataFrame, id: Column, codes: Column,
      cents: Array[Array[Array[Double]]], query: Array[Double],
      topK: Int): DataFrame = {
    val bcT = df.sparkSession.sparkContext.broadcast(adcTable(query, cents))
    val kernel = udf { (cs: Seq[Int]) => adcOf(bcT.value, cs) }
    df.select(id.as("id"), kernel(codes).as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(topK)
  }

  /** Encode every vector and ADC-score it against `query`: (id, codes
    * joined as "c0-c1-…", adc) — adc is the subspace-ordered sum of the
    * rounded table entries, rounded to 6 dp. Top `topK` ascending, id
    * tie-break.
    */
  def adcTopK(df: DataFrame, id: Column, vec: Column,
      cents: Array[Array[Array[Double]]], query: Array[Double],
      topK: Int): DataFrame = {
    val m = cents.length
    val sub = cents(0)(0).length
    require(query.length == m * sub, "query dim mismatch")
    val table: Array[Array[Double]] = Array.tabulate(m)(j =>
      distTable(query.slice(j * sub, (j + 1) * sub), cents(j)))
    val sc = df.sparkSession.sparkContext
    val bcC = sc.broadcast(cents)
    val bcT = sc.broadcast(table)
    val kernel = udf { (v: Seq[Float]) =>
      val codes = new Array[Int](m)
      var adc = 0.0
      var j = 0
      while (j < m) {
        val c = Cluster.assign(v.slice(j * sub, (j + 1) * sub), bcC.value(j))._1
        codes(j) = c
        adc += bcT.value(j)(c)
        j += 1
      }
      (codes.mkString("-"), math.floor(adc * 1e6 + 0.5) / 1e6)
    }
    df.select(id.as("id"), kernel(vec).as("r"))
      .select(col("id"), col("r._1").as("codes"), col("r._2").as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(topK)
  }
}
