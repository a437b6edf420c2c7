package perfbench

import java.io.File

import graft.geo.Bbox
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.Random

/** A benchmark workload: `setup` generates the inputs from the seed,
  * builds the stores and warms every timed operation once; `step` is one
  * closed-loop step of the timed phase; `finish` runs the checks that
  * cover the whole timed phase. `sizes`, `figures` and `store` are
  * reported with the result. */
trait Workload {
  def setup(h: Harness): Unit
  def step(h: Harness): Unit
  def finish(h: Harness): Unit = ()
  def sizes: Seq[(String, Double)]
  /** Workload-level figures (throughputs, amplification) over the timed phase. */
  def figures: Seq[(String, Double)]
  /** Store state from a file listing taken outside the engine. */
  def store: Seq[(String, Double)]
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: File, seed: Long, smoke: Boolean): Workload =
    name match {
      case "geo" => new GeoWorkload(spark, dir, seed, smoke)
      case "serve" => new ServeWorkload(spark, dir, seed, smoke)
      case "maintain" => new MaintainWorkload(spark, dir, seed, smoke)
      case "curate" => new CurateWorkload(spark, dir, seed, smoke)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
}

// ---------------------------------------------------------------- geo

/** Convert → ten bbox extracts with a describe after every second → validate, repeated. */
final class GeoWorkload(spark: SparkSession, dir: File, seed: Long, smoke: Boolean) extends Workload {
  private val rows = if (smoke) 3000 else 20000
  private val rowGroupRows = if (smoke) 500 else 1000
  private val extractsPerRound = 10
  private val input = new File(dir, "features.ndgeojson")
  private val gpq = new File(dir, "features.parquet")
  private var geo: Gen.Geo = _
  private var queries: IndexedSeq[(Bbox, Int)] = _
  private var next = 0

  def setup(h: Harness): Unit = {
    val rng = new Random(seed)
    geo = Gen.geo(rng, rows, clusters = 24, input)
    queries = Gen.geoQueries(rng, geo, 240).map(q => q -> Gen.expectedHits(geo, q)).toIndexedSeq
    convert(h)
    extract(h)
    describe(h)
    validate(h)
  }

  private def convert(h: Harness): Unit =
    h.run("operators.convert")(Operators.convert(spark, input.getPath, gpq.getPath, rowGroupRows))

  private def extract(h: Harness): Unit = {
    val (box, expected) = queries(next % queries.length)
    next += 1
    val got = h.rows("operators.extract")(Operators.extract(spark, gpq.getPath, box))
    h.check(s"extract $box returned ${got.length} rows, generator expects $expected")(got.length == expected)
  }

  private def describe(h: Harness): Unit = {
    val d = h.run("operators.describe")(Operators.describe(spark, gpq.getPath))
    val e = geo.extent
    h.check(s"describe rows ${d.rows} != $rows")(d.rows == rows)
    h.check(s"describe bbox ${d.bbox} != $e")(
      d.bbox.length == 4 && d.bbox.zip(e.toSeq).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  private def validate(h: Harness): Unit = {
    val failedRules = h.run("operators.validate")(Operators.validate(spark, gpq.getPath))
    h.check(s"validate failed: ${failedRules.mkString("; ")}")(failedRules.isEmpty)
  }

  def step(h: Harness): Unit = {
    convert(h)
    for (i <- 1 to extractsPerRound) {
      extract(h)
      if (i % 2 == 0) describe(h)
    }
    validate(h)
  }

  def sizes: Seq[(String, Double)] = Seq(
    "features" -> rows, "points" -> geo.points, "polygons" -> geo.polygons,
    "input_bytes" -> geo.bytes, "row_group_rows" -> rowGroupRows,
    "distinct_queries" -> queries.length,
    "query_hits_median" -> Workload.median(queries.map(_._2.toDouble)))

  /** Every convert rewrites the whole store. */
  def figures: Seq[(String, Double)] = Seq("write_amp" -> Harness.bytes(gpq).toDouble / geo.bytes)

  def store: Seq[(String, Double)] = Seq(
    "operators.gpq.row_groups" -> Harness.rowGroups(gpq).toDouble,
    "operators.gpq.bytes" -> Harness.bytes(gpq).toDouble)
}

// ---------------------------------------------------------------- text corpora

/** A seeded text + embedding corpus shared by serve and maintain. */
final class Corpus(rng: Random, val vocabSize: Int, val docs: Int, dim: Int) {
  val vocab = new Gen.Vocab(rng, vocabSize)
  val embedder = new Gen.Embedder(rng, topics = 24, dim)
  private var nextId = 0L
  def doc(r: Random): Gen.Doc = { nextId += 1; Gen.Doc(nextId, vocab.text(r, 40, 80)) }
  val initial: IndexedSeq[Gen.Doc] = IndexedSeq.fill(docs)(doc(rng))
  /** 1–3 query terms drawn from the Zipf vocabulary: head and tail terms. */
  def terms(r: Random): Seq[String] = Seq.fill(1 + r.nextInt(3))(vocab.words(vocab.draw(r))).distinct
}

// ---------------------------------------------------------------- serve

/** Read-only serving: a seeded mix of BM25, ANN and hybrid requests. */
final class ServeWorkload(spark: SparkSession, dir: File, seed: Long, smoke: Boolean) extends Workload {
  private val nDocs = if (smoke) 2000 else 5000
  private val dim = 32
  /** BM25 requests checked against brute force, from the start of each phase. */
  private val sampleChecks = 4
  private val lex = new File(dir, "lexical")
  private val vec = new File(dir, "vectors")
  private var corpus: Corpus = _
  private var vectors: Map[Long, Array[Double]] = _
  private var quant: Llm.Quantizer = _
  private var requests: IndexedSeq[(Seq[String], Array[Double])] = _
  private var inputBytes = 0L
  private var next = 0
  private var bm25Checked = 0
  private val recalls = mutable.ArrayBuffer[Double]()

  def setup(h: Harness): Unit = {
    val rng = new Random(seed)
    corpus = new Corpus(rng, vocabSize = 20000, nDocs, dim)
    val embs = corpus.initial.map(d => d.id -> corpus.embedder.vector(rng))
    vectors = embs.map { case (id, v) => id -> Gen.parsed(v) }.toMap
    val file = new File(dir, "corpus.ndjson")
    inputBytes = Gen.writeLines(file)(emit =>
      corpus.initial.zip(embs).foreach { case (d, (_, v)) => emit(Gen.docLine(d, s""","embedding":${Gen.floats(v)}""")) })
    val docs = spark.read.schema(Workload.DocSchema.add("embedding", ArrayType(FloatType))).json(file.getPath)
    // the corpus is one input split, so the write leaves one file per
    // bucket and no tombstones: the compacted layout, without a compact
    Llm.indexWrite(docs.select("doc_id", "text"), lex.getPath)
    quant = Llm.vectorIndexWrite(docs.select("doc_id", "embedding"), vec.getPath)
    requests = IndexedSeq.fill(300) {
      val base = vectors(corpus.initial(rng.nextInt(nDocs)).id)
      (corpus.terms(rng), base.map(_ + rng.nextGaussian() * 0.1))
    }
    for (_ <- 0 until 3) step(h)
    next = 0
    bm25Checked = 0
    recalls.clear()
  }

  /** ANN quality is judged as IVF indexes are: by mean recall over the
    * requests, since a single query near a cell boundary can lose
    * neighbours to unprobed cells. */
  override def finish(h: Harness): Unit = {
    val mean = recalls.sum / recalls.length
    h.check(s"ann mean recall@${Llm.TopK} $mean over ${recalls.length} requests below floor ${ServeWorkload.RecallFloor}")(
      mean >= ServeWorkload.RecallFloor)
  }

  def step(h: Harness): Unit = {
    val (terms, q) = requests(next % requests.length)
    next match {
      case n if n % 3 == 0 =>
        val got = h.rows("llm.bm25")(Llm.bm25(spark, lex.getPath, terms))
          .map(r => (r.getAs[Number]("id").longValue(), r.getAs[Double]("score")))
        bm25Checked += 1
        if (bm25Checked <= sampleChecks) {
          val want = Gen.bm25(corpus.initial, terms, Llm.TopK)
          h.check(s"bm25 $terms: engine ${got.toSeq} != brute force $want")(
            got.length == want.length &&
              got.zip(want).forall { case ((_, a), (_, b)) => math.abs(a - b) <= 1e-4 } &&
              got.forall { case (id, s) => want.exists(w => w._1 == id) || math.abs(s - want.last._2) <= 1e-4 })
        }
      case n if n % 3 == 1 =>
        val got = h.rows("llm.ann")(Llm.ann(spark, vec.getPath, quant, q)).map(_.getAs[Number]("id").longValue())
        val exact = vectors.toSeq.map { case (id, v) =>
          id -> v.indices.map(j => (v(j) - q(j)) * (v(j) - q(j))).sum
        }.sortBy(_.swap).take(Llm.TopK).map(_._1).toSet
        recalls += got.count(exact.contains).toDouble / Llm.TopK
      case _ =>
        val got = h.rows("llm.hybrid")(Llm.hybrid(spark, lex.getPath, vec.getPath, quant, terms, q))
        h.check(s"hybrid returned ${got.length} rows")(got.nonEmpty && got.length <= 2 * Llm.TopK)
    }
    next += 1
  }

  def sizes: Seq[(String, Double)] = Seq("docs" -> nDocs, "vocab" -> corpus.vocabSize,
    "dim" -> dim, "input_bytes" -> inputBytes, "distinct_requests" -> requests.length)

  def figures: Seq[(String, Double)] =
    Seq("ann_recall_mean" -> recalls.sum / recalls.length, "ann_recall_min" -> recalls.min)

  def store: Seq[(String, Double)] = MaintainWorkload.indexListing(lex) :+
    ("llm.vectors.bytes" -> Harness.bytes(vec).toDouble)
}

object ServeWorkload {
  /** The ANN requests of a run must find at least this share of their
    * exact top-k, on average. */
  val RecallFloor = 0.8
}

// ---------------------------------------------------------------- maintain

/** Index maintenance: per round an upsert batch (new ids and
  * replacements), a delete batch and a few BM25 reads; compact every
  * `compactEvery` rounds, starting with the warm-up round 0. */
final class MaintainWorkload(spark: SparkSession, dir: File, seed: Long, smoke: Boolean) extends Workload {
  private val nDocs = if (smoke) 2000 else 8000
  private val batch = if (smoke) 50 else 200
  private val readsPerRound = 3
  private val compactEvery = 2
  private val rounds = 60
  private val index = new File(dir, "index")
  private var corpus: Corpus = _
  /** Per round: feed file, delete file, expected (n_docs, n_tombstoned),
    * live ids. Round 0 is the set-up's warm-up round. */
  private var plan: IndexedSeq[MaintainWorkload.Round] = _
  private var queries: IndexedSeq[Seq[String]] = _
  private var round = 0
  private var reads = 0
  private var submitted = 0L
  private var written = 0L
  private var liveBytes = 0L

  def setup(h: Harness): Unit = {
    val rng = new Random(seed)
    corpus = new Corpus(rng, vocabSize = 20000, nDocs, 32)
    val file = new File(dir, "corpus.ndjson")
    Gen.writeLines(file)(emit => corpus.initial.foreach(d => emit(Gen.docLine(d))))
    plan = MaintainWorkload.plan(corpus, rng, batch, rounds, compactEvery, new File(dir, "feeds"))
    queries = IndexedSeq.fill(200)(corpus.terms(rng))
    Llm.indexWrite(spark.read.schema(Workload.DocSchema).json(file.getPath), index.getPath)
    // round 0 warms every verb, including compact
    step(h)
  }

  private def writing(h: Harness, op: String, userBytes: Long)(body: => Unit): Unit = {
    val before = Harness.snapshot(index)
    h.run(op)(body)
    val after = Harness.snapshot(index)
    if (h.recording) { written += Harness.written(before, after); submitted += userBytes }
  }

  def step(h: Harness): Unit = {
    require(round < plan.length, "maintain plan exhausted: raise `rounds`")
    val r = plan(round)
    writing(h, "llm.upsert", new File(r.feed).length())(
      Llm.upsert(spark.read.schema(MaintainWorkload.FeedSchema).json(r.feed), index.getPath))
    writing(h, "llm.delete", new File(r.deletes).length())(
      Llm.delete(spark, index.getPath, spark.read.schema(MaintainWorkload.IdSchema).json(r.deletes)))
    for (_ <- 0 until readsPerRound) {
      val terms = queries(reads % queries.length)
      reads += 1
      val ids = h.rows("llm.bm25")(Llm.bm25(spark, index.getPath, terms)).map(_.getAs[Number]("id").longValue())
      val dead = ids.filterNot(r.live.contains)
      h.check(s"bm25 $terms returned deleted ids ${dead.toSeq}")(dead.isEmpty)
    }
    if (r.compact) writing(h, "llm.compact", 0L)(Llm.compact(spark, index.getPath))
    val state = Llm.indexState(spark, index.getPath)
    h.check(s"round $round: describe (n_docs, n_tombstoned) $state, generator expects ${r.expected}")(
      state == r.expected)
    liveBytes = r.liveBytes
    round += 1
  }

  def sizes: Seq[(String, Double)] = Seq("docs" -> nDocs, "vocab" -> corpus.vocabSize,
    "batch" -> batch, "reads_per_round" -> readsPerRound, "compact_every" -> compactEvery)

  def figures: Seq[(String, Double)] = Seq(
    "rounds" -> round,
    "write_amp" -> written.toDouble / math.max(1L, submitted),
    "space_amp" -> Harness.bytes(index).toDouble / liveBytes)

  def store: Seq[(String, Double)] = MaintainWorkload.indexListing(index)
}

object MaintainWorkload {
  val FeedSchema = Workload.DocSchema.add("op", StringType)
  val IdSchema = StructType(Seq(StructField("doc_id", LongType)))

  final case class Round(feed: String, deletes: String, compact: Boolean,
      expected: (Long, Long), live: Set[Long], liveBytes: Long)

  /** Simulates the maintenance stream and writes its files: the live id
    * set, the index's document-version count (what `describe` reports as
    * n_docs until a compact) and its tombstoned-id set after each round. */
  def plan(c: Corpus, rng: Random, batch: Int, rounds: Int, compactEvery: Int,
      dir: File): IndexedSeq[Round] = {
    val live = mutable.LinkedHashMap[Long, Gen.Doc]()
    c.initial.foreach(d => live(d.id) = d)
    var versions = live.size.toLong
    val tombstoned = mutable.Set[Long]()
    (0 until rounds).map { r =>
      val replaced = rng.shuffle(live.keys.toIndexedSeq).take(batch / 2)
      val upserts = replaced.map(id => Gen.Doc(id, c.doc(rng).words)) ++ Seq.fill(batch - batch / 2)(c.doc(rng))
      val feed = new File(dir, s"feed-$r.ndjson")
      Gen.writeLines(feed)(emit => upserts.foreach(d => emit(Gen.docLine(d, ""","op":"upsert""""))))
      upserts.foreach { d => live(d.id) = d; tombstoned += d.id }
      versions += upserts.length
      val deleted = rng.shuffle(live.keys.toIndexedSeq).take(batch / 2)
      val del = new File(dir, s"delete-$r.ndjson")
      Gen.writeLines(del)(emit => deleted.foreach(id => emit(s"""{"doc_id":$id}""")))
      deleted.foreach { id => live.remove(id); tombstoned += id }
      val compact = r % compactEvery == 0
      if (compact) { versions = live.size.toLong; tombstoned.clear() }
      Round(feed.getPath, del.getPath, compact, (versions, tombstoned.size.toLong),
        live.keySet.toSet, live.valuesIterator.map(_.text.length.toLong).sum)
    }
  }

  /** Store state of an inverted index from its file listing: data
    * files per bucket directory and pending tombstone rows. */
  def indexListing(index: File): Seq[(String, Double)] = {
    val buckets = Option(index.listFiles()).toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    val files = buckets.map(b => Harness.parquetFiles(b).length).sum
    Seq(
      "llm.store.files_per_bucket" -> files.toDouble / math.max(1, buckets.length),
      "llm.store.tombstoned_docs" -> Harness.parquetRows(new File(index, "_tombstones")).toDouble,
      "llm.store.bytes" -> Harness.bytes(index).toDouble)
  }
}

// ---------------------------------------------------------------- curate

/** Batch curation, one pass per operation: exact dedup, Gopher quality
  * rules, MinHash near-dup components, KMV/HLL distinct counts per source. */
final class CurateWorkload(spark: SparkSession, dir: File, seed: Long, smoke: Boolean) extends Workload {
  private val base = if (smoke) 600 else 6000
  private val planted = if (smoke) 30 else 300
  private val sources = 4
  private val parquet = new File(dir, "corpus.parquet")
  private var data: Gen.Curated = _
  private var docs: DataFrame = _
  private var words: Map[Long, Int] = _
  private var inputBytes = 0L

  def setup(h: Harness): Unit = {
    val rng = new Random(seed)
    val vocab = new Gen.Vocab(rng, 20000)
    data = Gen.curated(rng, vocab, base, exactClusters = planted, nearClusters = planted, sources)
    words = data.docs.map { case (d, _) => d.id -> d.words.length }.toMap
    val file = new File(dir, "corpus.ndjson")
    inputBytes = Gen.writeLines(file)(emit =>
      data.docs.foreach { case (d, s) => emit(Gen.docLine(d, s""","source":"s$s"""")) })
    spark.read.schema(Workload.DocSchema.add("source", StringType)).json(file.getPath)
      .write.mode("overwrite").parquet(parquet.getPath)
    docs = spark.read.parquet(parquet.getPath)
    step(h)
  }

  def step(h: Harness): Unit = {
    val n = data.docs.length
    val kept = h.rows("llm.dedup")(Llm.dedupExact(docs)).length
    h.check(s"exact dedup kept $kept of $n, planted copies ${data.exactCopies}")(kept == n - data.exactCopies)

    val q = h.rows("llm.quality")(Llm.quality(docs))
    h.check("quality rows")(q.length == n && q.forall(r =>
      r.getAs[Number]("n_words").intValue() == words(r.getAs[Long]("doc_id"))))
    h.check("short documents must fail the Gopher rules")(q.forall(r =>
      r.getAs[Number]("n_words").intValue() >= graft.llm.Gopher.MinWords || r.getAs[Int]("keep") == 0))

    val comp = h.rows("llm.neardup")(Llm.nearDupComponents(docs))
      .map(r => r.getAs[Number]("id").longValue() -> r.getAs[Number]("comp").longValue()).toMap
    val found = data.nearGroups.count(g => g.forall(comp.contains) && g.map(comp).distinct.size == 1)
    val recall = found.toDouble / data.nearGroups.length
    h.check(s"near-dup cluster recall $recall below floor ${CurateWorkload.RecallFloor}")(
      recall >= CurateWorkload.RecallFloor)

    val (kmv, hll) = Llm.sketches(docs)
    val est = h.rows("llm.sketch")(kmv.withColumn("kind", org.apache.spark.sql.functions.lit("kmv"))
      .unionByName(hll.withColumn("kind", org.apache.spark.sql.functions.lit("hll"))))
    h.check("sketch groups")(est.length == 2 * sources)
    est.foreach { r =>
      val src = r.getAs[String]("grp").stripPrefix("s").toInt
      val truth = data.distinctTexts(src).toDouble
      val e = r.getAs[Double]("est_distinct")
      val tol = if (r.getAs[String]("kind") == "kmv") 0.25 else 0.1
      h.check(s"${r.getAs[String]("kind")} estimate $e for source $src, true $truth")(math.abs(e - truth) <= tol * truth)
    }
  }

  def sizes: Seq[(String, Double)] = Seq("docs" -> data.docs.length, "base_docs" -> base,
    "exact_clusters" -> planted, "near_clusters" -> planted, "sources" -> sources,
    "input_bytes" -> inputBytes)

  def figures: Seq[(String, Double)] = Seq()

  def store: Seq[(String, Double)] = Seq("llm.corpus.bytes" -> Harness.bytes(parquet).toDouble)
}

object CurateWorkload {
  /** Share of planted near-duplicate clusters that must land in one component. */
  val RecallFloor = 0.9
}
