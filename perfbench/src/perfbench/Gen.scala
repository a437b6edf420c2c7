package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.Locale

import graft.geo.Bbox

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every generator takes its own `Random`, so
  * the same seed always yields the same files; the engine sees only the
  * files written here.
  */
object Gen {

  def writeLines(file: File)(emit: (String => Unit) => Unit): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try emit(line => { w.write(line); w.write('\n') }) finally w.close()
    file.length()
  }

  /** A coordinate rounded to 6 decimals, with the exact text written. */
  private def coord(v: Double): (Double, String) = {
    val s = String.format(Locale.ROOT, "%.6f", Double.box(v))
    (s.toDouble, s)
  }

  private def quote(s: String): String = "\"" + s + "\""

  // ------------------------------------------------------------ geo

  /** The generated features: one bbox per feature (as the engine's
    * covering column will compute it) and the dataset bbox. */
  final case class Geo(rows: Int, bytes: Long, points: Int, polygons: Int,
      boxes: Array[Bbox], extent: Bbox, centers: Array[(Double, Double)])

  /** Spatially clustered NDGeoJSON: `clusters` gaussian blobs, features
    * written cluster by cluster (so row groups are spatially coherent and
    * bbox extracts can prune them), 70% points and 30% small polygons,
    * with string, integer, floating-point and boolean properties.
    */
  def geo(rng: Random, rows: Int, clusters: Int, file: File): Geo = {
    val centers = Array.fill(clusters)((rng.nextDouble() * 320 - 160, rng.nextDouble() * 140 - 70))
    // cluster spreads stratified over [0.3, 2.8] degrees, so every seed
    // has the same mix of dense and sparse clusters
    val spread = Array.tabulate(clusters)(c => 0.3 + 2.5 * (c + rng.nextDouble()) / clusters)
    val boxes = new Array[Bbox](rows)
    var points = 0
    val bytes = writeLines(file) { emit =>
      var i = 0
      for (c <- 0 until clusters) {
        val n = rows / clusters + (if (c < rows % clusters) 1 else 0)
        for (_ <- 0 until n) {
          val (cx, cy) = centers(c)
          val x = math.max(-179.0, math.min(179.0, cx + rng.nextGaussian() * spread(c)))
          val y = math.max(-89.0, math.min(89.0, cy + rng.nextGaussian() * spread(c)))
          val (geom, box) =
            if (rng.nextDouble() < 0.7) {
              points += 1
              val (px, sx) = coord(x)
              val (py, sy) = coord(y)
              (s"""{"type":"Point","coordinates":[$sx,$sy]}""", Bbox(px, py, px, py))
            } else {
              // counter-clockwise ring of 4–7 vertices around (x, y)
              val k = 4 + rng.nextInt(4)
              val r = 0.005 + rng.nextDouble() * 0.1
              val pts = (0 until k).map { j =>
                val a = 2 * math.Pi * j / k
                (coord(x + r * math.cos(a)), coord(y + r * math.sin(a)))
              }
              val ring = (pts :+ pts.head).map { case ((_, sx), (_, sy)) => s"[$sx,$sy]" }.mkString(",")
              val xs = pts.map(_._1._1)
              val ys = pts.map(_._2._1)
              (s"""{"type":"Polygon","coordinates":[[$ring]]}""", Bbox(xs.min, ys.min, xs.max, ys.max))
            }
          boxes(i) = box
          val props = "{" +
            s""""name":"f$i",""" +
            s""""pop":${rng.nextInt(1000000)},""" +
            s""""score":${String.format(Locale.ROOT, "%.3f", Double.box(rng.nextDouble() * 100 + 0.0005))},""" +
            s""""flag":${rng.nextBoolean()},""" +
            s""""cat":"c${rng.nextInt(12)}"""" + "}"
          emit(s"""{"type":"Feature","properties":$props,"geometry":$geom}""")
          i += 1
        }
      }
    }
    val extent = boxes.reduce(_ expand _)
    Geo(rows, bytes, points, rows - points, boxes, extent, centers)
  }

  /** Bbox queries whose areas span three orders of magnitude (side
    * 10^[-0.5, 1] degrees, stratified so every ten consecutive queries
    * cover the range); most are centred on a cluster so they return rows,
    * the rest fall anywhere. */
  def geoQueries(rng: Random, g: Geo, n: Int): Seq[Bbox] = Seq.tabulate(n) { i =>
    val side = math.pow(10, -0.5 + 1.5 * (i % 10 + rng.nextDouble()) / 10)
    val (cx, cy) =
      if (rng.nextDouble() < 0.8) {
        val (x, y) = g.centers(rng.nextInt(g.centers.length))
        (x + rng.nextGaussian(), y + rng.nextGaussian())
      } else (rng.nextDouble() * 340 - 170, rng.nextDouble() * 160 - 80)
    val x0 = math.max(-179.5, math.min(179.5 - side, cx - side / 2))
    val y0 = math.max(-89.5, math.min(89.5 - side, cy - side / 2))
    Bbox(x0, y0, x0 + side, y0 + side)
  }

  def expectedHits(g: Geo, q: Bbox): Int = g.boxes.count(_.intersects(q))

  // ------------------------------------------------------------ text

  /** A Zipf(1.0)-distributed vocabulary of distinct lower-case words. */
  final class Vocab(rng: Random, val size: Int) {
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < size) {
        val len = 3 + rng.nextInt(7)
        seen += Iterator.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(r => 1.0 / (r + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(size - 1, if (i >= 0) i else -i - 1)
    }
    def text(r: Random, minLen: Int, maxLen: Int): Array[String] =
      Array.fill(minLen + r.nextInt(maxLen - minLen + 1))(words(draw(r)))
  }

  /** A document as the engine's whitespace tokenizer sees it. */
  final case class Doc(id: Long, words: Array[String]) {
    def text: String = words.mkString(" ")
    lazy val tf: Map[String, Int] = words.groupBy(identity).view.mapValues(_.length).toMap
  }

  /** Clustered embeddings: `topics` gaussian centres; each vector is its
    * topic's centre plus a 4-dimensional latent offset spread over all
    * dimensions by a fixed projection, plus a little noise — so nearest
    * neighbours are well defined, as with real embeddings. */
  final class Embedder(rng: Random, topics: Int, val dim: Int) {
    private val latent = 4
    private val centres = Array.fill(topics, dim)(rng.nextGaussian().toFloat)
    private val proj = Array.fill(dim, latent)(rng.nextGaussian() * 0.5)
    def vector(r: Random): Array[Float] = {
      val c = centres(r.nextInt(topics))
      val z = Array.fill(latent)(r.nextGaussian())
      Array.tabulate(dim)(j =>
        (c(j) + (0 until latent).map(l => proj(j)(l) * z(l)).sum + r.nextGaussian() * 0.03).toFloat)
    }
  }

  def floats(v: Array[Float]): String =
    v.map(f => String.format(Locale.ROOT, "%.5f", Double.box(f.toDouble))).mkString("[", ",", "]")

  /** The floats exactly as the engine parses them back from [[floats]]. */
  def parsed(v: Array[Float]): Array[Double] =
    v.map(f => String.format(Locale.ROOT, "%.5f", Double.box(f.toDouble)).toFloat.toDouble)

  def docLine(d: Doc, extra: String = ""): String =
    s"""{"doc_id":${d.id},"text":${quote(d.text)}$extra}"""

  // ------------------------------------------------------------ curate

  /** A corpus with planted duplicate structure: `exactClusters` groups
    * of byte-identical copies and `nearClusters` groups of copies with
    * ~4% of words substituted, over `sources` sources. A quarter of the
    * base documents are low quality (short, or symbol-heavy). */
  final case class Curated(docs: Seq[(Doc, Int)], exactCopies: Int,
      nearGroups: Seq[Seq[Long]], distinctTexts: Map[Int, Int])

  def curated(rng: Random, vocab: Vocab, base: Int, exactClusters: Int,
      nearClusters: Int, sources: Int): Curated = {
    var next = 0L
    def fresh(words: Array[String]): Doc = { next += 1; Doc(next, words) }
    val out = mutable.ArrayBuffer[(Doc, Int)]()
    for (_ <- 0 until base) {
      val w = rng.nextInt(8) match {
        case 0 => vocab.text(rng, 5, 20)                          // too short
        case 1 => vocab.text(rng, 50, 90).map(x => if (rng.nextInt(3) == 0) "#" + x else x)
        case _ => vocab.text(rng, 50, 90)
      }
      out += ((fresh(w), rng.nextInt(sources)))
    }
    // planted exact duplicates: one original plus 1–3 identical copies
    var exactCopies = 0
    for (_ <- 0 until exactClusters) {
      val orig = fresh(vocab.text(rng, 50, 90))
      val src = rng.nextInt(sources)
      out += ((orig, src))
      for (_ <- 0 until 1 + rng.nextInt(3)) { out += ((fresh(orig.words), src)); exactCopies += 1 }
    }
    // planted near duplicates: copies with a few single-word substitutions
    val near = mutable.ArrayBuffer[Seq[Long]]()
    for (_ <- 0 until nearClusters) {
      val orig = fresh(vocab.text(rng, 60, 90))
      val src = rng.nextInt(sources)
      out += ((orig, src))
      val members = mutable.ArrayBuffer(orig.id)
      for (_ <- 0 until 1 + rng.nextInt(3)) {
        val w = orig.words.clone()
        for (_ <- 0 until math.max(1, w.length / 25)) {
          val at = rng.nextInt(w.length)
          w(at) = Iterator.continually(vocab.words(vocab.draw(rng))).find(_ != w(at)).get
        }
        val d = fresh(w)
        out += ((d, src))
        members += d.id
      }
      near += members.toSeq
    }
    val shuffled = new Random(rng.nextLong()).shuffle(out.toSeq)
    val distinct = shuffled.groupBy(_._2).view.mapValues(_.map(_._1.text).distinct.size).toMap
    Curated(shuffled, exactCopies, near.toSeq, distinct)
  }

  // ------------------------------------------------------------ BM25

  /** Brute-force BM25 over in-memory documents, with the engine's
    * constants and its 4-decimal score rounding. */
  def bm25(docs: Iterable[Doc], terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val n = docs.size.toDouble
    val avgdl = docs.map(_.words.length.toDouble).sum / n
    val qs = terms.distinct
    val df = qs.map(t => t -> docs.count(_.tf.contains(t)).toDouble).toMap
    val k1 = graft.llm.Bm25.K1
    val b = graft.llm.Bm25.B
    docs.flatMap { d =>
      val parts = qs.flatMap { t =>
        d.tf.get(t).map { tf =>
          val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1)
          idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * d.words.length / avgdl))
        }
      }
      if (parts.isEmpty) None
      else Some(d.id -> BigDecimal(parts.sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}
