package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Times calls into the engine and counts operations and failed checks.
  *
  * Every operation is split the same way in both modes: `construct` is
  * the public call until it returns, `plan` forces the returned
  * DataFrame's executed plan, `execute` collects it. With a tracer, every
  * other call of each operation runs traced — under its own job group,
  * with one span per phase — so the traced and untraced halves of one
  * run give the tracing overhead.
  */
final class Harness(val spark: SparkSession, val tracer: Option[Tracer]) {
  /** op → latency samples (ms) of untraced and of traced calls. */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val tracedSamples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** Whether calls count as measured samples (false during set-up). */
  var recording = false
  /** Sum of measured latencies: the timed phase runs until this reaches
    * the requested seconds, so checks between calls never shorten it. */
  var measuredMs = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  private val calls = mutable.Map[String, Int]().withDefaultValue(0)

  private def phase[T](parent: Option[(Tracer, Int, String)], name: String)(body: => T): T =
    parent match {
      case Some((t, id, req)) => t.span(name, id, req)(_ => body)
      case None => body
    }

  private def call[R](op: String)(body: Option[(Tracer, Int, String)] => R): R = {
    val n = calls(op)
    calls(op) = n + 1
    val traced = tracer.isDefined && recording && n % 2 == 1
    val t0 = System.nanoTime()
    val out = tracer.filter(_ => traced) match {
      case Some(t) =>
        val req = s"$op#$n"
        spark.sparkContext.setJobGroup(req, op)
        try t.span(op, -1, req)(id => body(Some((t, id, req))))
        finally spark.sparkContext.clearJobGroup()
      case None => body(None)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (recording) {
      attempted += 1
      measuredMs += ms
      (if (traced) tracedSamples else samples).getOrElseUpdate(op, ArrayBuffer()) += ms
      if (traced) tracer.foreach(_.drain())
    }
    out
  }

  /** A call whose result is a DataFrame: construct, plan, execute. */
  def rows(op: String)(construct: => DataFrame): Array[Row] = call(op) { p =>
    val df = phase(p, "construct")(construct)
    phase(p, "plan")(df.queryExecution.executedPlan)
    val out = phase(p, "execute")(df.collect())
    p.foreach { case (t, _, req) => t.returned(req) = out.length.toLong }
    out
  }

  /** A call that does all of its work before it returns. */
  def run[T](op: String)(body: => T): T = call(op)(p => phase(p, "construct")(body))

  /** A correctness check on the preceding call; a failure counts as a
    * failed operation. During set-up a failure aborts the run. */
  def check(what: String)(ok: Boolean): Unit = if (!ok) {
    if (!recording) throw new IllegalStateException(s"set-up check failed: $what")
    failed += 1
    if (failures.length < 20) failures += what
  }
}

object Harness {
  /** Total bytes of the regular files under `dir`. */
  def bytes(dir: File): Long = files(dir).map(_.length()).sum

  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  /** path → (size, mtime) of every file under `dir`. */
  def snapshot(dir: File): Map[String, (Long, Long)] =
    files(dir).map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap

  /** Bytes in files that appeared or changed between two snapshots. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, (size, m)) if !before.get(p).contains((size, m)) => size }.sum

  /** Used heap after a full collection, in MB. */
  def heapMb(): Double = {
    // the second collection, after Spark's cleaner has dropped what the
    // first one released, settles the figure
    System.gc(); Thread.sleep(200); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  def gcMs(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Sum of `of` over the footers of the parquet files under `dir`, read
    * with parquet-mr directly (no engine code). */
  private def footers(dir: File)(of: org.apache.parquet.hadoop.ParquetFileReader => Long): Long =
    parquetFiles(dir).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), new org.apache.hadoop.conf.Configuration()))
      try of(r) finally r.close()
    }.sum

  def rowGroups(dir: File): Long = footers(dir)(_.getRowGroups.size().toLong)

  def parquetRows(dir: File): Long = footers(dir)(_.getRecordCount)

  def parquetFiles(dir: File): Seq[File] = files(dir).filter(_.getName.endsWith(".parquet"))
}
