package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  * Each table is a single parquet file under the scale-factor dir.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation memo for the base tables (round 14 — the
    * [[graft.llm.InvertedIndex]] readCached discipline applied to the
    * corpus inputs): every `spark.read.parquet` pays a file listing +
    * footer schema read at CONSTRUCTION time, and the suite constructs
    * each base table hundreds of times per run. The memo keys on the
    * file's (length, mtime) signature, so a regenerated fixture can
    * never serve stale metadata; the DATA is still scanned from parquet
    * by every action — only the resolved relation (schema + file index)
    * is reused.
    */
  private val relationCache = new graft.llm.RelationCache()

  private def fileSig(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s = fs.getFileStatus(p)
    // a DIRECTORY-shaped dataset signs by its child listing (ADVICE r14:
    // replacing a part file in place changes neither the dir's length
    // nor, on some filesystems, its mtime — the root-status signature
    // could serve a stale file index), one level into child directories
    // so a partitioned layout's part files sign too; the single-file
    // fixtures keep the one-status fast path
    def sign(prefix: String, c: org.apache.hadoop.fs.FileStatus) =
      s"$prefix${c.getPath.getName}:${c.getLen}:${c.getModificationTime}"
    if (s.isDirectory)
      fs.listStatus(p).toSeq.flatMap { c =>
        sign("", c) +: (if (!c.isDirectory) Nil
          else fs.listStatus(c.getPath).toSeq.map(sign(c.getPath.getName + "/", _)))
      }.sorted.mkString("|")
    else s"${s.getLen}:${s.getModificationTime}"
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      // events.ts has shipped under two physical encodings across fixture
      // generations: INT64 TIMESTAMP(NANOS) (which Spark's parquet reader
      // rejects — [PARQUET_TYPE_ILLEGAL] — unless read as a nanos long) and
      // TIMESTAMP(MICROS). The conf makes nanos files readable; it is a
      // no-op for micros files. normalizeEventTs dispatches on whichever
      // type actually arrived. Set BEFORE resolution — the cached relation
      // was resolved under it too.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      relationCache.getOrResolve(spark, path, fileSig(spark, path))(
        normalizeEventTs(spark.read.parquet(path)))
    } else
      relationCache.getOrResolve(spark, path, fileSig(spark, path))(
        spark.read.parquet(path))
  }

  /** Shared by the batch and streaming events readers. Output contract,
    * independent of the fixture's physical encoding: `ts` is a session-tz
    * TimestampType instant (μs precision) in its original column slot, and
    * `ts_ns` is the epoch-nanos long appended last. All downstream
    * event-time arithmetic (`ts_ns div`, day math, as-of ordering) runs on
    * `ts_ns` identically in both cases.
    *
    *  - LongType `ts` (legacy nanos fixture): rename to `ts_ns`, derive
    *    `ts = timestamp_micros(ts_ns div 1000)` (integral div — long `/`
    *    is double division and ns epochs exceed 2^53).
    *  - Timestamp(,NTZ) `ts` (micros fixture): keep `ts` (NTZ wall-clock is
    *    interpreted as UTC, matching the UTC session tz used everywhere),
    *    derive `ts_ns = unix_micros(ts) * 1000`.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val origCols = df.columns
    val both = df.schema("ts").dataType match {
      case LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported fixture type $other (expected INT64 nanos or TIMESTAMP)")
    }
    both.select(origCols.map(col).toIndexedSeq :+ col("ts_ns"): _*)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
