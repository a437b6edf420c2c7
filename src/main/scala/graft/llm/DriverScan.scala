package graft.llm

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat,
  HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType,
  LongType, StructField, StructType}

/** Driver-local reads of a cached index relation — the centralized half
  * of F1 Query's per-request choice between centralized and distributed
  * execution. A small serve request (a few probed bucket or cluster
  * files) spends most of a Spark round trip on job scheduling, not on
  * its data; reading those files in the calling thread, with the same
  * parquet reader a scan task would use, answers it with zero jobs.
  *
  * The file set comes from the relation's cached file index (no LIST
  * call), and rows go through Spark's own
  * `ParquetFileFormat.buildReaderWithPartitionValues` (pushed-down
  * filters, vectorized decode), so the local path reads exactly the
  * bytes a task would. Callers keep no row data between requests.
  */
private[llm] object DriverScan {

  /** Probed bytes (partition files plus tombstone files) at or under
    * which a serve entry point runs on the driver. The crossover of the
    * local and distributed p50s measured in SCALING.md ("Driver-local
    * serving"): past it the single-threaded read loses to the
    * scheduler's parallel scan. It also bounds the probe data one
    * request decodes on the driver.
    */
  private[llm] val LocalServeBytes: Long = 2L << 20

  /** Test hook: called with the path of every file a local read opens. */
  @volatile private[llm] var onOpen: String => Unit = _ => ()

  /** Some files of one parquet relation, with their total size. */
  final case class Files(relation: HadoopFsRelation,
      files: Seq[FileStatus]) {
    def bytes: Long = files.iterator.map(_.getLen).sum
  }

  /** The files of `df`'s parquet relation whose partition values `keep`
    * admits (every file of an unpartitioned relation), taken from the
    * relation's file index — already listed when the relation was
    * resolved, so this makes no filesystem call.
    */
  def files(df: DataFrame, keep: InternalRow => Boolean): Files = {
    val rel = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r }.getOrElse(
      throw new IllegalArgumentException("not a file-source relation"))
    Files(rel, rel.location.listFiles(Nil, Nil)
      .filter(p => keep(p.values)).flatMap(_.files.map(_.fileStatus)))
  }

  /** Stream `columns` of every row of `files` through `f`, in file
    * order, in the calling thread. `filters` are pushed into the parquet
    * reader (row-group and page pruning only: `f` still sees rows they
    * reject).
    * Rows are reused by the reader — `f` must copy what it keeps.
    */
  def foreach(files: Files, columns: Seq[String], filters: Seq[Filter])(
      f: InternalRow => Unit): Unit = if (files.files.nonEmpty) {
    val rel = files.relation
    val spark = rel.sparkSession
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, rel.dataSchema, StructType(Nil),
      StructType(columns.map(rel.dataSchema(_))), filters,
      rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(rel.options))
    files.files.foreach { s =>
      onOpen(s.getPath.toString)
      // no TaskContext on the driver: the reader closes its file when
      // the iterator is exhausted, so every file is read to the end
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(s.getPath),
        0L, s.getLen, Array.empty[String], s.getModificationTime, s.getLen))
        .foreach(f)
    }
  }

  /** id → the newest tombstone generation visible at `asOfGen`, from
    * the (id column `idCol`, gen) tombstone files.
    */
  def tombstoneGens(files: Option[Files], idCol: String,
      asOfGen: Option[Long]): collection.mutable.LongMap[Long] = {
    val dead = collection.mutable.LongMap.empty[Long]
    files.foreach { t =>
      val idType = t.relation.dataSchema(idCol).dataType
      foreach(t, Seq(idCol, "gen"), Nil) { r =>
        val g = r.getLong(1)
        // a null id matches no row in the distributed anti-join either
        if (asOfGen.forall(g <= _) && !r.isNullAt(0)) {
          val id = idAt(r, 0, idType)
          if (g > dead.getOrElse(id, Long.MinValue)) dead(id) = g
        }
      }
    }
    dead
  }

  /** Whether a row (`id`, `gen`) is served: written by `asOfGen`, and no
    * newer-generation tombstone killed it (the distributed `liveRows`
    * rule, row for row).
    */
  def visible(dead: collection.mutable.LongMap[Long], asOfGen: Option[Long],
      id: Long, gen: Long): Boolean =
    asOfGen.forall(gen <= _) && gen >= dead.getOrElse(id, Long.MinValue)

  /** The id column types the local paths read: integral ids only. */
  def integralId(t: DataType): Boolean = t == LongType || t == IntegerType

  /** An integral id column value as a long. */
  def idAt(row: InternalRow, ordinal: Int, t: DataType): Long =
    if (t == LongType) row.getLong(ordinal) else row.getInt(ordinal).toLong

  /** A driver-computed ranking: (id, score) rows in rank order, ids of
    * the index's integral id type `idType`.
    */
  final case class Ranked(idType: DataType, rows: Seq[(Long, Double)]) {

    /** The ranking as an (id, `scoreCol`) `LocalRelation` DataFrame:
      * collecting it runs no Spark job.
      */
    def toDF(spark: SparkSession, scoreCol: String): DataFrame =
      frame(spark, StructType(Seq(StructField("id", idType),
          StructField(scoreCol, DoubleType))),
        rows.map { case (id, s) => Row(idValue(idType, id), s) })
  }

  /** A long id back in the integral type `t`. */
  def idValue(t: DataType, id: Long): Any =
    if (t == LongType) id else id.toInt

  /** `rows` as a `LocalRelation` DataFrame. */
  def frame(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}
