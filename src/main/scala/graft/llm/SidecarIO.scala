package graft.llm

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Driver-direct parquet IO for ONE-ROW index sidecars (`_stats`,
  * `_gen`, `_meta`): a maintenance verb's metadata write/read is a
  * single tiny row, yet `Seq(...).toDF.coalesce(1).write.parquet` /
  * `spark.read.parquet(...).head()` each cost a whole Spark job
  * (listing, task launch, commit protocol — ~100-150 ms apiece on the
  * bench box, and a scheduler round-trip at any scale). Production
  * table formats write their pointer/metadata files from the driver
  * (Iceberg's version-hint, Delta's JSON log); this is that move for
  * the parquet sidecars: parquet-mr's example writer/reader, same
  * on-disk format Spark reads and writes (interoperable both ways —
  * the reader folds Spark-written files and Spark reads these), no job.
  *
  * Scope: sidecar rows only — a handful of primitive fields, written
  * and read whole. Data-bearing relations (postings, tombstone SETS,
  * `_terms`) stay Spark-written.
  */
private[graft] object SidecarIO {

  /** One sidecar field: name, value. Supported types: Int, Long, Double. */
  type Field = (String, Any)

  private def schemaOf(fields: Seq[Field]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach { case (n, v) =>
      val t = v match {
        case _: Int => PrimitiveTypeName.INT32
        case _: Long => PrimitiveTypeName.INT64
        case _: Double => PrimitiveTypeName.DOUBLE
        case other => throw new IllegalArgumentException(
          s"unsupported sidecar field type: $n = $other")
      }
      b.addField(new PrimitiveType(
        org.apache.parquet.schema.Type.Repetition.REQUIRED, t, n))
    }
    b.named("spark_schema")
  }

  /** Write `fields` as a one-row parquet file under `dir` (created if
    * absent). `overwrite` clears the directory first — the Spark
    * `mode("overwrite")` contract; append adds a uniquely-named file,
    * the generation-log contract. No Spark job runs. Staged files left
    * by an earlier writer that crashed before its rename are deleted
    * (one writer per sidecar, as every maintenance verb assumes).
    */
  def writeRow(conf: Configuration, dir: String, overwrite: Boolean,
      fields: Seq[Field]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    // stage under a dot-prefixed name and rename into place (ADVICE r14:
    // the delete-then-write shape had a crash window where a reader could
    // observe a missing or truncated sidecar; readRows skips dot-files,
    // so the staged file is invisible until the rename). On overwrite the
    // OLD files are removed only after the new row is durable — a crash
    // leaves old or old+new, never neither.
    val listed = fs.listStatus(d).filter(_.isFile).map(_.getPath)
    listed.filter(isStaged).foreach(fs.delete(_, false))
    val old =
      if (overwrite) listed.filter { p =>
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      else Array.empty[Path]
    val name = f"part-${System.nanoTime()}%019d-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(d, s".$name$Staged")
    val schema = schemaOf(fields)
    val out: OutputFile = org.apache.parquet.hadoop.util.HadoopOutputFile
      .fromPath(tmp, conf)
    val w = ExampleParquetWriter.builder(out)
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      fields.foreach {
        case (n, v: Int) => g.add(n, v)
        case (n, v: Long) => g.add(n, v)
        case (n, v: Double) => g.add(n, v)
        case _ => // unreachable: schemaOf rejected it
      }
      w.write(g)
    } finally w.close()
    if (!fs.rename(tmp, new Path(d, name)))
      throw new java.io.IOException(s"sidecar rename failed: $tmp -> $name")
    old.foreach(fs.delete(_, false))
  }

  private val Staged = ".staged"

  private def isStaged(p: Path): Boolean =
    p.getName.startsWith(".") && p.getName.endsWith(Staged)

  /** All rows of every data file under `dir`, as name → value maps
    * (Int/Long/Double by the file's physical type; absent optional
    * fields omitted). Reads Spark-written and [[writeRow]]-written
    * files alike; throws FileNotFoundException when the directory does
    * not exist (the missing-sidecar signal callers already handle). No
    * Spark job runs — sidecar dirs hold a handful of one-row files.
    */
  def readRows(conf: Configuration, dir: String): Seq[Map[String, Any]] = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) throw new java.io.FileNotFoundException(dir)
    val files = fs.listStatus(d).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val rows = Seq.newBuilder[Map[String, Any]]
    files.foreach { f =>
      val r: ParquetReader[Group] = ParquetReader
        .builder(new GroupReadSupport(), f.getPath)
        .withConf(conf)
        .build()
      try {
        var g = r.read()
        while (g != null) {
          val m = Map.newBuilder[String, Any]
          val gt = g.getType
          (0 until gt.getFieldCount).foreach { i =>
            if (g.getFieldRepetitionCount(i) > 0) {
              val pt = gt.getType(i).asPrimitiveType()
              val v: Any = pt.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
                case PrimitiveTypeName.INT64 => g.getLong(i, 0)
                case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
                case PrimitiveTypeName.FLOAT => g.getFloat(i, 0)
                case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
                case _ => g.getValueToString(i, 0)
              }
              m += (gt.getFieldName(i) -> v)
            }
          }
          rows += m.result()
          g = r.read()
        }
      } finally r.close()
    }
    rows.result()
  }
}
