package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Leftovers a reader must never see: a crash-orphaned staged sidecar
  * file, and a part file replaced in place inside a partition directory
  * of a cached table.
  */
class StaleStateSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def under(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  test("a sidecar write deletes a crash-orphaned staged file; reads never return its row") {
    val dir = Files.createTempDirectory("sidecar_staged")
    val stats = dir.resolve("_stats").toString
    llm.SidecarIO.writeRow(conf, stats, overwrite = true, Seq("gen" -> 0L))
    // a crash between the writer's close and its rename: a complete
    // parquet file under the staged name
    val scratch = dir.resolve("scratch").toString
    llm.SidecarIO.writeRow(conf, scratch, overwrite = true, Seq("gen" -> 99L))
    val orphan = Paths.get(stats, ".part-0000000000000000000-orphan.parquet.staged")
    Files.copy(under(Paths.get(scratch)).find(_.toString.endsWith(".parquet")).get,
      orphan)
    assert(llm.SidecarIO.readRows(conf, stats).map(_("gen")) === Seq(0L))
    llm.SidecarIO.writeRow(conf, stats, overwrite = false, Seq("gen" -> 1L))
    assert(!Files.exists(orphan), "the next write must delete the orphan")
    assert(!under(Paths.get(stats)).exists(_.getFileName.toString.endsWith(".staged")))
    assert(llm.SidecarIO.readRows(conf, stats).map(_("gen")).toSet === Set(0L, 1L))
  }

  test("replacing a part file inside a partition directory refreshes the cached table") {
    import spark.implicits._
    val sfDir = Files.createTempDirectory("tables_nested")
    val table = sfDir.resolve("region.parquet")
    def writePart(rows: Seq[(Long, Int)], dir: Path): Path = {
      rows.toDF("r_id", "p").coalesce(1).write.mode("overwrite")
        .partitionBy("p").parquet(dir.toString)
      under(dir).find(_.toString.endsWith(".parquet")).get
    }
    val part = writePart(Seq(1L -> 0, 2L -> 0), table)
    assert(Tables.load(spark, sfDir.toString, "region").count() === 2)
    // a partition rewrite: the part file is replaced by a new one, and
    // the partition directory keeps its length and (as on object
    // stores, which have no directory mtime) its modification time
    val replacement = writePart((1L to 5L).map(_ -> 0),
      Files.createTempDirectory("tables_nested_src"))
    val dirMtime = Files.getLastModifiedTime(part.getParent)
    Files.delete(part)
    Files.copy(replacement, part.resolveSibling("part-00000-replaced.parquet"))
    Files.setLastModifiedTime(part.getParent, dirMtime)
    assert(Tables.load(spark, sfDir.toString, "region").count() === 5)
  }
}
