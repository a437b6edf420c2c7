package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.geo.Bbox
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's only entry into `graft.operators`. When that API
  * changes, this file changes and each request keeps its meaning. */
object Operators {

  /** NDGeoJSON → GeoParquet with a covering `bbox` column and a fixed
    * number of rows per row group. */
  def convert(spark: SparkSession, in: String, out: String, rowGroupRows: Int): Unit =
    graft.operators.Convert.run(spark, in, out, graft.operators.Convert.Options(
      covering = true, rowGroupRows = Some(rowGroupRows)))

  /** The rows of `path` whose bbox intersects `box`. */
  def extract(spark: SparkSession, path: String, box: Bbox): DataFrame =
    graft.operators.Extract(spark, path, graft.operators.Extract.Options(bbox = Some(box))).df

  /** Row count and primary-geometry bbox from `Describe`'s JSON. */
  final case class Described(rows: Long, rowGroups: Long, bbox: Seq[Double])

  def describe(spark: SparkSession, path: String): Described = {
    val root = new ObjectMapper().readTree(graft.operators.Describe.json(spark, path))
    val meta = root.get("metadata")
    val geom = meta.get("columns").get(meta.get("primary_column").asText())
    val box = geom.get("bbox")
    Described(root.get("rows").asLong(), root.get("groups").asLong(),
      (0 until box.size()).map(box.get(_).asDouble()))
  }

  /** The titles of the validation rules that ran and failed (empty when
    * the file passes every rule). */
  def validate(spark: SparkSession, path: String): Seq[String] = {
    val r = graft.operators.Validate.report(spark, path)
    r.checks.filter(c => c.run && !c.passed).map(c => c.title + c.message.fold("")(": " + _))
  }
}
