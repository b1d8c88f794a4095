package graft.stac

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.hilbert_index

/** Monthly STAC-parquet sink (reference: write.py). Every month has one
  * layout: up to 16 files range-partitioned on the Hilbert index of the
  * granule centroid, sorted within each file, zstd(6) GeoParquet.
  * Differences are deliberate scale choices, not omissions:
  *   - the reference Hilbert-sorts the month's URLs in driver memory
  *     (write.py:196-211); here the spatial sort is a
  *     `repartitionByRange` + `sortWithinPartitions` on the Hilbert
  *     key — a sampling-based global order that never materializes the
  *     dataset on one node;
  *   - output is a year=/month= partitioned directory of zstd parquet
  *     (constants.py:8 PARQUET_PATH_FORMAT), so downstream readers get
  *     partition pruning instead of filename conventions.
  * Completeness is checked upstream, on the daily link caches
  * ([[StacPipeline.writeMonthlyStacGeoparquet]]), not on the rows here.
  */
object StacWrite {

  /** Files per month: the range partitions of the Hilbert sort. */
  private val SpatialPartitions = 16

  /** Layout root for one collection+version, mirroring
    * `v{version}/{collection_id}/year=…/month=…` (constants.py:8).
    */
  def parquetRoot(dest: String, version: String, collectionId: String): String =
    s"$dest/v$version/$collectionId"

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Write one month of items. Returns true if written, false when
    * skipped (`skipExisting`, reference: write.py:148-151). Every
    * column of `items` is written; from the fetch path that includes
    * the item properties `cloud_cover`, `sun_azimuth` and
    * `sun_elevation` as doubles.
    */
  def writeMonthly(
      spark: SparkSession,
      items: DataFrame, // must carry: collection, ts, lon, lat, url_stac
      dest: String,
      version: String,
      collectionId: String,
      year: Int,
      month: Int,
      skipExisting: Boolean = false): Boolean = {
    import spark.implicits._
    val root = parquetRoot(dest, version, collectionId)
    if (skipExisting && exists(spark, s"$root/year=$year/month=$month")) return false

    val monthStart = java.time.LocalDate.of(year, month, 1)
    items
      .filter($"collection" === collectionId)
      .filter(to_date($"ts") >= lit(monthStart.toString).cast("date") &&
        to_date($"ts") < lit(monthStart.plusMonths(1).toString).cast("date"))
      // geoparquet geometry column (WKB point of the granule centroid)
      .withColumn("geometry", graft.functions.wkb_point($"lon", $"lat"))
      .withColumn("gx", floor(($"lon" + 180.0) / 360.0 * 16384).cast("int"))
      .withColumn("gy", floor(($"lat" + 90.0) / 180.0 * 16384).cast("int"))
      .withColumn("cluster_key", hilbert_index($"gx", $"gy", 14))
      .withColumn("year", lit(year))
      .withColumn("month", lit(month))
      .repartitionByRange(SpatialPartitions, $"cluster_key")
      .sortWithinPartitions($"cluster_key")
      .drop("gx", "gy")
      .write
      // GeoParquet sink: stock parquet bytes + `geo` footer metadata
      // with per-file bbox, zstd level pinned to 6 (write.py:219, 243)
      .format("geoparquet")
      .mode("overwrite")
      // only replace the partitions present in this batch — a monthly
      // job must never clobber sibling months under the same root
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("year", "month")
      .save(root)
    true
  }
}

/** A14 — collection registry (reference: constants.py). */
object HlsCollections {
  final case class Collection(name: String, conceptId: String,
                              collectionId: String, originDate: String)

  val HLSL30: Collection = Collection(
    "HLSL30", "C2021957657-LPCLOUD", "HLSL30_2.0", "2013-04-11")
  val HLSS30: Collection = Collection(
    "HLSS30", "C2021957295-LPCLOUD", "HLSS30_2.0", "2015-11-28")

  val all: Seq[Collection] = Seq(HLSL30, HLSS30)
  def byName(name: String): Collection =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"Invalid collection: $name. Must be 'HLSL30' or 'HLSS30'"))

  /** links/{cid}/{y}/{m}/{y}-{m}-{d}.json (constants.py:6-7). */
  def linkPath(collectionId: String, year: Int, month: Int, day: Int): String =
    f"links/$collectionId/$year/$month%02d/$year-$month%02d-$day%02d.json"
}
