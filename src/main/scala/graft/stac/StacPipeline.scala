package graft.stac

import java.time.{LocalDate, YearMonth}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two top-level verbs (cli.py) as library functions —
  * what a user of hls-stac-parquet would call after switching engines.
  *
  * `cacheDailyStacJsonLinks` (links.py:61-117): query the catalog for
  * one day (bbox + temporal pushdown), extract STAC JSON links, write
  * the daily link cache. The reference writes one JSON array per day;
  * here the cache is a date-partitioned parquet dataset of links —
  * same contract (list links for day X), but partition-prunable and
  * splittable at 100 TB.
  *
  * `writeMonthlyStacGeoparquet` (write.py:101-247): read a month of
  * cached links (partition pruning does the month filter), optionally
  * require completeness, and write the month through
  * [[StacWrite.writeMonthly]].
  *
  * Completeness has one rule (write.py:158-189): every expected day of
  * the month has a committed daily cache. A day with zero granules
  * counts, because its cache commits like any other. In a collection's
  * origin month the expected days start on the origin day.
  */
object StacPipeline {

  /** Daily link cache root (mirrors LINK_PATH_PREFIX, constants.py:6). */
  def linksRoot(dest: String): String = s"$dest/links"

  /** One day's link cache, `links/collection=…/year=…/month=…/day=…`.
    * `day` is a day of the month, or `*` to glob the month's days.
    */
  private def linkDayPath(dest: String, collectionId: String, year: Int,
                          month: Int, day: String): String =
    s"${linksRoot(dest)}/collection=$collectionId/year=$year/month=$month/day=$day"

  private def linkDayPath(dest: String, collectionId: String,
                          day: LocalDate): String =
    linkDayPath(dest, collectionId, day.getYear, day.getMonthValue,
      day.getDayOfMonth.toString)

  /** A write committed only when Spark's `_SUCCESS` marker is there: a
    * crashed Overwrite leaves just `_temporary/` behind.
    */
  private def successMarker(dir: String): String = s"$dir/_SUCCESS"

  /** Whether `day`'s link cache is committed — the skip-existing test. */
  private def isCached(spark: SparkSession, dest: String,
                       collectionId: String, day: LocalDate): Boolean =
    StacWrite.exists(spark, successMarker(linkDayPath(dest, collectionId, day)))

  /** Days of the month whose link cache is committed, from one glob. */
  private def cachedDays(spark: SparkSession, dest: String,
                         collectionId: String, year: Int, month: Int): Set[Int] = {
    val glob = new Path(
      successMarker(linkDayPath(dest, collectionId, year, month, "*")))
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(glob)).toSeq.flatten
      .map(_.getPath.getParent.getName.stripPrefix("day=").toInt).toSet
  }

  /** The catalog rows cached for one collection-day: the closed window
    * [day 00:00:00, day 23:59:59] (links.py:104-106), the optional bbox,
    * and `stac_link`, the first `protocol` stac.json link; rows without
    * one are dropped.
    */
  private def dayLinks(catalog: DataFrame, collectionId: String, date: String,
                       bbox: Option[(Double, Double, Double, Double)],
                       protocol: String): DataFrame = {
    val inDay = col("collection") === collectionId &&
      col("ts") >= lit(s"$date 00:00:00").cast("timestamp") &&
      col("ts") <= lit(s"$date 23:59:59").cast("timestamp")
    val inBbox = bbox.fold(lit(true): Column) { case (w, s, e, n) =>
      Validation.validateBbox(w, s, e, n)
      col("lon") >= w && col("lon") <= e && col("lat") >= s && col("lat") <= n
    }
    catalog.filter(inDay && inBbox)
      .withColumn("stac_link",
        graft.functions.first_link(col("links"), protocol, "stac.json"))
      .filter(col("stac_link").isNotNull)
  }

  def cacheDailyStacJsonLinks(
      spark: SparkSession,
      catalog: DataFrame, // granule feed: collection, ts, lon, lat, links
      dest: String,
      collectionId: String,
      date: String, // YYYY-MM-DD
      bbox: Option[(Double, Double, Double, Double)] = None,
      protocol: String = "https",
      skipExisting: Boolean = false): Boolean = {
    val day = LocalDate.parse(date)
    if (skipExisting && isCached(spark, dest, collectionId, day)) return false
    dayLinks(catalog, collectionId, date, bbox, protocol)
      .select("granule_id", "stac_link", "lon", "lat", "ts")
      .write.mode(SaveMode.Overwrite).parquet(linkDayPath(dest, collectionId, day))
    true
  }

  /** Byte-format-compatible daily cache: ONE JSON array file per day at
    * the reference's exact path
    * `links/{cid}/{y}/{m:02d}/{y}-{m:02d}-{d:02d}.json`
    * (constants.py:6-7, links.py:55-58) — for downstream consumers of
    * the original layout. A daily link list is small by construction
    * (the reference holds it in one Lambda), so the single-file write
    * is a deliberate, bounded driver-side step; the parquet cache
    * above is the scale path.
    */
  def writeDailyLinksJsonArray(
      spark: SparkSession,
      catalog: DataFrame,
      dest: String,
      collectionId: String,
      date: String,
      protocol: String = "https"): String = {
    import spark.implicits._
    val day = LocalDate.parse(date)
    val links = dayLinks(catalog, collectionId, date, None, protocol)
      .select($"stac_link").orderBy($"stac_link")
      .as[String].collect()
    val path = f"$dest/${HlsCollections.linkPath(collectionId,
      day.getYear, day.getMonthValue, day.getDayOfMonth)}"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      // json.dumps' separators, each string escaped by Jackson
      val json = links.map(StacJobs.mapper.writeValueAsString)
        .mkString("[", ", ", "]")
      out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    path
  }

  /** Date-range fan-out (reference: infrastructure/lambda/
    * batch_publisher.py): the list of days to cache for a collection —
    * start defaults to the collection's origin date, end to
    * `today − 1`. Feed each day to [[cacheDailyStacJsonLinks]].
    */
  def dateRange(collection: HlsCollections.Collection,
                startDate: Option[String] = None,
                endDate: Option[String] = None,
                today: LocalDate = LocalDate.now())
      : Seq[String] = {
    val start = LocalDate.parse(startDate.getOrElse(collection.originDate))
    val end = endDate.map(LocalDate.parse)
      .getOrElse(today.minusDays(1))
    require(!start.isAfter(end), s"start_date $start after end_date $end")
    Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end)).map(_.toString).toSeq
  }

  /** Read a month of daily link caches (partition-pruned). */
  def readMonthlyLinks(spark: SparkSession, dest: String,
                       collectionId: String, year: Int, month: Int): DataFrame = {
    import spark.implicits._
    spark.read
      .option("basePath", linksRoot(dest))
      .parquet(linksRoot(dest))
      .filter($"collection" === collectionId &&
        $"year" === year && $"month" === month)
  }

  /** The reference's daily verb from the live source (links.py:61-117
    * composed from this repo's pieces): CMR page sweep (resumable
    * spool, A21) → STAC link extraction (A2's rule over CMR entries)
    * → daily link-cache write. Together with
    * [[fetchAndWriteMonthly]] this is the whole reference pipeline —
    * CMR → links → fetch → monthly geoparquet — with no dependence on
    * a pre-materialized catalog.
    */
  def cacheDailyLinksFromCmr(
      spark: SparkSession,
      fetcher: CmrSource.PageFetcher,
      spoolDir: String,
      dest: String,
      collectionId: String,
      date: String,
      protocol: String = "https",
      pageSize: Int = 2000,
      skipExisting: Boolean = false): Boolean = {
    val day = LocalDate.parse(date)
    if (skipExisting && isCached(spark, dest, collectionId, day)) return false
    CmrSource.spoolTo(spark, fetcher, spoolDir, pageSize)
    CmrSource.stacJsonLinks(CmrSource.entries(spark, spoolDir), protocol)
      .select("granule_ur", "stac_link")
      .write.mode(SaveMode.Overwrite).parquet(linkDayPath(dest, collectionId, day))
    true
  }

  /** The reference's full runtime chain, link-cache → fetch → monthly
    * write (fetch.py feeding write.py:213–219): read the month's
    * cached links, fetch every STAC item through the injected
    * transport (bounded concurrency, per-netloc reuse, failures
    * separated — see [[StacFetch]]), write the successful items as
    * monthly geoparquet, and RETURN the failed links (url, error) for
    * accounting/retry — the (items, failed) contract of
    * fetch.py:78–88. The fetch cache is released before the verb
    * returns; the failed side comes back materialized (it is
    * failure-sized), so counting it fetches nothing again.
    */
  def fetchAndWriteMonthly(
      spark: SparkSession,
      dest: String,
      collectionId: String,
      year: Int,
      month: Int,
      transport: StacFetch.Transport,
      version: String = "0.1",
      maxConcurrent: Int = 50): DataFrame = {
    val links = readMonthlyLinks(spark, dest, collectionId, year, month)
    StacFetch.fetchItemsScoped(links, "stac_link", transport, maxConcurrent) {
      (items, failed) =>
        StacWrite.writeMonthly(spark, items, dest, version, collectionId,
          year, month)
        spark.createDataFrame(failed.collectAsList(), failed.schema)
    }
  }

  def writeMonthlyStacGeoparquet(
      spark: SparkSession,
      dest: String,
      collectionId: String,
      year: Int,
      month: Int,
      version: String = "0.1",
      requireCompleteLinks: Boolean = false,
      skipExisting: Boolean = false): Boolean = {
    // the reference compares link file paths, not data rows
    // (write.py:158-189)
    if (requireCompleteLinks) {
      val firstDay = StacSynth.OriginDates.get(collectionId).map(LocalDate.parse)
        .filter(o => o.getYear == year && o.getMonthValue == month)
        .fold(1)(_.getDayOfMonth)
      val missing = (firstDay to YearMonth.of(year, month).lengthOfMonth())
        .filterNot(cachedDays(spark, dest, collectionId, year, month))
      if (missing.nonEmpty) {
        throw new IllegalStateException(
          s"$collectionId $year-$month: missing daily link caches for " +
            s"days ${missing.mkString(", ")}")
      }
    }
    val monthly = readMonthlyLinks(spark, dest, collectionId, year, month)
      .withColumn("collection", lit(collectionId))
      .withColumn("url_stac", col("stac_link"))
    StacWrite.writeMonthly(spark, monthly, dest, version, collectionId,
      year, month, skipExisting)
  }
}
