package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.first_link
import graft.stac.{StacPipeline, StacSynth, StacWrite}

/** `backfill`: the daily link cache run the way the reference's batch
  * publisher drives it, one call per collection-day.
  *
  * Setup generates an orders-shaped catalog of both collections from
  * their origin dates through the end of March 1995, 20–50 granules
  * per collection-day, fed through `StacSynth.catalog`. A round
  * backfills January 1995 from each collection's origin date (39
  * collection-days): one `cacheDailyStacJsonLinks` call per day, the
  * same range again with `skipExisting = true`, then
  * `writeMonthlyStacGeoparquet(requireCompleteLinks = true)` per
  * collection. Every call rescans the whole three-month catalog.
  */
final class Backfill(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val rng = new scala.util.Random(ctx.seed)
  private val Year = 1995
  private val Month = 1
  private val CatalogEnd = java.time.LocalDate.of(Year, 3, 31)
  // HLSL30 granules have even ids, HLSS30 odd ones (StacSynth.catalog)
  private val collections = Seq("HLSL30_2.0" -> 0L, "HLSS30_2.0" -> 1L)

  private var catalog: DataFrame = _
  /** (collection, day) → the links the stac.json rule picks. */
  private val truth = mutable.Map.empty[(String, String), Set[String]]
  private val days = mutable.ArrayBuffer.empty[(String, String)]
  private val linksWritten = mutable.ArrayBuffer.empty[Long]

  def opKind: String = "day"

  def setup(): Unit = {
    val rows = mutable.ArrayBuffer.empty[(Long, String)]
    val dayKeys = mutable.Map.empty[(String, String), Seq[Long]]
    for ((cid, parity) <- collections) {
      var key = parity
      val origin = java.time.LocalDate.parse(StacSynth.OriginDates(cid))
      Iterator.iterate(origin)(_.plusDays(1)).takeWhile(!_.isAfter(CatalogEnd))
        .foreach { d =>
          val n = 20 + rng.nextInt(31)
          val keys = (0 until n).map { _ => key += 2 + 2 * rng.nextInt(3); key }
          keys.foreach(k => rows += (k -> d.toString))
          dayKeys((cid, d.toString)) = keys
          if (d.getMonthValue == Month) days += (cid -> d.toString)
        }
    }
    val catDir = ctx.dir("catalog")
    rows.toSeq.toDF("o_orderkey", "d")
      .select($"o_orderkey", to_timestamp($"d").as("o_orderdate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$catDir/orders.parquet")
    catalog = StacSynth.catalog(spark, catDir)

    // the stac.json rule, recomputed outside Spark from the catalog rows
    val links = catalog.select($"granule_id", $"links").as[(Long, Seq[String])]
      .collect().toMap
    def rule(ls: Seq[String]): Option[String] =
      ls.find(l => l != null && l.startsWith("https") && l.endsWith("stac.json"))
    for ((key, ks) <- dayKeys; if days.contains(key))
      truth(key) = ks.flatMap(k => rule(links(k))).toSet

    ctx.mark("inputs")

    // an untimed round over HLSL30's days: the first round is markedly
    // slower than the rest
    val warm = new Ops
    backfill(ctx.dir("warm"), days.filter(_._1 == collections.head._1).toSeq, warm)
    require(warm.failed == 0, s"warm-up round failed: ${warm.reasons.mkString("; ")}")
  }

  private def readLinks(dest: String): DataFrame =
    spark.read.parquet(StacPipeline.linksRoot(dest))
      .select($"collection", $"year", $"month", $"day", $"stac_link")

  def round(r: Int, ops: Ops, traced: Boolean): Round =
    backfill(ctx.dir(s"round-$r"), days.toSeq, ops)

  /** Cache `days`, skip-pass them, and build each of their months. */
  private def backfill(dest: String, days: Seq[(String, String)], ops: Ops): Round = {
    val first = ops.attempted
    val opOf = days.map { case (cid, d) =>
      val (id, wrote) = ops.timed("day") {
        tracer.span("links.day", ops.attempted) {
          StacPipeline.cacheDailyStacJsonLinks(spark, catalog, dest, cid, d)
        }
      }
      if (wrote.contains(false)) ops.fail(id, s"$cid $d: cache call wrote nothing")
      (cid, d) -> id
    }.toMap
    val writeSecs = ops.secsSince(first)

    val before = Fs.snapshot(StacPipeline.linksRoot(dest))
    val skipOps = tracer.span("links.skip") {
      days.map { case (cid, d) =>
        val (id, wrote) = ops.timed("skip") {
          StacPipeline.cacheDailyStacJsonLinks(spark, catalog, dest, cid, d,
            skipExisting = true)
        }
        if (wrote.contains(true)) ops.fail(id, s"$cid $d: skip pass rewrote the day")
        id
      }
    }
    val skipChanged = Fs.snapshot(StacPipeline.linksRoot(dest)) != before

    val monthOps = days.map(_._1).distinct.map { cid =>
      val (id, wrote) = ops.timed("month") {
        tracer.span("monthly.verb", ops.attempted) {
          StacPipeline.writeMonthlyStacGeoparquet(spark, dest, cid, Year, Month,
            requireCompleteLinks = true)
        }
      }
      if (wrote.contains(false)) ops.fail(id, s"$cid: monthly verb skipped")
      cid -> id
    }
    val timedSecs = ops.secsSince(first)

    // output checks, outside the timed calls
    if (skipChanged) ops.fail(skipOps.head, "skip pass changed the link cache")
    val got = readLinks(dest).as[(String, Int, Int, Int, String)].collect()
      .groupBy { case (c, y, m, d, _) =>
        (c, java.time.LocalDate.of(y, m, d).toString)
      }.map { case (k, v) => k -> v.map(_._5).toSet }
    opOf.foreach { case (key, id) =>
      if (got.getOrElse(key, Set.empty) != truth(key))
        ops.fail(id, s"$key: cached links differ from the stac.json rule")
    }
    if (tracer.recording) linksWritten += got.values.map(_.size.toLong).sum
    monthOps.foreach { case (cid, id) =>
      val path = s"${StacWrite.parquetRoot(dest, "0.1", cid)}/year=$Year/month=$Month"
      val urls = spark.read.parquet(path).select($"url_stac").as[String]
        .collect().toSet
      val want = truth.collect { case ((c, _), ls) if c == cid => ls }.flatten.toSet
      if (urls != want) ops.fail(id, s"$cid: monthly file holds ${urls.size} links, want ${want.size}")
    }
    Fs.delete(new java.io.File(dest))
    Round(days.size.toDouble, writeSecs, timedSecs)
  }

  def layers(): Map[String, Double] = {
    val day = tracer.named("links.day")
    val c = tracer.countsFor("links.day")
    val n = day.size.toDouble
    val kernels = Kernels.nsPerRow(catalog.select($"links"), 100000L, Seq(
      // baseline: the same link picked by position, without the search
      ("first_link", first_link($"links", "https", "stac.json"), $"links".getItem(1))))
    Map(
      "links.day_ms" -> Stats.median(day.map(_.ms)),
      "links.jobs_per_day" -> Stats.ratio(c.jobs, n),
      "links.tasks_per_day" -> Stats.ratio(c.tasks, n),
      "links.cpu_ms_per_day" -> Stats.ratio(c.cpuNs / 1e6, n),
      "links.rows_read_per_link" -> Stats.ratio(c.inputRecords, linksWritten.sum),
      "links.skip_ms" -> Stats.median(tracer.named("links.skip").map(_.ms)),
      "monthly.verb_ms" -> Stats.median(tracer.named("monthly.verb").map(_.ms)),
    ) ++ kernels
  }
}
