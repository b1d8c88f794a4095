package graftbench

import scala.collection.mutable

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.functions.{hilbert_index, wkb_point}
import graft.stac.{GeoParquetRead, StacFetch, StacPipeline, StacSynth, StacWrite}

/** `month_build`: fetch a month of STAC items and write its monthly
  * GeoParquet. Setup generates HLSS30's origin month (January 1995
  * from the 10th, 22 days, 2,600 granules), caches its days, and
  * fills the in-memory store (see [[Store]]): 1% of URLs fail to fetch
  * and 0.5% serve malformed JSON, on URLs the seed picks.
  * One op is one `fetchAndWriteMonthly` plus a count of its failed
  * side.
  *
  * Traced rounds run the verb's steps one by one, so fetch and write
  * each get a span. After the rounds, a traced run reads the month
  * back with seeded `readBbox` queries for the `GeoParquetRead` layer:
  * 60% ~1° tiles, 30% ~20° regions, 10% 90°×60° continents, each
  * checked against a brute-force filter of the month's rows.
  */
final class MonthBuild(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val rng = new scala.util.Random(ctx.seed)
  private val Cid = "HLSS30_2.0"
  private val Year = 1995
  private val Month = 1
  private val Granules = 2600
  private val transport = new StoreTransport
  private var dest: String = _
  private var links = 0L
  private var injected = Set.empty[String]

  private case class Traced(gets: Long, opens: Long, busyNs: Long, fetchNs: Long)
  private val traced = mutable.ArrayBuffer.empty[Traced]
  private val layout = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val readProblems = mutable.ArrayBuffer.empty[String]

  def opKind: String = "month"

  private def monthDir = s"${StacWrite.parquetRoot(dest, "0.1", Cid)}/year=$Year/month=$Month"

  def setup(): Unit = {
    val start = java.time.LocalDate.parse(StacSynth.OriginDates(Cid))
    val days = (0 until start.lengthOfMonth() - start.getDayOfMonth + 1)
      .map(start.plusDays(_).toString)
    // a fixed number of granules, on seeded days and grid cells
    var key = 1L
    val rows = (1 to Granules).map { _ =>
      key += 2 * (1 + rng.nextInt(3))
      key -> days(rng.nextInt(days.size))
    }
    val catDir = ctx.dir("catalog")
    rows.toSeq.toDF("o_orderkey", "d")
      .select($"o_orderkey", to_timestamp($"d").as("o_orderdate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$catDir/orders.parquet")
    val catalog = StacSynth.catalog(spark, catDir)
    ctx.mark("inputs")
    dest = ctx.dir("dest")
    days.foreach(d => StacPipeline.cacheDailyStacJsonLinks(spark, catalog, dest, Cid, d))

    ctx.mark("link_cache")

    val items = catalog.select($"url_stac", $"item_json", $"lon", $"lat")
      .as[(String, String, Double, Double)].collect().sortBy(_._1)
    // 1% fetch errors and 0.5% malformed bodies on seeded URLs; the
    // same delay sample every run, dealt to URLs by the seed
    val urls = rng.shuffle(items.map(_._1).toVector)
    val errors = urls.take(items.length / 100).toSet
    val malformed = urls.slice(errors.size, errors.size + items.length / 200).toSet
    Store.errors = errors
    Store.delayMs = urls.zip(rng.shuffle(Latency.sample(urls.size))).toMap
    Store.bodies = items.map { case (url, json, lon, lat) =>
      val body = ItemBody(url, json, lon, lat)
      url -> (if (malformed(url)) body.take(body.length / 2) else body).getBytes("UTF-8")
    }.toMap
    injected = errors ++ malformed
    links = items.length
    ctx.mark("store")

    val warm = new Ops
    round(-1, warm, traced = false)
    require(warm.failed == 0, s"warm-up op failed: ${warm.reasons.mkString("; ")}")
  }

  def round(r: Int, ops: Ops, traced: Boolean): Round = {
    val gets0 = Store.gets.get
    val opens0 = Store.opens.get
    var busy = 0L
    var fetchNs = 0L
    val (id, failed) = ops.timed("month") {
      if (!traced) {
        StacPipeline.fetchAndWriteMonthly(spark, dest, Cid, Year, Month, transport)
          .select($"url").as[String].collect()
      } else tracer.span("month.op", ops.attempted) {
        // the verb's own steps, so each layer gets its span
        val monthLinks = StacPipeline.readMonthlyLinks(spark, dest, Cid, Year, Month)
        val busy0 = Store.busyNs.get
        val t0 = System.nanoTime()
        val (items, failed) = tracer.span("fetch.items") {
          val p = StacFetch.fetchItems(monthLinks, "stac_link", transport)
          p._1.count()
          p
        }
        fetchNs = System.nanoTime() - t0
        busy = Store.busyNs.get - busy0
        tracer.span("write") {
          StacWrite.writeMonthly(spark, items, dest, "0.1", Cid, Year, Month)
        }
        tracer.span("fetch.failed_count") {
          failed.select($"url").as[String].collect()
        }
      }
    }
    val secs = ops.latenciesMs("month").last / 1e3
    val written = spark.read.parquet(monthDir).count()
    failed.foreach { urls =>
      if (urls.toSet != injected)
        ops.fail(id, s"failed side holds ${urls.toSet.size} urls, ${injected.size} were injected")
    }
    if (written != links - injected.size)
      ops.fail(id, s"wrote $written rows, want ${links - injected.size}")
    if (traced) {
      this.traced += Traced(Store.gets.get - gets0, Store.opens.get - opens0, busy, fetchNs)
      val files = Fs.parquetFiles(monthDir)
      val conf = spark.sparkContext.hadoopConfiguration
      val rowsPerFile = files.map { f =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
        try rd.getRecordCount finally rd.close()
      }
      layout += ((files.size.toDouble,
        Stats.ratio(files.map(_.length).sum.toDouble, written.toDouble),
        if (rowsPerFile.isEmpty) 0.0 else rowsPerFile.max.toDouble))
    }
    Round(written.toDouble, secs, secs)
  }

  override def runChecks(): Seq[String] = readProblems.toSeq

  private def nextBox(): (Double, Double, Double, Double) = {
    val u = rng.nextDouble()
    val (w, h) = if (u < 0.6) (1.0, 1.0) else if (u < 0.9) (20.0, 20.0) else (90.0, 60.0)
    val x = -180.0 + rng.nextDouble() * (360.0 - w)
    val y = -90.0 + rng.nextDouble() * (180.0 - h)
    (x, y, x + w, y + h)
  }

  /** The `GeoParquetRead` layer over the written month: 10 queries. */
  private def readBack(): Map[String, Double] = {
    val root = StacWrite.parquetRoot(dest, "0.1", Cid)
    tracer.recording = true
    (1 to 3).foreach(_ => tracer.span("read.footer")(GeoParquetRead.listFileGeo(spark, root)))
    val points = spark.read.parquet(monthDir).select($"lon", $"lat")
      .as[(Double, Double)].collect()
    var returned = 0L
    val kept = (1 to 10).map { _ =>
      val box @ (w, s, e, n) = nextBox()
      val (df, keep, all) = tracer.span("read.plan")(GeoParquetRead.readBbox(spark, root, box))
      val rows = tracer.span("read.scan")(df.select($"lon", $"lat").collect().length)
      val want = points.count { case (x, y) => x >= w && x <= e && y >= s && y <= n }
      if (rows != want) readProblems += s"bbox $box returned $rows rows, brute force finds $want"
      returned += rows
      keep.toDouble / all
    }
    tracer.recording = false
    tracer.drain()
    Map(
      "read.footer_ms" -> Stats.median(tracer.named("read.footer").map(_.ms)),
      "read.files_kept_share" -> Stats.mean(kept),
      "read.scan_ms" -> Stats.median(tracer.named("read.scan").map(_.ms)),
      "read.rows_returned_per_row_scanned" ->
        Stats.ratio(returned.toDouble, tracer.countsFor("read.scan").inputRecords.toDouble))
  }

  def layers(): Map[String, Double] = {
    val read = readBack()
    val rows = spark.read.parquet(monthDir).select($"lon", $"lat")
      .withColumn("gx", floor(($"lon" + 180.0) / 360.0 * 16384).cast("int"))
      .withColumn("gy", floor(($"lat" + 90.0) / 180.0 * 16384).cast("int"))
    val kernels = Kernels.nsPerRow(rows, 1000000L, Seq(
      ("hilbert_index", hilbert_index($"gx", $"gy", 14),
        $"gx".cast("long") * 16384L + $"gy"),
      ("wkb_point", wkb_point($"lon", $"lat"), $"lon" + $"lat")))
    def med(name: String) = Stats.median(tracer.named(name).map(_.ms))
    Map(
      "fetch.gets_per_link" -> Stats.ratio(traced.map(_.gets).sum, links * traced.size),
      "fetch.opens" -> Stats.median(traced.map(_.opens.toDouble).toSeq),
      "fetch.inflight_mean" ->
        Stats.ratio(traced.map(_.busyNs).sum.toDouble, traced.map(_.fetchNs).sum.toDouble),
      "fetch.items_ms" -> med("fetch.items"),
      "fetch.failed_count_ms" -> med("fetch.failed_count"),
      "write.ms" -> med("write"),
      "write.files" -> Stats.median(layout.map(_._1).toSeq),
      "write.bytes_per_item" -> Stats.median(layout.map(_._2).toSeq),
      "write.rows_per_file_max" -> Stats.median(layout.map(_._3).toSeq),
    ) ++ read ++ kernels
  }
}
