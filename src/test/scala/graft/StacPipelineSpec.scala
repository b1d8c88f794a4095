package graft

import java.nio.file.Files

import graft.stac.{StacFetch, StacPipeline, StacSynth}

/** In-memory transport: serves the catalog's own item_json per URL,
  * throws for URLs in the fail set; counts per-netloc opens so reuse
  * is assertable (executors share this JVM under local[N]).
  */
object MockTransport {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
}

class MockTransport(bodies: Map[String, String], failing: Set[String])
    extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = {
    MockTransport.opens.incrementAndGet()
    url => {
      if (failing(url)) throw new RuntimeException(s"503 on $url")
      bodies.getOrElse(url,
        throw new NoSuchElementException(s"404 $url")).getBytes("UTF-8")
    }
  }
}

/** Fails `flaky` URLs on their first attempt only, `dead` URLs
  * always — attempt counts shared per-JVM (local[N] executors).
  */
object FlakyTransport {
  val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

class FlakyTransport(bodies: Map[String, String], flaky: Set[String],
                     dead: Set[String]) extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = { url =>
    val n = FlakyTransport.seen.merge(url, 1, (a, b) => a + b)
    if (dead(url)) throw new RuntimeException(s"503 permanent $url")
    if (flaky(url) && n <= 1) throw new RuntimeException(s"503 transient $url")
    bodies(url).getBytes("UTF-8")
  }
}

class StacPipelineSpec extends SparkSpecBase {
  import scala.jdk.CollectionConverters._
  import spark.implicits._

  test("dateRange: origin-date default, yesterday default, validation") {
    import graft.stac.HlsCollections
    val today = java.time.LocalDate.parse("2013-04-15")
    val r = StacPipeline.dateRange(HlsCollections.HLSL30, today = today)
    assert(r === Seq("2013-04-11", "2013-04-12", "2013-04-13", "2013-04-14"))
    val r2 = StacPipeline.dateRange(HlsCollections.HLSS30,
      startDate = Some("2024-01-30"), endDate = Some("2024-02-02"))
    assert(r2 === Seq("2024-01-30", "2024-01-31", "2024-02-01", "2024-02-02"))
    intercept[IllegalArgumentException] {
      StacPipeline.dateRange(HlsCollections.HLSL30,
        startDate = Some("2024-02-02"), endDate = Some("2024-01-30"))
    }
  }

  test("json-array daily cache matches the reference's exact file layout") {
    import org.apache.spark.sql.functions.to_date
    val tmp = java.nio.file.Files.createTempDirectory("graft-json").toString
    val catalog = StacSynth.catalog(spark, sf)
    // pick a day that actually has HLSS30 granules at this SF
    val day = catalog.filter($"collection" === "HLSS30_2.0")
      .select(to_date($"ts").cast("string")).orderBy($"ts").head().getString(0)
    val Array(y, m, d) = day.split("-")
    val path = StacPipeline.writeDailyLinksJsonArray(spark, catalog, tmp,
      "HLSS30_2.0", day)
    assert(path.endsWith(s"links/HLSS30_2.0/$y/$m/$day.json"))
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    // a single JSON array of https stac.json URLs, like links.py writes
    assert(content.startsWith("[") && content.endsWith("]"))
    val parsed = content.stripPrefix("[").stripSuffix("]").split(", ")
    assert(parsed.nonEmpty && parsed.forall(s => s.startsWith("\"https") &&
      s.endsWith("stac.json\"")))
    // empty day still writes a valid empty array
    val p2 = StacPipeline.writeDailyLinksJsonArray(spark, catalog, tmp,
      "HLSS30_2.0", "2030-01-01")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p2)), "UTF-8") === "[]")
  }

  test("json-array daily cache escapes control characters") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val tmp = Files.createTempDirectory("graft-json-esc").toString
    val links = Seq("https://data.example.com/a\tb_stac.json",
      "https://data.example.com/c\n\"d\\e_stac.json")
    val catalog = links.map(l => ("HLSS30_2.0", "1996-03-05 12:00:00", Seq(l)))
      .toDF("collection", "ts", "links")
      .withColumn("ts", $"ts".cast("timestamp"))
    val path = StacPipeline.writeDailyLinksJsonArray(spark, catalog, tmp,
      "HLSS30_2.0", "1996-03-05")
    assert(new ObjectMapper().readValue(new java.io.File(path),
      classOf[Array[String]]).toSeq === links.sorted)
  }

  test("completeness counts committed zero-granule days") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-zero-day").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val cid = "HLSS30_2.0"
    val daysWithData = catalog.filter($"collection" === cid &&
        date_format($"ts", "yyyy-MM") === "1996-03")
      .select(dayofmonth($"ts")).distinct().count()
    assert(daysWithData > 0 && daysWithData < 31,
      s"1996-03 must mix granule and zero-granule days, has $daysWithData")
    for (d <- 1 to 31) {
      assert(StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp, cid,
        f"1996-03-$d%02d"))
    }
    assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 1996, 3,
      requireCompleteLinks = true))
    val out = spark.read.parquet(s"$tmp/v0.1/$cid")
      .filter($"year" === 1996 && $"month" === 3)
    assert(out.count() ===
      StacPipeline.readMonthlyLinks(spark, tmp, cid, 1996, 3).count())
  }

  test("a day whose write left only _temporary/ is not cached") {
    val tmp = Files.createTempDirectory("graft-crashed-day").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val cid = "HLSL30_2.0"
    // the origin month (origin 1995-01-15) expects days 15..31 only
    for (d <- 15 to 31) {
      StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp, cid,
        f"1995-01-$d%02d")
    }
    assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 1995, 1,
      requireCompleteLinks = true))
    // what a crashed Overwrite leaves behind
    val day = new java.io.File(
      s"$tmp/links/collection=$cid/year=1995/month=1/day=20")
    org.apache.commons.io.FileUtils.deleteDirectory(day)
    assert(new java.io.File(day, "_temporary/0").mkdirs())
    val err = intercept[IllegalStateException] {
      StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 1995, 1,
        requireCompleteLinks = true)
    }
    assert(err.getMessage.endsWith("missing daily link caches for days 20"))
    // skip-existing rewrites the day, which completes the month again
    assert(StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp, cid,
      "1995-01-20", skipExisting = true))
    assert(!StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp, cid,
      "1995-01-20", skipExisting = true))
    assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 1995, 1,
      requireCompleteLinks = true))
  }

  test("end-to-end: cache daily links for a month, then write monthly geoparquet") {
    val tmp = Files.createTempDirectory("graft-pipe").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val cid = "HLSS30_2.0"

    // which days of 1996-03 have data?
    val days = catalog
      .filter($"collection" === cid)
      .filter(org.apache.spark.sql.functions.date_format($"ts", "yyyy-MM") === "1996-03")
      .select(org.apache.spark.sql.functions.dayofmonth($"ts"))
      .distinct().as[Int].collect().sorted

    for (d <- days) {
      val wrote = StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp,
        cid, f"1996-03-$d%02d")
      assert(wrote)
    }
    // skip-existing short-circuits on re-run
    assert(!StacPipeline.cacheDailyStacJsonLinks(spark, catalog, tmp,
      cid, f"1996-03-${days.head}%02d", skipExisting = true))

    // month readback is partition-pruned to exactly the cached days
    val monthly = StacPipeline.readMonthlyLinks(spark, tmp, cid, 1996, 3)
    assert(monthly.count() > 0)
    assert(monthly.select($"day").distinct().count() === days.length)

    if (days.length == 31) {
      assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid,
        1996, 3, requireCompleteLinks = true))
    } else {
      // incomplete month must throw under requireCompleteLinks…
      intercept[IllegalStateException] {
        StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid,
          1996, 3, requireCompleteLinks = true)
      }
      // …and succeed without it
      assert(StacPipeline.writeMonthlyStacGeoparquet(spark, tmp, cid, 1996, 3))
    }
    val out = spark.read.parquet(s"$tmp/v0.1/$cid")
    assert(out.filter($"year" === 1996 && $"month" === 3).count() ===
      monthly.count())

    // bbox-filtered daily cache is a subset
    StacPipeline.cacheDailyStacJsonLinks(spark, catalog, s"$tmp/bb",
      cid, f"1996-03-${days.head}%02d",
      bbox = Some((-150.0, -50.0, -100.0, 50.0)))
    val bbLinks = spark.read.parquet(
      s"$tmp/bb/links/collection=$cid/year=1996/month=3/day=${days.head}")
    val allLinks = spark.read.parquet(
      s"$tmp/links/collection=$cid/year=1996/month=3/day=${days.head}")
    assert(bbLinks.count() <= allLinks.count())
  }

  test("fetch operator: success/failure separation, netloc reuse, bounded pool") {
    import org.apache.spark.sql.functions._
    val catalog = StacSynth.catalog(spark, sf).cache()
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    val failUrls = catalog.filter($"fetch_failed")
      .select($"url_stac").as[String].collect().toSet
    assert(failUrls.nonEmpty, "synth catalog plants fetch failures")
    val links = catalog.select($"url_stac".as("stac_link")).repartition(4)
    MockTransport.opens.set(0)
    val (items, failed) = StacFetch.fetchItems(links, "stac_link",
      new MockTransport(bodies, failUrls), maxConcurrent = 8)
    val nItems = items.count(); val nFailed = failed.count()
    // failures become rows, successes parse — together they partition
    // the input exactly (fetch.py:78-88)
    assert(nItems + nFailed === catalog.count())
    assert(nFailed === failUrls.size)
    assert(failed.filter($"error".contains("503")).count() === nFailed)
    // one open per (partition × netloc): 4 partitions, 1 https netloc
    assert(MockTransport.opens.get() <= 4,
      s"expected ≤4 netloc opens, got ${MockTransport.opens.get()}")
    // parsed fields round-trip the catalog's own values (columns
    // renamed: items derives from catalog, so a direct self-join on
    // shared names is ambiguous)
    val cat2 = catalog.select($"url_stac".as("c_url"),
      $"collection".as("c_col"), $"ts".as("c_ts"),
      $"lon".as("c_lon"), $"lat".as("c_lat"))
    val joined = items.join(cat2, $"url_stac" === $"c_url")
      .filter($"collection" =!= $"c_col" || $"ts" =!= $"c_ts" ||
        abs($"lon" - $"c_lon") > 1e-9 || abs($"lat" - $"c_lat") > 1e-9)
    assert(joined.count() === 0, "fetched item fields must match catalog")
    // malformed body joins the failed side, not an exception
    val badLinks = Seq("https://data.example.com/bad.json")
      .toDF("stac_link")
    val bad = new MockTransport(
      Map("https://data.example.com/bad.json" -> "not json at all"),
      Set.empty)
    val (bi, bfail) = StacFetch.fetchItems(badLinks, "stac_link", bad)
    assert(bi.count() === 0 && bfail.count() === 1)
    assert(bfail.head().getString(1).contains("Malformed"))
  }

  test("fetch retries recover transient failures, keep terminal ones") {
    import org.apache.spark.sql.functions._
    val catalog = StacSynth.catalog(spark, sf).cache()
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    // flaky: fail on first attempt only; dead: always fail
    val flaky = catalog.filter($"granule_id" % 97 === 0)
      .select($"url_stac").as[String].collect().toSet
    val dead = catalog.filter($"granule_id" % 101 === 0)
      .select($"url_stac").as[String].collect().toSet
    assert(flaky.nonEmpty && dead.nonEmpty)
    FlakyTransport.seen.clear()
    val links = catalog.select($"url_stac".as("stac_link")).repartition(4)
    val (items, failed) = graft.stac.StacFetch.fetchWithRetries(
      links, "stac_link", new FlakyTransport(bodies, flaky, dead),
      attempts = 3, maxConcurrent = 8)
    val failedUrls = failed.select($"url").as[String].collect().toSet
    // dead links exhaust retries; flaky ones recover on the 2nd pass
    assert(failedUrls === dead)
    assert(items.count() === catalog.count() - dead.size)
    // one attempt only: flaky links fail too
    FlakyTransport.seen.clear()
    val (i1, f1) = graft.stac.StacFetch.fetchWithRetries(
      links, "stac_link", new FlakyTransport(bodies, flaky, dead),
      attempts = 1, maxConcurrent = 8)
    assert(f1.count() === (flaky ++ dead).size.toLong)
    assert(i1.count() === catalog.count() - (flaky ++ dead).size)
  }

  test("streaming fetch: micro-batched fetch equals the batch semantics") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-sfetch").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    val failUrls = catalog.filter($"fetch_failed")
      .select($"url_stac").as[String].collect().toSet
    // several micro-batches: one source file per trigger
    catalog.select($"url_stac".as("stac_link")).repartition(4)
      .write.parquet(s"$tmp/links-src")
    val linkStream = spark.readStream
      .schema("stac_link STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/links-src")
    graft.streaming.StacStreams.fetchLinkStream(linkStream, "stac_link",
      new MockTransport(bodies, failUrls), s"$tmp/items", s"$tmp/failed",
      maxConcurrent = 8)
    val items = spark.read.parquet(s"$tmp/items")
    val failed = spark.read.parquet(s"$tmp/failed")
    assert(items.count() + failed.count() === catalog.count())
    assert(failed.count() === failUrls.size)
    // item fields survive the streaming path identically
    val cat2 = catalog.select($"url_stac".as("c_url"), $"ts".as("c_ts"))
    assert(items.join(cat2, $"url_stac" === $"c_url")
      .filter($"ts" =!= $"c_ts").count() === 0)
  }

  test("end-to-end with fetch: link cache → fetch → monthly geoparquet + failed") {
    val tmp = Files.createTempDirectory("graft-fetch-pipe").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val cid = MonthCid
    cacheMonthLinks(catalog, tmp)
    val bodies = catalog.select($"url_stac", $"item_json").as[(String, String)]
      .collect().toMap
    val failUrls = catalog.filter($"fetch_failed")
      .select($"url_stac").as[String].collect().toSet
    val failed = StacPipeline.fetchAndWriteMonthly(spark, tmp, cid, 1996, 3,
      new MockTransport(bodies, failUrls)).cache()
    val monthLinks = StacPipeline.readMonthlyLinks(spark, tmp, cid, 1996, 3)
    val expectFailed = monthLinks
      .filter($"stac_link".isin(failUrls.toSeq: _*)).count()
    assert(failed.count() === expectFailed)
    val out = spark.read.parquet(s"$tmp/v0.1/$cid")
      .filter($"year" === 1996 && $"month" === 3)
    assert(out.count() === monthLinks.count() - expectFailed)
    // the geoparquet contract survives the fetch path: full asset
    // structs (href/type/title) and the filterable item properties
    // (write.py:219 — rustac writes whole items)
    assert(out.columns.contains("geometry"))
    assert(out.columns.contains("assets"))
    assert(Set("cloud_cover", "sun_azimuth", "sun_elevation")
      .subsetOf(out.columns.toSet))
    val assets = out.select($"assets")
      .head().getMap[String, org.apache.spark.sql.Row](0)
    assert(Set("B04", "B05", "Fmask").subsetOf(assets.keySet.toSet))
    assert(assets("B04").getAs[String]("href").endsWith(".B04.tif"))
    assert(assets("B04").getAs[String]("type").startsWith("image/tiff"))
    assert(assets("B04").getAs[String]("title") === "B04")
    // properties round-trip the catalog's deterministic values
    val cat3 = catalog.select($"url_stac".as("c_url"),
      $"cloud_cover".as("c_cc"), $"sun_azimuth".as("c_az"),
      $"sun_elevation".as("c_el"))
    assert(out.join(cat3, $"url_stac" === $"c_url")
      .filter($"cloud_cover" =!= $"c_cc" || $"sun_azimuth" =!= $"c_az" ||
        $"sun_elevation" =!= $"c_el").count() === 0)
  }

  test("fetch window bounds per-partition memory: started gets minus emitted rows <= maxConcurrent") {
    val bodies = catalogBodies()
    val links = bodies.keys.toSeq.sorted.take(40).toDF("stac_link").repartition(2)
    FetchProbe.reset()
    val mc = 4
    val raw = StacFetch.fetchRaw(links, "stac_link",
      new FetchProbeTransport(bodies, slowMs = 0), maxConcurrent = mc)
    // the counting pass: each row the fetch hands downstream
    val rows = raw.as[(String, String, String)].mapPartitions { it =>
      val p = org.apache.spark.TaskContext.getPartitionId()
      it.map { r => FetchProbe.onEmit(p); r }
    }.count()
    assert(rows === 40)
    val gets = FetchProbe.gets.asScala.toSeq
    assert(gets.size === 40, "each link is fetched once")
    // running gets plus results not yet emitted hold at most one window
    // of bodies: no get may start while maxConcurrent are outstanding
    gets.foreach { g =>
      assert(g.startedSoFar - g.emittedAtStart <= mc,
        s"partition ${g.partition}: get #${g.startedSoFar} started with only " +
          s"${g.emittedAtStart} rows emitted (bound $mc)")
    }
  }

  test("fetch window: a slow get does not hold up the gets after it") {
    val bodies = catalogBodies()
    val links = bodies.keys.toSeq.sorted.take(40).toDF("stac_link").coalesce(1)
    FetchProbe.reset()
    val raw = StacFetch.fetchRaw(links, "stac_link",
      new FetchProbeTransport(bodies, slowMs = 400), maxConcurrent = 4)
    assert(raw.filter($"error".isNull).count() === 40)
    val (slow, rest) = FetchProbe.gets.asScala.toSeq.partition(_.slow)
    assert(slow.size === 1 && rest.size === 39)
    // the other 39 gets share the remaining 3 slots; a window barrier
    // would start the 5th get only after the slow one completes
    val late = rest.filter(_.startNs >= slow.head.endNs)
    assert(late.isEmpty,
      s"${late.size} gets started only after the slow get completed")
  }

  test("fetchAndWriteMonthly releases its fetch cache and fetches each link once") {
    val tmp = Files.createTempDirectory("graft-fetch-release").toString
    val catalog = StacSynth.catalog(spark, sf)
    val links = cacheMonthLinks(catalog, tmp)
    val bodies = catalogBodies()
    val dead = links.toSeq.sorted.take(2).toSet
    // start from a session that holds no persisted RDD
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    FlakyTransport.seen.clear()
    val failed = StacPipeline.fetchAndWriteMonthly(spark, tmp, MonthCid, 1996, 3,
      new FlakyTransport(bodies, Set.empty, dead))
    assert(failed.count() === dead.size)
    assert(failed.select($"url").as[String].collect().toSet === dead)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the verb must release the fetch cache it made")
    assert(FlakyTransport.seen.asScala.toMap.map { case (u, n) => u -> n.intValue } ===
      links.map(_ -> 1).toMap, "each link is fetched exactly once")
  }

  test("fractional STAC properties round-trip to the monthly GeoParquet; integer ones still parse") {
    val tmp = Files.createTempDirectory("graft-fetch-frac").toString
    val catalog = StacSynth.catalog(spark, sf).cache()
    val links = cacheMonthLinks(catalog, tmp).toSeq.sorted
    val fractional = links.zipWithIndex.collect { case (u, i) if i % 2 == 0 => u }.toSet
    assert(fractional.nonEmpty && fractional.size < links.size)
    val props = catalog.select($"url_stac", $"cloud_cover", $"sun_azimuth",
        $"sun_elevation").as[(String, Long, Long, Long)]
      .collect().map(r => r._1 -> Seq(r._2, r._3, r._4)).toMap
    // a fractional body carries "<n>.25"-style values where the
    // catalog has the integer n
    val suffix = Seq(".25", ".36", ".5")
    val keys = Seq("eo:cloud_cover", "view:sun_azimuth", "view:sun_elevation")
    val bodies = catalogBodies().map { case (u, body) =>
      u -> (if (!fractional(u)) body else keys.zip(suffix).foldLeft(body) {
        case (b, (k, frac)) => b.replaceFirst("(\"" + k + "\": )(\\d+)", "$1$2" + frac)
      })
    }
    val failed = StacPipeline.fetchAndWriteMonthly(spark, tmp, MonthCid, 1996, 3,
      new MockTransport(bodies, Set.empty))
    assert(failed.count() === 0)
    val out = spark.read.parquet(s"$tmp/v0.1/$MonthCid")
      .filter($"year" === 1996 && $"month" === 3)
      .select($"url_stac", $"cloud_cover", $"sun_azimuth", $"sun_elevation")
      .as[(String, Option[Double], Option[Double], Option[Double])].collect()
    assert(out.map(_._1).toSet === links.toSet)
    out.foreach { case (u, cc, az, el) =>
      val want = props(u).zip(suffix).map { case (n, frac) =>
        if (fractional(u)) s"$n$frac".toDouble else n.toDouble
      }
      assert(Seq(cc, az, el) === want.map(Some(_)), s"properties of $u")
    }
  }

  private val MonthCid = "HLSL30_2.0"

  /** Caches the daily links of `MonthCid`'s 1996-03 under `dest`, one
    * call per catalog day, and returns the month's links.
    */
  private def cacheMonthLinks(catalog: org.apache.spark.sql.DataFrame,
                              dest: String): Set[String] = {
    import org.apache.spark.sql.functions._
    val days = catalog.filter($"collection" === MonthCid)
      .filter(date_format($"ts", "yyyy-MM") === "1996-03")
      .select(dayofmonth($"ts")).distinct().as[Int].collect().sorted
    assert(days.nonEmpty)
    days.foreach(d => StacPipeline.cacheDailyStacJsonLinks(spark, catalog, dest,
      MonthCid, f"1996-03-$d%02d"))
    StacPipeline.readMonthlyLinks(spark, dest, MonthCid, 1996, 3)
      .select($"stac_link").as[String].collect().toSet
  }

  private def catalogBodies(): Map[String, String] =
    StacSynth.catalog(spark, sf).select($"url_stac", $"item_json")
      .as[(String, String)].collect().toMap
}

/** Per-get records of [[FetchProbeTransport]]: when each get started
  * and ended, how many gets of its partition had started by then
  * (itself included), and how many rows the partition had already
  * emitted downstream ([[onEmit]], called by the spec's counting pass).
  */
object FetchProbe {
  import java.util.concurrent.atomic.AtomicInteger
  import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
  final case class Get(partition: Int, startedSoFar: Int, emittedAtStart: Int,
                       startNs: Long, endNs: Long, slow: Boolean)
  val gets = new ConcurrentLinkedQueue[Get]()
  private val started = new ConcurrentHashMap[Int, AtomicInteger]()
  private val emitted = new ConcurrentHashMap[Int, AtomicInteger]()
  private val firstGet = new AtomicInteger(0)
  def reset(): Unit = {
    gets.clear(); started.clear(); emitted.clear(); firstGet.set(0)
  }
  private def ctr(m: ConcurrentHashMap[Int, AtomicInteger], p: Int) =
    m.computeIfAbsent(p, _ => new AtomicInteger(0))
  def onEmit(p: Int): Unit = { ctr(emitted, p).incrementAndGet(); () }
  /** Runs one get; the first get of the JVM since [[reset]] sleeps `slowMs`. */
  def get[T](p: Int, slowMs: Long)(body: => T): T = {
    val startedSoFar = ctr(started, p).incrementAndGet()
    val emittedAtStart = ctr(emitted, p).get()
    val t0 = System.nanoTime()
    val slow = slowMs > 0 && firstGet.getAndIncrement() == 0
    try {
      Thread.sleep(if (slow) slowMs else 1) // 1 ms widens the interleaving
      body
    } finally {
      gets.add(Get(p, startedSoFar, emittedAtStart, t0, System.nanoTime(), slow))
    }
  }
}

class FetchProbeTransport(bodies: Map[String, String], slowMs: Long)
    extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = {
    // `open` runs on the task thread (store creation is sequential);
    // the gets run on pool threads with no TaskContext, so the
    // partition id must be captured HERE
    val p = org.apache.spark.TaskContext.getPartitionId()
    url => FetchProbe.get(p, slowMs)(bodies(url).getBytes("UTF-8"))
  }
}
