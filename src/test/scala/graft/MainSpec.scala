package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class MainSpec extends SparkSpecBase {
  import spark.implicits._

  test("CLI verbs drive the pipeline end-to-end against a temp dir") {
    val tmp = Files.createTempDirectory("graft-cli").toString
    val catalog = graft.stac.StacSynth.catalog(spark, sf).cache()
    // days of 1996-03 that actually hold HLSS30 granules at this SF
    val days = catalog.filter($"collection" === "HLSS30_2.0")
      .filter(date_format($"ts", "yyyy-MM") === "1996-03")
      .select(dayofmonth($"ts")).distinct().as[Int].collect().sorted
    assert(days.length >= 2, "1996-03 must hold HLSS30 granules")

    // first day: positional form; second day: the A17 message contract
    assert(Main.run(Array("cache-daily-links", "HLSS30",
      f"1996-03-${days(0)}%02d", tmp, "--catalog-dir", sf),
      Some(spark)) === 0)
    val d2 = f"1996-03-${days(1)}%02d"
    val msg = s"""{"collection": "HLSS30", "date": "$d2",
      "protocol": "https", "skip_existing": false}"""
    assert(Main.run(Array("cache-daily-links", tmp, "--message", msg,
      "--catalog-dir", sf), Some(spark)) === 0)
    val cached = spark.read.option("basePath", s"$tmp/links")
      .parquet(s"$tmp/links")
    val nCached = cached.count()
    assert(nCached > 0)
    assert(cached.select($"day").distinct().count() === 2)

    // monthly write over exactly the cached days
    assert(Main.run(Array("write-monthly-geoparquet", "HLSS30", "1996-03-01",
      tmp), Some(spark)) === 0)
    val out = spark.read.parquet(s"$tmp/v0.1/HLSS30_2.0")
      .filter($"year" === 1996 && $"month" === 3)
    assert(out.count() === nCached)
    assert(out.columns.contains("geometry"))

    // incomplete month under --require-complete-links exits 1
    assert(Main.run(Array("write-monthly-geoparquet", "HLSS30", "1996-03-01",
      tmp, "--require-complete-links"), Some(spark)) === 1)
    // bad input exits 2 with the reference's error wording
    assert(Main.run(Array("cache-daily-links", "NOPE", "1996-03-01", tmp,
      "--catalog-dir", sf), Some(spark)) === 2)
    assert(Main.run(Array("cache-daily-links", "HLSS30", "03/01/1996", tmp,
      "--catalog-dir", sf), Some(spark)) === 2)
    assert(Main.run(Array("no-such-verb"), Some(spark)) === 2)
    assert(Main.run(Array.empty[String], Some(spark)) === 2)
  }

  test("CLI bounding-box option filters the day's links") {
    val tmp = Files.createTempDirectory("graft-cli-bb").toString
    val catalog = graft.stac.StacSynth.catalog(spark, sf)
    val day = catalog.filter($"collection" === "HLSL30_2.0")
      .filter(date_format($"ts", "yyyy-MM") === "1996-03")
      .select(date_format($"ts", "yyyy-MM-dd")).orderBy($"ts")
      .head().getString(0)
    assert(Main.run(Array("cache-daily-links", "HLSL30", day,
      s"$tmp/all", "--catalog-dir", sf), Some(spark)) === 0)
    assert(Main.run(Array("cache-daily-links", "HLSL30", day,
      s"$tmp/bb", "--catalog-dir", sf,
      "--bounding-box", "-150,-50,-100,50"), Some(spark)) === 0)
    val all = spark.read.parquet(s"$tmp/all/links").count()
    val bb = spark.read.parquet(s"$tmp/bb/links").count()
    assert(bb <= all)
    // malformed bbox rejected
    assert(Main.run(Array("cache-daily-links", "HLSL30", day,
      s"$tmp/x", "--catalog-dir", sf, "--bounding-box", "1,2,3"),
      Some(spark)) === 2)
    // a flag token is never consumed as a value: `--protocol
    // --skip-existing` is a missing value (exit 2), not
    // protocol="--skip-existing"
    val err = new java.io.ByteArrayOutputStream()
    val rc = Console.withErr(err) {
      Main.run(Array("cache-daily-links", "HLSL30", day, s"$tmp/y",
        "--catalog-dir", sf, "--protocol", "--skip-existing"), Some(spark))
    }
    assert(rc === 2)
    assert(err.toString.contains("--protocol requires a value"))
  }

  /** Exit code and stderr of one CLI call. */
  private def runErr(args: String*): (Int, String) = {
    val err = new java.io.ByteArrayOutputStream()
    val rc = Console.withErr(err)(Main.run(args.toArray, Some(spark)))
    (rc, err.toString)
  }

  test("CLI rejects an unknown protocol with the reference message") {
    val tmp = Files.createTempDirectory("graft-cli-proto").toString
    val (rc, err) = runErr("cache-daily-links", "HLSL30", "1996-03-01", tmp,
      "--catalog-dir", sf, "--protocol", "ftp")
    assert(rc === 2)
    assert(err.contains("Invalid protocol: ftp. Must be 's3' or 'https'"))
  }

  test("CLI rejects an inverted bounding box with the reference message") {
    val tmp = Files.createTempDirectory("graft-cli-inv").toString
    val (rc, err) = runErr("cache-daily-links", "HLSL30", "1996-03-01", tmp,
      "--catalog-dir", sf, "--bounding-box", "100,0,60,50")
    assert(rc === 2)
    assert(err.contains("min_lon (100.0) must be less than max_lon (60.0)"))
  }
}
