package graft

import org.apache.spark.sql.SparkSession

import graft.stac.{HlsCollections, StacJobs, StacPipeline, StacSynth}

/** The reference's CLI (cli.py): two verbs over the pipeline library,
  * `cache-daily-links` and `write-monthly-geoparquet`, with the same
  * positional arguments (collection, date, dest) and options. The
  * cache verb also accepts the A17 queue-message contract verbatim
  * via `--message '<json>'` (handler.py:22–120 → [[StacJobs]]), so
  * existing queue payloads drive the same code path as the CLI.
  *
  * The granule feed comes from `--catalog-dir` (a testdata SF
  * directory; the reference queries CMR live — see [[graft.stac.CmrSource]]
  * for that source model).
  */
object Main {

  private val usage =
    """usage:
      |  graft.Main cache-daily-links <HLSL30|HLSS30> <YYYY-MM-DD> <dest>
      |      --catalog-dir <dir> [--bounding-box w,s,e,n]
      |      [--protocol https|s3] [--skip-existing]
      |  graft.Main cache-daily-links --message '<json>' --catalog-dir <dir> [<dest>]
      |  graft.Main write-monthly-geoparquet <HLSL30|HLSS30> <YYYY-MM-DD> <dest>
      |      [--version <v>] [--require-complete-links] [--skip-existing]
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  /** Parse argv into (positionals, flags); flags with values consume
    * the next token, boolean flags don't.
    */
  private def parseArgs(args: Seq[String]): (Seq[String], Map[String, String]) = {
    val boolFlags = Set("--skip-existing", "--require-complete-links")
    val pos = Seq.newBuilder[String]
    val flags = Map.newBuilder[String, String]
    var rest = args.toList
    while (rest.nonEmpty) {
      rest match {
        case f :: tail if boolFlags(f) =>
          flags += (f -> "true"); rest = tail
        // a flag token is never a VALUE — `--protocol --skip-existing`
        // is a missing value, not protocol="--skip-existing"
        case f :: v :: tail if f.startsWith("--") && !v.startsWith("--") =>
          flags += (f -> v); rest = tail
        case f :: _ if f.startsWith("--") =>
          throw new IllegalArgumentException(s"option $f requires a value")
        case p :: tail => pos += p; rest = tail
      }
    }
    (pos.result(), flags.result())
  }

  def run(args: Array[String], sparkIn: Option[SparkSession] = None): Int = {
    if (args.isEmpty) { Console.err.println(usage); return 2 }
    try {
      val (pos, flags) = parseArgs(args.toSeq.drop(1))
      lazy val spark = sparkIn.getOrElse(GraftSession.getOrCreate())
      args(0) match {
        case "cache-daily-links" => cacheDailyLinks(spark, pos, flags); 0
        case "write-monthly-geoparquet" => writeMonthly(spark, pos, flags); 0
        case other =>
          Console.err.println(s"unknown verb: $other\n$usage"); 2
      }
    } catch {
      case e: IllegalArgumentException =>
        Console.err.println(s"error: ${e.getMessage}"); 2
      case e: IllegalStateException =>
        Console.err.println(s"error: ${e.getMessage}"); 1
    }
  }

  private def cacheDailyLinks(spark: SparkSession, pos: Seq[String],
                              flags: Map[String, String]): Unit = {
    val catalogDir = flags.getOrElse("--catalog-dir",
      throw new IllegalArgumentException("--catalog-dir is required"))
    // either the A17 message contract or positional args
    val req = flags.get("--message") match {
      case Some(json) =>
        val r = StacJobs.parseCacheDailyRequest(json)
        r.copy(dest = r.dest.orElse(pos.headOption))
      case None =>
        if (pos.length < 3) throw new IllegalArgumentException(
          "cache-daily-links needs <collection> <date> <dest>")
        StacJobs.cacheDailyRequest(pos(0), pos(1), Some(pos(2)),
          flags.get("--bounding-box").map(_.split(",").map(_.trim.toDouble).toSeq),
          flags.getOrElse("--protocol", "https"),
          flags.contains("--skip-existing"))
    }
    val dest = req.dest.getOrElse(
      throw new IllegalArgumentException("Missing required parameter: 'dest'"))
    val wrote = StacPipeline.cacheDailyStacJsonLinks(
      spark, StacSynth.catalog(spark, catalogDir), dest,
      req.collection.collectionId, req.date, req.boundingBox,
      req.protocol, req.skipExisting)
    println(s"""{"verb": "cache-daily-links", "collection": "${req.collection.name}", "date": "${req.date}", "wrote": $wrote}""")
  }

  private def writeMonthly(spark: SparkSession, pos: Seq[String],
                           flags: Map[String, String]): Unit = {
    if (pos.length < 3) throw new IllegalArgumentException(
      "write-monthly-geoparquet needs <collection> <yearmonth> <dest>")
    val collection = HlsCollections.byName(pos(0))
    // YYYY-MM-DD, day ignored (write.py:104-106)
    val ym = StacJobs.parseDate(pos(1))
    val wrote = StacPipeline.writeMonthlyStacGeoparquet(
      spark, pos(2), collection.collectionId, ym.getYear, ym.getMonthValue,
      version = flags.getOrElse("--version", "0.1"),
      requireCompleteLinks = flags.contains("--require-complete-links"),
      skipExisting = flags.contains("--skip-existing"))
    println(s"""{"verb": "write-monthly-geoparquet", "collection": "${collection.name}", "yearmonth": "${ym.getYear}-${ym.getMonthValue}", "wrote": $wrote}""")
  }
}
