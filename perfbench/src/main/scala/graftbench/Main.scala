package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/** One benchmark run: start the session the way `graft.Main` does, set
  * up the workload, then run its rounds closed-loop (one client thread)
  * until `--seconds` have passed, at least one round. Prints a detail
  * line and, last, the result line:
  * `{"correct", "attempted", "failed", "metrics"}`.
  *
  * With `--trace 0` the metrics are the end-to-end ones. With
  * `--trace 1` the run makes three rounds — untraced, traced,
  * untraced — so the tracing overhead compares the traced round with
  * its neighbours on either side; the metrics are the per-layer ones
  * from the traced rounds, the kernel block, and that overhead, and
  * the spans are written to `<out>/<workload>-<seed>.spans.jsonl`.
  */
object Main {
  val Workloads = Seq("backfill", "month_build", "registry")

  def main(args: Array[String]): Unit = {
    // exit explicitly: Spark's non-daemon threads would keep a failed
    // run's JVM alive
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    out.mkdirs()

    val t0 = System.nanoTime()
    val load0 = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors
    val (sessionMs, spark) = Stats.timeMs(GraftSession.getOrCreate(s"local[$cores]"))
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, work, seed)
    val w: Workload = name match {
      case "backfill" => new Backfill(ctx)
      case "month_build" => new MonthBuild(ctx)
      case "registry" => new Registry(ctx, opts("bench-dir"))
    }
    ctx.phases += ("session" -> sessionMs / 1e3)
    w.setup()
    ctx.mark("warm_up")
    val setupS = (System.nanoTime() - t0) / 1e9

    val ops = new Ops
    val rounds = ArrayBuffer.empty[(Boolean, Round)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (if (trace) r < 3 else r == 0 || System.nanoTime() < deadline) {
      val traced = trace && r % 2 == 1
      tracer.recording = traced
      rounds += (traced -> w.round(r, ops, traced))
      tracer.recording = false
      r += 1
    }
    val lat = ops.latenciesMs(w.opKind)
    val plain = rounds.collect { case (false, d) => d.timedSecs }.toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", Stats.median(plain), "s"),
        ("op_p50_ms", Stats.quantile(lat, 0.5), "ms"),
        ("op_p90_ms", Stats.quantile(lat, 0.9), "ms"),
        ("work_per_s", Stats.ratio(rounds.map(_._2.units).sum,
          rounds.map(_._2.unitSecs).sum), "1/s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else {
        tracer.drain()
        val tracedWalls = rounds.collect { case (true, d) => d.timedSecs }.toSeq
        val layers = w.layers() ++ Map(
          "session.start_ms" -> sessionMs,
          "trace.overhead_share" -> (Stats.median(tracedWalls) / Stats.median(plain) - 1))
        Files.write(new File(out, s"$name-$seed.spans.jsonl").toPath,
          tracer.jsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
        Layers.all.map { case (m, unit) => (m, layers.getOrElse(m, 0.0), unit) }
      }

    val problems = w.runChecks()
    problems.foreach(p => Console.err.println(s"[perfbench] check failed: $p"))
    val load1 = loadAvg()
    val failedShare = Stats.ratio(ops.failed, ops.attempted)
    val detail =
      s"""{"workload":"$name","seed":$seed,"trace":$trace,""" +
        rounds.map(d => f"${d._2.timedSecs}%.3f").mkString(""""rounds_s":[""", ",", "],") +
        s""""ops":${lat.size},"failed_share":$failedShare,"nproc":$cores,""" +
        s""""cores_used":$cores,"load_avg_start":$load0,"load_avg_end":$load1,""" +
        s""""source":"${opts.getOrElse("source", "unknown")}",""" +
        s""""jvm":"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",""" +
        s""""spark":"${spark.version}","scala":"${scala.util.Properties.versionNumberString}",""" +
        ctx.phases.map { case (k, v) => f""""$k":$v%.3f""" }
          .mkString(""""setup_phases_s":{""", ",", "},") +
        s""""failures":[${(ops.reasons ++ problems).map(quote).mkString(",")}]}"""
    val correct = ops.failed == 0 && problems.isEmpty
    val result =
      s"""{"correct":$correct,"attempted":${ops.attempted},"failed":${ops.failed},"metrics":{""" +
        metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
          .mkString(",") + "}}"
    Files.write(new File(out, s"$name-$seed-trace${if (trace) 1 else 0}.json").toPath,
      (detail + "\n" + result + "\n").getBytes(UTF_8))
    spark.stop()
    println(detail)
    println(result)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  private def loadAvg(): String =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8)
      .split(" ").take(3).mkString("[", ",", "]")
    catch { case _: Exception => "null" }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(new File("/proc/self/status").toPath), UTF_8)
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }
}

/** Every per-layer metric, in the order BENCHMARK.json lists them. A
  * traced run reports all of them; layers its workload does not touch
  * read 0.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "session.start_ms" -> "ms",
    "links.day_ms" -> "ms", "links.jobs_per_day" -> "count",
    "links.tasks_per_day" -> "count", "links.cpu_ms_per_day" -> "ms",
    "links.rows_read_per_link" -> "ratio", "links.skip_ms" -> "ms",
    "monthly.verb_ms" -> "ms",
    "fetch.gets_per_link" -> "ratio", "fetch.opens" -> "count",
    "fetch.inflight_mean" -> "count", "fetch.items_ms" -> "ms",
    "fetch.failed_count_ms" -> "ms",
    "write.ms" -> "ms", "write.files" -> "count",
    "write.bytes_per_item" -> "bytes", "write.rows_per_file_max" -> "count",
    "read.footer_ms" -> "ms", "read.files_kept_share" -> "ratio",
    "read.scan_ms" -> "ms", "read.rows_returned_per_row_scanned" -> "ratio",
  ) ++ Registry.modules.flatMap { m =>
    Seq(s"registry.$m.construct_ms" -> "ms", s"registry.$m.exec_ms" -> "ms",
      s"registry.$m.jobs" -> "count", s"registry.$m.tasks" -> "count",
      s"registry.$m.cpu_ms" -> "ms", s"registry.$m.shuffle_bytes" -> "bytes",
      s"registry.$m.spill_bytes" -> "bytes")
  } ++ Seq(
    "registry.persisted_rdds_end" -> "count",
    "kernel.first_link.ns_per_row" -> "ns/row",
    "kernel.hilbert_index.ns_per_row" -> "ns/row",
    "kernel.wkb_point.ns_per_row" -> "ns/row",
    "kernel.minhash.ns_per_row" -> "ns/row",
    "kernel.shingles3.ns_per_row" -> "ns/row",
    "kernel.char_trigrams.ns_per_row" -> "ns/row",
    "trace.overhead_share" -> "ratio")
}
