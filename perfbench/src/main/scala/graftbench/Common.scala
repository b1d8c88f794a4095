package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the tracer, its own work
  * directory inside the checkout, and the seed.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: File, seed: Long) {
  /** Set-up phases and their seconds, for the detail line. */
  val phases = ArrayBuffer.empty[(String, Double)]
  private var last = System.nanoTime()

  /** Close the current set-up phase under `name`. */
  def mark(name: String): Unit = {
    val now = System.nanoTime()
    phases += (name -> (now - last) / 1e9)
    last = now
  }

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** Closed-loop op log: latency of every op, and which ops failed. An op
  * fails when it throws or when a later output check rejects it.
  */
final class Ops {
  private val lat = ArrayBuffer.empty[(String, Long)]
  private val failures = ArrayBuffer.empty[(Int, String)]

  /** Time `body` as op `kind`; returns its value, or None if it threw. */
  def timed[A](kind: String)(body: => A): (Int, Option[A]) = {
    val id = lat.size
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception =>
        fail(id, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    lat += (kind -> (System.nanoTime() - t0))
    (id, r)
  }

  def fail(op: Int, reason: String): Unit = {
    failures += (op -> reason)
    Console.err.println(s"[perfbench] op $op failed: ${reason.take(300)}")
  }

  def attempted: Int = lat.size
  /** Summed latency of op `first` and every op after it, in seconds. */
  def secsSince(first: Int): Double = lat.drop(first).map(_._2).sum / 1e9
  def failed: Int = failures.map(_._1).distinct.size
  def reasons: Seq[String] = failures.map(_._2).distinct.take(5).toSeq
  def latenciesMs(kind: String): Seq[Double] =
    lat.collect { case (k, ns) if k == kind => ns / 1e6 }.toSeq
}

object Stats {
  /** Linearly interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def timeMs[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e6, r)
  }
}

object Fs {
  /** Every regular file under `root` with its size and modification
    * time — used to prove a pass wrote nothing.
    */
  def snapshot(root: String): Map[String, (Long, Long)] = {
    val p = new File(root).toPath
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val out = Map.newBuilder[String, (Long, Long)]
        s.filter(Files.isRegularFile(_)).forEach { f: Path =>
          out += f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
        }
        out.result()
      } finally s.close()
    }
  }

  def parquetFiles(root: String): Seq[File] =
    snapshot(root).keys.filter(_.endsWith(".parquet")).toSeq.sorted.map(new File(_))

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
