package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** ns/row of one `graft.functions` kernel: the kernel's projection over
  * a workload's own rows, minus a baseline projection of the same
  * inputs without the kernel. Both sides hash their output and keep the
  * maximum, so neither projection can be pruned away. The rows are repeated
  * up to about `targetRows` and cached, so the scan costs the same on
  * both sides.
  */
object Kernels {
  def nsPerRow(rows: DataFrame, targetRows: Long,
               kernels: Seq[(String, Column, Column)]): Map[String, Double] = {
    val n = math.max(1L, rows.count())
    val reps = math.max(1L, targetRows / n)
    val base = rows.crossJoin(rows.sparkSession.range(reps).toDF("rep"))
      .drop("rep").persist(StorageLevel.MEMORY_ONLY)
    val total = base.count().toDouble
    def run(c: Column): Double =
      Stats.timeMs(base.select(max(xxhash64(c))).collect())._1
    val out = kernels.map { case (name, kernel, baseline) =>
      run(kernel); run(baseline) // warm-up: codegen and JIT
      val k = Stats.median((1 to 3).map(_ => run(kernel)))
      val b = Stats.median((1 to 3).map(_ => run(baseline)))
      s"kernel.$name.ns_per_row" -> (k - b) * 1e6 / total
    }.toMap
    base.unpersist(blocking = true)
    out
  }
}
