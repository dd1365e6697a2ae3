package graft

import graft.docs.DocOps
import graft.runtime.DocPipeline

/** Two-parallelism scaling evidence (BASELINE.md protocol: same job at
  * local[N] and local[4N] on identical input; efficiency =
  * (T_N / T_4N) / 4).
  *
  * The sandbox host is shared, so single-shot wall-clock is noisy; the
  * protocol interleaves the two levels over `rounds` rounds and takes the
  * minimum per level (standard noise-floor benchmarking). Prints one JSON
  * line per measured run plus the summary. */
object ScalingBench {

  def measure(cpus: Int, nDocs: Long, warm: Boolean): Double = {
    val spark = Bench.session(cpus)
    val quad = DocOps.CellFamily.quad(12)
    if (warm) DocPipeline.run(spark, math.max(1000L, nDocs / 20), quad, parallelism = cpus * 4)
    val la = Bench.loadavg()
    val t0 = System.nanoTime()
    val (rows, tiles) = DocPipeline.run(spark, nDocs, quad, parallelism = cpus * 4)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"level":"local[$cpus]","n_docs":$nDocs,"sec":$sec%.2f,"docs_per_sec":${nDocs / sec}%.0f,"assignments":$rows,"tiles":$tiles,"loadavg":$la%.1f}""")
    spark.stop()
    sec
  }

  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "4000000").toLong
    val nLow = sys.env.getOrElse("SPARK_GRAFT_LOW", "8").toInt
    val nHigh = sys.env.getOrElse("SPARK_GRAFT_HIGH", "32").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "3").toInt
    var tLow = Double.MaxValue
    var tHigh = Double.MaxValue
    for (r <- 1 to rounds) {
      tLow = math.min(tLow, measure(nLow, nDocs, warm = r == 1))
      tHigh = math.min(tHigh, measure(nHigh, nDocs, warm = false))
    }
    val speedup = tLow / tHigh
    val eff = speedup / (nHigh.toDouble / nLow)
    println(f"""{"metric":"scaling_efficiency","low":"local[$nLow]","high":"local[$nHigh]","t_low_sec":$tLow%.2f,"t_high_sec":$tHigh%.2f,"speedup":$speedup%.2f,"efficiency":$eff%.3f,"rounds":$rounds,"protocol":"min-of-rounds, interleaved"}""")
  }
}
