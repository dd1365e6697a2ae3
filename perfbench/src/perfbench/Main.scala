package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dedup.DedupOps
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Everything one workload accumulates over a run. */
final class WorkloadRun(val wl: Workload, val seed: Long, val inDir: String, val checkIn: String) {
  var reference: Map[String, String] = Map.empty
  val failures: ArrayBuffer[String] = ArrayBuffer()
  val checks: ArrayBuffer[Check] = ArrayBuffer()
  var attempted = 0
  var failed = 0
  val walls, cpus, helds, planS = ArrayBuffer[Double]()
  val stats: ArrayBuffer[GroupStats] = ArrayBuffer()
  val traced: ArrayBuffer[(Runner, Double)] = ArrayBuffer()
}

/** Runs workloads in one session: set-up, an untimed checked iteration on
  * the check input (its outputs go to the DuckDB twins), then closed-loop
  * iterations on the timed input, whose first iteration's digests are the
  * reference every later one must match. Every iteration is cold: the
  * storage it left behind is read as held_cache_mb, then the CacheManager
  * is cleared and remaining persistent RDDs are unpersisted, and each
  * iteration gets fresh checkpoint and tile-store directories. */
final class Bench(spark: SparkSession, listener: GroupListener, planTimer: PlanTimer,
                  out: String) {
  val spans = new Spans
  private var iterCounter = 0
  private val sc = spark.sparkContext
  private val MB = 1024.0 * 1024.0

  /** Writes the check input once, untimed, then the timed input `reps`
    * times: the set-up times. The untimed write takes the JVM's cold start;
    * a workload checked on its timed input writes a copy it discards. */
  def setup(wl: Workload, seed: Long, reps: Int): (WorkloadRun, Seq[Double]) = {
    val checkIn = s"$out/${wl.name}/check_input"
    wl.setup(spark, seed, checkIn, check = wl.checkSubset)
    if (!wl.checkSubset) Main.delete(checkIn)
    val times = (1 to reps).map { k =>
      val t0 = System.nanoTime()
      wl.setup(spark, seed, s"$out/${wl.name}/input$k", check = false)
      (System.nanoTime() - t0) / 1e9
    }
    (1 until reps).foreach(k => Main.delete(s"$out/${wl.name}/input$k"))
    Main.log(s"${wl.name} set-up: ${times.map(t => f"$t%.3f").mkString(" ")} s")
    val in = s"$out/${wl.name}/input$reps"
    (new WorkloadRun(wl, seed, in, if (wl.checkSubset) checkIn else in), times)
  }

  /** Runs one iteration and returns its wall time. */
  def iteration(run: WorkloadRun, mode: Runner.Mode, keepDir: Boolean = false): Double = {
    iterCounter += 1
    val iterDir = s"$out/${run.wl.name}/iter$iterCounter"
    val r = new Runner(spark, run.wl.name, iterCounter, mode, spans,
      s"$out/${run.wl.name}/check", iterDir)
    spans.iterId = s"${run.wl.name}-$iterCounter"
    PerfbenchBus.drain(sc)
    planTimer.take()
    val t0 = System.nanoTime()
    val s = if (r.traced) spans.open("iteration") else null
    run.wl.iterate(r, run.seed, if (r.checking) run.checkIn else run.inDir)
    if (r.traced) spans.close(s)
    val wall = (System.nanoTime() - t0) / 1e9
    // ---- untimed from here on
    Main.log(f"${run.wl.name} iteration $iterCounter ($mode): $wall%.3f s" +
      r.timings.map(t => f" ${t.name}=${(t.planNs + t.execNs) / 1e9}%.3f").mkString)
    val digests = r.digests()
    val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    Runner.release(spark)
    run.attempted += r.attempted
    run.failed += r.failures.size
    run.failures ++= r.failures.map(f => s"iteration $iterCounter: $f")
    if (r.checking) run.checks ++= r.checks
    // the first iteration on the timed input gives the reference digests
    val timedInput = !r.checking || run.checkIn == run.inDir
    if (!timedInput) ()
    else if (run.reference.isEmpty) run.reference = digests
    else digests.foreach { case (op, d) =>
      run.reference.get(op).filter(_ != d).foreach { ref =>
        run.failed += 1
        run.failures += s"iteration $iterCounter: $op output digest $d differs from the first iteration's $ref"
      }
    }
    val st = listener.matching(_.startsWith(s"${run.wl.name}/i$iterCounter/"))
    mode match {
      case Runner.Timed =>
        run.walls += wall; run.helds += held; run.stats += st
        run.cpus += st.cpuNs / 1e9; run.planS += planTimer.take() / 1e3
      case Runner.Traced => run.traced += (r -> wall)
      case Runner.Checking | Runner.Warmup => ()
    }
    if (!keepDir) Main.delete(iterDir)
    wall
  }

  /** Closed loop: untimed iterations on the timed input let the JIT
    * settle, at least one and until they have taken [[Bench.WarmupS]] (the
    * checked iteration, `checkS`, counts when it ran on the timed input);
    * then iterations are timed until `secs` have passed. */
  def loop(run: WorkloadRun, secs: Double, checkS: Double): Unit = {
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    var warm = if (run.checkIn == run.inDir) checkS else 0.0
    do warm += iteration(run, Runner.Warmup) while (warm < Bench.WarmupS)
    val start = System.nanoTime()
    while (since(start) < secs) iteration(run, Runner.Timed)
  }

  // ---------------------------------------------------------------- metrics

  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def endToEnd(run: WorkloadRun, setupTimes: Seq[Double], items: Long, m: Metrics): Unit = {
    val p50 = Main.median(run.walls.toSeq)
    val (tail, tailPct, beyond) = Main.tail(run.walls.toSeq)
    m("setup_s") = (Main.median(setupTimes), "s")
    m("iter_s.p50") = (p50, "s")
    m("iter_s.tail") = (tail, "s")
    m("iter_s.tail_pct") = (tailPct, "%")
    m("iter_s.tail_beyond") = (beyond.toDouble, "count")
    m("iter_s.samples") = (run.walls.size.toDouble, "count")
    m("items_per_s") = (items / p50, s"${run.wl.itemUnit}/s")
    m("cpu_s") = (Main.median(run.cpus.toSeq), "s")
    m("held_cache_mb") = (Main.median(run.helds.toSeq), "MB")
    m("ops_failed_ratio") = (run.failed.toDouble / math.max(1, run.attempted), "share")
  }

  def sparkTotals(run: WorkloadRun, m: Metrics): Unit = {
    def med(f: GroupStats => Double) = Main.median(run.stats.toSeq.map(f))
    m("spark.stages") = (med(_.stages.toDouble), "count")
    m("spark.tasks") = (med(_.tasks.toDouble), "count")
    m("spark.exchanges") = (med(_.exchanges.toDouble), "count")
    m("spark.fetch_wait_s") = (med(_.fetchWaitMs / 1e3), "s")
    m("spark.spill_mb") = (med(_.spillB / MB), "MB")
    m("spark.gc_s") = (med(_.gcMs / 1e3), "s")
    m("spark.peak_exec_mem_mb") = (med(_.peakMemB / MB), "MB")
    m("spark.task_failures") = (med(_.taskFailures.toDouble), "count")
    m("spark.plan_s") = (Main.median(run.planS.toSeq), "s")
  }

  /** Per-op self time, executor CPU, jobs and shuffle write, medians over the
    * traced iterations; see [[OpTiming]] for how self time is isolated. */
  def opMetrics(run: WorkloadRun, m: Metrics): Unit = {
    val per = mutable.LinkedHashMap[String, ArrayBuffer[Array[Double]]]()
    run.traced.foreach { case (r, _) =>
      var ck = Array(0.0, 0.0, 0.0, 0.0, 0.0)
      r.timings.foreach { t =>
        val bare = listener.group(t.group)
        def g(sfx: String) = listener.group(s"${t.group}/$sfx")
        def row(self: Double, a: GroupStats, sub: GroupStats, add: GroupStats) = Array(self,
          (a.cpuNs - sub.cpuNs + add.cpuNs) / 1e9, (a.jobs - sub.jobs + add.jobs).toDouble,
          (a.shuffleWriteB - sub.shuffleWriteB + add.shuffleWriteB) / MB)
        val none = new GroupStats
        val v = t.method match {
          case "materialized" => row((t.planNs + t.execNs) / 1e9, bare, none, none)
          case "prefix_diff" => row((t.planNs + t.execNs - t.prefixNs) / 1e9, bare, g("prefix"), none)
          case _ =>
            val (noop, ckpt) = (g("noop"), g("ckpt"))
            val c = row((t.planNs + t.execNs - t.noopNs) / 1e9, new GroupStats().add(bare).add(ckpt),
              noop, none)
            ck = Array(ck(0) + c(0), ck(1) + c(1), ck(2) + c(2), ck(3) + c(3), ck(4) + ckpt.outputB / MB)
            row(t.noopNs / 1e9, noop, none, none)
        }
        per.getOrElseUpdate(t.name, ArrayBuffer()) += v
      }
      if (r.timings.exists(_.method == "split")) per.getOrElseUpdate("runtime.checkpoint", ArrayBuffer()) += ck
    }
    per.foreach { case (op, rows) =>
      def med(i: Int) = Main.median(rows.toSeq.map(_(i)))
      m(s"$op.self_s") = (med(0), "s"); m(s"$op.cpu_s") = (med(1), "s")
      m(s"$op.jobs") = (med(2), "count"); m(s"$op.shuffle_write_mb") = (med(3), "MB")
      if (op == "runtime.checkpoint") m("runtime.checkpoint.write_mb") = (med(4), "MB")
    }
  }

  def kernelRates(run: WorkloadRun, m: Metrics): Unit =
    run.wl.kernels(spark, run.inDir).foreach { case (name, df) =>
      val rows = df.count().toDouble
      val times = (1 to 3).map { i =>
        sc.setJobGroup(s"kernel/$name/$i", name, interruptOnCancel = false)
        try spans.time(s"kernel:$name")(df.write.format("noop").mode("overwrite").save())._2 / 1e9
        finally sc.clearJobGroup()
      }
      m(s"$name.rows_per_s") = (rows / Main.median(times), "rows/s")
    }

  /** The counts that explain each workload's algorithms, read from the last
    * traced iteration (its directories are still on disk). */
  def counts(run: WorkloadRun, m: Metrics): Unit = {
    val (r, _) = run.traced.last
    def n(op: String) = run.reference.get(op).map(_.split(":")(0).toDouble).getOrElse(Double.NaN)
    def timing(op: String) = r.timings.find(_.name == op)
    run.wl match {
      case SpatialJoin =>
        val docs = spark.read.parquet(s"${run.inDir}/docs")
        val nDocs = docs.count().toDouble
        val inter = graft.docs.DocOps.interleave(docs)
        val g = SpatialJoin.grid
        m("docs.quad.cover_cells_per_doc") = (graft.docs.DocOps.geomCellCover(inter, g,
          SpatialJoin.quadLevel).count() / nDocs, "cells/doc")
        m("docs.s2.cover_cells_per_doc") = (graft.docs.DocOps.geomCellCoverS2Rect(inter, g,
          SpatialJoin.s2Level).count() / nDocs, "cells/doc")
        m("docs.hex.cover_cells_per_doc") = (graft.docs.DocOps.geomCellCoverHex(inter, g,
          SpatialJoin.hexRes).count() / nDocs, "cells/doc")
        Seq("quad", "s2", "hex").foreach(f =>
          m(s"docs.$f.assign_rows_per_doc") = (n(s"docs.assign_$f") / nDocs, "rows/doc"))
        val perCell = timing("docs.assign_quad").get.plan.groupBy("cell_id").count()
          .agg(max("count"), sum("count")).head()
        m("docs.hot_cell_share") = (perCell.getLong(0).toDouble / perCell.getLong(1), "share")
      case RasterEtl =>
        m("ops.reproject.src_rows_per_dst_px") = (n("ops.merge") / n("ops.reproject"), "rows/px")
        m("ops.interpolate_na.rounds") =
          (timing("ops.interpolate_na").map(_.persistedAdded.toDouble).getOrElse(0.0), "count")
        val files = graft.sources.GraftDataSource.listDataFiles(s"${r.iterDir}/store").size
        val scanned = timing("sources.window_read").map(_.plan).map { df =>
          Main.nodes(df.queryExecution.executedPlan).collect {
            case b: BatchScanExec => b.partitions.map(_.size).sum
          }.sum
        }.getOrElse(0)
        m("sources.window_read.files_ratio") =
          (scanned.toDouble / (files * Gen.raster.windows), "share")
      case Curation =>
        // verified pairs over candidate pairs; candidates are recounted from
        // the ops' public pieces on the same exact-deduplicated corpus
        val corpusX = spark.read.parquet(s"${run.inDir}/corpus").join(
          timing("dedup.exact").get.plan.select(col("keeper").as("doc_id")),
          Seq("doc_id"), "left_semi")
        val lshCands = DedupOps.lshPairs(corpusX, 16, 4, 0.0).count()
        val bw = 32 / DedupOps.SimhashBands
        val banded = DedupOps.simhash(corpusX).select(col("doc_id"), explode(array(
          (0 until DedupOps.SimhashBands).map(b => struct(lit(b).as("band"),
            shiftright(col("simhash"), b * bw).bitwiseAND((1L << bw) - 1).as("bits"))): _*)).as("bb"))
          .select(col("doc_id"), col("bb.band").as("band"), col("bb.bits").as("bits"))
        val simCands = banded.as("a").join(banded.as("b"), col("a.band") === col("b.band") &&
            col("a.bits") === col("b.bits") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
        Runner.release(spark)
        m("dedup.lsh_pairs.precision") = (n("dedup.lsh_pairs") / lshCands, "share")
        m("dedup.simhash_pairs.precision") = (n("dedup.simhash_pairs") / simCands, "share")
        // one SQL execution (the label sum) before the loop and one per round
        val sums = timing("dedup.cc").map(t => listener.group(t.group).executions.size).getOrElse(0)
        m("dedup.cc.rounds") = (math.max(0, sums - 1).toDouble, "count")
        val cands = timing("ann.lsh_topk").map(_.plan).map { df =>
          Main.nodes(Main.executed(df)).collect {
            case h: HashAggregateExec
                if h.groupingExpressions.map(_.toString.takeWhile(_ != '#')) == Seq("q_id", "t_id") =>
              Main.rows(h)
          }.foldLeft(0L)(math.max)
        }.getOrElse(0L)
        val queries = n("dedup.cc") - n("dedup.decontaminate")
        m("ann.lsh_topk.candidates_per_query") = (cands / queries, "cands/query")
    }
  }
}

object Bench {
  /** Seconds of untimed iterations before a timed loop. Iteration times
    * still fall for about this long after the checked iteration (3
    * iterations of `spatial_join` on 4 cores). */
  val WarmupS = 14.0
}

object Main {
  /** A progress line in the JVM log. */
  def log(msg: String): Unit = println(s"${java.time.LocalTime.now()} $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val k = s.size
      if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it:
    * (value, percentile, samples beyond). With 10 samples or fewer it is
    * the maximum, with 0 beyond. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val k = s.size
    if (k == 0) (Double.NaN, Double.NaN, 0)
    else if (k <= 10) (s.last, 100.0, 0)
    else (s(k - 11), 100.0 * (k - 10) / k, 10)
  }

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Executes the DataFrame's own physical plan (untimed) so its SQL
    * metrics are filled in, and returns that plan. */
  def executed(df: DataFrame): SparkPlan = {
    val plan = df.queryExecution.executedPlan
    plan.execute().foreach(_ => ())
    plan
  }

  /** numOutputRows of `p`, or of the first descendant that counts rows. */
  def rows(p: SparkPlan): Long =
    nodes(p).iterator.flatMap(_.metrics.get("numOutputRows")).map(_.value).nextOption().getOrElse(0L)

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val planTimer = new PlanTimer
    spark.listenerManager.register(planTimer)
    val bench = new Bench(spark, listener, planTimer, out)
    val metrics: bench.Metrics = mutable.LinkedHashMap()
    val runs = ArrayBuffer[WorkloadRun]()
    try {
      val (main, setupTimes) = bench.setup(wl, seed, if (traced) 1 else 3)
      runs += main
      val checkS = bench.iteration(main, Runner.Checking)
      if (!traced) {
        bench.loop(main, seconds, checkS)
        bench.endToEnd(main, setupTimes, wl.items(spark, main.inDir), metrics)
      } else {
        // every workload, the named one first, is traced after its checked
        // iteration: the check input is the timed one or a subset of it
        // with the same plan literals, so the plans the traced iteration
        // runs are compiled. The named workload's traced iteration sits
        // between two untraced ones, which give the Spark totals and, as
        // their mean, the baseline of the tracing overhead while iteration
        // times still fall with the JIT's warm-up.
        (wl +: Workload.all.filter(_ != wl)).foreach { v =>
          val run = if (v == wl) main else {
            val r = bench.setup(v, seed, 1)._1
            runs += r
            bench.iteration(r, Runner.Checking)
            r
          }
          if (v == wl) bench.iteration(run, Runner.Timed)
          bench.iteration(run, Runner.Traced, keepDir = true)
          if (v == wl) bench.iteration(run, Runner.Timed)
          bench.opMetrics(run, metrics)
          bench.counts(run, metrics)
          bench.kernelRates(run, metrics)
          delete(run.traced.last._1.iterDir)
        }
        bench.endToEnd(main, setupTimes, wl.items(spark, main.inDir), metrics)
        bench.sparkTotals(main, metrics)
        metrics("trace.overhead_s") = (main.traced.head._2 - main.walls.sum / main.walls.size, "s")
        Files.write(Paths.get(s"$out/spans.jsonl"),
          bench.spans.jsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
    } finally {
      val attempted = runs.map(_.attempted).sum
      val failed = runs.map(_.failed).sum
      val checks = runs.flatMap(_.checks).map { c =>
        s"""{"op":${json(c.op)},"out":${json(c.out)},"sql":${json(c.sql)},"views":[""" +
          c.views.map { case (k, v) => s"[${json(k)},${json(v)}]" }.mkString(",") + "]}"
      }
      val ms = metrics.map { case (k, (v, u)) => s"""${json(k)}:{"value":${num(v)},"unit":${json(u)}}""" }
      val ops = runs.flatMap(_.wl.ops).map(json)
      val res = s"""{"workload":${json(wl.name)},"attempted":$attempted,"failed":$failed,""" +
        s""""ops":[${ops.mkString(",")}],""" +
        s""""failures":[${runs.flatMap(_.failures).map(json).mkString(",")}],""" +
        s""""metrics":{${ms.mkString(",")}},"checks":[${checks.mkString(",")}]}"""
      Files.write(Paths.get(s"$out/result.json"), res.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }
}
