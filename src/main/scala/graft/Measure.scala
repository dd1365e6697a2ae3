package graft

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Cold, layer-by-layer measurement of the catalog queries.
  *
  * {{{
  * Measure <outDir>          writes <outDir>/measure.jsonl and <outDir>/plans/<query>.txt
  * Measure diff <a> <b>      per-query deltas between two measure.jsonl records
  * }}}
  *
  * It reads Bench's env: SPARK_GRAFT_SF_DIR (required), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_ONLY (comma-separated query names) and SPARK_GRAFT_ROUNDS
  * (default 2).
  *
  * Each selected query runs once untimed, then once in each of the rounds,
  * which iterate over the query list so a burst of host load hits every
  * query alike. Every run is cold: the session's cache and persistent RDDs
  * are released before it. A run is Bench's action, `fn(spark, sfDir)
  * .count()`, timed as Bench times it, under a job group of its own. Plan
  * construction is inside the group because some queries (packSequences,
  * the interpolate loops) run driver actions while they build the plan.
  *
  * One JSON line per query holds the min wall time; the jobs, stages, tasks,
  * executor time and shuffle/spill/memory counters of its fastest run; the
  * rows out of every operator of the terminal action's final plan with its
  * Exchange/Window counts; and the persistent RDDs and cached MB the query
  * left behind. The formatted final plan goes to plans/<query>.txt. */
object Measure {

  /** Spark counters of one job group, summed over its jobs. */
  final class Counters {
    var jobs, stages, tasks = 0
    var runMs, cpuNs, readBytes, readRecords, writeBytes, writeRecords, spillBytes, peakMemBytes = 0L
  }

  /** Attributes every job, stage and task to the job group of the job that
    * submitted it. Read a group only after the listener bus has drained. */
  private final class GroupListener extends SparkListener {
    private val stageGroup = mutable.HashMap[Int, String]()
    private val groups = mutable.HashMap[String, Counters]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        groups.getOrElseUpdate(g, new Counters).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(groups(_).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val c = groups(g)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.readBytes += m.shuffleReadMetrics.totalBytesRead
          c.readRecords += m.shuffleReadMetrics.recordsRead
          c.writeBytes += m.shuffleWriteMetrics.bytesWritten
          c.writeRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
        }
      }
    }

    /** The counters of group `g`, which is then forgotten. */
    def take(g: String): Counters = synchronized {
      stageGroup.filterInPlace((_, sg) => sg != g)
      groups.remove(g).getOrElse(new Counters)
    }
  }

  /** One measured run: wall seconds and the group's counters; from the
    * terminal action's final plan, (operator, numOutputRows) of every
    * row-counting operator of [[operators]], their Exchange and Window
    * counts and the plan's formatted text; and the persistent RDDs and
    * cached MB the query left in the session. It holds no reference to the
    * plan, so the shuffle files and broadcasts of the run can be cleaned. */
  final case class Run(sec: Double, counters: Counters, operatorRows: Seq[(String, Long)],
                       exchanges: Int, windows: Int, plan: String,
                       leftRdds: Int, leftMb: Double)

  /** Every operator of an executed plan in pre-order: through AQE and its
    * query stages, into subqueries, and into the plan of each cached
    * relation it scans (once, however often it is scanned). */
  private def operators(root: SparkPlan): Seq[SparkPlan] = {
    val seen = mutable.Set[SparkPlan]()
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec if !seen.exists(_ eq m.relation.cachedPlan) =>
        seen += m.relation.cachedPlan
        Seq(m.relation.cachedPlan)
      case _ => p.children ++ p.subqueries
    }).flatMap(walk)
    walk(root)
  }

  /** Drops every cached and persisted block the session holds. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Runs queries cold on `spark`, each under its own job group. */
  final class Harness(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val listener = new GroupListener
    sc.addSparkListener(listener)
    // the count actions delivered while a run is open; the last is the terminal one
    @volatile private var counts: Option[List[QueryExecution]] = None
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") counts = counts.map(qe :: _)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    /** `query(spark).count()` from a released session, under job group `group`. */
    def run(group: String)(query: SparkSession => DataFrame): Run = {
      release(spark)
      GraftSqlBridge.waitUntilEmpty(sc) // events of earlier jobs are not this run's
      counts = Some(Nil)
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try {
        val (_, sec) = Bench.time(query(spark).count())
        GraftSqlBridge.waitUntilEmpty(sc)
        val left = sc.getPersistentRDDs.size
        val leftMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
        val qe = counts.get.headOption.getOrElse(sys.error(s"$group: no count() action was delivered"))
        val ops = operators(qe.executedPlan)
        Run(sec, listener.take(group),
          ops.flatMap(o => o.metrics.get("numOutputRows").map(m => o.nodeName -> m.value)),
          ops.count(_.isInstanceOf[Exchange]), ops.count(_.isInstanceOf[WindowExec]),
          qe.explainString(FormattedMode), left, leftMb)
      } finally {
        sc.clearJobGroup()
        counts = None
      }
    }
  }

  private val json = new ObjectMapper()

  /** The JSON record of one query from its runs (one per round). */
  def record(name: String, runs: Seq[Try[Run]]): ObjectNode = {
    val n = json.createObjectNode().put("query", name)
    val ok = runs.collect { case Success(r) => r }
    val errors = runs.collect { case Failure(t) => s"${t.getClass.getSimpleName}: ${t.getMessage}" }
    n.put("ok", errors.isEmpty)
    errors.headOption.foreach(n.put("error", _))
    if (ok.nonEmpty) {
      val best = ok.minBy(_.sec)
      val c = best.counters
      n.put("wall_min_s", best.sec)
      val walls = n.putArray("walls_s")
      ok.foreach(r => walls.add(r.sec))
      n.put("jobs", c.jobs).put("stages", c.stages).put("tasks", c.tasks)
        .put("executor_run_s", c.runMs / 1e3).put("executor_cpu_s", c.cpuNs / 1e9)
        .put("shuffle_read_bytes", c.readBytes).put("shuffle_read_records", c.readRecords)
        .put("shuffle_write_bytes", c.writeBytes).put("shuffle_write_records", c.writeRecords)
        .put("spill_bytes", c.spillBytes).put("peak_exec_mem_bytes", c.peakMemBytes)
        .put("exchanges", best.exchanges).put("windows", best.windows)
        .put("left_persistent_rdds", best.leftRdds).put("left_cached_mb", best.leftMb)
      val rows = n.putArray("operator_rows")
      best.operatorRows.foreach { case (op, r) => rows.addArray().add(op).add(r) }
    }
    n
  }

  def main(args: Array[String]): Unit = args.toList match {
    case List("diff", a, b) => diff(read(a), read(b)).foreach(println)
    case List(outDir) => measure(outDir)
    case _ =>
      System.err.println("usage: Measure <outDir> | Measure diff <a.jsonl> <b.jsonl>")
      sys.exit(2)
  }

  def measure(outDir: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("set SPARK_GRAFT_SF_DIR to an sf directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { sel =>
      val unknown = sel.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown queries in SPARK_GRAFT_ONLY: ${unknown.mkString(",")}")
    }
    val qlist = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val spark = Bench.session(cpus)
    val harness = new Harness(spark)
    def run(name: String, tag: String): Try[Run] = {
      val r = Try(harness.run(s"measure/$name/$tag")(SparkEntry.queries(name)(_, sfDir)))
      r.failed.foreach(t => System.err.println(s"[measure] $name FAILED ($tag): ${t.getMessage}"))
      r
    }

    new File(outDir, "plans").mkdirs()
    val out = new PrintWriter(new File(outDir, "measure.jsonl"), "UTF-8")
    qlist.foreach { case (name, _) => run(name, "warmup") }
    val runs = mutable.Map[String, List[Try[Run]]]().withDefaultValue(Nil)
    for (round <- 1 to rounds) {
      val la = Bench.loadavg()
      System.err.println(f"[measure] round $round/$rounds loadavg=$la%.1f")
      out.println(json.createObjectNode().put("round", round).put("rounds", rounds).put("loadavg", la))
      qlist.foreach { case (name, _) =>
        val r = run(name, s"r$round")
        r.foreach(x => System.err.println(f"[measure] $name: ${x.sec}%.3f s, " +
          f"${x.counters.jobs} jobs, ${x.counters.stages} stages (round $round, loadavg=$la%.1f)"))
        runs(name) = runs(name) :+ r
      }
    }
    val records = qlist.map { case (name, _) =>
      runs(name).collect { case Success(r) => r }.minByOption(_.sec).foreach { best =>
        Files.writeString(Paths.get(outDir, "plans", s"$name.txt"), best.plan)
      }
      record(name, runs(name))
    }
    records.foreach(out.println)
    val summary = json.createObjectNode().put("metric", "measure").put("sf", sfDir)
      .put("cpus", cpus).put("rounds", rounds).put("queries", records.size)
      .put("wall_min_total_s", records.map(r => r.path("wall_min_s").asDouble(0.0)).sum)
      .put("loadavg_end", Bench.loadavg())
    val failed = summary.putArray("failed")
    records.filterNot(_.get("ok").asBoolean).foreach(r => failed.add(r.get("query").asText))
    out.println(summary)
    out.close()
    println(summary)
    spark.stop()
  }

  /** The per-query records of a measure.jsonl file. */
  def read(path: String): Seq[JsonNode] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.trim.nonEmpty)
      .map(json.readTree).filter(_.has("query"))

  /** One line per query: its wall min in both records, then every change in
    * ok, jobs, stages or operator rows; a summary line last. */
  def diff(a: Seq[JsonNode], b: Seq[JsonNode]): Seq[String] = {
    val am = a.map(r => r.get("query").asText -> r).toMap
    val bm = b.map(r => r.get("query").asText -> r).toMap
    val names = (am.keySet ++ bm.keySet).toSeq.sorted
    def rows(r: JsonNode) = r.path("operator_rows").asScala.map(o => (o.get(0).asText, o.get(1).asLong)).toSeq
    var changed = 0
    val lines = names.map { q =>
      (am.get(q), bm.get(q)) match {
        case (Some(x), Some(y)) =>
          val (wa, wb) = (x.path("wall_min_s").asDouble, y.path("wall_min_s").asDouble)
          val deltas = Seq("ok", "jobs", "stages").collect {
            case k if x.path(k) != y.path(k) => s"$k ${x.path(k)} -> ${y.path(k)}"
          } ++ {
            val (ra, rb) = (rows(x), rows(y))
            if (ra.size != rb.size) Seq(s"operators ${ra.size} -> ${rb.size}")
            else {
              val d = ra.zip(rb).count { case (u, v) => u != v }
              if (d > 0) Seq(s"operator_rows $d/${ra.size} differ") else Nil
            }
          }
          if (deltas.nonEmpty) changed += 1
          val pct = if (wa > 0) f" (${(wb - wa) / wa * 100}%+.1f%%)" else ""
          (f"$q wall_min $wa%.3f -> $wb%.3f s$pct" +: deltas).mkString("  ")
        case (x, _) =>
          changed += 1
          s"$q only in ${if (x.isDefined) "a" else "b"}"
      }
    }
    def total(m: Map[String, JsonNode]) = m.values.map(_.path("wall_min_s").asDouble).sum
    lines :+ f"${names.size} queries, $changed with counter deltas; " +
      f"wall_min total ${total(am)}%.3f -> ${total(bm)}%.3f s"
  }
}
