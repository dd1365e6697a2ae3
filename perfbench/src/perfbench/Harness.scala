package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one job group, summed over its jobs. */
final class GroupStats {
  var jobs, stages, tasks, taskFailures, exchanges = 0L
  var cpuNs, gcMs, fetchWaitMs, shuffleWriteB, spillB, peakMemB, outputB = 0L
  val executions: mutable.Set[String] = mutable.Set()

  def add(o: GroupStats): GroupStats = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
    exchanges += o.exchanges; cpuNs += o.cpuNs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB; outputB += o.outputB
    peakMemB = math.max(peakMemB, o.peakMemB); executions ++= o.executions
    this
  }
}

/** Attributes every job, stage and task to the job group the benchmark set
  * around the op that submitted it (the `spark.jobGroup.id` property of the
  * job). Read only after [[PerfbenchBus.drain]]. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stats = mutable.HashMap[String, GroupStats]()
  private def st(g: String) = stats.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    val s = st(g)
    s.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(s.executions += _)
    e.stageIds.foreach(id => stageGroup(id) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = st(stageGroup.getOrElse(e.stageInfo.stageId, "-"))
    s.stages += 1
    if (PerfbenchBus.isShuffleMap(e.stageInfo)) s.exchanges += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = st(stageGroup.getOrElse(e.stageId, "-"))
    s.tasks += 1
    if (e.reason != Success) s.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputB += m.outputMetrics.bytesWritten
      s.peakMemB = math.max(s.peakMemB, m.peakExecutionMemory)
    }
  }

  def group(g: String): GroupStats = synchronized {
    stats.get(g).map(new GroupStats().add(_)).getOrElse(new GroupStats)
  }
  def matching(p: String => Boolean): GroupStats = synchronized {
    stats.filter(kv => p(kv._1)).values.foldLeft(new GroupStats)(_ add _)
  }
}

/** Sums the analysis/optimization/planning phases of every query. */
final class PlanTimer extends QueryExecutionListener {
  private var ms = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    ms += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  def take(): Long = synchronized { val v = ms; ms = 0L; v }
}

final case class Span(id: Int, parent: Int, name: String, iterId: String,
                      startNs: Long, var endNs: Long = 0L,
                      attrs: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap())

/** In-memory span recorder; written as JSON lines at the end of a run. */
final class Spans {
  val all: ArrayBuffer[Span] = ArrayBuffer()
  private var stack: List[Span] = Nil
  var iterId = ""

  def open(name: String): Span = {
    val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name, iterId, System.nanoTime())
    all += s; stack = s :: stack; s
  }
  def close(s: Span): Long = {
    s.endNs = System.nanoTime()
    stack = stack.dropWhile(_.id != s.id).drop(1)
    s.endNs - s.startNs
  }
  def time[T](name: String)(f: => T): (T, Long) = {
    val s = open(name)
    try { val v = f; (v, close(s)) } finally if (s.endNs == 0L) close(s)
  }
  def jsonLines: Seq[String] = all.toSeq.map { s =>
    val a = s.attrs.map { case (k, v) => s""","$k":"$v"""" }.mkString
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","iter_id":"${s.iterId}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}$a}"""
  }
}

/** The output of one op inside one iteration: the DataFrame downstream ops
  * compose over (the op's plan, or the read-back of what it wrote). */
final case class Out(name: String, df: DataFrame, failed: Boolean)

/** One DuckDB twin check: `views` are created in order, then `sql` is run
  * and compared with the op's output written under `out`. */
final case class Check(op: String, sql: String, views: Seq[(String, String)], out: String)

/** Timings of one op in one traced iteration (nanoseconds). `method` says
  * how self time was isolated: "materialized" (the op's input is an at-rest
  * table, so its span is all its own), "prefix_diff" (its plan re-executes
  * an upstream op, whose separate run is subtracted) or "split" (a
  * checkpointed stage: it is built and committed through the checkpoint,
  * then built again from a cleared cache and run alone into a noop sink;
  * the checkpoint's share is the first minus the second). */
final case class OpTiming(name: String, group: String, planNs: Long, execNs: Long,
                          prefixNs: Long, noopNs: Long, method: String,
                          persistedAdded: Int, plan: DataFrame)

/** Runs the ops of one iteration. Every op runs under its own job group,
  * with an observed digest (row count + two order-independent hash sums)
  * computed inside the op's own action. */
final class Runner(val spark: SparkSession, val workload: String, val iter: Int,
                   val mode: Runner.Mode, val spans: Spans, val checkDir: String,
                   val iterDir: String) {
  import Runner._
  val traced: Boolean = mode == Traced
  val checking: Boolean = mode == Checking
  val observations: mutable.LinkedHashMap[String, Observation] = mutable.LinkedHashMap()
  val timings: ArrayBuffer[OpTiming] = ArrayBuffer()
  val failures: ArrayBuffer[String] = ArrayBuffer()
  val checks: ArrayBuffer[Check] = ArrayBuffer()
  var attempted = 0
  private val sc = spark.sparkContext

  def groupOf(op: String): String = s"$workload/i$iter/$op"
  def outPath(op: String): String = s"$checkDir/$op"

  private def inGroup[T](g: String)(f: => T): T = {
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs one op. `prefix` is an upstream op whose plan this op's plan
    * contains; `deps` are further ops it needs. `stage` commits the output
    * through Checkpoint.runStage (key column, buckets) and hands the
    * read-back to downstream ops; `write` is any other sink that returns
    * the DataFrame downstream ops read. `check` builds the DuckDB twin from
    * the op's output path. */
  def op(name: String, prefix: Option[Out] = None, deps: Seq[Out] = Nil,
         view: DataFrame => DataFrame = identity,
         stage: Option[(String, Int)] = None,
         write: Option[DataFrame => DataFrame] = None,
         check: Option[String => (String, Seq[(String, String)])] = None)
        (build: => DataFrame): Out = {
    attempted += 1
    if ((prefix.toSeq ++ deps).exists(_.failed)) {
      failures += s"$name: upstream op failed"
      return Out(name, null, failed = true)
    }
    val g = groupOf(name)
    val opSpan = if (traced) spans.open(s"op:$name") else null
    val persistedBefore = sc.getPersistentRDDs.size
    try {
      val prefixNs = if (traced) prefix.map { p =>
        inGroup(s"$g/prefix")(spans.time(s"prefix:$name")(noop(p.df))._2)
      }.getOrElse(0L) else 0L
      val t0 = System.nanoTime()
      val planSpan = if (traced) spans.open(s"plan:$name") else null
      val df = inGroup(g) {
        val d = build
        if (traced) d.queryExecution.executedPlan
        d
      }
      if (traced) spans.close(planSpan)
      val planNs = System.nanoTime() - t0
      val obs = Observation(s"digest:$name")
      observations(name) = obs
      val dc = digestColumns(df)
      val observed = df.observe(obs, dc.head, dc.tail: _*)
      val t1 = System.nanoTime()
      val execSpan = if (traced) spans.open(s"exec:$name") else null
      val result: DataFrame = stage match {
        case Some((key, buckets)) =>
          inGroup(if (traced) s"$g/ckpt" else g) {
            graft.runtime.Checkpoint.runStage(spark, s"$iterDir/ckpt", workload, name,
              key, buckets)(observed)
          }
        case None => write match {
          case Some(w) => inGroup(g)(w(observed))
          case None =>
            inGroup(g) {
              if (checking) view(observed).write.mode("overwrite").parquet(outPath(name))
              else noop(observed)
            }
            df
        }
      }
      if (traced) spans.close(execSpan)
      val execNs = System.nanoTime() - t1
      // split: after the stage, a fresh build of the op alone into a noop
      // sink, from a cleared cache; the checkpoint's share is the difference
      val noopNs = if (traced && stage.isDefined) {
        release(spark)
        inGroup(s"$g/noop")(spans.time(s"noop:$name")(noop(build))._2)
      } else 0L
      if (checking && (stage.isDefined || write.isDefined))
        view(result).write.mode("overwrite").parquet(outPath(name))
      // compiles the noop plan a traced split runs, so it is not measured
      // cold against the already-compiled checkpoint plan
      if (checking && stage.isDefined) inGroup(s"$g/noop")(noop(df))
      check.foreach { c =>
        if (checking) { val (sql, views) = c(outPath(name)); checks += Check(name, sql, views, outPath(name)) }
      }
      if (traced) {
        val method = if (stage.isDefined) "split" else if (prefix.isDefined) "prefix_diff" else "materialized"
        opSpan.attrs("self_method") = method
        timings += OpTiming(name, g, planNs, execNs, prefixNs, noopNs, method,
          sc.getPersistentRDDs.size - persistedBefore, df)
      }
      Out(name, result, failed = false)
    } catch {
      case NonFatal(e) =>
        observations.remove(name)
        val at = e.getStackTrace.find(_.getClassName.startsWith("graft.")).map(f => s" at $f").getOrElse("")
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}$at"
        Out(name, null, failed = true)
    } finally {
      if (traced) spans.close(opSpan)
    }
  }

  /** Digests of every op that ran, read after the iteration's clock stopped. */
  def digests(): Map[String, String] = {
    PerfbenchBus.drain(sc)
    observations.map { case (op, o) =>
      val m = o.get
      op -> s"${m("n")}:${m("s")}:${m("x")}"
    }.toMap
  }
}

object Runner {
  sealed trait Mode
  case object Warmup extends Mode
  case object Timed extends Mode
  case object Checking extends Mode
  case object Traced extends Mode

  def digestColumns(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.toSeq.map(df.col): _*)
    Seq(count(lit(1)).as("n"), sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x"))
  }

  /** Drops every cached and persisted block the session holds. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def parquet(path: String): String = s"SELECT * FROM read_parquet('$path/*.parquet')"
}
