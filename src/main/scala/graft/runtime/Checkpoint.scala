package graft.runtime

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Checkpointed, idempotently-resumable job runner (north_rule: "resumable
  * from checkpoint with per-partition lineage + metrics").
  *
  * A job is a sequence of named stages. Each stage's output is written as a
  * parquet table hash-bucketed on a key column; a *lineage* record per bucket
  * is committed only after that bucket's data is durably written. On resume,
  * buckets with lineage records are skipped (their output is reused
  * verbatim); the rest are (re)written via dynamic partition overwrite, so a
  * half-written bucket from a crashed attempt is replaced wholesale —
  * re-running any stage any number of times converges to the same output.
  *
  * Storage here is a filesystem layout (parquet dirs + JSON lineage/metrics
  * records); on a production cluster the same protocol targets Iceberg
  * tables (atomic snapshot commit per bucket batch) — the commit points and
  * idempotence argument are identical. */
object Checkpoint {

  final case class LineageEntry(job: String, stage: String, bucket: Int,
                                rowsOut: Long, wallMs: Long, updatedAt: Long)

  private def lineageDir(root: String, job: String, stage: String) =
    Paths.get(root, job, "_lineage", stage)
  private def metricsDir(root: String, job: String) =
    Paths.get(root, job, "_metrics")
  private def stageDir(root: String, job: String, stage: String) =
    Paths.get(root, job, s"stage_$stage").toString
  private def schemaFile(root: String, job: String, stage: String) =
    Paths.get(root, job, "_schema", s"$stage.json")

  def doneBuckets(root: String, job: String, stage: String): Set[Int] = {
    val d = lineageDir(root, job, stage)
    if (!Files.exists(d)) Set.empty
    else Files.list(d).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toInt).toSet
  }

  /** Atomic-rename commit of one bucket's lineage record. */
  private def commitBucket(root: String, job: String, stage: String,
                           e: LineageEntry): Unit = {
    val d = lineageDir(root, job, stage)
    Files.createDirectories(d)
    val json =
      s"""{"job":"${e.job}","stage":"${e.stage}","bucket":${e.bucket},
         |"rows_out":${e.rowsOut},"wall_ms":${e.wallMs},"updated_at":${e.updatedAt}}"""
        .stripMargin.replace("\n", "")
    val tmp = d.resolve(s".${e.bucket}.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, d.resolve(s"${e.bucket}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def recordMetric(root: String, job: String, stage: String,
                   name: String, value: Double): Unit = {
    val d = metricsDir(root, job)
    Files.createDirectories(d)
    val line = s"""{"job":"$job","stage":"$stage","name":"$name","value":$value,"recorded_at":${System.currentTimeMillis()}}""" + "\n"
    Files.write(d.resolve("metrics.jsonl"), line.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** Run (or resume) one stage: materialize `df` bucketed by hash(keyCol) %
    * nBuckets, skipping buckets already committed. Returns the stage output
    * as a DataFrame reading the materialized table (so downstream stages
    * consume the checkpoint, not the recomputation). */
  def runStage(spark: SparkSession, root: String, job: String, stage: String,
               keyCol: String, nBuckets: Int)(df: => DataFrame): DataFrame = {
    val done = doneBuckets(root, job, stage)
    val todo = (0 until nBuckets).filterNot(done.contains)
    val out = stageDir(root, job, stage)
    if (todo.nonEmpty) {
      val t0 = System.nanoTime()
      val withBucket = df.withColumn("_bucket",
        pmod(hash(col(keyCol)), lit(nBuckets)))
      val remaining =
        if (done.isEmpty) withBucket
        else withBucket.filter(col("_bucket").isin(todo.map(Integer.valueOf): _*))
      // the written schema is kept beside the lineage: an empty stage
      // leaves no parquet footer to infer it from on the read back
      val sf = schemaFile(root, job, stage)
      Files.createDirectories(sf.getParent)
      Files.write(sf, withBucket.schema.json.getBytes(StandardCharsets.UTF_8))
      // dynamic partition overwrite: only the buckets being (re)written are
      // replaced; committed buckets' directories are untouched.
      remaining.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_bucket")
        .parquet(out)
      val wallMs = (System.nanoTime() - t0) / 1000000
      // per-bucket lineage commit (rows from the written files' footers)
      val counts = readStage(spark, root, job, stage)
        .filter(col("_bucket").isin(todo.map(Integer.valueOf): _*))
        .groupBy("_bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val now = System.currentTimeMillis()
      todo.foreach { b =>
        commitBucket(root, job, stage,
          LineageEntry(job, stage, b, counts.getOrElse(b, 0L), wallMs, now))
      }
      recordMetric(root, job, stage, "buckets_written", todo.size.toDouble)
      recordMetric(root, job, stage, "wall_ms", wallMs.toDouble)
    }
    readStage(spark, root, job, stage).drop("_bucket")
  }

  /** The stage's table, read with the schema it was written with. */
  private def readStage(spark: SparkSession, root: String, job: String,
                        stage: String): DataFrame = {
    val schema = DataType.fromJson(new String(
      Files.readAllBytes(schemaFile(root, job, stage)), StandardCharsets.UTF_8))
    spark.read.schema(schema.asInstanceOf[StructType]).parquet(stageDir(root, job, stage))
  }
}
