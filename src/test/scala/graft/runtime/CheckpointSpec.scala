package graft.runtime

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class CheckpointSpec extends SparkTestBase {

  def freshRoot(): String =
    Files.createTempDirectory("graft-ckpt").toString

  test("stage runs to completion and is a no-op on re-run") {
    val root = freshRoot()
    val out1 = Checkpoint.runStage(spark, root, "job1", "s1", "id", 8) {
      spark.range(1000).select(col("id"), (col("id") * 2).as("v"))
    }
    assert(out1.count() == 1000)
    assert(Checkpoint.doneBuckets(root, "job1", "s1").size == 8)
    // re-run with a poisoned source: must NOT recompute (all buckets done)
    val out2 = Checkpoint.runStage(spark, root, "job1", "s1", "id", 8) {
      throw new RuntimeException("source must not be recomputed")
    }
    assert(out2.count() == 1000)
  }

  test("resume after partial failure recomputes only missing buckets, idempotently") {
    val root = freshRoot()
    Checkpoint.runStage(spark, root, "job2", "s1", "id", 8) {
      spark.range(1000).select(col("id"), lit("run1").as("src"))
    }
    // simulate a crash: drop lineage for 3 buckets (their data may be stale
    // or half-written; resume must overwrite exactly those)
    val lin = Paths.get(root, "job2", "_lineage", "s1")
    Seq(1, 4, 6).foreach(b => Files.delete(lin.resolve(s"$b.json")))
    val out = Checkpoint.runStage(spark, root, "job2", "s1", "id", 8) {
      spark.range(1000).select(col("id"), lit("run2").as("src"))
    }
    assert(out.count() == 1000)
    assert(Checkpoint.doneBuckets(root, "job2", "s1").size == 8)
    // committed buckets kept run1 data (skip proof), recomputed ones are run2
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.contains("run1") && bySrc.contains("run2"))
    assert(bySrc.values.sum == 1000)
    // bucket membership is consistent: no id lost or duplicated
    assert(out.select("id").distinct().count() == 1000)
  }

  test("multi-stage pipeline reads checkpoints, metrics recorded") {
    val root = freshRoot()
    val s1 = Checkpoint.runStage(spark, root, "job3", "ingest", "id", 4) {
      spark.range(100).select(col("id"), (col("id") % 10).as("k"))
    }
    val s2 = Checkpoint.runStage(spark, root, "job3", "agg", "k", 4) {
      s1.groupBy("k").agg(count(lit(1)).as("n"))
    }
    assert(s2.count() == 10)
    val metrics = Files.readAllLines(
      Paths.get(root, "job3", "_metrics", "metrics.jsonl")).asScala
    assert(metrics.exists(_.contains("\"stage\":\"ingest\"")))
    assert(metrics.exists(_.contains("\"stage\":\"agg\"")))
  }

  test("empty stage commits, resumes and reads back with the input schema") {
    val root = freshRoot()
    val input = spark.range(100)
      .select(col("id"), (col("id") * 2.5).as("v"), col("id").cast("string").as("s"))
      .filter(col("v") < 0)
    def names(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val out = Checkpoint.runStage(spark, root, "job4", "empty", "id", 4)(input)
    assert(out.count() == 0)
    assert(names(out) == names(input))
    assert(Checkpoint.doneBuckets(root, "job4", "empty").size == 4)
    // resume: every bucket is committed, so the source is not recomputed
    val again = Checkpoint.runStage(spark, root, "job4", "empty", "id", 4) {
      throw new RuntimeException("source must not be recomputed")
    }
    assert(again.count() == 0)
    assert(names(again) == names(input))
  }
}
