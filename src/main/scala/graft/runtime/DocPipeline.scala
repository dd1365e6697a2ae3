package graft.runtime

import graft.core._
import graft.docs.DocOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship scale job: interleaved-document spatial-join + tile
  * assignment (the BASELINE.json primary metric is docs/sec through this
  * pipeline). Input docs are generated distributively so the benchmark
  * input scales with the requested size without any external data. */
object DocPipeline {

  /** n synthetic flat documents (doc_id, text, lang) from spark.range —
    * embarrassingly parallel, no driver data. */
  def syntheticDocs(spark: SparkSession, n: Long, parallelism: Int = 0): DataFrame = {
    val base = if (parallelism > 0) spark.range(0L, n, 1L, parallelism) else spark.range(n)
    base.select(col("id").as("doc_id"),
      concat(md5(col("id").cast("string").cast("binary")),
             lit(" the quick brown fox jumps over the lazy dog "),
             md5((col("id") + 1).cast("string").cast("binary"))).as("text"),
      lit("en").as("lang"))
  }

  /** Full pipeline: interleave -> the family's geometry cell cover ->
    * spatial doc x tile join -> per-tile counts. Returns the number of
    * (doc, tile) assignments and of tiles hit. Plan shape: generate ->
    * project (all codegen) -> explode cover -> broadcast hash join on
    * cell_id -> partial+final hash agg. The only shuffle is the final
    * aggregate. */
  def run(spark: SparkSession, nDocs: Long, family: DocOps.CellFamily,
          parallelism: Int = 0): (Long, Long) = {
    val spans = DocOps.interleave(syntheticDocs(spark, nDocs, parallelism))
    val perTile = DocOps.spatialJoin(spans, Synth.modisGrid, family)
      .groupBy("tile_id").agg(count(lit(1)).as("n_docs"))
    // single action: total assignments + tile count in one pass
    val r = perTile.agg(sum("n_docs"), count(lit(1))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
