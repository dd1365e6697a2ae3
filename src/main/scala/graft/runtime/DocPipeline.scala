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

  /** Full pipeline: interleave -> geometry cell cover -> spatial doc x tile
    * join -> per-tile counts. Returns the number of (doc, tile) assignments.
    * Plan shape: generate -> project (all codegen) -> explode cover ->
    * broadcast hash join on cell_id -> partial+final hash agg. The only
    * shuffle is the final aggregate. */
  def run(spark: SparkSession, nDocs: Long, level: Int = 12,
          parallelism: Int = 0): (Long, Long) = {
    val docs = syntheticDocs(spark, nDocs, parallelism)
    val spans = DocOps.interleave(docs)
    val assignments = DocOps.spatialTileAssignments(spans, Synth.modisGrid, level)
    val perTile = assignments.groupBy("tile_id").agg(count(lit(1)).as("n_docs"))
    // single action: total assignments + tile count in one pass
    val r = perTile.agg(sum("n_docs"), count(lit(1))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** The SAME flagship over the other two DGGS families: the cover stage
    * swaps (S2 st-rect kernel at `level`; H3-style hex SAT at `res`), the
    * join/aggregate shape is identical — end-to-end evidence that every
    * cell family drives the spatial join at flagship scale.
    *
    * Level 10 is the granularity match for the quadtree flagship's level 12:
    * an S2 face spans 90° where the planar quadtree spans 360°, so S2 level
    * L has the cell pitch of quadtree level L+2 (90/2^10 = 360/2^12 =
    * 0.088°). Round 3 ran this leg at level 7 — cells ~8x coarser than the
    * quadtree leg's, collapsing every tile centre into a couple of cells and
    * inflating the equi-join output to 38.7 assignment rows/doc vs the
    * quadtree's ~3 (77M vs 6M rows at 2M docs). That
    * join fan-out, not the cover kernel, was the bulk of the 397s/22.4s
    * BENCH_r03 S2 leg. At level 10 the three legs do equivalent semantic
    * work: 2.69 cover cells/doc and 4.0 assignment rows/doc. */
  def runS2(spark: SparkSession, nDocs: Long, level: Int = 10,
            parallelism: Int = 0): (Long, Long) = {
    val spans = DocOps.interleave(syntheticDocs(spark, nDocs, parallelism))
    val perTile = DocOps.spatialTileAssignmentsS2(spans, Synth.modisGrid, level)
      .groupBy("tile_id").agg(count(lit(1)).as("n_docs"))
    val r = perTile.agg(sum("n_docs"), count(lit(1))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Hex res 6 is the granularity match for the quadtree flagship's level
    * 12, by the same pitch argument that moved the S2 leg from level 7 to
    * 10: hex diameter sqrt(3)*R0/sqrt(7)^6 = 0.0757° vs the quadtree pitch
    * 360/2^12 = 0.088°. Round 4 ran this leg at res 5 (diameter 0.20°,
    * ~2.6x coarser): the 64 flagship tile centres collapsed into 13 hex
    * cells and the equi-join emitted 11.2 assignment rows/doc vs the
    * quadtree's ~4 (22.4M vs 8M rows at 2M docs) —
    * join fan-out, not the SAT cover, was the hex leg's 2.5x gap. At res 6
    * the three legs do equivalent semantic work: 3.15 cover cells/doc,
    * 3.76 assignment rows/doc, 48 distinct tile cells. */
  def runHex(spark: SparkSession, nDocs: Long, res: Int = 6,
             parallelism: Int = 0): (Long, Long) = {
    val spans = DocOps.interleave(syntheticDocs(spark, nDocs, parallelism))
    val perTile = DocOps.spatialTileAssignmentsHex(spans, Synth.modisGrid, res)
      .groupBy("tile_id").agg(count(lit(1)).as("n_docs"))
    val r = perTile.agg(sum("n_docs"), count(lit(1))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
