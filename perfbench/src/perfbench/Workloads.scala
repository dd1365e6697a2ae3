package perfbench

import graft.ann.AnnOps
import graft.core.{Crs, GridRef, Synth}
import graft.dedup.{ClusterOps, DedupOps}
import graft.docs.DocOps
import graft.ops._
import graft.text.{CurationOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Runner.{parquet => pq}

/** One workload: seeded inputs plus the op chain of one iteration. */
trait Workload {
  def name: String
  /** What one iteration processes, for the throughput metric. */
  def itemUnit: String
  /** Every op of one iteration; each has a DuckDB twin. */
  def ops: Seq[String]
  /** True when the DuckDB twins verify a smaller input than the timed one
    * (`setup` with `check`); an iteration of a checking [[Runner]] reads it. */
  def checkSubset: Boolean
  def setup(spark: SparkSession, seed: Long, dir: String, check: Boolean): Unit
  def items(spark: SparkSession, dir: String): Long
  def iterate(r: Runner, seed: Long, in: String): Unit
  /** Kernel expressions evaluated alone over this workload's own input:
    * (metric name, frame selecting only the kernel). */
  def kernels(spark: SparkSession, in: String): Seq[(String, DataFrame)]
}

object Workload {
  val all: Seq[Workload] = Seq(SpatialJoin, RasterEtl, Curation)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n (${all.map(_.name).mkString(", ")})"))
}

object SpatialJoin extends Workload {
  val name = "spatial_join"
  val itemUnit = "docs"
  val grid: GridRef = Synth.modisGrid
  val quadLevel = 12; val s2Level = 10; val hexRes = 5
  val knnCell = 4632.0; val knnRing = 2

  val checkSubset = true
  val ops = Seq("docs.interleave", "docs.assign_quad", "docs.assign_s2", "docs.assign_hex", "ops.knn")

  def setup(spark: SparkSession, seed: Long, dir: String, check: Boolean): Unit =
    Gen.spatialInputs(spark, seed, dir, if (check) Gen.spatialCheck else Gen.spatial)
  def items(spark: SparkSession, dir: String): Long = spark.read.parquet(s"$dir/docs").count()

  /** kNN query points: the centre of each document's pixel box (the same
    * doc_id arithmetic DocOps.interleave uses), in grid planar units. */
  def centroids(docs: DataFrame): DataFrame = {
    val t = grid.transform
    docs.select(col("doc_id").as("q_id"),
      (lit(t.a) * ((col("doc_id") * 7) % 180 + 6).cast("double") + lit(t.c)).as("qx"),
      (lit(t.e) * ((col("doc_id") * 13) % 180 + 6).cast("double") + lit(t.f)).as("qy"))
  }
  def centroidsSql(table: String): String = {
    val t = grid.transform
    s"""SELECT doc_id AS q_id,
       |  ${WarpOps.dlit(t.a)} * CAST((doc_id * 7) % 180 + 6 AS DOUBLE) + ${WarpOps.dlit(t.c)} AS qx,
       |  ${WarpOps.dlit(t.e)} * CAST((doc_id * 13) % 180 + 6 AS DOUBLE) + ${WarpOps.dlit(t.f)} AS qy
       |FROM $table""".stripMargin
  }

  def iterate(r: Runner, seed: Long, in: String): Unit = {
    val spark = r.spark
    val docs = spark.read.parquet(s"$in/docs")
    val targets = spark.read.parquet(s"$in/targets")
    val views = Seq("docs" -> pq(s"$in/docs"), "targets" -> pq(s"$in/targets"))
    def twin(sql: String) = Some((_: String) => (sql, views))
    val inter = r.op("docs.interleave", view = DocOps.flatSpans,
      check = twin(DocOps.flatSpansSql("docs")))(DocOps.interleave(docs))
    r.op("docs.assign_quad", prefix = Some(inter),
      check = twin(DocOps.spatialTileAssignmentsSql("docs", grid, quadLevel)))(
      DocOps.spatialTileAssignments(inter.df, grid, quadLevel))
    r.op("docs.assign_s2", prefix = Some(inter),
      check = twin(DocOps.spatialTileAssignmentsS2Sql("docs", grid, s2Level)))(
      DocOps.spatialTileAssignmentsS2(inter.df, grid, s2Level))
    r.op("docs.assign_hex", prefix = Some(inter),
      check = twin(DocOps.spatialTileAssignmentsHexSql("docs", grid, hexRes)))(
      DocOps.spatialTileAssignmentsHex(inter.df, grid, hexRes))
    r.op("ops.knn", check = twin(KnnOps.knnBruteForceSql(centroidsSql("docs"),
        "SELECT t_id, tx, ty FROM targets", Gen.spatial.knnK)))(
      KnnOps.knnKdTree(centroids(docs), targets, Gen.spatial.knnK, knnCell, knnRing))
  }

  /** (doc_id, lon/lat bbox) of each document, the S2 cover kernel's input. */
  def bbox(docs: DataFrame): DataFrame = {
    val t = grid.transform
    val c0 = ((col("doc_id") * 7) % 180).cast("double")
    val r0 = ((col("doc_id") * 13) % 180).cast("double")
    val xs = Seq(lit(t.a) * c0 + lit(t.c), lit(t.a) * (c0 + 12.0) + lit(t.c))
    val ys = Seq(lit(t.e) * r0 + lit(t.f), lit(t.e) * (r0 + 12.0) + lit(t.f))
    val corners = for (x <- xs; y <- ys) yield WarpOps.inverseColumns(grid.crs, x, y)
    docs.select(col("doc_id"),
      least(corners.map(_._1): _*).as("lon_min"), greatest(corners.map(_._1): _*).as("lon_max"),
      least(corners.map(_._2): _*).as("lat_min"), greatest(corners.map(_._2): _*).as("lat_max"))
  }

  def kernels(spark: SparkSession, in: String): Seq[(String, DataFrame)] = {
    val path = s"$in/kernel_bbox"
    bbox(spark.read.parquet(s"$in/docs")).write.mode("overwrite").parquet(path)
    val b = spark.read.parquet(path)
    Seq("functions.s2_rect_cover" -> b.select(graft.functions.S2RectCover.column(
      col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"), s2Level, 9).as("k")))
  }
}

object RasterEtl extends Workload {
  val name = "raster_etl"
  val itemUnit = "pixels"
  val resampleFactor = 2
  val resampleMethod = "med"

  val checkSubset = false
  val ops = Seq("ops.merge", "ops.reproject", "ops.tiles_merge", "ops.tiles_reproject",
    "sources.graft_write", "sources.window_read", "ops.resample", "ops.interpolate_na")

  def setup(spark: SparkSession, seed: Long, dir: String, check: Boolean): Unit =
    Gen.rasterInputs(spark, seed, dir, Gen.raster)
  def items(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/px_a").count() + spark.read.parquet(s"$dir/px_b").count()

  def iterate(r: Runner, seed: Long, in: String): Unit = {
    val spark = r.spark
    import spark.implicits._
    val p = Gen.raster; val ts = p.tile
    val l = Gen.rasterLayout(seed, p)
    val union = MergeOps.unionGrid(Seq(l.a, l.b))
    val dst = GridRef.suggestedWarpOutput(union, Crs.WGS84)
    val pxA = spark.read.parquet(s"$in/px_a"); val pxB = spark.read.parquet(s"$in/px_b")
    val tA = spark.read.parquet(s"$in/tiles_a"); val tB = spark.read.parquet(s"$in/tiles_b")
    val srcSqls = Seq("px_a" -> l.a, "px_b" -> l.b).map { case (t, g) =>
      val (ro, co) = MergeOps.alignedOffset(g, union).get
      s"SELECT row + $ro AS row, col + $co AS col, value FROM $t"
    }
    val inViews = Seq("px_a" -> pq(s"$in/px_a"), "px_b" -> pq(s"$in/px_b"))
    val mergeTwin = Some((_: String) => (MergeOps.mergeSql(union, srcSqls, "first"), inViews))
    def reprojTwin(of: String) = Some((_: String) => (
      WarpOps.nearestSinuFromLonLatSql(union, dst, "SELECT row, col, value FROM reproj_in"),
      Seq("reproj_in" -> pq(r.outPath(of)))))
    def pixels(tiles: DataFrame, g: GridRef): DataFrame =
      TileWarp.toPixels(tiles.as[TileWarp.DstTile], g, ts)

    val merge = r.op("ops.merge", check = mergeTwin)(
      MergeOps.merge(Seq(Raster(pxA, l.a), Raster(pxB, l.b)), "first").df)
    r.op("ops.reproject", prefix = Some(merge), check = reprojTwin("ops.merge"))(
      WarpOps.reprojectNearest(Raster(merge.df, union), dst).df)
    val tm = r.op("ops.tiles_merge", view = pixels(_, union), check = mergeTwin)(
      TileMerge.mergeTiles(Seq(tA -> l.a, tB -> l.b), "first", ts)._1.toDF())
    r.op("ops.tiles_reproject", prefix = Some(tm), view = pixels(_, dst),
        check = reprojTwin("ops.tiles_merge"))(
      TileWarp.reprojectNearestPacked(tm.df.withColumnRenamed("tile_row", "st_row")
        .withColumnRenamed("tile_col", "st_col"), union, dst, ts).toDF())

    val store = s"${r.iterDir}/store"
    val written = r.op("sources.graft_write", prefix = Some(merge), check = mergeTwin,
      write = Some { d =>
        d.write.format("graft").mode("overwrite")
          .option("crs", union.crs.key).option("transform", union.transform.toGdal)
          .option("width", union.width.toString).option("height", union.height.toString)
          .option("nodata", union.nodata.toString).option("tile_size", ts.toString)
          .save(store)
        spark.read.format("graft").load(store)
      })(merge.df)
    val winSql = l.windows.zipWithIndex.map { case ((r0, c0), i) =>
      s"""SELECT $i AS w, row, col, x, y, value FROM merged
         |WHERE row BETWEEN $r0 AND ${r0 + p.windowPx - 1}
         |  AND col BETWEEN $c0 AND ${c0 + p.windowPx - 1}""".stripMargin
    }.mkString("\nUNION ALL\n")
    val windows = r.op("sources.window_read", deps = Seq(written),
      check = Some(_ => (winSql, Seq("merged" -> pq(r.outPath("ops.merge")))))) {
      l.windows.zipWithIndex.map { case ((r0, c0), i) =>
        spark.read.format("graft").load(store)
          .filter(col("row").between(r0, r0 + p.windowPx - 1) &&
                  col("col").between(c0, c0 + p.windowPx - 1))
          .select(lit(i).as("w"), col("row"), col("col"), col("x"), col("y"), col("value"))
      }.reduce(_ unionByName _)
    }
    // downstream ops work on the first window; it is their prefix
    val win0 = Out("sources.window_read[0]",
      if (windows.failed) null else windows.df.filter(col("w") === 0).drop("w"), windows.failed)
    val win0Views = Seq("win" -> pq(r.outPath("sources.window_read")),
      "win0" -> "SELECT row, col, x, y, value FROM win WHERE w = 0")
    r.op("ops.resample", prefix = Some(win0), check = Some(_ => (
      WarpOps.resampleDownSql(union, resampleFactor, resampleMethod,
        "SELECT row, col, value FROM win0"), win0Views)))(
      WarpOps.resampleDown(Raster(win0.df, union), resampleFactor, resampleMethod).df)
    r.op("ops.interpolate_na", prefix = Some(win0), check = Some(_ => (
      InterpolateOps.interpolateNaSql("SELECT * FROM win0", union), win0Views)))(
      InterpolateOps.interpolateNaNearest(Raster(win0.df, union), bucket = 4).df
        .select("row", "col", "x", "y", "value"))
  }

  def kernels(spark: SparkSession, in: String): Seq[(String, DataFrame)] = {
    val ts = Gen.raster.tile
    Seq("functions.slice_grid" -> spark.read.parquet(s"$in/tiles_a").select(
      graft.functions.SliceGrid.column(col("data"), lit(5L), lit(ts - 6L), lit(5L),
        lit(ts - 6L), ts).as("k")))
  }
}

object Curation extends Workload {
  val name = "curation"
  val itemUnit = "docs"
  val buckets = 4
  val domainCap = 20
  val packBudget = 512
  val annK = 5

  val checkSubset = true
  val ops = Seq("dedup.exact", "dedup.lsh_pairs", "dedup.simhash_pairs", "dedup.cc",
    "dedup.decontaminate", "ann.lsh_topk", "text.sample", "text.domain_cap", "text.pack")

  def setup(spark: SparkSession, seed: Long, dir: String, check: Boolean): Unit =
    Gen.curationInputs(spark, seed, dir, if (check) Gen.curationCheck else Gen.curation)
  def items(spark: SparkSession, dir: String): Long = spark.read.parquet(s"$dir/corpus").count()

  private def semi(df: DataFrame, keys: DataFrame): DataFrame = df.join(keys, Seq("doc_id"), "left_semi")

  def iterate(r: Runner, seed: Long, in: String): Unit = {
    val spark = r.spark
    val corpus = spark.read.parquet(s"$in/corpus")
    val emb = spark.read.parquet(s"$in/emb")
    def out(op: String) = pq(r.outPath(op))
    val stage = Some(("doc_id", buckets))

    val v0 = Seq("corpus" -> pq(s"$in/corpus"), "emb" -> pq(s"$in/emb"))
    val exact = r.op("dedup.exact", stage = Some(("keeper", buckets)),
      check = Some(_ => (DedupOps.exactGroupsSql("corpus"), v0)))(DedupOps.exactGroups(corpus))
    def corpusX = semi(corpus, exact.df.select(col("keeper").as("doc_id")))
    val v1 = v0 ++ Seq("exact_out" -> out("dedup.exact"),
      "corpus_x" -> "SELECT * FROM corpus WHERE doc_id IN (SELECT keeper FROM exact_out)")

    val lsh = r.op("dedup.lsh_pairs", deps = Seq(exact), stage = Some(("doc_a", buckets)),
      check = Some(_ => (DedupOps.lshPairsSql("corpus_x", 16, 4, 0.5), v1)))(
      DedupOps.lshPairs(corpusX, 16, 4, 0.5))
    val sim = r.op("dedup.simhash_pairs", deps = Seq(exact), stage = Some(("doc_a", buckets)),
      check = Some(_ => (DedupOps.simhashPairsSql("corpus_x", 3), v1)))(
      DedupOps.simhashPairs(corpusX, 3))
    val v2 = v1 ++ Seq("lsh_out" -> out("dedup.lsh_pairs"), "sim_out" -> out("dedup.simhash_pairs"))
    val cc = r.op("dedup.cc", deps = Seq(exact, lsh, sim), stage = stage,
      check = Some(_ => (ClusterOps.dedupedCorpusSql("SELECT * FROM corpus_x",
        "SELECT doc_a, doc_b FROM lsh_out UNION SELECT doc_a, doc_b FROM sim_out"), v2)))(
      ClusterOps.dedupedCorpus(corpusX,
        lsh.df.select("doc_a", "doc_b").union(sim.df.select("doc_a", "doc_b")).distinct()))
    def corpusD = semi(corpus, cc.df.select("doc_id"))
    val v3 = v2 ++ Seq("cc_out" -> out("dedup.cc"),
      "corpus_d" -> "SELECT * FROM corpus WHERE doc_id IN (SELECT doc_id FROM cc_out)")

    val decon = r.op("dedup.decontaminate", deps = Seq(cc), stage = stage,
      check = Some(_ => (DedupOps.contaminatedDocsSql("corpus_d"), v3)))(
      DedupOps.contaminatedDocs(corpusD))
    def clean = corpusD.join(decon.df.select("doc_id"), Seq("doc_id"), "left_anti")
    val v4 = v3 ++ Seq("decon_out" -> out("dedup.decontaminate"),
      "clean" -> "SELECT * FROM corpus_d WHERE doc_id NOT IN (SELECT doc_id FROM decon_out)")

    r.op("ann.lsh_topk", deps = Seq(decon), stage = Some(("q_id", buckets)),
      check = Some(_ => (AnnOps.lshTopKSql(
        "SELECT vec_id, embedding FROM emb WHERE vec_id IN (SELECT doc_id FROM clean)", annK), v4)))(
      AnnOps.lshTopK(emb.join(clean.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        annK, dim = Gen.curation.dim))
    val sample = r.op("text.sample", deps = Seq(decon), stage = stage,
      check = Some(_ => (CurationOps.stratifiedSampleSql("clean"), v4)))(
      CurationOps.stratifiedSample(clean))
    def sampled = semi(clean, sample.df.select("doc_id"))
    val v5 = v4 ++ Seq("sample_out" -> out("text.sample"),
      "sampled" -> "SELECT * FROM clean WHERE doc_id IN (SELECT doc_id FROM sample_out)")
    val cap = r.op("text.domain_cap", deps = Seq(sample), stage = stage,
      check = Some(_ => (CurationOps.domainCapSql("sampled", domainCap), v5)))(
      CurationOps.domainCap(sampled, domainCap))
    def capped = semi(sampled, cap.df.select("doc_id"))
    val v6 = v5 ++ Seq("cap_out" -> out("text.domain_cap"),
      "capped" -> "SELECT * FROM sampled WHERE doc_id IN (SELECT doc_id FROM cap_out)")
    r.op("text.pack", deps = Seq(cap), stage = stage,
      check = Some(_ => (CurationOps.packSequencesSql("capped", packBudget), v6)))(
      CurationOps.packSequences(capped, packBudget))
  }

  def kernels(spark: SparkSession, in: String): Seq[(String, DataFrame)] = Seq(
    "functions.lsh_buckets" -> spark.read.parquet(s"$in/emb").select(
      graft.functions.LshBuckets.column(col("embedding"), 4, 8, Gen.curation.dim).as("k")),
    "functions.rolling_hash" -> spark.read.parquet(s"$in/corpus").select(
      TextOps.rollingHash(col("text")).as("k")))
}
