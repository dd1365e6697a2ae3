package perfbench

import java.util.SplittableRandom

import graft.core.{GridRef, Synth}
import graft.ops.{Raster, TileWarp}
import graft.runtime.DocPipeline
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of the seed
  * and its parameters; perfbench/README.md lists the parameters and why
  * each has its value. */
object Gen {

  /** Zipf sampler over ranks 0..n-1 (rank 0 most likely), exponent `s`. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def words(r: SplittableRandom, vocab: Array[String], zipf: Zipf, n: Int): Array[String] =
    Array.fill(n)(vocab(zipf.sample(r)))

  private def vocabulary(r: SplittableRandom, size: Int): Array[String] =
    Array.fill(size) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }

  private def writeRows(spark: SparkSession, rows: Seq[Row], schema: StructType,
                        path: String, parts: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .write.mode("overwrite").parquet(path)

  // ---- spatial_join ---------------------------------------------------------

  /** `docs` and `targets` are row counts; `spatialCheck` is the fixed
    * subset the DuckDB twins verify (see [[spatialInputs]]). */
  final case class SpatialParams(docs: Int, targets: Int, zipfS: Double, hotShare: Double,
                                 knnK: Int)
  val spatial = SpatialParams(docs = 200000, targets = 1500, zipfS = 1.1, hotShare = 0.6, knnK = 5)
  val spatialCheck: SpatialParams = spatial.copy(docs = 8000)

  /** `docs(doc_id, text)`: the flagship's documents
    * (DocPipeline.syntheticDocs) with their ids re-drawn to plant a hot
    * spot. DocOps.interleave derives each document's 12x12 pixel box from
    * doc_id mod 180, so the hot spot is planted by choosing that residue:
    * with probability hotShare it is Zipf-ranked by distance from the hot
    * pixel, otherwise uniform. doc_id = residue + 180*i keeps ids
    * unique. `targets(t_id, tx, ty)` are uniform planar points
    * over the grid for the kNN leg. Row i draws from its own stream seeded
    * by (seed, i), so a smaller `p` yields exactly the first rows of a
    * larger one: the check input is a subset of the timed input. */
  def spatialInputs(spark: SparkSession, seed: Long, dir: String, p: SpatialParams): Unit = {
    import spark.implicits._
    // the hot pixel is fixed: where it lies sets how many cells a document
    // covers (hex assignment rows per document moved 10-14 with a seeded
    // one), so a fixed one gives every seed the same work
    val (hc, hr) = (90, 90)
    val byDistance = (0 until 180).sortBy { res =>
      val dc = (res * 7) % 180 - hc; val dr = (res * 13) % 180 - hr
      (dc * dc + dr * dr, res)
    }.toArray
    val zipf = new Zipf(180, p.zipfS)
    val hotShare = p.hotShare
    val docSeed = seed * 1000003L + 12L
    DocPipeline.syntheticDocs(spark, p.docs, parallelism = 4).select("doc_id", "text")
      .as[(Long, String)].map { case (i, text) =>
        val rr = new SplittableRandom(docSeed * 31L + i)
        val res = if (rr.nextDouble() < hotShare) byDistance(zipf.sample(rr)) else rr.nextInt(180)
        (res.toLong + 180L * i, text)
      }.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val t = Synth.modisGrid.transform
    val (w, h) = (Synth.modisGrid.width, Synth.modisGrid.height)
    val targetSeed = seed * 1000003L + 13L
    spark.range(0L, p.targets.toLong, 1L, 4).map { i =>
      val rr = new SplittableRandom(targetSeed * 31L + i)
      (i, t.a * (rr.nextDouble() * w) + t.c, t.e * (rr.nextDouble() * h) + t.f)
    }.toDF("t_id", "tx", "ty").write.mode("overwrite").parquet(s"$dir/targets")
  }

  // ---- raster_etl -----------------------------------------------------------

  final case class RasterParams(width: Int, height: Int, tile: Int,
                                windows: Int, windowPx: Int)
  val raster = RasterParams(width = 400, height = 400, tile = 100, windows = 2, windowPx = 100)

  /** Grid A has the MODIS fixture's origin and pixel size at `width` x
    * `height`; B is A shifted by a whole-tile offset (one tile down, two
    * across) so the two overlap and the union grid stays tile-aligned (both
    * merge paths need aligned sources). The seed sets pixel values and
    * window positions. */
  final case class RasterLayout(a: GridRef, b: GridRef, seedA: Long, seedB: Long,
                                windows: Seq[(Int, Int)])

  def rasterLayout(seed: Long, p: RasterParams): RasterLayout = {
    val r = new SplittableRandom(seed * 1000003L + 23L)
    val (seedA, seedB) = (1000L + r.nextInt(1 << 20), 5000L + r.nextInt(1 << 20))
    val a = Synth.modisGrid.copy(width = p.width, height = p.height)
    val (ro, co) = (p.tile, 2 * p.tile)
    val b = a.copy(transform = a.transform.windowed(co.toDouble, ro.toDouble))
    // windows lie where only A contributes (B fills A's nodata pixels in
    // the overlap), so every window has the same ~1% nodata share and
    // interpolation does the same work whatever the seed; each is centred
    // on a seeded tile corner, so every window reads the same number of
    // tiles
    val wins = (0 until p.windows).map(_ =>
      (p.tile * (1 + r.nextInt(p.height / p.tile - 1)) - p.windowPx / 2, p.tile - p.windowPx / 2))
    RasterLayout(a, b, seedA, seedB, wins)
  }

  /** Pixel tables of A and B plus their packed tiles (packing is set-up
    * work: the tile path reads an at-rest packed layout). */
  def rasterInputs(spark: SparkSession, seed: Long, dir: String, p: RasterParams): Unit = {
    val l = rasterLayout(seed, p)
    Seq(("a", l.a, l.seedA), ("b", l.b, l.seedB)).foreach { case (n, g, s) =>
      Synth.pixels(spark, g, s, parallelism = 4).write.mode("overwrite").parquet(s"$dir/px_$n")
      TileWarp.pack(Raster(spark.read.parquet(s"$dir/px_$n"), g), p.tile)
        .write.mode("overwrite").parquet(s"$dir/tiles_$n")
    }
  }

  // ---- curation -------------------------------------------------------------

  final case class CurationParams(docs: Int, exactShare: Double,
                                  cliqueShare: Double, cliqueMax: Int,
                                  chainShare: Double, chainMean: Double,
                                  editWords: Int, contaminateShare: Double,
                                  domains: Int, dim: Int, wordZipfS: Double)
  val curation = CurationParams(docs = 2400, exactShare = 0.08,
    cliqueShare = 0.06, cliqueMax = 5, chainShare = 0.04, chainMean = 5.0,
    editWords = 2, contaminateShare = 0.03, domains = 40, dim = 64, wordZipfS = 0.0)
  val curationCheck: CurationParams = curation.copy(docs = 240)

  private val langs = Array("en", "en", "en", "zh", "es", "de", "fr", "ja")

  /** `corpus(doc_id, text, lang, source)`, exactly `docs` rows, with
    * planted exact duplicates,
    * near-duplicate cliques (independent small edits of one base text) and
    * revision chains (each revision edits the previous one; chain length is
    * geometric with mean chainMean and is not capped). A share of documents
    * copy a 16-aligned 128-char passage of a benchmark-slice document
    * (doc_id % 35 == 0), so decontamination has hits. `emb(vec_id,
    * embedding)` gives every duplicate family one direction plus small
    * noise. Ids are a seeded permutation, so cluster minima land anywhere. */
  def curationInputs(spark: SparkSession, seed: Long, dir: String, p: CurationParams): Unit = {
    val r = new SplittableRandom(seed * 1000003L + 37L)
    val vocab = vocabulary(r, 6000)
    val wz = new Zipf(vocab.length, p.wordZipfS)
    def edit(ws: Array[String]): Array[String] = {
      val out = ws.clone()
      (0 until p.editWords).foreach(_ => out(r.nextInt(out.length)) = vocab(wz.sample(r)))
      out
    }
    // (family, text) in generation order, families added until `docs`
    val docs = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    var fam = -1
    while (docs.length < p.docs) {
      fam += 1
      val base = words(r, vocab, wz, 40 + r.nextInt(50))
      docs += fam -> base.mkString(" ")
      if (r.nextDouble() < p.exactShare)
        (0 to r.nextInt(3)).foreach(_ => docs += fam -> base.mkString(" "))
      if (r.nextDouble() < p.cliqueShare)
        (0 to r.nextInt(p.cliqueMax - 1)).foreach(_ => docs += fam -> edit(base).mkString(" "))
      if (r.nextDouble() < p.chainShare) {
        var cur = base
        var more = true
        while (more) {
          cur = edit(cur); docs += fam -> cur.mkString(" ")
          more = r.nextDouble() < 1.0 - 1.0 / p.chainMean
        }
      }
    }
    docs.remove(p.docs, docs.length - p.docs)
    val n = docs.length
    val ids = {
      val a = Array.range(0, n)
      (n - 1 to 1 by -1).foreach { i => val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val texts = Array.tabulate(n)(i => docs(i)._2)
    val benchIdx = (0 until n).filter(i => ids(i) % 35 == 0).toArray
    if (benchIdx.nonEmpty) (0 until n).foreach { i =>
      if (ids(i) % 35 != 0 && r.nextDouble() < p.contaminateShare) {
        val src = texts(benchIdx(r.nextInt(benchIdx.length)))
        if (src.length >= 160) {
          val off = 16 * r.nextInt((src.length - 128) / 16 + 1)
          val pad = " " * ((16 - texts(i).length % 16) % 16 + 16)
          texts(i) = texts(i) + pad + src.substring(off, off + 128)
        }
      }
    }
    val dz = new Zipf(p.domains, 1.2)
    val rows = (0 until n).map { i =>
      Row(ids(i).toLong, texts(i), langs(r.nextInt(langs.length)), s"src${dz.sample(r)}")
    }
    writeRows(spark, rows, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType))), s"$dir/corpus", 4)
    val famDir = Array.fill(fam + 1)(Array.fill(p.dim)(r.nextDouble() * 2 - 1))
    val emb = (0 until n).map { i =>
      Row(ids(i).toLong, famDir(docs(i)._1).map(v => v + (r.nextDouble() - 0.5) * 0.1).toSeq)
    }
    writeRows(spark, emb, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = false)))), s"$dir/emb", 4)
  }

}
