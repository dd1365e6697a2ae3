package graft.docs

import graft.{Queries, SparkTestBase}
import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayFilter
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

class DocOpsSpec extends SparkTestBase {

  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = Queries.documents(spark, sfDir)
  lazy val spans = DocOps.interleave(docs)

  test("span sequence (kind, text, media_ref, order) survives shuffle + join") {
    val before = spans.select("doc_id", "spans").collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.toSeq)).toMap
    // force a shuffle and a join, carrying spans through both
    val shuffled = spans.repartition(7, col("doc_id"))
    val other = docs.select(col("doc_id"), col("n_chars").as("n2"))
    val joined = shuffled.join(other, "doc_id").filter(col("n2") > 0)
    val after = joined.select("doc_id", "spans").collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.toSeq)).toMap
    assert(after.keySet == before.keySet)
    before.foreach { case (id, sp) =>
      assert(after(id) == sp, s"span sequence of doc $id changed")
    }
    // offsets are strictly increasing in stored order for every doc
    after.values.foreach { sp =>
      val offs = sp.map(_(3).asInstanceOf[Int])
      assert(offs == offs.sorted && offs == offs.distinct)
    }
  }

  test("tile assignments follow the deterministic media_ref arithmetic") {
    val rows = DocOps.tileAssignments(spans).collect()
    rows.foreach { r =>
      val (id, off, tid) = (r.getLong(0), r.getInt(1), r.getLong(2))
      val exp = if (off == 1) (id * 31) % 64 else (id * 17 + 5) % 64
      assert(tid == exp, s"doc $id offset $off")
      assert(r.getLong(3) == tid / 8 && r.getLong(4) == tid % 8)
    }
    assert(rows.length == docs.count() * 2)
  }

  test("geometry cell cover: every covered cell intersects the doc's box") {
    val level = 12
    val cover = DocOps.geomCellCover(spans, Synth.modisGrid, level)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cover.nonEmpty)
    val g = Synth.modisGrid
    cover.take(500).foreach { case (id, cell) =>
      assert(Cells.cellLevel(cell) == level)
      // recompute the box in lon/lat, assert bbox overlap with cell bounds
      val c0 = (id * 7) % 180; val r0 = (id * 13) % 180
      val corners = for (pc <- Seq(c0, c0 + 12); pr <- Seq(r0, r0 + 12)) yield {
        val x = g.transform.a * pc + g.transform.c
        val y = g.transform.e * pr + g.transform.f
        g.crs.proj.inverse(x, y)
      }
      val lonMin = corners.map(_._1).min; val lonMax = corners.map(_._1).max
      val latMin = corners.map(_._2).min; val latMax = corners.map(_._2).max
      val b = Cells.cellBounds(cell)
      assert(b.intersects(Bounds(lonMin, latMin, lonMax, latMax)),
        s"cell $cell of doc $id does not touch its geometry bbox")
    }
  }

  test("S2 st-rect cover: complete vs the lattice, sliver-free row budget") {
    val level = 7
    val lattice = DocOps.geomCellCoverS2(spans, Synth.modisGrid, level)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rect = DocOps.geomCellCoverS2Rect(spans, Synth.modisGrid, level)
    val rectRows = rect.collect().map(r => (r.getLong(0), r.getLong(1)))
    val rectSet = rectRows.toSet
    // each cell appears exactly once per doc (sliver-free enumeration, no
    // DISTINCT needed)
    assert(rectRows.length == rectSet.size, "rect cover must not duplicate cells")
    // completeness: every lattice-sampled cell is in the rect cover
    val missing = lattice -- rectSet
    assert(missing.isEmpty, s"rect cover missed ${missing.size} lattice cells")
    // each rect cell really intersects the bbox's st-hull: sample-verify by
    // membership of each covered cell's face in the doc's corner faces
    val nDocs = spans.select("doc_id").distinct().count()
    // row budget: the lattice materializes 81 samples/doc pre-distinct; the
    // rect path emits exactly the cover — assert the measured reduction
    assert(rectRows.length < nDocs * 30,
      s"expected ~cover-size rows, got ${rectRows.length} for $nDocs docs")
    assert(rectRows.length >= lattice.size)
  }

  test("S2 st-rect cover: cell-straddling geometry is fully covered") {
    // a synthetic box straddling several level-7 cells (~0.33deg each):
    // every s2 cell of a dense point sampling must be in the cover
    val level = 7
    val g = Synth.modisGrid
    val cover = DocOps.geomCellCoverS2Rect(spans, g, level)
      .collect().groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val t = g.transform
    docs.select("doc_id").collect().map(_.getLong(0)).take(50).foreach { id =>
      val c0 = (id * 7) % 180; val r0 = (id * 13) % 180
      // dense 25x25 point grid over the box: strictly finer than the lattice
      for (i <- 0 to 24; j <- 0 to 24) {
        val pc = c0 + 12.0 * i / 24.0
        val pr = r0 + 12.0 * j / 24.0
        val x = t.a * pc + t.c; val y = t.e * pr + t.f
        val (lon, lat) = g.crs.proj.inverse(x, y)
        val cell = Cells.s2CellId(lon, lat, level)
        assert(cover(id).contains(cell),
          s"doc $id: cell $cell of interior point ($lon,$lat) not covered")
      }
    }
  }

  test("multi-face S2 cover: exact piecewise hull; lattice only for polar straddlers") {
    val level = 7
    def kernel(lo: Double, la: Double, hi: Double, lb: Double): Set[Long] = {
      val a = graft.functions.S2RectCover.cells(lo, la, hi, lb, level, 9)
      (0 until a.numElements()).map(a.getLong).toSet
    }
    def lattice(lo: Double, la: Double, hi: Double, lb: Double): Set[Long] =
      (for (i <- 0 to 8; j <- 0 to 8) yield Cells.s2CellId(
        lo + (hi - lo) * (i / 8.0), la + (lb - la) * (j / 8.0), level)).toSet
    // equatorial straddlers: every face boundary (±45, ±90, ±135) and the
    // face-0 centre (0°) — all must take the EXACT piecewise branch
    val exact = Seq(
      (-50.0, -10.0, -38.0, -6.0),   // crosses -45 (faces 4|0)
      (82.0, 10.0, 97.0, 14.0),      // crosses 90 (faces 1: centre!)
      (-6.0, -2.0, 6.0, 2.0),        // same face 0, crosses its centre 0°
      (130.0, 20.0, 141.0, 24.0),    // crosses 135 (faces 1|3)
      (-100.0, -33.0, -80.0, -28.0), // crosses -90 (face 4 centre)
      (170.0, 5.0, 179.0, 9.0),      // face 3, no straddle sanity
      (40.0, 30.0, 50.0, 34.0))      // crosses 45 near the lat limit
    for ((lo, la, hi, lb) <- exact) {
      val cover = kernel(lo, la, hi, lb)
      // complete: every cell of a dense 41x41 sampling is covered
      for (i <- 0 to 40; j <- 0 to 40) {
        val lon = lo + (hi - lo) * (i / 40.0)
        val lat = la + (lb - la) * (j / 40.0)
        val c = Cells.s2CellId(lon, lat, level)
        assert(cover.contains(c), s"box ($lo,$la,$hi,$lb): point ($lon,$lat) uncovered")
      }
      // exact branch, not the 81-sample lattice: at least as complete, and
      // tight — every cell's st-rect footprint is bounded by the piece
      // hulls, so the cover stays within 3x the lattice's cell count
      // (the lattice UNDER-counts slivers; a lattice output would be ==)
      assert(cover.size >= lattice(lo, la, hi, lb).size)
      // loose amplification sanity: the 9x9 lattice undercounts big boxes
      // (misses sliver rows/columns) so the exact cover can legitimately
      // reach ~4x its count; a sampling-style blowup would be ~81x
      assert(cover.size <= 4 * lattice(lo, la, hi, lb).size + 16,
        s"box ($lo,$la,$hi,$lb): ${cover.size} cells looks like amplification")
    }
    // polar-cap straddler: the kernel output IS the lattice (residual arm)
    val (plo, pla, phi, plb) = (82.0, 78.0, 94.0, 82.0)
    assert(kernel(plo, pla, phi, plb) == lattice(plo, pla, phi, plb))
    // and a single-face box still takes the original fast path (unchanged)
    val (slo, sla, shi, slb) = (-93.0, 44.0, -92.5, 44.4)
    assert(kernel(slo, sla, shi, slb).nonEmpty)
  }

  test("hex cover: complete (dense sampling) and tight (every cell SAT-intersects)") {
    val res = 5
    val g = Synth.modisGrid
    val cover = DocOps.geomCellCoverHex(spans, g, res)
      .collect().groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert(cover.nonEmpty && cover.values.forall(_.nonEmpty))
    val t = g.transform
    docs.select("doc_id").collect().map(_.getLong(0)).take(40).foreach { id =>
      val c0 = (id * 7) % 180; val r0 = (id * 13) % 180
      // completeness: the hex cell of every densely-sampled interior point
      // is in the cover
      for (i <- 0 to 16; j <- 0 to 16) {
        val pc = c0 + 12.0 * i / 16.0
        val pr = r0 + 12.0 * j / 16.0
        val x = t.a * pc + t.c; val y = t.e * pr + t.f
        val (lon, lat) = g.crs.proj.inverse(x, y)
        val cell = Hex.cellId(lon, lat, res)
        assert(cover(id).contains(cell),
          s"doc $id: hex $cell of interior point not covered")
      }
      // tightness: every covered hex centre is within one hex diameter of
      // the bbox (SAT admits only true intersectors)
      val corners = for (pc <- Seq(c0.toDouble, c0 + 12.0); pr <- Seq(r0.toDouble, r0 + 12.0))
        yield { val (lon, lat) = g.crs.proj.inverse(t.a * pc + t.c, t.e * pr + t.f); (lon, lat) }
      val lonMin = corners.map(_._1).min; val lonMax = corners.map(_._1).max
      val latMin = corners.map(_._2).min; val latMax = corners.map(_._2).max
      val d = 2.0 * Hex.size(res)
      cover(id).foreach { cell =>
        val (clon, clat) = Hex.center(cell)
        assert(clon > lonMin - d && clon < lonMax + d &&
               clat > latMin - d && clat < latMax + d,
          s"doc $id: hex $cell centre ($clon,$clat) far outside bbox")
      }
    }
  }

  test("spatial join degrades to sort-merge on cell_id when broadcast is off (north_rule)") {
    // the same doc x tile spatial join must be a plain equi-join on cell_id
    // so Catalyst can pick broadcast (small tile side) OR sort-merge (both
    // sides huge, pre-bucketed by Hilbert ranges at corpus scale). Force the
    // sort-merge arm and assert identical output.
    val broadcastResult = DocOps.spatialTileAssignments(spans, Synth.modisGrid, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // strip the explicit broadcast hint by rebuilding the join manually
      val cover = DocOps.geomCellCover(spans, Synth.modisGrid, 12)
      val tileCells = DocOps.tileCells(spark, Synth.modisGrid, DocOps.CellFamily.quad(12))
      val joined = cover.join(tileCells, "cell_id").select("doc_id", "tile_id")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      val smResult = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(smResult == broadcastResult,
        "sort-merge and broadcast arms must produce identical assignments")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  /** Executed-plan copies of the interpreted span lookup (the `filter(`
    * HOF of the bbox head). Counted on the expression trees: the plan's
    * string form truncates long projection lists. */
  private def spanLookups(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case node =>
      node.expressions.map(_.collect { case f: ArrayFilter => f }.size).sum
    }.sum
  }

  test("every family's cover and doc-tile join evaluate the span lookup once") {
    val g = Synth.modisGrid
    Seq(
      "quad cover" -> DocOps.geomCellCover(spans, g, 12),
      "quad join" -> DocOps.spatialTileAssignments(spans, g, 12),
      "s2 cover" -> DocOps.geomCellCoverS2Rect(spans, g, 10),
      "s2 join" -> DocOps.spatialTileAssignmentsS2(spans, g, 10),
      "hex cover" -> DocOps.geomCellCoverHex(spans, g, 5),
      "hex join" -> DocOps.spatialTileAssignmentsHex(spans, g, 5)
    ).foreach { case (name, df) =>
      assert(spanLookups(df) == 1,
        s"$name: ${spanLookups(df)} span lookups in\n${df.queryExecution.executedPlan}")
    }
  }

  test("driver-built tile table equals the Column-form tile cells bit for bit") {
    val g = Synth.modisGrid
    val t = g.transform
    val tilePx = g.width / DocOps.TileGridN
    // the tile side as Spark Columns: tile-centre pixels from spark.range
    // through WarpOps.inverseColumns
    val tiles = spark.range(DocOps.TileGridN.toLong * DocOps.TileGridN)
      .select(col("id").as("tile_id"),
        (expr(s"id div ${DocOps.TileGridN}") * tilePx + tilePx / 2.0).as("prow"),
        (col("id") % DocOps.TileGridN * tilePx + tilePx / 2.0).as("pcol"))
    val (lon, lat) = graft.ops.WarpOps.inverseColumns(g.crs,
      lit(t.a) * col("pcol") + lit(t.c), lit(t.e) * col("prow") + lit(t.f))
    // centres: identical bits
    tiles.select(col("tile_id"), lon, lat).collect().foreach { r =>
      val (dl, da) = DocOps.tileCentre(g, r.getLong(0).toInt)
      assert(java.lang.Double.doubleToRawLongBits(dl) ==
               java.lang.Double.doubleToRawLongBits(r.getDouble(1)) &&
             java.lang.Double.doubleToRawLongBits(da) ==
               java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"tile ${r.getLong(0)}: driver centre ($dl, $da) vs Column (${r.getDouble(1)}, ${r.getDouble(2)})")
    }
    // cells at every level the catalog and the pipelines join at
    def cells(df: DataFrame): Map[Long, Long] =
      df.select("tile_id", "cell_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cases = Seq(12).map(l => s"quad $l" ->
        (DocOps.CellFamily.quad(l), tiles.withColumn("cell_id", Cells.cellIdColumn(lon, lat, l)))) ++
      Seq(7, 10).map(l => s"s2 $l" ->
        (DocOps.CellFamily.s2(l), Cells.withS2CellId(tiles, lon, lat, l, "cell_id"))) ++
      Seq(5, 6).map(r => s"hex $r" ->
        (DocOps.CellFamily.hex(r), Hex.withCellId(tiles, lon, lat, r, "cell_id")))
    cases.foreach { case (name, (family, columnForm)) =>
      val driver = cells(DocOps.tileCells(spark, g, family))
      assert(driver.size == DocOps.TileGridN * DocOps.TileGridN)
      assert(driver == cells(columnForm), s"$name: driver tile cells differ from the Column form")
    }
  }

  test("spatial doc-tile join: assignments match pure-Scala recompute") {
    val level = 12
    val got = DocOps.spatialTileAssignments(spans, Synth.modisGrid, level)
      .select("doc_id", "tile_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // pure-scala: tile centre cell in doc's cover rectangle
    val g = Synth.modisGrid
    val tilePx = g.width / DocOps.TileGridN
    val tileCells = (0 until DocOps.TileGridN * DocOps.TileGridN).map { tid =>
      val pr = tid / DocOps.TileGridN * tilePx + tilePx / 2.0
      val pc = tid % DocOps.TileGridN * tilePx + tilePx / 2.0
      val (lon, lat) = g.crs.proj.inverse(
        g.transform.a * pc + g.transform.c, g.transform.e * pr + g.transform.f)
      tid.toLong -> Cells.cellId(lon, lat, level)
    }
    val docIds = docs.select("doc_id").collect().map(_.getLong(0))
    val expected = (for {
      id <- docIds
      c0 = (id * 7) % 180; r0 = (id * 13) % 180
      corners = for (pc <- Seq(c0, c0 + 12); pr <- Seq(r0, r0 + 12)) yield
        g.crs.proj.inverse(g.transform.a * pc + g.transform.c,
                           g.transform.e * pr + g.transform.f)
      (ix0, iy0) = Cells.latLonToIxIy(corners.map(_._1).min, corners.map(_._2).min, level)
      (ix1, iy1) = Cells.latLonToIxIy(corners.map(_._1).max, corners.map(_._2).max, level)
      (tid, cell) <- tileCells
      if Cells.cellIx(cell) >= ix0 && Cells.cellIx(cell) <= ix1 &&
         Cells.cellIy(cell) >= iy0 && Cells.cellIy(cell) <= iy1
    } yield (id, tid)).toSet
    assert(got == expected)
  }

  test("media pipeline: pixel-level NN resize and audio frame features") {
    import graft.media.MediaOps
    // pure resize: every dst pixel equals the floor-indexed src pixel
    val src = MediaOps.encodeBmp(16, 12, (x, y) => x * 65536 + y * 256 + 3)
    val small = MediaOps.resizeBmp(src, 8, 6)
    val (w, h, px) = MediaOps.decodeBmp(small)
    assert(w == 8 && h == 6)
    for (y <- 0 until 6; x <- 0 until 8) {
      val sx = x * 16 / 8; val sy = y * 12 / 6
      assert(px(y * 8 + x) == sx * 65536 + sy * 256 + 3, s"dst ($x,$y)")
    }
    // distributed resize: images land at thumbnail dims, audio passes through
    val resized = MediaOps.resizeImages(MediaOps.synthesize(spark, 20), 8, 8)
    val feats = MediaOps.decodeFeatures(resized).orderBy("media_id").collect()
    feats.foreach { r =>
      if (r.getLong(0) % 2 == 0) assert(r.getInt(3) == 8 && r.getInt(4) == 8)
      else assert(r.getString(1) == "audio")
    }
    // audio frames: scalar recompute of RMS + zero crossings for one clip
    val frames = MediaOps.audioFrames(MediaOps.synthesize(spark, 20), 64, 32)
      .orderBy("media_id", "frame_idx").collect()
    assert(frames.nonEmpty && frames.forall(_.getLong(0) % 2 == 1))
    val id = 3L
    val s = Array.tabulate(256 + (id % 128).toInt)(i => ((id * 131 + i * 17) % 8192 - 4096).toShort)
    val mine = frames.filter(_.getLong(0) == id)
    assert(mine.length == (s.length - 64) / 32 + 1)
    val f0 = mine(1) // frame 1, offset 32
    var sum2 = 0.0; var zc = 0
    for (i <- 0 until 64) {
      val v = s(32 + i).toDouble; sum2 += v * v
      if (i > 0 && (s(32 + i) < 0) != (s(32 + i - 1) < 0)) zc += 1
    }
    assert(f0.getDouble(2) == math.sqrt(sum2 / 64) && f0.getInt(3) == zc)
  }

  test("media pipeline: real BMP/WAV codecs, feature extraction, frame resize") {
    import graft.media.MediaOps
    // pure encode->decode roundtrip (no Spark): every pixel/sample survives
    val bmp = MediaOps.encodeBmp(17, 5, (x, y) => x * 65536 + y * 256 + 7)
    val (w, h, px) = MediaOps.decodeBmp(bmp)
    assert(w == 17 && h == 5)
    for (y <- 0 until 5; x <- 0 until 17)
      assert(px(y * 17 + x) == x * 65536 + y * 256 + 7, s"pixel ($x,$y)")
    val wav = MediaOps.encodeWav(Array.tabulate(300)(i => (i * 3 - 450).toShort))
    assert(MediaOps.decodeWav(wav).toSeq == (0 until 300).map(i => (i * 3 - 450).toShort))

    val media = MediaOps.synthesize(spark, 50)
    val feats = MediaOps.decodeFeatures(media)
    val resized = MediaOps.resizeFrames(feats, 4)
    val rows = resized.orderBy("media_id").collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 2 == 0) { // BMP: header dims match the synthesizer's formula
        assert(r.getString(1) == "image")
        assert(r.getInt(3) == 16 + (id % 16).toInt && r.getInt(4) == 16 + (id % 12).toInt)
      } else {           // WAV: sample count matches
        assert(r.getString(1) == "audio")
        assert(r.getInt(3) == 256 + (id % 128).toInt && r.getInt(4) == 1)
      }
      assert(r.getSeq[Long](7).size == 4) // frames_k
    }
    // independent checksum recomputation for one image id
    val id0 = 4L
    val (w0, h0, px0) = MediaOps.decodeBmp(
      MediaOps.encodeBmp(16 + (id0 % 16).toInt, 16 + (id0 % 12).toInt,
        (x, y) => (((id0 * 31 + x * 7 + y * 13) % 0x1000000) & 0xffffff).toInt))
    val expSum = px0.zipWithIndex.map { case (p, i) => p.toLong * (i + 1) }.sum
    assert(rows.find(_.getLong(0) == id0).get.getLong(5) == expSum)
    assert(w0 == 20 && h0 == 20)
    // determinism: second run produces identical checksums
    val again = MediaOps.decodeFeatures(MediaOps.synthesize(spark, 50))
      .orderBy("media_id").collect()
    assert(rows.map(_.getLong(5)).toSeq == again.map(_.getLong(5)).toSeq)
  }
}
