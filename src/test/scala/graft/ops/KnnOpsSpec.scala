package graft.ops

import graft.{Queries, SparkTestBase}
import org.apache.spark.sql.execution.CoGroupExec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}

class KnnOpsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  test("grid-bucketed kNN equals brute force when the ring guarantee holds") {
    val q = Queries.knnQueryPoints(spark)
    val t = Queries.knnTargetPoints(spark)
    val bf = KnnOps.knnBruteForce(q, t, 5).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // targets are ~10px apart (2317 m); k=5 neighbours lie within ~3 cells
    // of 4632 m, ring=2 guarantees 2 cells -> use ring=3 for margin
    val cell = KnnOps.knnCellJoin(q, t, 5, cellSize = 4632.0, ring = 3).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(cell.size == bf.size)
    assert(cell == bf, "cell-join kNN must be exact under the ring guarantee")
  }

  test("k-d tree kNN (cogroup) equals brute force and the cell join exactly") {
    val q = Queries.knnQueryPoints(spark)
    val t = Queries.knnTargetPoints(spark)
    val bf = KnnOps.knnBruteForce(q, t, 5).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    val kd = KnnOps.knnKdTree(q, t, 5, cellSize = 4632.0, ring = 3).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    assert(kd.size == bf.size)
    assert(kd == bf, "k-d tree kNN must match brute force (ids AND bit-exact dist2)")
  }

  test("k-d tree cogroup runs on both sides' bucket partitioning, uncoalesced") {
    val q = Queries.knnQueryPoints(spark)
    val t = Queries.knnTargetPoints(spark)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Seq(KnnOps.knnKdTree(q, t, 5, cellSize = 4632.0, ring = 3),
        KnnOps.knnKdTreeQuerySide(q, t, 5, cellSize = 4632.0, ring = 3)).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val cogroup = collect(plan) { case c: CoGroupExec => c }
      assert(cogroup.size == 1, s"one cogroup expected:\n$plan")
      // exactly the two bucket exchanges feed it, each at the session's
      // partition count, and AQE read them as they are (no coalescing)
      val feeds = collect(cogroup.head) { case s: ShuffleQueryStageExec => s }
      assert(feeds.size == 2 && feeds.forall(_.outputPartitioning.numPartitions == n),
        s"cogroup must read two $n-partition bucket exchanges:\n$plan")
      assert(collect(cogroup.head) { case r: AQEShuffleReadExec => r }.isEmpty,
        s"cogroup input was coalesced:\n$plan")
    }
  }

  test("query-side k-d tree kNN equals brute force (Q<<T shape, no target blowup)") {
    val q = Queries.knnQueryPoints(spark)
    val t = Queries.knnTargetPoints(spark)
    val bf = KnnOps.knnBruteForce(q, t, 5).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    val qs = KnnOps.knnKdTreeQuerySide(q, t, 5, cellSize = 4632.0, ring = 3).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    assert(qs.size == bf.size)
    assert(qs == bf, "query-side kNN must match brute force (ids AND bit-exact dist2)")
    // asymmetric shape: 3 queries against the full target table still exact
    val qSmall = q.limit(3)
    val bfS = KnnOps.knnBruteForce(qSmall, t, 5).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), r.getLong(1))).toMap
    val qsS = KnnOps.knnKdTreeQuerySide(qSmall, t, 5, cellSize = 4632.0, ring = 3)
      .collect().map(r => ((r.getLong(0), r.getInt(3)), r.getLong(1))).toMap
    assert(qsS == bfS)
  }

  test("hex-ring kNN equals brute force with 3k^2+3k+1 probes per query") {
    val q = Queries.knnQueryPoints(spark)
    val t = Queries.knnTargetPoints(spark)
    val bf = KnnOps.knnBruteForce(q, t, 5).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    val hex = KnnOps.knnHexRing(q, t, 5, cellSize = 4632.0, ring = 4).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    assert(hex.size == bf.size)
    assert(hex == bf, "hex-ring kNN must match brute force under the ring guarantee")
    // probe economy: ring 4 probes 61 hex buckets vs 81 square buckets
    assert(3 * 4 * 4 + 3 * 4 + 1 == 61 && (2 * 4 + 1) * (2 * 4 + 1) == 81)
    // plan is an equi-join, not a cartesian
    val plan = KnnOps.knnHexRing(q, t, 5, cellSize = 4632.0, ring = 2)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"hex kNN must equi-join:\n$plan")
  }

  test("k-d tree query matches linear scan on adversarial point sets") {
    val rnd = new scala.util.Random(7)
    // duplicated coordinates + collinear runs stress the tie-breaks
    val pts = Array.tabulate(500) { i =>
      (i.toLong, (rnd.nextInt(40) * 0.5), (rnd.nextInt(40) * 0.5))
    }
    val tree = KnnOps.KdTree.build(pts)
    for (_ <- 0 until 50) {
      val qx = rnd.nextInt(45) * 0.5 - 1.0; val qy = rnd.nextInt(45) * 0.5 - 1.0
      val exp = pts.map { case (id, x, y) =>
        ((qx - x) * (qx - x) + (qy - y) * (qy - y), id)
      }.sorted.take(7).toSeq
      val got = tree.query(qx, qy, 7).toSeq
      assert(got == exp, s"query ($qx,$qy)")
    }
  }

  test("bucketed kNN plans a hash join, not a cartesian product") {
    val q = Queries.knnQueryPoints(spark)
    val t = Queries.knnTargetPoints(spark)
    val plan = KnnOps.knnCellJoin(q, t, 5, cellSize = 4632.0, ring = 2)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"bucketed kNN must equi-join:\n$plan")
  }
}
