package graft.ops

import org.apache.spark.sql.{Column, DataFrame, KeyValueGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-nearest-neighbour joins (north_rule: "kNN via cell-ring expansion with
  * a per-partition k-d tree").
  *
  * Two paths:
  *  - [[knnBruteForce]]: exact cross-join + per-query top-k. O(Q*T) — the
  *    correctness oracle and fine when one side is small/broadcastable.
  *  - [[knnCellJoin]]: targets bucketed on a planar grid; each query probes
  *    its surrounding ring of buckets (equi-join on bucket key, so Catalyst
  *    plans a shuffle/broadcast HASH join instead of a cartesian product),
  *    then per-query top-k. Exact whenever the k-th neighbour lies within
  *    `ring * cellSize` of the query (asserted against brute force in the
  *    spec); callers size cellSize from target density. At scale the bucket
  *    key is also the partition key, so candidate generation is co-located
  *    and the only shuffle is the final top-k.
  *  - [[knnKdTree]] / [[knnKdTreeQuerySide]]: the same ring buckets, but
  *    one side replicates to its ring, both sides are hash-partitioned on
  *    the bucket (bx, by) into spark.sql.shuffle.partitions, and a typed
  *    cogroup on (bx, by) that reuses that partitioning builds one k-d tree
  *    per bucket — every core gets buckets, however few bytes move.
  */
object KnnOps {

  /** Squared-euclidean distance with a fixed operation order, mirrored
    * textually in SQL oracles. */
  def dist2(qx: Column, qy: Column, tx: Column, ty: Column): Column =
    (qx - tx) * (qx - tx) + (qy - ty) * (qy - ty)

  def knnBruteForce(queries: DataFrame, targets: DataFrame, k: Int): DataFrame = {
    val joined = queries.crossJoin(broadcast(targets))
      .withColumn("dist2", dist2(col("qx"), col("qy"), col("tx"), col("ty")))
    val w = Window.partitionBy("q_id").orderBy(col("dist2"), col("t_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "dist2", "rank")
  }

  def knnBruteForceSql(qSql: String, tSql: String, k: Int): String =
    s"""WITH q AS ($qSql), t AS ($tSql),
       |d AS (SELECT q_id, t_id,
       |        (qx - tx) * (qx - tx) + (qy - ty) * (qy - ty) AS dist2
       |      FROM q, t),
       |r AS (SELECT q_id, t_id, dist2,
       |        row_number() OVER (PARTITION BY q_id ORDER BY dist2, t_id) AS rank
       |      FROM d)
       |SELECT q_id, t_id, dist2, rank FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Immutable 2-d k-d tree over (x, y, id) points: median split on the
    * alternating axis (ties broken by id for a deterministic structure),
    * bounded best-k search with (dist2, id) ordering — the per-partition
    * index of the north_rule's kNN formulation. Arrays, no boxing on the
    * hot path. */
  final class KdTree private (xs: Array[Double], ys: Array[Double], ids: Array[Long])
      extends Serializable {
    // implicit medial tree: build sorts each (l,h) range on its axis, so the
    // node of a range IS its midpoint; query re-derives the same midpoints
    def query(qx: Double, qy: Double, k: Int): Array[(Double, Long)] = {
      // bounded max-heap by (dist2 desc, id desc): the root is the WORST kept
      val heap = new java.util.PriorityQueue[(Double, Long)](k,
        (a: (Double, Long), b: (Double, Long)) => {
          val c = java.lang.Double.compare(b._1, a._1)
          if (c != 0) c else java.lang.Long.compare(b._2, a._2)
        })
      def consider(i: Int): Unit = {
        val dx = qx - xs(i); val dy = qy - ys(i)
        val d2 = dx * dx + dy * dy
        val cand = (d2, ids(i))
        if (heap.size < k) heap.add(cand)
        else {
          val worst = heap.peek()
          val better = d2 < worst._1 || (d2 == worst._1 && ids(i) < worst._2)
          if (better) { heap.poll(); heap.add(cand) }
        }
      }
      def search(l: Int, h: Int, axis: Int): Unit = {
        if (l > h) return
        val m = (l + h) >>> 1
        consider(m)
        val qv = if (axis == 0) qx else qy
        val mv = if (axis == 0) xs(m) else ys(m)
        val (nearL, nearH, farL, farH) =
          if (qv < mv) (l, m - 1, m + 1, h) else (m + 1, h, l, m - 1)
        search(nearL, nearH, 1 - axis)
        val planeD2 = (qv - mv) * (qv - mv)
        val worst = if (heap.size < k) Double.PositiveInfinity else heap.peek()._1
        if (planeD2 <= worst) search(farL, farH, 1 - axis)
      }
      search(0, xs.length - 1, 0)
      val out = new Array[(Double, Long)](heap.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = heap.poll(); i -= 1 }
      out
    }
  }

  object KdTree {
    def build(pts: Array[(Long, Double, Double)]): KdTree = {
      val n = pts.length
      val idx = pts.clone()
      def sortRange(l: Int, h: Int, axis: Int): Unit = {
        if (l >= h) return
        val ord: Ordering[(Long, Double, Double)] =
          if (axis == 0) Ordering.by(p => (p._2, p._1)) else Ordering.by(p => (p._3, p._1))
        java.util.Arrays.sort(idx, l, h + 1, ord)
        val m = (l + h) >>> 1
        sortRange(l, m - 1, 1 - axis)
        sortRange(m + 1, h, 1 - axis)
      }
      sortRange(0, n - 1, 0)
      new KdTree(idx.map(_._2), idx.map(_._3), idx.map(_._1))
    }
  }

  /** Each (id, x, y) point once per bucket of its (2*ring+1)^2 bucket ring
    * (ring 0: its own bucket), hash-partitioned on the bucket (bx, by) into
    * the session's spark.sql.shuffle.partitions and grouped by it. Both
    * sides of a k-d tree cogroup come from here, so the cogroup's
    * clustering on (bx, by) reuses that partitioning (no second exchange)
    * and runs as that many tasks; a byte-sized shuffle would let AQE
    * coalesce the small kNN stage into ONE task. */
  private def bucketGroups(pts: DataFrame, cellSize: Double, ring: Int)
      : KeyValueGroupedDataset[(Long, Long), (Long, Double, Double, Long, Long)] = {
    val spark = pts.sparkSession
    import spark.implicits._
    pts.as[(Long, Double, Double)].flatMap { case (id, x, y) =>
      val bx = math.floor(x / cellSize).toLong; val by = math.floor(y / cellSize).toLong
      for (dx <- -ring to ring; dy <- -ring to ring) yield (id, x, y, bx + dx, by + dy)
    }.toDF("id", "x", "y", "bx", "by")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("bx"), col("by"))
      .groupBy("bx", "by").as[(Long, Long), (Long, Double, Double, Long, Long)]
  }

  /** kNN via cell-ring expansion + a per-partition k-d tree — the literal
    * north_rule formulation. Targets replicate to the (2*ring+1)^2 buckets
    * they serve; queries stay single-bucket; both sides are hash-partitioned
    * on the bucket (bx, by) and a typed cogroup builds ONE k-d tree per
    * bucket and streams that bucket's queries through it. vs
    * [[knnCellJoin]]: no (query, candidate) pair rows ever materialize and
    * the top-k happens inside the cogroup — one shuffle per side, no window
    * exchange after. Same exactness condition (k-th NN within
    * ring*cellSize), spec-asserted equal to brute force and to the cell
    * join. */
  def knnKdTree(queries: DataFrame, targets: DataFrame, k: Int,
                cellSize: Double, ring: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = bucketGroups(queries.select("q_id", "qx", "qy"), cellSize, 0)
    val t = bucketGroups(targets.select("t_id", "tx", "ty"), cellSize, ring)
    q.cogroup(t) { (_, qs, ts) =>
      val pts = ts.map(p => (p._1, p._2, p._3)).toArray
      if (pts.isEmpty) Iterator.empty
      else {
        val tree = KdTree.build(pts)
        qs.flatMap { case (qid, qx, qy, _, _) =>
          tree.query(qx, qy, k).iterator.zipWithIndex.map { case ((d2, tid), i) =>
            (qid, tid, d2, i + 1)
          }
        }
      }
    }.toDF("q_id", "t_id", "dist2", "rank")
  }

  /** Query-side sibling of [[knnKdTree]] for the realistic corpus shape
    * Q ≪ T: QUERIES replicate to their (2*ring+1)^2 probe buckets — the
    * small side amplifies — while each target stays in exactly ONE bucket
    * (no 49x blowup of the big side). Both sides are hash-partitioned on the
    * bucket as in [[knnKdTree]]; one k-d tree per target bucket serves
    * that bucket's probing queries with a per-bucket top-k, and a
    * second-stage groupBy merges the ≤(2*ring+1)^2 * k candidates per query
    * into the global top-k. Exact under the same ring condition: the true
    * j-th neighbour (j ≤ k) is within its own bucket's top-k for the query,
    * so it survives to the merge. */
  def knnKdTreeQuerySide(queries: DataFrame, targets: DataFrame, k: Int,
                         cellSize: Double, ring: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = bucketGroups(queries.select("q_id", "qx", "qy"), cellSize, ring)
    val t = bucketGroups(targets.select("t_id", "tx", "ty"), cellSize, 0)
    val candidates = t.cogroup(q) { (_, ts, qs) =>
      val pts = ts.map(p => (p._1, p._2, p._3)).toArray
      if (pts.isEmpty) Iterator.empty
      else {
        val tree = KdTree.build(pts)
        qs.flatMap { case (qid, qx, qy, _, _) =>
          tree.query(qx, qy, k).iterator.map { case (d2, tid) => (qid, tid, d2) }
        }
      }
    }
    candidates.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // merge per-bucket candidate lists; (dist2, t_id) order matches the
      // brute-force oracle's deterministic tie-break
      val best = it.map(c => (c._3, c._2)).toArray.sortInPlaceBy(identity)
      best.iterator.take(k).zipWithIndex.map { case ((d2, tid), i) =>
        (qid, tid, d2, i + 1)
      }
    }.toDF("q_id", "t_id", "dist2", "rank")
  }

  /** Hex-ring kNN: buckets are H3-style hex cells over the scaled plane
    * and each query probes its axial kRing — 3k²+3k+1 buckets instead of
    * the square ring's (2k+1)² (19 vs 25 at ring 2: ~25% fewer probe
    * buckets for the same guarantee radius, the practical payoff of the
    * north_rule's hex adjacency). `cellSize` is the hex circumradius in
    * planar units; exact when the k-th NN lies within the kRing's covered
    * radius (≥ (ring-1)·√3·cellSize; spec-asserted vs brute force at the
    * fixture's margins). Same plan shape as [[knnCellJoin]]: equi-join on
    * the packed hex id, one window top-k. */
  def knnHexRing(queries: DataFrame, targets: DataFrame, k: Int,
                 cellSize: Double, ring: Int = 2): DataFrame = {
    import graft.core.Hex
    val res = 0 // scaling rides on cellSize; res-0 rotation is identity
    val bias = 1L << 28
    // r6: staged withCellId instead of the single-Column hex id — the
    // inline form re-inlines the qf/rf trees into every cube-round branch
    // (the documented Hex.withCellId task-binary blowup); bit-identical ids
    def cell(df: DataFrame, x: Column, y: Column, out: String): DataFrame =
      Hex.withCellId(df, x / cellSize * Hex.size(res), y / cellSize * Hex.size(res),
        res, out)
    val tb = cell(targets, col("tx"), col("ty"), "hb")
    val qc = cell(queries, col("qx"), col("qy"), "hc")
      // unpack axial (q, r) from the id with plain bit arithmetic
      .withColumn("hq", shiftright(col("hc"), 5 + 29) - bias)
      .withColumn("hr", shiftright(col("hc"), 5).bitwiseAND(lit((1L << 29) - 1)) - bias)
    val offsets = (for {
      dq <- -ring to ring
      dr <- math.max(-ring, -dq - ring) to math.min(ring, -dq + ring)
    } yield struct(lit(dq.toLong).as("dq"), lit(dr.toLong).as("dr")))
    val qb = qc
      .select(col("*"), explode(array(offsets: _*)).as("o"))
      .withColumn("hb",
        shiftleft(shiftleft(col("hq") + col("o.dq") + bias, 29)
          .bitwiseOR(col("hr") + col("o.dr") + bias), 5)
          .bitwiseOR(lit(res.toLong)))
      .drop("o", "hc", "hq", "hr")
    val joined = qb.join(tb, Seq("hb"))
      .withColumn("dist2", dist2(col("qx"), col("qy"), col("tx"), col("ty")))
    val w = Window.partitionBy("q_id").orderBy(col("dist2"), col("t_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "dist2", "rank")
  }

  /** Grid-bucketed kNN: exact when the k-th NN is within ring*cellSize. */
  def knnCellJoin(queries: DataFrame, targets: DataFrame, k: Int,
                  cellSize: Double, ring: Int = 2): DataFrame = {
    val tb = targets
      .withColumn("bx", floor(col("tx") / cellSize).cast("long"))
      .withColumn("by", floor(col("ty") / cellSize).cast("long"))
    val offsets = (-ring to ring).flatMap(dx => (-ring to ring).map(dy =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))))
    val qb = queries
      .withColumn("qbx", floor(col("qx") / cellSize).cast("long"))
      .withColumn("qby", floor(col("qy") / cellSize).cast("long"))
      .select(col("*"), explode(array(offsets: _*)).as("o"))
      .withColumn("bx", col("qbx") + col("o.dx"))
      .withColumn("by", col("qby") + col("o.dy"))
      .drop("o", "qbx", "qby")
    val joined = qb.join(tb, Seq("bx", "by"))
      .withColumn("dist2", dist2(col("qx"), col("qy"), col("tx"), col("ty")))
    val w = Window.partitionBy("q_id").orderBy(col("dist2"), col("t_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "dist2", "rank")
  }
}
