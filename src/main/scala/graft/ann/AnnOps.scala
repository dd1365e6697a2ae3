package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>):
  * brute-force cosine top-k (the exactness baseline/oracle) and a
  * random-hyperplane-LSH bucketed variant (the scale path: candidate
  * generation becomes an equi-join on bucket id instead of a cartesian
  * product).
  *
  * All dot products evaluate with functions.aggregate over zip_with in array
  * order — sequential, deterministic, mirrored by DuckDB's
  * list_dot_product. */
object AnnOps {

  /** dot(a, b) in array order, as double — custom codegen'd expression
    * (the interpreted HOF aggregate/zip_with formulation was ~100x slower
    * and dominated every embedding query). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.column(a, b)

  def norm2(a: Column): Column = dot(a, a)

  /** cosine similarity; assumes non-zero vectors. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  def cosineSql(aE: String, bE: String): String =
    s"list_dot_product($aE, $bE) / (sqrt(list_dot_product($aE, $aE)) * sqrt(list_dot_product($bE, $bE)))"

  /** Exact cosine top-k for each query vector over all target vectors.
    * queries/targets: (vec_id, embedding). */
  def bruteForceTopK(queries: DataFrame, targets: DataFrame, k: Int): DataFrame = {
    // norms precomputed per vector (sqrt of the same double the oracle
    // computes per pair -> bit-identical cosine, 1 dot per pair instead of 3)
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
      sqrt(norm2(col("embedding"))).as("qn"))
    val t = targets.select(col("vec_id").as("t_id"), col("embedding").as("te"),
      sqrt(norm2(col("embedding"))).as("tn"))
    val joined = q.crossJoin(t)
      .filter(col("q_id") =!= col("t_id"))
      .withColumn("cos", dot(col("qe"), col("te")) / (col("qn") * col("tn")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("t_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "cos", "rank")
  }

  def bruteForceTopKSql(qSql: String, tSql: String, k: Int): String = {
    val cos = cosineSql("q.embedding", "t.embedding")
    s"""WITH q AS ($qSql), t AS ($tSql),
       |d AS (SELECT q.vec_id AS q_id, t.vec_id AS t_id, $cos AS cos
       |      FROM q, t WHERE q.vec_id <> t.vec_id),
       |r AS (SELECT q_id, t_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id) AS rank
       |      FROM d)
       |SELECT q_id, t_id, cos, rank FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Deterministic pseudo-random hyperplanes: hp(j)(d) derives from integer
    * arithmetic so Spark and SQL materialize identical planes. `table`
    * offsets the stream for multi-table LSH. */
  def hyperplanes(nPlanes: Int, dim: Int, table: Int = 0): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (j, d) =>
      (((j * 73 + d * 179 + table * 1009 + 11) % 97) - 48) / 48.0
    }

  /** Random-hyperplane LSH bucket id: bit j = sign(dot(v, hp_j)). */
  def bucketColumn(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (hp, j) =>
      val hpLit = array(hp.map(lit): _*)
      when(dot(emb, hpLit) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def bucketSql(embE: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (hp, j) =>
      val hpLit = hp.mkString("[", ", ", "]::DOUBLE[]")
      s"(CASE WHEN list_dot_product($embE, $hpLit) > 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Multi-table LSH ANN (the standard recall amplification: nTables
    * independent plane sets; candidates = pairs sharing any table's bucket).
    * Per table the bucket id is an equi-join key — at corpus scale it is
    * also the shuffle/partition key. Recall < 1 by construction (measured
    * against brute force in the spec). */
  /** (vec_id, embedding, nrm, tb, bk) with one row per (vector, table):
    * all tables' buckets in ONE scan; the embedding+norm ride along so
    * candidate cosines compute inside the bucket join itself (no join-back
    * to the vector table, no separate distinct — the pair dedup is ONE
    * aggregate; the ~nTables-fold duplicate dots are cheap codegen flops). */
  private def bandedWithEmb(vectors: DataFrame, nPlanes: Int, nTables: Int,
                            dim: Int): DataFrame =
    // LshBuckets: one static-kernel call for all tables. The unrolled
    // bucketColumn equivalent inlines nTables*nPlanes*dim literals into the
    // generated code — past the JIT compile threshold, the hot loop ran
    // interpreted (~30x slower end-to-end on the candidate join).
    //
    // r6: repartition by the (table, bucket) join key at defaultParallelism.
    // The embedding file is one small parquet split, so without this the
    // candidate join's dot products (the query's only real flops, ~2M pairs
    // x dim at sf0.1) ran at scan parallelism (1-3 tasks; guide §2.5 —
    // parallelize the compute-heavy stage). (tb, bk) is also the documented
    // at-scale shuffle/partition key for the bucket join; the explicit
    // partition count derives from the cluster (defaultParallelism), not a
    // local constant, and pins AQE from coalescing the tiny-byte exchange
    // under the compute-bound stage.
    // persist: the banded frame feeds BOTH sides of the candidate
    // self-join, and self-join exchange reuse is unreliable (observed on
    // simhash/lshPairs: the subtree re-executed once per side) — one
    // (embedding, norm, bucket) row per (vector, table), which stays cached
    // after the query until someone unpersists it
    vectors.select(col("vec_id"), col("embedding"),
        sqrt(norm2(col("embedding"))).as("nrm"),
        posexplode(graft.functions.LshBuckets.column(
          col("embedding"), nPlanes, nTables, dim)).as(Seq("tb", "bk")))
      .repartition(vectors.sparkSession.sparkContext.defaultParallelism,
        col("tb"), col("bk"))
      .persist()

  def lshTopK(vectors: DataFrame, k: Int, nPlanes: Int = 4, nTables: Int = 8,
              dim: Int = 64): DataFrame = {
    val banded = bandedWithEmb(vectors, nPlanes, nTables, dim)
    val pairs = banded
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"),
        col("tb"), col("bk"))
      .join(banded.select(col("vec_id").as("t_id"), col("embedding").as("te"),
        col("nrm").as("tn"), col("tb"), col("bk")), Seq("tb", "bk"))
      .filter(col("q_id") =!= col("t_id"))
      .select(col("q_id"), col("t_id"),
        (dot(col("qe"), col("te")) / (col("qn") * col("tn"))).as("cos"))
      // r6: ONE exchange keyed by q_id serves BOTH the pair dedup and the
      // top-k window (guide §2.4 — hash partitioning on q_id satisfies the
      // (q_id, t_id) aggregate's clustering too, and the window's). The
      // default plan paid exchange-by-(q_id, t_id) THEN exchange-by-q_id;
      // the lost map-side partial agg catches ~nothing here anyway because
      // duplicate (q, t) hits live in different (tb, bk) partitions.
      .repartition(col("q_id"))
      // multi-table duplicate hits carry identical cos: max == dedup
      .groupBy("q_id", "t_id").agg(max("cos").as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("t_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "cos", "rank")
  }

  def lshTopKSql(vSql: String, k: Int, nPlanes: Int = 4, nTables: Int = 8,
                 dim: Int = 64): String = {
    val bucketExprs = (0 until nTables).map { t =>
      s"${bucketSql("embedding", hyperplanes(nPlanes, dim, t))} AS b$t"
    }.mkString(", ")
    val arms = (0 until nTables).map { t =>
      s"SELECT a.vec_id AS q_id, b.vec_id AS t_id FROM v a JOIN v b ON a.b$t = b.b$t AND a.vec_id <> b.vec_id"
    }.mkString("\nUNION\n") // UNION (not ALL): distinct pairs
    s"""WITH v AS (SELECT vec_id, embedding, $bucketExprs FROM ($vSql)),
       |cands AS ($arms),
       |j AS (SELECT c.q_id, c.t_id,
       |        ${cosineSql("va.embedding", "vb.embedding")} AS cos
       |      FROM cands c JOIN v va ON c.q_id = va.vec_id
       |                   JOIN v vb ON c.t_id = vb.vec_id),
       |r AS (SELECT q_id, t_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id) AS rank
       |      FROM j)
       |SELECT q_id, t_id, cos, rank FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions vectors into
    * nCentroids clusters; a query probes only its nProbe nearest clusters
    * and reranks exactly inside them. The quantizer here is deterministic
    * (the nCentroids lowest-vec_id vectors) so the DuckDB oracle can state
    * the same clusters — production would train k-means, changing only the
    * centroid values, never the plan shape.
    *
    * Scale shape (the point of IVF vs brute force): assignment is map-only
    * (centroid matrix is a broadcast-sized literal; per-row argmax over an
    * array_sort of nCentroids struct entries — no shuffle, no window), and
    * candidate generation is a plain equi-join on cluster id, sized
    * ~nProbe/nCentroids of the corpus per query instead of all of it.
    * Cluster id doubles as the natural partition/bucketing key at rest. */
  def ivfAssign(vectors: DataFrame, centroids: Seq[(Long, Array[Double])],
                nProbe: Int): DataFrame = {
    // -cos sorts ascending == cosine descending; centroid id breaks ties
    val entries = centroids.map { case (cid, ce) =>
      var s = 0.0; var i = 0
      while (i < ce.length) { s += ce(i) * ce(i); i += 1 }
      val cn = math.sqrt(s)
      struct(
        (-(dot(col("embedding"), typedLit(ce)) /
           (sqrt(norm2(col("embedding"))) * lit(cn)))).as("neg"),
        lit(cid).as("cid"))
    }
    vectors
      .withColumn("p", explode(slice(array_sort(array(entries: _*)), 1, nProbe)))
      .select(col("vec_id"), col("embedding"), col("p.cid").as("cluster"))
  }

  def ivfTopK(queries: DataFrame, targets: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 3): DataFrame = {
    val centroids = targets.orderBy("vec_id").limit(nCentroids)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val t = ivfAssign(targets, centroids, nProbe = 1)
      .select(col("vec_id").as("t_id"), col("embedding").as("te"), col("cluster"))
      .withColumn("tn", sqrt(norm2(col("te"))))
    val q = ivfAssign(queries, centroids, nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("cluster"))
      .withColumn("qn", sqrt(norm2(col("qe"))))
    val cand = q.join(t, Seq("cluster"))
      .filter(col("q_id") =!= col("t_id"))
      .select(col("q_id"), col("t_id"),
        (dot(col("qe"), col("te")) / (col("qn") * col("tn"))).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("t_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "cos", "rank")
  }

  /** DuckDB mirror of [[ivfTopK]]: same quantizer, same assignment rule
    * (max cosine, centroid id tie-break), same rerank. */
  def ivfTopKSql(vSql: String, queryPred: String, k: Int,
                 nCentroids: Int = 16, nProbe: Int = 3): String = {
    val assignCos = cosineSql("v.embedding", "c.cemb")
    s"""WITH v AS ($vSql),
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM v ORDER BY vec_id LIMIT $nCentroids),
       |ta AS (SELECT v.vec_id, v.embedding, c.cid,
       |         row_number() OVER (PARTITION BY v.vec_id
       |                            ORDER BY $assignCos DESC, c.cid) AS rn
       |       FROM v, cent c),
       |tassign AS (SELECT vec_id, embedding, cid FROM ta WHERE rn = 1),
       |qassign AS (SELECT vec_id, embedding, cid FROM ta WHERE rn <= $nProbe AND ($queryPred)),
       |cand AS (SELECT q.vec_id AS q_id, t.vec_id AS t_id,
       |           ${cosineSql("q.embedding", "t.embedding")} AS cos
       |         FROM qassign q JOIN tassign t ON q.cid = t.cid AND q.vec_id <> t.vec_id),
       |r AS (SELECT q_id, t_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id) AS rank
       |      FROM cand)
       |SELECT q_id, t_id, cos, rank FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs above a threshold. */
  def cosinePairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = vectors.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Scale path for near-dup pairs: LSH-banded candidate generation (pairs
    * sharing >= 1 (table, bucket)) + exact cosine verify. Semantics are
    * deterministic and SQL-mirrored, so it carries its own exact oracle; its
    * recall vs [[cosinePairs]] is measured in the spec. Plan shape: one scan
    * -> explode to (vec_id, table, bucket) -> self equi-join -> distinct ->
    * join-back -> filter. No cartesian product anywhere — the property that
    * lets it run at 10^9 vectors where the brute pairs op cannot. */
  def cosinePairsBanded(vectors: DataFrame, threshold: Double, nPlanes: Int = 4,
                        nTables: Int = 8, dim: Int = 64): DataFrame = {
    val banded = bandedWithEmb(vectors, nPlanes, nTables, dim)
    banded
      .select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"),
        col("tb"), col("bk"))
      .join(banded.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("tb"), col("bk")), Seq("tb", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .groupBy("id_a", "id_b").agg(max("cos").as("cos"))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  def cosinePairsBandedSql(vSql: String, threshold: Double, nPlanes: Int = 4,
                           nTables: Int = 8, dim: Int = 64): String = {
    val bucketExprs = (0 until nTables).map { t =>
      s"${bucketSql("embedding", hyperplanes(nPlanes, dim, t))} AS b$t"
    }.mkString(", ")
    val arms = (0 until nTables).map { t =>
      s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b ON a.b$t = b.b$t AND a.vec_id < b.vec_id"
    }.mkString("\nUNION\n") // UNION (not ALL): distinct candidate pairs
    s"""WITH v AS (SELECT vec_id, embedding, $bucketExprs FROM ($vSql)),
       |cands AS ($arms),
       |j AS (SELECT c.id_a, c.id_b,
       |        ${cosineSql("va.embedding", "vb.embedding")} AS cos
       |      FROM cands c JOIN v va ON c.id_a = va.vec_id
       |                   JOIN v vb ON c.id_b = vb.vec_id)
       |SELECT id_a, id_b, cos FROM j WHERE cos >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  def cosinePairsSql(vSql: String, threshold: Double): String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    s"""WITH v AS ($vSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cos AS cos
       |FROM v a JOIN v b ON a.vec_id < b.vec_id
       |WHERE $cos >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }
}
