package graft

import scala.util.Success

/** The measurement harness: runs are cold, counters belong to their own job
  * group, and the record describes the terminal action's final plan. */
class MeasureSpec extends SparkTestBase {

  val sfDir: String = new PlanAuditSpec().sfDir // the catalog's sf0.001 tables
  lazy val harness = new Measure.Harness(spark)

  /** Both queries persist a subtree and leave it cached after their action. */
  for (name <- Seq("q_interpolate_na", "q_dedup_simhash"))
    test(s"$name: back-to-back runs both start cold and count the same jobs, stages and rows") {
      var atStart = List.empty[(Boolean, Int)]
      def run(tag: String) = harness.run(s"spec/$name/$tag") { s =>
        atStart ::= (s.sharedState.cacheManager.isEmpty, s.sparkContext.getPersistentRDDs.size)
        SparkEntry.queries(name)(s, sfDir)
      }
      val first = run("1")
      assert(first.leftRdds > 0, s"$name left nothing behind, so this test shows nothing")
      val second = run("2")
      assert(atStart.head == ((true, 0)), "the second run must start with no cached state")
      assert(second.counters.jobs == first.counters.jobs)
      assert(second.counters.stages == first.counters.stages)
      assert(first.operatorRows.exists(_._2 > 0))
      assert(second.operatorRows == first.operatorRows)
    }

  test("a job run outside the group between two measurements is not counted") {
    def run(tag: String) = harness.run(s"spec/outside/$tag")(SparkEntry.queries("q_lineitem_agg")(_, sfDir))
    val first = run("1")
    spark.range(0, 1000, 1, 3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    val second = run("2")
    assert(first.counters.jobs > 0)
    assert((second.counters.jobs, second.counters.stages, second.counters.tasks) ==
      ((first.counters.jobs, first.counters.stages, first.counters.tasks)))
  }

  test("the record's Exchange count is the count in the final plan it writes") {
    val run = harness.run("spec/exchanges")(SparkEntry.queries("q_dedup_simhash")(_, sfDir))
    val rec = Measure.record("q_dedup_simhash", Seq(Success(run)))
    // the plan's tree (up to its first blank line) without its "Initial Plan"
    // sections, which span the deeper-indented lines below their marker; a
    // cached relation's plan is printed at each scan, so count distinct ids
    val tree = run.plan.linesIterator.takeWhile(_.trim.nonEmpty).toSeq
    val exchange = """[\s:+*-]*(?:Broadcast)?Exchange \((\d+)\).*""".r
    var initialAt = -1
    val ids = tree.flatMap { l =>
      val textAt = l.indexWhere(c => !" :|+-*".contains(c))
      if (initialAt >= 0 && textAt <= initialAt) initialAt = -1
      if (initialAt >= 0) None
      else if (l.contains("== Initial Plan ==")) { initialAt = l.indexWhere(c => !" :|".contains(c)); None }
      else l match { case exchange(id) => Some(id); case _ => None }
    }.toSet
    assert(tree.exists(_.contains("== Final Plan ==")))
    assert(rec.get("exchanges").asInt == 3) // the cached fingerprint's, the broadcast, the final
    assert(rec.get("exchanges").asInt == ids.size)
  }

  test("diff reports wall deltas and flags only counter changes") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def rec(q: String, wall: Double, jobs: Int, rows: Long) = m.readTree(
      s"""{"query":"$q","ok":true,"wall_min_s":$wall,"jobs":$jobs,"stages":2,"operator_rows":[["Filter",$rows]]}""")
    val out = Measure.diff(Seq(rec("q_a", 1.0, 3, 10), rec("q_b", 2.0, 4, 5)),
      Seq(rec("q_a", 0.5, 3, 10), rec("q_b", 2.0, 5, 6)))
    assert(out(0) == "q_a wall_min 1.000 -> 0.500 s (-50.0%)")
    assert(out(1) == "q_b wall_min 2.000 -> 2.000 s (+0.0%)  jobs 4 -> 5  operator_rows 1/1 differ")
    assert(out(2) == "2 queries, 1 with counter deltas; wall_min total 3.000 -> 2.500 s")
  }
}
