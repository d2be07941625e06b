package graft

/** Physical-plan pins for the PromQL evaluator (`ExtendedPromQL`): every
  * step-grid shape keeps the one-scan scaling shape — ONE scan pass per
  * leaf operand whose samples land on their steps through one generator
  * over the step grid (no join with a step frame) — never a per-step job
  * loop, never a Cartesian product; nested subqueries run ONE shared
  * inner pass (epoch-aligned inner steps repeat across outer steps)
  * rather than an inner pass per outer step; and set chains and
  * aggregation ratios join on labels.
  */
class PromQLPlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def occurrences(plan: String, needle: String): Int =
    plan.sliding(needle.length).count(_ == needle)

  test("PromQL subquery step grid (q375 shape): each sample lands on its " +
    "steps through one generator over the ~32-step grid — never a " +
    "CartesianProduct, never a shuffle of the scan keyed on steps") {
    val df = SparkEntry.queries("q375_promql_subquery_agg")(spark, sf)
    val plan = planOf(df)
    // a generator over the step grid, no join with a step frame
    assert("Generate explode".r.findAllMatchIn(plan).size == 1, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("PromQL set chain and aggregation ratio (q374/q372 shapes): " +
    "label-keyed joins, no cartesian anywhere") {
    for (name <- Seq("q374_promql_unless_chain", "q372_promql_agg_ratio")) {
      val plan = planOf(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  test("burn-rate shape (q377): one step-grid generator PER OPERAND, " +
    "operands meet in an equi join — no Cartesian, no step loop") {
    val df = SparkEntry.queries("q377_promql_burn_rate")(spark, sf)
    val plan = planOf(df)
    // each aggregation side = one perStepVector pass = one generator
    // over the 32-step day grid
    assert(occurrences(plan, "Generate explode") == 2, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("nested subquery (q378): the inner grid is SHARED — exactly one " +
    "step-grid generator total, outer fan-out via broadcast pair join") {
    val df = SparkEntry.queries("q378_promql_nested_subquery")(spark, sf)
    val plan = planOf(df)
    // one inner pass (the epoch-aligned inner grid deduplicates across
    // outer steps); the (outer, inner) pair frame attaches as a
    // broadcast HASH join on the inner step, not another grid pass
    assert(occurrences(plan, "Generate explode") == 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("evalRangeApi pinned @: one instant evaluation replicated by a " +
    "step generator — the scan is NOT keyed on the grid") {
    import org.apache.spark.sql.functions._
    import graft.adapters.EventsAdapter
    val df = graft.promql.ExtendedPromQL.evalRangeApi(
      "sum(count_over_time(view[1d])) @ start()",
      1704067200000000L, 1706745600000000L, 86400000000L,
      EventsAdapter.promSeries(spark, sf),
      (lo, hi) => EventsAdapter.samples(spark, sf)
        .filter(col("timestamp_us").between(lo, hi))
        .select("sensor_id", "timestamp_us", "value"))
    val plan = planOf(df)
    // two generators: the single-step grid and the step replication
    // over the result — and nothing per-step beyond them
    assert(occurrences(plan, "Generate explode") == 2, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("EventsAdapter.promSeries keys each series the way samples keys " +
    "its rows: the view selection is the distinct view sensor_ids, " +
    "each labelled with its user") {
    import org.apache.spark.sql.functions._
    import graft.adapters.EventsAdapter
    import graft.operators.LabelMatcher.Eq
    val got = EventsAdapter.promSeries(spark, sf)(Seq(Eq("__name__", "view")))
      .collect().map(r => r.getString(0) -> r.getMap[String, String](1).toMap)
    val want = EventsAdapter.samples(spark, sf)
      .filter(col("sensor_name") === "view")
      .select("sensor_id", "user").distinct().collect()
      .map(r => r.getString(0) -> Map("user" -> r.getString(1)))
    assert(want.nonEmpty)
    assert(got.length == got.toMap.size, "a sensor_id selected twice")
    assert(got.toMap == want.toMap)
  }
}
