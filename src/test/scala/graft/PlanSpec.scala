package graft

import graft.adapters.EventsAdapter
import graft.operators.SensorOps
import graft.pipeline.{TextAnalysis, TextArtifacts}
import org.apache.spark.sql.functions._

/** Physical-plan assertions: these pin the *scale* properties, not just
  * results — filters reach the parquet scan, small dims broadcast,
  * rank<=k becomes WindowGroupLimit, projections prune the read schema.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("range scan pushes sensor and time predicates into the parquet scan") {
    val store = new graft.store.SensorStore(spark,
      graft.TempDirs.createPath("plan_store"))
    store.publishSamples(graft.model.SensorType.Float,
      EventsAdapter.samples(spark, sf)
        .select("sensor_id", "timestamp_us", "value"))
    val plan = planOf(SensorOps.rangeScan(
      store.samples(graft.model.SensorType.Float), "view 7",
      Some(0L), Some(Long.MaxValue / 2), 10))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("IsNotNull(sensor_id)") ||
      plan.contains("EqualTo(sensor_id,view 7)"), plan)
    // plan text truncates long filter lists; match the prefix
    assert(plan.contains("GreaterThanOrEqual(tim"), plan)
  }

  test("time-bounded store scan prunes month partitions") {
    val store = new graft.store.SensorStore(spark,
      graft.TempDirs.createPath("plan_store_prune"))
    import spark.implicits._
    store.publishSamples(graft.model.SensorType.Float, Seq(
      ("s1", 1704067200000000L, 1.0), // 2024-01
      ("s1", 1706745600000000L, 2.0), // 2024-02
      ("s1", 1709251200000000L, 3.0)) // 2024-03
      .toDF("sensor_id", "timestamp_us", "value"))
    val plan = planOf(store.samplesInRange(graft.model.SensorType.Float,
      Some(1704067200000000L), Some(1705000000000000L)))
    // the derived month predicate must reach PartitionFilters (on this
    // GraftSession MonthPruneRule would derive it from the timestamp
    // filter as well; the hand-derived one prunes on a session without
    // GraftExtensions)
    assert(plan.contains("PartitionFilters: [isnotnull(month"), plan)
    assert(plan.contains("(month") && plan.contains("202401"), plan)
    // and the row-level timestamp bounds still reach the parquet scan
    // (plan text truncates long filter lists; match the prefix)
    assert(plan.contains("GreaterThanOrEqual(tim"), plan)
    val rows = store.samplesInRange(graft.model.SensorType.Float,
      Some(1704067200000000L), Some(1705000000000000L)).collect()
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.0))
  }

  test("MonthPruneRule: raw timestamp filters imply month partition pruning") {
    val store = new graft.store.SensorStore(spark,
      graft.TempDirs.createPath("plan_store_rule"))
    import spark.implicits._
    store.publishSamples(graft.model.SensorType.Float, Seq(
      ("s1", 1704067200000000L, 1.0), // 2024-01
      ("s1", 1706745600000000L, 2.0), // 2024-02
      ("s1", 1709251200000000L, 3.0)) // 2024-03
      .toDF("sensor_id", "timestamp_us", "value"))
    // samples() drops the month column — the user states ONLY the
    // timestamp bound; the optimizer rule must still prune months
    val q = store.samples(graft.model.SensorType.Float)
      .filter(col("timestamp_us") >= 1706745600000000L &&
        col("timestamp_us") <= 1706800000000000L)
    assert(q.count() == 1)
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    val scanStr = scan.toString
    assert(scanStr.contains("month"), scanStr)
    assert(scanStr.contains("202402"), s"month bound not derived: $scanStr")
    // the same through plain SQL over registered views
    store.registerViews("mpr")
    val sq = spark.sql(
      "SELECT count(*) FROM mpr_values_float WHERE timestamp_us >= 1709251200000000")
    assert(sq.head().getLong(0) == 1)
    val sqScan = sq.queryExecution.executedPlan.collectLeaves().head.toString
    assert(sqScan.contains("202403"), s"SQL path not pruned: $sqScan")
  }

  test("catalog join broadcasts the small side") {
    val q = Queries.all("q9_join_broadcast")(spark, sf)
    assert(planOf(q).contains("BroadcastHashJoin"), planOf(q))
  }

  test("per-sensor limit plans WindowGroupLimit (no full per-group sort)") {
    val q = SensorOps.perSensorLimit(EventsAdapter.samples(spark, sf), 3)
    assert(planOf(q).contains("WindowGroupLimit"), planOf(q))
  }

  test("global top-k plans TakeOrderedAndProject (no total sort)") {
    val q = Queries.all("q7_global_topk")(spark, sf)
    assert(planOf(q).contains("TakeOrderedAndProject"), planOf(q))
  }

  test("aggregation prunes the read schema to referenced columns") {
    val q = Queries.all("q1_agg")(spark, sf)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"), scan)
    // only the 4 referenced lineitem columns are read
    assert(!scan.contains("l_shipdate"), "unreferenced column in scan")
    assert(!scan.contains("l_partkey"), "unreferenced column in scan")
  }

  test("whole-stage codegen covers the hot aggregation path") {
    // codegen stages render as "*(n)" prefixes, but only in the FINAL
    // adaptive plan — run the query first
    val q = Queries.all("q1_agg")(spark, sf)
    q.collect()
    val finalPlan = q.queryExecution.executedPlan.toString
    assert(finalPlan.contains("*(1)"), finalPlan)
  }

  test("vec_dot stays inside whole-stage codegen (no UDF eval node)") {
    val vs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("vec"))
    val q = vs.select(graft.pipeline.Similarity.dot(col("vec"), col("vec")))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // codegen'd stage
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
  }

  test("vec_q8/vec_dot8 stay inside whole-stage codegen") {
    import spark.implicits._
    // parquet-backed source: literal inputs constant-fold at optimization
    // time and never reach codegen
    val vs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("vec"))
      .select(call_function("vec_q8", col("vec")).as("qz"))
      .select(call_function("vec_dot8", col("qz.q"), col("qz.q")).as("d"))
    vs.collect()
    val plan = vs.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // codegen'd stage
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
    // eval parity: the integer self-dot of floor-half-up quantized
    // [1,-2,3]: amax=3 -> q = [42,-85,127]
    val d = Seq(Tuple1(Array(1.0, -2.0, 3.0))).toDF("v")
      .select(call_function("vec_q8", col("v")).as("qz"))
      .select(call_function("vec_dot8", col("qz.q"), col("qz.q")).as("d"))
      .as[Long].head()
    assert(d == 42L * 42 + 85L * 85 + 127L * 127)
    // mismatched dimensions fail loudly instead of silently truncating
    // to the common prefix (a plausible-but-wrong ANN score)
    intercept[IllegalArgumentException] {
      graft.functions.VecDot8Expression.dot8(
        Array[Byte](1, 2, 3), Array[Byte](1, 2))
    }
    intercept[IllegalArgumentException] {
      graft.functions.DotProductExpression.dot(
        Array(1.0, 2.0, 3.0), Array(1.0, 2.0))
    }
  }

  test("vocabulary and PromQL topk plan TakeOrderedAndProject") {
    val vocab = graft.pipeline.TextAnalysis.topTokens(
      spark.read.parquet(s"$sf/documents.parquet"), "text", 5)
    assert(planOf(vocab).contains("TakeOrderedAndProject"), planOf(vocab))
    val topk = Queries.all("q51_promql_topk")(spark, sf)
    assert(planOf(topk).contains("TakeOrderedAndProject"), planOf(topk))
  }

  test("spread widens narrow scans but is a no-op at scale") {
    import spark.implicits._
    // the driver testdata is a single unsplittable row group: widen
    val docs = graft.Tables.documents(spark, sf)
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val widened = graft.Tables.spread(spark, docs)
    assert(widened.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(planOf(widened).contains("Exchange"), planOf(widened))
    // a frame that already has cluster parallelism must pass through
    // with NO exchange in the plan — this is the 100x-scale contract
    // (the store emits many row groups; re-shuffling full text there
    // would be the regression)
    val wide = spark.range(0, 1000,
      1, spark.sparkContext.defaultParallelism).toDF("doc_id")
    val passed = graft.Tables.spread(spark, wide)
    assert(passed.rdd.getNumPartitions == wide.rdd.getNumPartitions)
    assert(!planOf(passed).contains("Exchange"), planOf(passed))
  }

  test("deterministic sampling is a shuffle-free scan-stage predicate") {
    val q = graft.pipeline.Sampling.deterministicSample(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", 0.2)
    val plan = planOf(q)
    assert(!plan.contains("Exchange"), plan) // pure per-row filter
    assert(plan.contains("Filter"), plan)
  }

  test("splitAssign is a shuffle-free scan-stage projection") {
    val q = graft.pipeline.Sampling.splitAssign(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val plan = planOf(q)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("weightedSample is a shuffle-free scan-stage predicate") {
    val q = graft.pipeline.Sampling.weightedSample(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id",
      least(lit(1.0), col("n_chars") / lit(2000.0)))
    val plan = planOf(q)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("session and rolling windows shuffle once, on the user key") {
    val e = graft.Tables.events(spark, sf)
    val sess = e.groupBy(col("user_id"),
      session_window(col("ts"), "30 minutes")).count()
    val sPlan = planOf(sess)
    assert("Exchange".r.findAllIn(sPlan).size <= 1, sPlan)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-3600000000L, 0L)
    val roll = e.select(col("user_id"), unix_micros(col("ts")).as("t"),
      col("value")).select(col("user_id"), col("t"),
      avg(col("value")).over(w).as("a"))
    val rPlan = planOf(roll)
    assert("Exchange".r.findAllIn(rPlan).size <= 1, rPlan)
    assert(!rPlan.contains("ScalaUDF"), rPlan)
  }

  test("cdc chunk dedup shuffles on the fingerprint, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val chunks = docs.select(col("doc_id"),
      explode(graft.pipeline.TextAnalysis.cdcChunksGear(col("text"), 6))
        .as("c"))
      .select(col("doc_id"), col("c.fp").as("fp"), col("c.len").as("len"))
    val q = chunks.groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("chars"))
      .filter(col("n") > 1)
    val plan = planOf(q)
    assert(!plan.contains("CartesianProduct"), plan)
    assert("Exchange".r.findAllIn(plan).size <= 1, plan) // fp-keyed only
    // the chunking scan is the codegen'd gear_chunks Expression, not a
    // Scala UDF with its per-document encoder round-trip
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("bandJoin rides an equi-join, never a nested-loop theta join") {
    val e = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_type"))
    val l = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("t").as("lt"))
    val r = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("t").as("rt"))
    val plan = planOf(
      graft.operators.BandJoin.bandJoin(l, r, "user_id", "lt", "rt", 300L))
    assert(!plan.contains("NestedLoop"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
  }

  test("oversample is a shuffle-free scan-stage explode") {
    val q = graft.pipeline.Sampling.oversample(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id",
      when(col("source") === "src3", lit(3.0)).otherwise(lit(1.0)))
    val plan = planOf(q)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("Generate"), plan) // the explode node
  }

  test("quantileProfile production path aggregates with bounded state") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val cols = Seq("l_discount", "l_quantity")
    val approx = planOf(graft.pipeline.Profiler.quantileProfile(
      li, cols, Seq(0.25, 0.5, 0.75, 0.95)))
    // the default path must be the Greenwald-Khanna sketch (state
    // bounded by accuracy), never the exact percentile (state = every
    // row of every column in the final reduce)
    assert(approx.contains("percentile_approx"), approx)
    assert("percentile\\(".r.findFirstIn(approx).isEmpty, approx)
    // one aggregate pass for all columns: a single partial/final pair
    assert("Aggregate".r.findAllIn(approx).size <= 2, approx)
    val exact = planOf(graft.pipeline.Profiler.quantileProfile(
      li, cols, Seq(0.25, 0.5, 0.75, 0.95), exact = true))
    assert("percentile\\(".r.findFirstIn(exact).nonEmpty &&
      !exact.contains("percentile_approx"), exact)
  }

  test("categoricalProfile top-k plans WindowGroupLimit") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val q = graft.pipeline.Profiler.categoricalProfile(
      li, Seq("l_returnflag", "l_linestatus"), k = 3,
      approxDistinct = true)
    val plan = planOf(q)
    // the rank <= k filter must push a per-partition group limit below
    // the shuffle: each task keeps at most k rows per column BEFORE the
    // exchange, so the window never materializes a column's full
    // distinct-value set on one task (the HLL path already bounds the
    // n_distinct side)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("approx_count_distinct"), plan)
  }

  test("gopher flags and pii scrub stay one scan stage, no UDFs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val gq = docs.select(
      graft.pipeline.TextAnalysis.gopherQualityFlags(col("text")).as("g"))
    val gPlan = planOf(gq)
    assert(!gPlan.contains("Exchange"), gPlan) // per-row, no shuffle
    assert(!gPlan.contains("ScalaUDF") && !gPlan.contains("BatchEvalPython"),
      gPlan)
    // no interpreted higher-order lambdas: every rule counter is a
    // regex scan / length difference, so the stage codegens whole
    assert(!gPlan.contains("lambdafunction"), gPlan)
    assert(gPlan.contains("*(1)"), gPlan)
    val pq = docs.select(
      graft.pipeline.TextAnalysis.redactPii(col("text")).as("t"),
      graft.pipeline.TextAnalysis.piiCounts(col("text")).as("p"))
    val pPlan = planOf(pq)
    assert(!pPlan.contains("Exchange"), pPlan)
    assert(!pPlan.contains("ScalaUDF"), pPlan)
    assert(pPlan.contains("*(1)"), pPlan) // codegen'd stage (regex family)
  }

  test("dedupLines shuffles on lines, never more than three exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.TextAnalysis.dedupLines(docs, "doc_id", "text", 10)
    val plan = planOf(q)
    // df count (distinct pair + count share one key) + join-back + doc
    // reassembly: the plan must not smuggle in extra repartitions
    assert("Exchange".r.findAllIn(plan).size <= 6, plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("Window"), plan) // reassembly is an aggregate
  }

  test("removeRepeatedSpans: keyed shuffles only, no UDF, no window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.TextAnalysis
      .removeRepeatedSpans(docs, "doc_id", "text", 5)
    val plan = planOf(q)
    // gram firsts + join-back + span coverage + token anti-join +
    // reassembly + final outer join: every exchange is keyed by
    // (id, gram), (id, pos) or id — a repartition() anywhere would
    // push the count past the bound
    assert("Exchange".r.findAllIn(plan).size <= 10, plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("Window"), plan) // reassembly is an aggregate
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sequentialPoissonSample plans TakeOrderedAndProject, no sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.Sampling.sequentialPoissonSample(
      docs, "doc_id", col("n_chars"), k = 60)
    val plan = planOf(q)
    // global top-k must be per-partition heaps + a k-row driver merge,
    // never a total sort behind a single-partition exchange
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("temperatureMix: one aggregate pass, 1-row broadcast, no UDF") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.Sampling.temperatureMix(
      docs, "doc_id", "source", "n_chars",
      sources = Seq("src0", "src1", "src2"), budgetTokens = 10000L)
    val plan = planOf(q)
    // the normalizer is k conditional sums in ONE ungrouped aggregate
    // (partial + final = 2 exchanges max), broadcast back as one row —
    // the corpus side itself never shuffles
    assert("Exchange".r.findAllIn(plan).size <= 2, plan)
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("bm25TopK: top-k is TakeOrderedAndProject, stats broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the unmaterialized variant keeps the full plan visible (the
    // production path's eager checkpoint truncates it to an RDD scan)
    val q = graft.pipeline.TextAnalysis.bm25TopKImpl(
      docs, "doc_id", "text", queryTerms = Seq("spark", "hash"), k = 10,
      k1 = 1.2, b = 0.75, materialized = false)
    val plan = planOf(q)
    // k-row global selection never totals-sorts the corpus; the (N,
    // avglen) stats row and the query-sized df set ride broadcasts
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("skewProfile: key-count agg + top-k, no sort, count agg reused") {
    val e = graft.Tables.events(spark, sf)
    val q = graft.pipeline.Profiler.skewProfile(e, "user_id", k = 10)
    val plan = planOf(q)
    // top-k is per-partition heaps, never a total sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    // the top-k branch and the (total, distinct) branch both hang off
    // the SAME key-count aggregate; AQE must serve the second consumer
    // from the first's shuffle (ReusedExchange in the final plan), not
    // scan-and-shuffle the corpus twice
    q.collect()
    val finalPlan = q.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") ||
      "Exchange".r.findAllIn(finalPlan).size <= 3, finalPlan)
  }

  test("retentionCohorts: two shuffles, no join, no distinct re-pass") {
    val e = graft.Tables.events(spark, sf)
    val q = graft.pipeline.Behavior.retentionCohorts(
      e, "user_id", "ts", period = "day")
    val plan = planOf(q)
    // collect_set dedups in the map-side partials and the cohort is
    // the set minimum from the same pass — the naive shape (distinct +
    // min-aggregate + self-join) would be 3+ exchanges and a join
    assert("Exchange".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("corpusOverlapKmv: bounded-state agg, pair stage reuses it") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.Dedup.corpusOverlapKmv(
      docs, "source", "text", n = 3, k = 32)
    val plan = planOf(q)
    // the pair stage is array math on the G-row signature table —
    // never a shuffle keyed on pairs, never a sort-merge join
    assert(!plan.contains("SortMergeJoin"), plan)
    // both cross-join sides hang off the SAME signature aggregate;
    // the shingle scan must run once, the second consumer served from
    // the first's exchange
    q.collect()
    val finalPlan = q.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange"), finalPlan)
  }

  test("madOutliers production path aggregates with bounded state") {
    val e = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
    val approx = planOf(graft.pipeline.Profiler.madOutliers(
      e, "user_id", "value", exact = false))
    // both medians come from the GK summary (state bounded by
    // accuracy), and the robust cut needs no window over the group
    assert(approx.contains("percentile_approx"), approx)
    assert(!approx.contains("percentile(") && !approx.contains("Window"),
      approx)
    val exact = planOf(graft.pipeline.Profiler.madOutliers(
      e, "user_id", "value", exact = true))
    assert(exact.contains("percentile("), exact)
  }

  test("mmr candidate pass plans TakeOrderedAndProject, no sort") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
    val plan = planOf(graft.pipeline.Similarity.mmrCandidates(
      emb, Array.fill(8)(0.1), topN = 20))
    // the only distributed stage of MMR: topN never total-sorts the
    // corpus, and the quantized cosine is codegen'd Column math
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("correlationMatrix: one aggregate pass, no join, no window") {
    val li = graft.Tables.lineitem(spark, sf)
    val plan = planOf(graft.pipeline.Profiler.correlationMatrix(
      li, Seq("l_quantity", "l_extendedprice", "l_discount")))
    // every Σx/Σx²/Σxy collects in a single partial/final ungrouped
    // aggregate — one corpus scan, 2 exchanges, k(k−1)/2 cells from a
    // stack over the 1-row result
    assert("Exchange".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("coOccurrenceEdges: basket shuffle + pair agg, no self-join") {
    import spark.implicits._
    val ev = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
      .toDF("user_id", "item")
    val plan = planOf(graft.pipeline.Behavior.coOccurrenceEdges(
      ev, "user_id", "item"))
    // pairs come from a double explode of the collect_set basket —
    // one user shuffle, one pair-count shuffle, never a user-keyed
    // self-join (which would re-shuffle the basket table twice more)
    assert("Exchange".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Generate"), plan) // the explode pair stage
  }

  test("m4Downsample: one aggregate shuffle, no window, no join") {
    val samples = EventsAdapter.samples(spark, sf)
    val plan = planOf(graft.operators.SensorOps.m4Downsample(
      samples, bucketUs = 86400000000L))
    // four struct extrema in ONE map-side-combined aggregate — the
    // window formulation would sort every (sensor, bucket) partition
    // four times
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("dsirScores: token-keyed shuffles, 1-row totals broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.Sampling.dsirScores(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") === "src1"),
      "doc_id", "text")
    val plan = planOf(q)
    // the (nr, nt, v) totals row rides a broadcast onto the
    // vocabulary-sized ratio table; nothing is O(docs²) and no stage
    // leaves codegen for a UDF
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("scd2History: one key shuffle feeds both window passes") {
    import spark.implicits._
    val ch = Seq((1L, 10L, 1.0), (1L, 20L, 2.0)).toDF("k", "t", "v")
    val plan = planOf(graft.operators.Changelog.scd2History(
      ch, "k", "t", Seq("v")))
    // the (k,ts) aggregate shuffles once; the LAG filter and the
    // LEAD/ROW_NUMBER pass both partition on k and share its sort —
    // a third exchange would mean the windows re-shuffled
    assert("Exchange".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("triangles: equi-joins only — never a nested-loop closure") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val plan = planOf(graft.pipeline.Behavior.triangles(e))
    // wedge enumeration and closure are both hash-joinable equi-joins
    // on node keys; a NestedLoop/Cartesian here is the O(E²) cliff
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("heavyHitters: candidate recount joins via broadcast") {
    import spark.implicits._
    val df = (Seq.fill(50)("a") ++ (0 until 30).map(i => s"t$i"))
      .toDF("item")
    val plan = planOf(graft.pipeline.Frequent.heavyHitters(
      df, "item", k = 4))
    // the exact pass must semi-filter the stream against the ≤counters
    // candidates with a broadcast hash join — a shuffle join here
    // would re-shuffle the full stream a second time
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("BloomJoin: probe-side bloom filter sits under the join") {
    import spark.implicits._
    val probe = (0 until 100).map(i => (i.toLong, i * 2.0))
      .toDF("k", "x")
    val build = (0 until 10).map(i => (i.toLong, s"b$i")).toDF("k", "tag")
    val q = graft.operators.BloomJoin.join(
      probe, build, "k", numBits = 256, hashes = 3)
    val plan = planOf(q)
    // the membership predicate is pure Column math (getbit over the
    // broadcast bitset) — it must appear as a Filter in the plan, and
    // the only ScalaUDAF is the build-side bloom aggregate, never a
    // per-probe-row UDF
    assert(plan.contains("getbit"), plan)
    assert(!plan.contains("ScalaUDF,"), plan)
    // the filter feeds the join's probe side: textually the join's
    // streamed child subtree contains the getbit filter
    assert("Join".r.findAllIn(plan).nonEmpty, plan)
  }

  test("equalFrequencyBins default: bounded-state sketch + broadcast") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val plan = planOf(graft.pipeline.Profiler.equalFrequencyBins(
      ev, "value", "event_id", k = 4))
    // the production path must never total-sort: edges come from one
    // percentile_approx aggregate riding a broadcast onto the scan
    assert(plan.contains("percentile_approx"), plan)
    assert(plan.contains("Broadcast"), plan)
    // no rank window anywhere — that's the exact path's total sort
    assert(!plan.contains("Window"), plan)
  }

  test("availabilityIntervals: one keyed shuffle serves window + agg") {
    val samples = EventsAdapter.samples(spark, sf)
    val plan = planOf(graft.operators.SensorOps.availabilityIntervals(
      samples, thresholdUs = 172800000000L))
    // the island aggregate keys on (sensor, island) — a superset of
    // the window's sensor partitioning, so no second exchange
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("ksTestGrouped: keyed joins only, one job, no cartesian") {
    import spark.implicits._
    val a = Seq(("g", 1.0)).toDF("k", "v")
    val b = Seq(("g", 2.0)).toDF("k", "v")
    val plan = planOf(graft.pipeline.Profiler.ksTestGrouped(
      a, b, "k", "v"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("unicode_normalize stays inside whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = docs.select(call_function(
      "unicode_normalize", col("text"), lit("NFC")).as("n"))
    val plan = planOf(q)
    // the *(n) stage marker is executedPlan.toString's codegen flag
    assert(plan.contains("*(1) Project [normalizeexpression"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("bpeSegmentVocab: one vocab shuffle, kernel after the fan-in") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.TextAnalysis.bpeSegmentVocab(docs, "text")
    val plan = planOf(q)
    // exactly the word-count aggregate's exchange — the bpe kernel
    // never shuffles, and it runs on the POST-aggregate vocabulary
    // (once per distinct word), not per token occurrence
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.toLowerCase.contains("bpesplitexpression"), plan)
    val aggIdx = plan.indexOf("HashAggregate")
    val bpeIdx = plan.toLowerCase.indexOf("bpesplitexpression")
    assert(aggIdx >= 0 && bpeIdx >= 0 && bpeIdx < aggIdx, plan)
  }

  test("sortedNeighborhoodPairs: equi-join on rank bins, no cross") {
    val c = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val q = graft.operators.RecordLinkage.sortedNeighborhoodPairs(
      c, "c_nationkey", "c_acctbal", "c_custkey", 3)
    val plan = planOf(q)
    assert(!plan.contains("NestedLoop"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
  }

  test("timeWeightedAvg: window and aggregate share one key shuffle") {
    val s = graft.adapters.EventsAdapter.samples(spark, sf)
    val plan = planOf(graft.operators.SensorOps.timeWeightedAvg(s))
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("phraseSearch: scan-stage term filter + broadcast phrase table") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.TextAnalysis.phraseSearch(
      docs, "text", "doc_id", Seq("big", "order", "scan"))
    val plan = planOf(q)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the IN-set on the exploded tokens sits under the join
    assert(plan.contains("tok#") || plan.contains("IN ("), plan)
  }

  test("bucketed tables join with ZERO exchange — co-located layout") {
    val tmp = graft.TempDirs.create("buckets")
    try {
      val orders = graft.Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val lineitem = graft.Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      graft.store.Bucketing.writeBucketed(orders, "b_orders",
        "o_orderkey", 8, s"$tmp/o")
      graft.store.Bucketing.writeBucketed(lineitem, "b_lineitem",
        "o_orderkey", 8, s"$tmp/l")
      // dedicated session conf (q116 discipline): force the sort-merge
      // path so the pin proves bucketing, not broadcast
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = s2.table("b_orders")
        .join(s2.table("b_lineitem"), "o_orderkey")
        .groupBy(col("o_custkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // the join reads bucket-to-bucket: the ONLY exchange is the
      // post-join customer aggregate, nothing under the join
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"), plan)
      assert(joined.count() > 0)
      // parent session conf untouched
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        != "-1")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("chiSquareContrib: pivot aggregates, broadcast totals, no SMJ") {
    val e = graft.Tables.events(spark, sf)
      .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dw"))
    val plan = planOf(graft.pipeline.Profiler.chiSquareContrib(
      e, "event_type", "dw", (0 to 6).map(Int.box)))
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    // row-group shuffle + single-partition totals — nothing keyed on dw
    assert("Exchange".r.findAllIn(plan).size <= 3, plan)
  }

  test("validityJoin rides the key equi-join, never a range nested loop") {
    val hist = graft.operators.Changelog.scd2History(
      graft.Tables.events(spark, sf).select(col("user_id"),
        unix_micros(col("ts")).as("t"), col("value")),
      "user_id", "t", Seq("value"))
    val facts = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ft"))
    val plan = planOf(
      graft.operators.Changelog.validityJoin(facts, hist, "user_id", "ft"))
    assert(!plan.contains("NestedLoop"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
  }

  test("joinCardinalityEstimate: top-k is TakeOrderedAndProject") {
    val plan = planOf(graft.pipeline.Profiler.joinCardinalityEstimate(
      graft.Tables.events(spark, sf).select(col("user_id").as("uid")),
      graft.Tables.orders(spark, sf).select(col("o_custkey").as("uid")),
      "uid", 10))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("contextChunks: shuffle-free scan-stage sequence+explode") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.TextAnalysis.contextChunks(
      docs, "text", "doc_id", window = 64, stride = 48)
    val plan = planOf(q)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("Generate"), plan) // the explode
  }

  test("char_stats diversity: one codegen'd scan stage, no explosion") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = docs.select(col("doc_id"),
      graft.pipeline.TextAnalysis.charStats(col("text")).as("cs"))
    val plan = planOf(q)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("Generate"), plan) // no per-char explode
    assert(plan.toLowerCase.contains("charstatsexpression"), plan)
  }

  test("avgRanks: the data-scale window is bucket-partitioned") {
    val li = graft.Tables.lineitem(spark, sf)
    val plan = planOf(graft.pipeline.Profiler.avgRanks(
      li, "l_extendedprice", 1024))
    // the running count over distinct values partitions by __bucket —
    // the only unpartitioned window is the carry over ≤1024 bucket
    // totals (bounded by the bucket count, not the data)
    assert(plan.contains("windowspecdefinition(__bucket"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // carry joins small
  }

  test("sax: every window keys on the series id, no global sort") {
    val s = EventsAdapter.samples(spark, sf)
    val plan = planOf(graft.operators.Sax.symbolize(s, 4))
    // ranking, totals and assembly all partition by sensor_id — a SAX
    // plan must never sort the corpus globally
    assert(plan.contains("windowspecdefinition(sensor_id"), plan)
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val keyed = "windowspecdefinition\\(sensor_id".r.findAllIn(plan).size
    assert(specs == keyed, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("vocabCoverage: prefix runs over count-groups, not tokens") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.pipeline.TextAnalysis.vocabCoverage(
      docs, "text"))
    // the unpartitioned cumulative window must sit ABOVE both the
    // token-count aggregate and the count-group aggregate — it orders
    // the O(√tokens) (c, k) table, never per-token rows (plan text
    // prints root-first, so the subtree BELOW the window is the text
    // after its last mention)
    val below = plan.split("Window").last
    assert("HashAggregate".r.findAllIn(below).size >= 3, plan)
  }

  test("gini: rank sums run on the distinct-value table, bucketed") {
    import spark.implicits._
    val spend = graft.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val plan = planOf(graft.pipeline.Profiler.gini(spend, "cents"))
    // prefix counts partition by __bucket; the only unpartitioned
    // window is the carry over ≤1024 bucket totals
    assert(plan.contains("windowspecdefinition(__bucket"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("crossCorrelation: lag alignment is an equi-join, lags broadcast") {
    val e = graft.Tables.events(spark, sf)
      .withColumn("t", unix_micros(col("ts")))
    val plan = planOf(graft.pipeline.Profiler.crossCorrelation(
      e, "event_type", "t", "value", "click", "view"))
    // the b-side alignment must plan as a hash join on the shifted
    // bucket, never a nested-loop over the bucket tables
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("liftTable: prefix windows are bucket-partitioned") {
    import spark.implicits._
    val users = graft.Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(sum((col("event_type") === "click").cast("long")).as("score"),
        max((col("event_type") === "purchase").cast("int")).as("pos"))
    val plan = planOf(graft.pipeline.Profiler.liftTable(
      users, "score", "pos"))
    assert(plan.contains("windowspecdefinition(__bucket"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("fanoFactor / interArrival: keyed aggregates, no global window") {
    val s = EventsAdapter.samples(spark, sf)
    val fano = planOf(graft.pipeline.Profiler.fanoFactor(
      s, "sensor_id", "timestamp_us"))
    assert(!fano.contains("Window"), fano) // two aggregates, no window
    val ia = planOf(graft.pipeline.Profiler.interArrival(
      s, "sensor_id", "timestamp_us"))
    // the only window is the sensor-keyed LAG
    assert(ia.contains("windowspecdefinition(sensor_id"), ia)
  }

  test("mutualInformation: one data shuffle, marginals broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.pipeline.Profiler.mutualInformation(
      docs, "lang", "source"))
    // the contingency aggregate is the only data-scale exchange; the
    // marginal/total joins back onto the cell table are broadcasts
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bloomProbe: k lookups are broadcast hash joins, data never shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text").as("fp"))
    val bloom = graft.pipeline.Sketches.bloomBuild(
      docs.select("fp"), "fp", 4096, 3)
    val plan = planOf(graft.pipeline.Sketches.bloomProbe(
      docs, "fp", bloom, 4096, 3))
    // the probe side must NOT shuffle: every filter lookup is a
    // broadcast hash join; a sort-merge here would shuffle the 100 TB
    // side to co-locate against a 64-row filter
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hllRegisters: partial aggregation combines map-side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.pipeline.Sketches.hllRegisters(
      docs, "text", Seq("source"), 8))
    // register max must be a two-phase hash aggregate (partial_max on
    // the scan side) — the property that caps the shuffle at
    // |groups|×m rows regardless of input size
    assert(plan.contains("partial_max"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("tokenWindowChunks: a single scan-stage explode, no shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.pipeline.TextAnalysis.tokenWindowChunks(
      docs, "doc_id", "text", 64, 48))
    assert(plan.contains("Generate"), plan) // the explode
    assert(!plan.contains("Exchange"), plan) // chunking never shuffles
  }

  test("wavEnergy (q371) is a pure scan-stage operator: windows fold " +
    "inside the partition sweep, ZERO Exchange before the sort") {
    import graft.pipeline.Multimodal
    val wins = Multimodal.wavEnergy(
      Multimodal.textToWav(Tables.documents(spark, sf), "doc_id", "text"),
      windowSamples = 16, silencePerSample = 100L)
    val plan = planOf(wins)
    // decode + windowed energy emit directly from mapPartitions — no
    // explode, no hash aggregate, no shuffle anywhere in the operator
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan) // no posexplode stage
  }

  private def noBroadcastSession() = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2
  }

  // TextArtifacts pins: the order-free token consumers (q119 Zipf, q122
  // OOV, q202 coverage, q212 hapax, q329 Chao1) serve their vocabulary
  // scans from the persisted token-bucketed term-frequency table — zero
  // Exchange on every bucket-aligned aggregate and join — instead of
  // re-running a corpus explosion per query.

  test("vocabulary count rollup (q119/q202 head) rides the token " +
    "bucketing: bucketed scan, ZERO Exchange") {
    val docs = Tables.documents(spark, sf)
    val counts = TextArtifacts
      .termFreq(docs, "doc_id", "text", corpusKey = s"$sf#vocpin")
      .groupBy(col("token")).agg(sum(col("tf")).as("freq"))
    val plan = planOf(counts)
    assert(plan.contains("SelectedBucketsCount"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("explode"), plan)
  }

  test("hapaxDensityShared: corpus-count aggregate AND count join-back " +
    "both bucket-aligned — the doc rollup is the only row shuffle") {
    val s2 = noBroadcastSession()
    val docs = Tables.documents(s2, sf)
    val out = TextAnalysis.hapaxDensityShared(
      docs, "text", "doc_id", corpusKey = s"$sf#hapaxpin")
    val plan = planOf(out)
    assert(plan.contains("SelectedBucketsCount"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("explode"), plan)
    val rowShuffles = "Exchange hashpartitioning\\(\\w+".r
      .findAllMatchIn(plan).map(_.matched).toList
    assert(rowShuffles == List("Exchange hashpartitioning(id"), plan)
  }

  test("vocabOovShared: per-token rollup bucket-aligned — the only " +
    "Exchange left is the 1-row scalar aggregate's SinglePartition") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.vocabOovShared(
      docs, "doc_id", "text", corpusKey = s"$sf#oovpin",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "train")
    val plan = planOf(out)
    assert(plan.contains("SelectedBucketsCount"), plan)
    assert(!plan.contains("explode"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Exchange SinglePartition"), plan)
  }

  test("chao1RichnessShared: reads the bucketed artifact, never a " +
    "token explosion; shuffles only (doc, token) tf rows") {
    val s2 = noBroadcastSession()
    val docs = Tables.documents(s2, sf)
    val out = TextAnalysis.chao1RichnessShared(
      docs, "doc_id", "source", "text", corpusKey = s"$sf#chaopin")
    val plan = planOf(out)
    // the id-keyed dim attach can't use the token bucketing (that is
    // fine — what matters is the scan reads the persisted aggregate,
    // not a re-tokenization of the corpus)
    assert(plan.contains("text_tf"), plan) // the persisted artifact scan
    assert(!plan.contains("explode"), plan)
    // dim attach by id + the (group, token) rollup — both move the
    // aggregated tf rows, never the raw token stream
    val rowShuffles = "Exchange hashpartitioning\\(\\w+".r
      .findAllMatchIn(plan).map(_.matched).toList.distinct.sorted
    assert(rowShuffles == List(
      "Exchange hashpartitioning(__g",
      "Exchange hashpartitioning(id"), plan)
  }

  test("vocabCoverageShared tail operates on the count-of-counts " +
    "rollup: no corpus-sized Exchange past the bucketed scan") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.vocabCoverageShared(
      docs, "doc_id", "text", corpusKey = s"$sf#covpin")
    val plan = planOf(out)
    assert(plan.contains("SelectedBucketsCount"), plan)
    assert(!plan.contains("explode"), plan)
    // the only hash exchanges key the O(√tokens) count-group rollup
    // (c) — never token or id
    val rowShuffles = "Exchange hashpartitioning\\(\\w+".r
      .findAllMatchIn(plan).map(_.matched).toList.distinct
    assert(rowShuffles == List("Exchange hashpartitioning(c"), plan)
  }

  test("q261 cross-source leak (r13 re-key): ONE shuffle on the leak " +
    "key, aggregates map-side combined, scan prunes to 3 columns") {
    val q = Queries.all("q261_cross_source_leak")(spark, sf)
    val plan = planOf(q)
    // the prefix-fingerprint key is computed at the scan stage and the
    // group-by shuffles on it once; countDistinct(source) plans as the
    // standard two-phase expand-aggregate over the SAME key — no
    // second row shuffle keyed differently, never a doc-pair join
    val rowShuffles = "Exchange hashpartitioning\\(\\w+".r
      .findAllMatchIn(plan).map(_.matched).toList.distinct
    assert(rowShuffles == List("Exchange hashpartitioning(leak_key"), plan)
    assert(plan.contains("partial_"), plan) // map-side combine
    assert(!plan.contains("Join"), plan)
    // column pruning reaches the parquet scan: only the 3 used columns
    val m = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    val cols = m.get.group(1).split(",").map(_.takeWhile(_ != ':')).toSet
    assert(cols == Set("doc_id", "source", "text"), plan)
  }
}
