package graft

import graft.pipeline.{TextAnalysis, TextArtifacts}
import org.apache.spark.sql.functions._

/** Physical-plan pins for the round-13 TextArtifacts adoptions (r11
  * verdict item #3): the five remaining order-free token consumers
  * (q119 Zipf, q122 OOV, q202 coverage, q212 hapax, q329 Chao1) must
  * serve their vocabulary scans from the persisted token-bucketed
  * term-frequency table — zero Exchange on every bucket-aligned
  * aggregate and join — instead of re-running a corpus explosion per
  * query.
  */
class Round13PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def noBroadcastSession() = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2
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

  test("rangeScanUnlimited (export-edge scan) keeps parallel RANGE " +
    "partitions — no GlobalLimit single-partition collapse") {
    // parquet-backed samples: a tiny LocalRelation would let Catalyst
    // fold the limit/sort away and pin nothing
    val samples = Tables.events(spark, sf)
      .select(col("event_type").as("sensor_id"),
        unix_micros(col("ts")).as("timestamp_us"), col("value"))
    val unlimited = graft.operators.SensorOps.rangeScanUnlimited(
      samples, "click", Some(0L), None)
    val plan = planOf(unlimited)
    // orderBy alone = RangePartitioning: globally ordered ACROSS
    // bounded partitions, which toLocalIterator pages one at a time —
    // the residency contract of the streaming export edge
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("GlobalLimit") && !plan.contains("TakeOrdered"),
      plan)
    // the query-surface rangeScan keeps its limit semantics (and its
    // single-partition collapse — fine for bounded query answers)
    val limited = graft.operators.SensorOps.rangeScan(
      samples, "click", Some(0L), None, limit = 10)
    val lplan = planOf(limited)
    assert(lplan.contains("TakeOrdered") || lplan.contains("GlobalLimit"),
      lplan)
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
