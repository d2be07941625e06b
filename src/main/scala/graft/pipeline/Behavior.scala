package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral analytics over event streams — the product-analytics
  * reductions (ordered funnels, retention cohorts) every event pipeline
  * ships next to its time-series operators. Both are pure
  * aggregate/join compositions keyed on the user id: at 100 TB the
  * per-stage aggregates are map-side combined down to one row per user
  * before any join, every join is user-keyed (co-partitioned once the
  * first aggregate has shuffled), and nothing downstream is ever
  * O(events).
  */
object Behavior {

  /** Strict ordered funnel: a user converts to stage *i* only with an
    * event of stage *i*'s type STRICTLY AFTER their stage *i−1*
    * conversion instant (the classic product funnel — re-ordered events
    * don't count, a purchase before the first view is not a
    * conversion). Conversion instant for stage 0 is the user's earliest
    * stage-0 event; for stage i the earliest stage-i event after the
    * stage i−1 instant.
    *
    * Returns one row per stage: (stage_idx, stage, n_users,
    * conversion) where `conversion` is the fraction of STAGE-0
    * converters that reached this stage, as one IEEE division rounded
    * to 6 (replayable off-Spark).
    *
    * Scale shape: one filtered min-aggregate per stage (map-side
    * combined to ≤1 row per user before its shuffle) and one user-keyed
    * join per stage; all post-aggregate tables are user-count-sized,
    * and the final output is stages-sized. No windows, no
    * whole-history sort — a user's full event list is never
    * materialized in one place.
    */
  def funnel(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct == stages, "funnel stages must be distinct")
    val spark = events.sparkSession
    import spark.implicits._

    val u = col(userCol).as("user")
    // per-stage conversion instants, built left to right: reached(i) =
    // (user, ts_i) — the earliest qualifying stage-i event per user
    // each stage's (user, instant) table is lazily checkpointed: the
    // stage count action materializes it, and the NEXT stage's join
    // reads the materialized blocks instead of recomputing the chain
    // (without this, stage s would replay stages 0..s−1 — quadratic
    // jobs in the funnel depth)
    var reached = events.filter(col(typeCol) === stages.head)
      .groupBy(u).agg(min(col(tsCol)).as("__ts"))
      .localCheckpoint(false)
    var counts = List(reached.count())
    stages.drop(1).foreach { st =>
      reached = events.filter(col(typeCol) === st)
        .select(u, col(tsCol).as("__nts"))
        .join(reached, "user")
        .filter(col("__nts") > col("__ts"))
        .groupBy(col("user")).agg(min(col("__nts")).as("__ts"))
        .localCheckpoint(false)
      counts = reached.count() :: counts
    }
    val base = counts.last
    // the division + ROUND(6) happens in Spark expressions (not driver
    // BigDecimal) so the rounding semantics are the same engine surface
    // every other oracled ratio uses (q138 precedent)
    spark.createDataset(
        stages.zip(counts.reverse).zipWithIndex.map { case ((st, n), i) =>
          (i.toLong, st, n)
        })
      .toDF("stage_idx", "stage", "n_users")
      .withColumn("conversion",
        if (base == 0) lit(0.0)
        else round(col("n_users").cast("double") / lit(base.toDouble), 6))
  }

  /** Conversion-delay distribution per funnel step: for users who
    * advanced stage i−1 → i (the [[funnel]] chain semantics — strictly
    * later qualifying event), the p50/p90 of the delay in seconds.
    * The "how long does conversion take" companion to the funnel's
    * "how many convert".
    *
    * Same left-to-right instant chain as [[funnel]] (each stage's
    * (user, instant) table localCheckpoints so stage s never replays
    * 0..s−1); each step emits its per-user delay once, and one
    * stage-keyed aggregate reduces the union. Delays are exact µs
    * integers divided once by 10⁶ — seconds-magnitude doubles, safe to
    * ROUND(6) (never round µs-magnitude values). `exact = true` runs
    * the exact `percentile` (the oracle surface); the default is
    * `approx_percentile` with accuracy-bounded state — the q115/q193
    * production split.
    *
    * Output: (stage_idx, from_stage, to_stage, n_users, p50_s, p90_s).
    */
  def funnelDelays(
      events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String],
      exact: Boolean = false): DataFrame = {
    require(stages.size >= 2, "delays need at least two stages")
    require(stages.distinct == stages, "funnel stages must be distinct")
    val u = col(userCol).as("user")
    var reached = events.filter(col(typeCol) === stages.head)
      .groupBy(u).agg(min(col(tsCol)).as("__ts"))
      .localCheckpoint(false)
    var delays: DataFrame = null
    stages.drop(1).zipWithIndex.foreach { case (st, i) =>
      val next = events.filter(col(typeCol) === st)
        .select(u, col(tsCol).as("__nts"))
        .join(reached, "user")
        .filter(col("__nts") > col("__ts"))
        .groupBy(col("user"))
        .agg(min(col("__nts")).as("__nxt"), min(col("__ts")).as("__prv"))
        .localCheckpoint(false)
      val d = next.select(lit(i + 1L).as("stage_idx"),
        lit(stages(i)).as("from_stage"), lit(st).as("to_stage"),
        ((unix_micros(col("__nxt")) - unix_micros(col("__prv")))
          .cast("double") / 1e6).as("__ds"))
      delays = if (delays == null) d else delays.unionAll(d)
      reached = next.select(col("user"), col("__nxt").as("__ts"))
    }
    val pct =
      if (exact) expr("percentile(__ds, array(0.5D, 0.9D))")
      else expr("approx_percentile(__ds, array(0.5D, 0.9D), 10000)")
    delays.groupBy(col("stage_idx"), col("from_stage"), col("to_stage"))
      .agg(count(lit(1)).as("n_users"), pct.as("__p"))
      .select(col("stage_idx"), col("from_stage"), col("to_stage"),
        col("n_users"),
        round(col("__p").getItem(0), 6).as("p50_s"),
        round(col("__p").getItem(1), 6).as("p90_s"))
  }

  /** Item co-occurrence / association mining over user baskets — the
    * "users who took A also took B" reduction (support, lift) behind
    * recommendations and data-mix diagnostics. Input is any (user,
    * item) event table; the basket is the user's DISTINCT item set.
    *
    * Returns one row per unordered item pair seen in ≥ `minCount`
    * baskets: (item_a, item_b, n_both, n_a, n_b, support, lift) with
    * support = n_both/N (N = distinct users) and
    * lift = n_both·N / (n_a·n_b) — each a fixed shape of exact-integer
    * operands in IEEE doubles, so the surface replays exactly.
    *
    * Scale shape: ONE user-keyed aggregate collects each user's
    * distinct item set (`collect_set` dedups in the map-side
    * partials); the `maxBasketSize` cap is then a plain array-size
    * filter — no basket-size count/join round trip — and the pair
    * stage is a double explode of the basket array (bounded by cap²
    * per user, never |items|²; the df-cap lesson from the shingle
    * index: one 10⁶-item power-user would otherwise mint 10¹²
    * pairs). The three consumers (user total, item counts, pairs)
    * share the basket aggregation's one user-keyed exchange via
    * ReuseExchange — no cache (measured slower at both probe scales).
    */
  def coOccurrence(
      events: DataFrame,
      userCol: String,
      itemCol: String,
      minCount: Long = 2L,
      maxBasketSize: Int = 10000): DataFrame = {
    require(minCount >= 1, "minCount must be at least 1")
    require(maxBasketSize >= 2, "maxBasketSize must allow pairs")
    // The basket table is NOT cached: its three consumers share the one
    // user-keyed exchange via ReuseExchange, so only the (cheap) final
    // collect_set phase re-runs per consumer — measured r17 at sf0.1
    // (~2.2 → ~1.4 s warm) and the 100× probe (24.1 → 20.5 s, identical
    // spill/peak; shuffle WRITE unchanged, reads 3× a local fetch). A
    // cache paid its fill pass + storage pressure for less than it
    // saved — the same trade the r16 gini/lorenz/abc cache rejections
    // measured.
    val b = basketTable(events, userCol, itemCol, maxBasketSize)
    val n = broadcast(b.agg(count(lit(1)).cast("double").as("__n")))
    val ic = b.select(explode(col("__items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val pairs = basketPairs(b)
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minCount)
    val result = pairs
      .join(ic.select(col("item").as("item_a"), col("cnt").as("n_a")),
        "item_a")
      .join(ic.select(col("item").as("item_b"), col("cnt").as("n_b")),
        "item_b")
      .crossJoin(n)
      .select(col("item_a"), col("item_b"), col("n_both"),
        col("n_a"), col("n_b"),
        (col("n_both").cast("double") / col("__n")).as("support"),
        (col("n_both").cast("double") * col("__n")
          / (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
    PipelineCache.materialize()(result)
  }

  /** Distinct item baskets as (user, __items array), capped: the one
    * user-keyed aggregate both co-occurrence entry points build on.
    */
  private def basketTable(
      events: DataFrame, userCol: String, itemCol: String,
      maxBasketSize: Int): DataFrame =
    events
      .select(col(userCol).as("user"), col(itemCol).as("item"))
      .groupBy(col("user"))
      .agg(collect_set(col("item")).as("__items"))
      .filter(size(col("__items")) <= maxBasketSize)

  /** Ordered within-basket pairs via double explode — bounded by
    * basket-cap² per user, generated in the scan stage after the one
    * basket shuffle (no self-join).
    */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets
      .select(explode(col("__items")).as("item_a"), col("__items"))
      .select(col("item_a"), explode(col("__items")).as("item_b"))
      .filter(col("item_a") < col("item_b"))

  /** Just the ≥`minCount` co-occurrence PAIRS as an undirected edge
    * list — the graph-construction half of [[coOccurrence]] without
    * the support/lift statistics (no item counts, no user total, no
    * rate joins). Feed to [[pageRank]] or
    * [[graft.pipeline.Dedup.connectedComponents]]; callers wanting
    * the association statistics use [[coOccurrence]].
    */
  def coOccurrenceEdges(
      events: DataFrame,
      userCol: String,
      itemCol: String,
      minCount: Long = 2L,
      maxBasketSize: Int = 10000): DataFrame = {
    require(minCount >= 1, "minCount must be at least 1")
    basketPairs(basketTable(events, userCol, itemCol, maxBasketSize))
      .groupBy(col("item_a").as("id_a"), col("item_b").as("id_b"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("id_a"), col("id_b"))
  }

  /** PageRank over an undirected edge list, fixed iteration count —
    * the centrality companion to the dedup family's connected
    * components (which items/domains/documents anchor the graph, not
    * just which belong together). Standard power iteration:
    * r⁰ = 1/N;  rᵗ⁺¹(v) = (1−d)/N + d·Σ_{u~v} rᵗ(u)/deg(u)
    * over the symmetrized edges; with every node edge-incident there
    * is no dangling mass to redistribute.
    *
    * Each iteration's ranks ROUND to 9 decimals: the incoming-mass sum
    * is a float reduction over a variable neighbor set, and the
    * per-iteration rounding collapses reduction-order ulp drift
    * (~1e-16) to an identical fixed-point surface before it can
    * compound — an external engine unrolling the same iterations
    * reproduces every rank bit-for-bit.
    *
    * Scale shape: one (deg-annotated) edge table cached and
    * repartitioned on the propagation key, one contribution
    * join + grouped sum per iteration — the CC loop's cost model with
    * a fixed round budget instead of convergence detection.
    */
  def pageRank(
      edges: DataFrame, // (id_a, id_b), undirected
      damping: Double = 0.85,
      iters: Int = 3): DataFrame = {
    require(damping > 0 && damping < 1, "damping in (0,1)")
    require(iters >= 1, "at least one iteration")
    val sym0 = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    val deg = sym0.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val sym = sym0.join(deg, "src").repartition(col("src")).cache()
    val nodes = deg.select(col("src").as("id"))
    val n = nodes.count()
    require(n > 0, "empty graph")
    val init = lit(1.0) / lit(n.toDouble)
    val base = lit(1.0 - damping) / lit(n.toDouble)
    var r = nodes.select(col("id"), init.as("rank"))
    (1 to iters).foreach { _ =>
      val contrib = sym
        .join(r.select(col("id").as("src"), col("rank")), "src")
        .select(col("dst").as("id"),
          (col("rank") / col("__deg").cast("double")).as("__c"))
        .groupBy(col("id"))
        .agg(sum(col("__c")).as("__in"))
      r = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          round(base + lit(damping) * coalesce(col("__in"), lit(0.0)), 9)
            .as("rank"))
    }
    // materialize the node-sized answer while the edge cache is hot,
    // then release the cache (the pipeline-family discipline)
    PipelineCache.materialize(sym)(r)
  }

  /** Synchronous label propagation (Raghavan et al.) for a FIXED
    * number of rounds: each node adopts the most frequent label among
    * its neighbours (count desc, then label asc — fully deterministic,
    * unlike the randomized textbook sweep), isolated nodes keep their
    * seed. With meaningful seed labels (e.g. a document's source) over
    * a similarity graph this yields majority-consensus communities —
    * distinct from connected components, which ignore the seeds.
    *
    * Scale shape per round: one edge-keyed join to deliver labels, one
    * (node, label) count aggregate, one per-node argmax via min-struct
    * (never a rank window), one node-keyed left join. Fixed `rounds`
    * bounds the job count; edges are symmetrized once up front.
    *
    * All arithmetic is integer counts and string comparisons — an
    * external engine replays every round exactly.
    */
  def labelPropagation(
      nodes: DataFrame, // (id, label) seed assignment
      edges: DataFrame, // (id_a, id_b), undirected
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "at least one round")
    val sym = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("src")).cache()
    PipelineCache.materialize(sym)(lpRounds(nodes, sym, rounds))
  }

  /** [[labelPropagation]] over a PREPARED symmetric edge table — the
    * dst-bucketed [[DedupArtifacts.symEdgeTable]] pair-graph artifact:
    * self-loops are stripped (a node must not vote for itself), and the
    * symmetric row set is read with (src, dst) SWAPPED so the bucket
    * column serves as the label-delivery key — every round's join reads
    * the persisted layout with zero Exchange on the edge side, and the
    * pair construction was paid once per corpus across ALL graph
    * consumers (clustering, survivorship, communities).
    */
  def labelPropagationSym(
      nodes: DataFrame, symWithLoops: DataFrame,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "at least one round")
    val sym = symWithLoops.filter(col("src") =!= col("dst"))
      .select(col("dst").as("src"), col("src").as("dst"))
    lpRounds(nodes, sym, rounds)
  }

  /** The shared fixed-round sweep (see [[labelPropagation]]). */
  private def lpRounds(
      nodes: DataFrame, sym: DataFrame, rounds: Int): DataFrame = {
    var labels = nodes.select(col("id"), col("label"))
    (1 to rounds).foreach { _ =>
      val best = sym
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("id"))
        .agg(min(struct((-col("__c")).as("__nc"), col("label")))
          .as("__best"))
        .select(col("id"), col("__best.label").as("__new"))
      labels = labels.join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("__new"), col("label")).as("label"))
    }
    labels
  }

  /** Rolling active-user report: per day, the distinct users active
    * that day (DAU) and in the trailing `windowDays`-day window (the
    * WAU/MAU staple). Exact integer counts, replayable on any engine.
    *
    * Scale shape: ONE aggregate reduces the event stream to distinct
    * (day, user) pairs — `collect_set`-free, map-side combined, and
    * bounded by calendar × users, not by event count. DAU is a
    * day-keyed count over those pairs; the trailing window recounts
    * distinct users per anchor day by joining each pair onto the ≤
    * `windowDays` anchor days it can serve (a bounded fan-out of the
    * day-pair table, never of the raw events) — windowed COUNT
    * DISTINCT without a window function, since a distinct aggregate
    * inside a running window would hold per-partition value sets.
    * Anchor days are restricted to days with ≥1 event (the report
    * grid), so the join is calendar × window sized.
    */
  def rollingActiveUsers(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "window must be at least one day")
    val pairs = events
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("user"))
      .distinct()
      .cache()
    val dau = pairs.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val anchors = dau.select(col("day").as("anchor"))
    val trailing = pairs
      .join(anchors,
        col("anchor") >= col("day") &&
          col("anchor") < date_add(col("day"), windowDays))
      .select(col("anchor"), col("user"))
      .distinct()
      .groupBy(col("anchor"))
      .agg(count(lit(1)).as("trailing"))
    val result = dau
      .join(trailing, col("day") === col("anchor"))
      .select(col("day"), col("dau"), col("trailing"))
    PipelineCache.materialize(pairs)(result)
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected edge list — the graph-density diagnostic next to
    * [[pageRank]] (how clique-ish is each item's neighborhood, the
    * standard community-structure signal).
    *
    * Algorithm: canonicalize edges to (lo, hi) once, enumerate wedges
    * by joining the canonical edge list with itself on the shared
    * lower endpoint, and close each wedge against the edge list — the
    * classic two-join triangle enumeration, O(Σ deg²) wedges bounded
    * by `maxDegree` (the posting-list df-cap lesson: one celebrity
    * node would otherwise mint deg² wedges). Each triangle {a<b<c} is
    * found exactly once (as wedge b←a→c closed by b–c), then credited
    * to all three corners with one explode + count.
    *
    * clustering = triangles / C(deg, 2), both exact integers through
    * one correctly-rounded IEEE division — replays bit-exactly
    * (`shiftright(d·(d−1), 1)` for the exact integer halving).
    *
    * Scale shape: the canonical edge table is cached and reused by
    * the wedge join, the closing join, and the degree count; all
    * three shuffles key on node ids.
    */
  def triangles(
      edges: DataFrame, // (id_a, id_b), undirected, no self-loops
      maxDegree: Int = 10000): DataFrame = {
    require(maxDegree >= 2, "maxDegree must allow wedges")
    val canon = edges
      .select(least(col("id_a"), col("id_b")).as("lo"),
        greatest(col("id_a"), col("id_b")).as("hi"))
      .filter(col("lo") < col("hi"))
      .distinct()
      .cache()
    val deg = canon.select(col("lo").as("id"))
      .union(canon.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val keep = deg.filter(col("degree") <= maxDegree)
      .select(col("id").as("__kid"))
    // wedges b←a→c with b<c, both endpoints under the degree cap at
    // the shared corner a (caps the join's per-key fan-out)
    val capped = canon
      .join(keep.withColumnRenamed("__kid", "lo"), "lo")
    val wedges = capped.select(col("lo").as("a"), col("hi").as("b"))
      .join(capped.select(col("lo").as("a"), col("hi").as("c")), "a")
      .filter(col("b") < col("c"))
    val tris = wedges
      .join(canon.select(col("lo").as("b"), col("hi").as("c")),
        Seq("b", "c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    val result = deg
      .join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          col("triangles").cast("double") /
            shiftright(col("degree") * (col("degree") - 1), 1)
              .cast("double"))
          .otherwise(lit(0.0)))
    PipelineCache.materialize(canon)(result)
  }

  /** Retention cohort matrix: users are cohorted by the period of their
    * FIRST event, and each (cohort, offset) cell counts the distinct
    * users of that cohort active `offset` periods later (offset 0 is
    * the cohort size itself). `period` is a `date_trunc` unit
    * ("week", "day", "month"); offsets are exact integer period
    * differences, so the matrix is integer-valued and replays exactly
    * on any engine.
    *
    * Scale shape: TWO shuffles total. One user-keyed aggregate
    * collects each user's distinct active-period set (`collect_set`
    * dedups in the map-side partials, and the set is bounded by the
    * calendar — ≤ the number of periods in the data's time span, not
    * by the user's event count), yielding cohort = the set minimum in
    * the same pass; exploding that set and re-aggregating on
    * (cohort, offset) is the second shuffle. No self-join, no
    * distinct-then-rejoin round trip. The week arithmetic stays on
    * DATE-truncated values, so the integer day difference is always an
    * exact multiple of the period length.
    */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      period: String = "week"): DataFrame = {
    val perDays = period match {
      case "day" => 1
      case "week" => 7
      case other =>
        throw new IllegalArgumentException(
          s"unsupported retention period: $other (day|week)")
    }
    events
      .select(col(userCol).as("user"),
        to_date(date_trunc(period, col(tsCol))).as("__p"))
      .groupBy(col("user"))
      .agg(collect_set(col("__p")).as("__ps"))
      .select(col("user"), array_min(col("__ps")).as("cohort"),
        explode(col("__ps")).as("__p"))
      .groupBy(col("cohort"),
        (datediff(col("__p"), col("cohort")) / perDays)
          .cast("long").as("period_offset"))
      // each user contributes AT MOST ONE row per (cohort, offset) —
      // __ps is a set and the cohort is functionally determined by the
      // user — so the plain count IS the distinct-user count, without
      // a distinct aggregation buffer
      .agg(count(lit(1)).as("n_users"))
      .select(col("cohort"), col("period_offset"), col("n_users"))
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: counts and conditional probabilities of `from → to`
    * steps between CONSECUTIVE events of the same user — the path
    * model behind "what happens after a click", next-step prediction
    * baselines, and anomalous-flow detection.
    *
    * Deterministic: sequence order is (ts, id) per user; probabilities
    * are single IEEE divisions of exact integer counts (bit-identical
    * cross-engine — no rounding surface needed).
    *
    * Scale shape: one keyed window (LAG over the user partition), one
    * (from, to) count aggregate with map-side combine, and a per-from
    * totals broadcast — state is the state-alphabet², never the event
    * count.
    */
  def transitionMatrix(
      events: DataFrame, userCol: String, tsCol: String, idCol: String,
      stateCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val steps = events
      .select(col(userCol), col(tsCol), col(idCol),
        col(stateCol).as("to_state"))
      .withColumn("from_state", lag(col("to_state"), 1).over(w))
      .filter(col("from_state").isNotNull)
    val counts = steps.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_state"))
      .agg(sum(col("n")).as("__tot"))
    counts.join(broadcast(totals), "from_state")
      .select(col("from_state"), col("to_state"), col("n"),
        (col("n").cast("double") / col("__tot").cast("double"))
          .as("prob"))
  }

  /** Entropy rate of the empirical Markov chain: per-state conditional
    * entropy H(s) = Σ_t −p(s,t)·ln p(s,t) weighted by the empirical
    * state distribution π(s) — how predictable the event flow is, and
    * which states drive the unpredictability.
    *
    * Built on [[transitionMatrix]]'s exact counts: every probability
    * is one IEEE division of integers, each −p·ln p term quantizes to
    * DECIMAL(28,12) before the per-state and corpus sums (both
    * alphabet-bounded) so no float reduction order leaks, and the
    * state tables never exceed the alphabet².
    *
    * Output: (from_state, n_steps, pi, h_state, h_contrib, h_rate) —
    * h_state in nats; h_rate = Σ π·H repeated on every row.
    */
  def entropyRate(
      events: DataFrame, userCol: String, tsCol: String, idCol: String,
      stateCol: String): DataFrame = {
    val tm = transitionMatrix(events, userCol, tsCol, idCol, stateCol)
    val term = (-col("prob") * log(col("prob"))).cast("decimal(28,12)")
    val perState = tm
      .withColumn("__t", term)
      .groupBy(col("from_state"))
      .agg(sum(col("n")).as("n_steps"),
        sum(col("__t")).cast("double").as("h_state"))
    val total = broadcast(perState.agg(
      sum(col("n_steps")).as("__all")))
    val withPi = perState.crossJoin(total)
      .withColumn("pi",
        col("n_steps").cast("double") / col("__all").cast("double"))
      .withColumn("h_contrib", round(col("pi") * col("h_state"), 6))
      .withColumn("__c", (col("pi") * col("h_state"))
        .cast("decimal(28,12)"))
    val rate = broadcast(withPi.agg(
      sum(col("__c")).cast("double").as("h_rate")))
    withPi.crossJoin(rate)
      .select(col("from_state"), col("n_steps"),
        round(col("pi"), 6).as("pi"),
        round(col("h_state"), 6).as("h_state"),
        col("h_contrib"), round(col("h_rate"), 6).as("h_rate"))
  }

  /** Top-k most frequent length-`depth` event-type paths across user
    * sequences — the "what do journeys actually look like" sequential
    * extension of the 1-step [[transitionMatrix]]. One keyed window
    * (all lags share the sort), one path-count aggregate (map-side
    * combined), top-k via TakeOrderedAndProject — never a full sort.
    * Ties break on the path string. All integer counts.
    *
    * Output: (path, n), k rows, ordered (n desc, path asc).
    */
  def topPaths(
      events: DataFrame, userCol: String, tsCol: String, idCol: String,
      stateCol: String, depth: Int = 3, k: Int = 10): DataFrame = {
    require(depth >= 2 && k >= 1, "depth >= 2 and k >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val lags = (depth - 1 to 1 by -1).map(i =>
      lag(col(stateCol), i).over(w)) :+ col(stateCol)
    events
      .withColumn("__path", concat_ws(">", lags: _*))
      .withColumn("__oldest", lags.head)
      .filter(col("__oldest").isNotNull)
      .groupBy(col("__path").as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Per-user behavioural entropy: Shannon entropy of each user's
    * event-type distribution — bots and single-purpose scripts sit
    * near 0, organic users spread out. One (user, type) count
    * aggregate, one user-keyed reduce; each −p·ln p term quantizes to
    * DECIMAL(28,12) before the per-user (alphabet-bounded) sum, so the
    * reduction order never leaks.
    *
    * Output: (userCol, n_events, n_types, entropy) — entropy in nats,
    * ROUND(6).
    */
  def userEntropy(
      events: DataFrame, userCol: String, typeCol: String): DataFrame = {
    val counts = events.groupBy(col(userCol), col(typeCol))
      .agg(count(lit(1)).as("__c"))
    val wu = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
    val withTot = counts.withColumn("__n", sum(col("__c")).over(wu))
    val p = col("__c").cast("double") / col("__n").cast("double")
    withTot
      .withColumn("__t", (-p * log(p)).cast("decimal(28,12)"))
      .groupBy(col(userCol))
      .agg(max(col("__n")).as("n_events"),
        count(lit(1)).as("n_types"),
        round(sum(col("__t")).cast("double"), 6).as("entropy"))
  }

  /** Longest consecutive-day activity streak per user — classic
    * gaps-and-islands on the distinct active-day set: island id =
    * day − row_number is constant exactly along a run of consecutive
    * days. One distinct (user, day) aggregate (calendar-bounded per
    * user), one user-keyed window, one (user, island) reduce, one
    * per-user argmax via max-struct (longest, tie → earliest start).
    * All integer arithmetic.
    *
    * Output: (userCol, n_active_days, longest_streak, streak_start_day)
    * with days as epoch days.
    */
  def activityStreaks(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val days = events
      .select(col(userCol).as("user"),
        expr(s"`$tsCol` div 86400000000").as("__day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user")).orderBy(col("__day"))
    val islands = days
      .withColumn("__isl", col("__day") - row_number().over(w))
      .groupBy(col("user"), col("__isl"))
      .agg(count(lit(1)).as("__len"), min(col("__day")).as("__start"))
    islands.groupBy(col("user").as(userCol))
      .agg(sum(col("__len")).as("n_active_days"),
        max(struct(col("__len"), (-col("__start")).as("__ns")))
          .as("__best"))
      .select(col(userCol), col("n_active_days"),
        col("__best.__len").as("longest_streak"),
        (-col("__best.__ns")).as("streak_start_day"))
  }

  /** RFM segmentation: customers scored 1..5 on Recency (last order
    * day), Frequency (order count) and Monetary (exact cent total) by
    * their position against the corpus quintile cutoffs, then counted
    * per 3-digit segment — the classic CRM partition, computed with
    * ONE customer aggregate, one 1-row broadcast of the nine cutoffs,
    * and one segment count. Scores compare raw values against
    * interpolated cutoffs as identical doubles on any engine; strictly
    *-greater against each cutoff makes ties well-defined.
    *
    * Output: (segment, n_customers, avg_monetary) — segment =
    * 100·R + 10·F + M, avg in original currency units, ROUND(6).
    */
  def rfmSegments(
      orders: DataFrame, custCol: String, tsCol: String,
      amountCol: String): DataFrame = {
    val per = orders.groupBy(col(custCol))
      .agg(max(expr(s"`$tsCol` div 86400000000")).as("rec_day"),
        count(lit(1)).as("freq"),
        (sum(col(amountCol).cast("decimal(18,2)")) * 100)
          .cast("long").as("mon"))
    def cutsOf(c: String) = expr(
      s"percentile(CAST($c AS DOUBLE), array(0.2D, 0.4D, 0.6D, 0.8D))")
    val cuts = broadcast(per.agg(cutsOf("rec_day").as("__rc"),
      cutsOf("freq").as("__fc"), cutsOf("mon").as("__mc")))
    def score(c: String, cut: String) = (0 to 3)
      .map(i => s"CAST(CAST($c AS DOUBLE) > $cut[$i] AS INT)")
      .mkString("1 + ", " + ", "")
    per.crossJoin(cuts)
      .withColumn("__seg", expr(
        s"(${score("rec_day", "__rc")}) * 100" +
          s" + (${score("freq", "__fc")}) * 10" +
          s" + (${score("mon", "__mc")})"))
      .groupBy(col("__seg").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("mon")).cast("double") /
          count(lit(1)).cast("double") / 100.0, 6).as("avg_monetary"))
  }

  /** Order-gap churn risk: flag customers whose time since their last
    * order exceeds `riskFactor`× their own median inter-order gap —
    * the personalized-baseline churn screen (a weekly shopper gone a
    * month is at risk; a quarterly one is not). One distinct
    * (customer, day) reduce, one customer-keyed LAG window, one
    * customer aggregate (median over the customer's own bounded gap
    * list), a 1-row horizon broadcast. The risk predicate compares
    * identical doubles on any engine.
    *
    * Output: flagged customers only — (custCol, n_gaps,
    * median_gap_days, days_since_last, risk_ratio), ROUND(6) on the
    * ratio/median.
    */
  def orderGapRisk(
      orders: DataFrame, custCol: String, tsCol: String,
      riskFactor: Double = 2.0): DataFrame = {
    val days = orders
      .select(col(custCol), expr(s"`$tsCol` div 86400000000").as("__day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(custCol)).orderBy(col("__day"))
    val gaps = days
      .withColumn("__gp", col("__day") - lag(col("__day"), 1).over(w))
    val per = gaps.groupBy(col(custCol))
      .agg(count(col("__gp")).as("n_gaps"),
        expr("percentile(CAST(__gp AS DOUBLE), 0.5D)").as("__med"),
        max(col("__day")).as("__last"))
    val horizon = broadcast(days.agg(max(col("__day")).as("__h")))
    per.crossJoin(horizon)
      .withColumn("__risk",
        (col("__h") - col("__last")).cast("double") / col("__med"))
      .filter(col("__med").isNotNull && col("__med") > 0 &&
        col("__risk") > riskFactor)
      .select(col(custCol), col("n_gaps"),
        round(col("__med"), 6).as("median_gap_days"),
        (col("__h") - col("__last")).as("days_since_last"),
        round(col("__risk"), 6).as("risk_ratio"))
  }

  /** Cohort LTV curve: average cumulative spend per customer by
    * cohort age — customers cohorted by their first-order month, each
    * (cohort, month-offset) cell accumulating exact cent revenue, the
    * running total over offsets per cohort (a calendar-bounded window)
    * divided once by the cohort size. The "does a cohort ever pay
    * back" curve.
    *
    * Scale shape: one customer aggregate (cohort), one (cohort,
    * offset) revenue reduce joined through a customer-keyed cohort
    * map, cohort sizes re-aggregated from the map; the only window
    * runs over the months-bounded (cohort, offset) grid.
    *
    * Output: (cohort_month, month_offset, n_customers, revenue_cents,
    * cum_cents, avg_ltv) — avg in currency units, ROUND(6).
    */
  def ltvCurve(
      orders: DataFrame, custCol: String, tsCol: String,
      amountCol: String): DataFrame = {
    val monthIdx = expr(s"year(`$tsCol`) * 12 + month(`$tsCol`) - 1")
      .cast("long")
    val base = orders.select(col(custCol).as("cust"),
      monthIdx.as("__mi"),
      (col(amountCol).cast("decimal(18,2)") * 100).cast("long")
        .as("__cents"))
    val cohort = base.groupBy(col("cust"))
      .agg(min(col("__mi")).as("__c0"))
    val sizes = cohort.groupBy(col("__c0").as("cohort_month"))
      .agg(count(lit(1)).as("n_customers"))
    val cells = base.join(cohort, "cust")
      .groupBy(col("__c0").as("cohort_month"),
        (col("__mi") - col("__c0")).as("month_offset"))
      .agg(sum(col("__cents")).as("revenue_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_month")).orderBy(col("month_offset"))
      .rowsBetween(Long.MinValue, 0)
    cells.join(broadcast(sizes), "cohort_month")
      .withColumn("cum_cents", sum(col("revenue_cents")).over(w))
      .withColumn("avg_ltv",
        round(col("cum_cents").cast("double") /
          col("n_customers").cast("double") / 100.0, 6))
  }

  /** New-vs-returning revenue split per month: an order counts as
    * "new" iff it falls in its customer's first-order month (orders
    * with a NULL customer key are excluded). Cohort month via a
    * min-over-window on one customer-keyed exchange, then one month
    * reduce with conditional exact cent sums; shares are single
    * divisions, ROUND(6).
    *
    * Output: (month_idx, n_orders, rev_new_cents, rev_returning_cents,
    * new_share).
    */
  def newVsReturning(
      orders: DataFrame, custCol: String, tsCol: String,
      amountCol: String): DataFrame = {
    val monthIdx = expr(s"year(`$tsCol`) * 12 + month(`$tsCol`) - 1")
      .cast("long")
    val base = orders.select(col(custCol).as("cust"),
      monthIdx.as("__mi"),
      (col(amountCol).cast("decimal(18,2)") * 100).cast("long")
        .as("__cents"))
    // cohort month = min month over a customer-keyed window — ONE
    // exchange of the order rows, where the former groupBy-cohort +
    // join-back paid a second full exchange and a join whose strategy
    // flipped broadcast→SMJ across scales (r16 scale gate). Identical
    // integers per row, so the month aggregate is unchanged. NULL
    // customer keys are dropped (isNotNull), matching the former inner
    // join's semantics — a NULL window partition would otherwise flow
    // into n_orders/revenue.
    val wCust = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cust"))
    base.filter(col("cust").isNotNull)
      .withColumn("__c0", min(col("__mi")).over(wCust))
      .groupBy(col("__mi").as("month_idx"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("__mi") === col("__c0"), col("__cents"))
          .otherwise(lit(0L))).as("rev_new_cents"),
        sum(when(col("__mi") =!= col("__c0"), col("__cents"))
          .otherwise(lit(0L))).as("rev_returning_cents"))
      .withColumn("new_share",
        round(col("rev_new_cents").cast("double") /
          (col("rev_new_cents") + col("rev_returning_cents"))
            .cast("double"), 6))
  }

  /** Audience discovery curve: per cohort key, how many users were
    * seen for the FIRST time each day, and the cumulative unique-user
    * count — the saturation curve behind "is this source still finding
    * new people". One (key, user) first-day aggregate (map-side
    * combined), one (key, day) reduce, a running sum over the
    * span-bounded day grid. All integer.
    *
    * Output: (keyCol, day, n_new, cum_users) — day in epoch days.
    */
  def discoveryCurve(
      events: DataFrame, keyCol: String, userCol: String,
      tsCol: String): DataFrame = {
    val firstDay = events
      .select(col(keyCol), col(userCol).as("__u"),
        expr(s"`$tsCol` div 86400000000").as("__day"))
      .groupBy(col(keyCol), col("__u"))
      .agg(min(col("__day")).as("__d0"))
    firstDay.groupBy(col(keyCol), col("__d0").as("day"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col("day"))
          .rowsBetween(Long.MinValue, 0)))
  }

  /** Audience-overlap matrix: Jaccard similarity between the distinct
    * user sets of every pair of event types — which behaviours share
    * an audience, the first read before funnel or cohort design.
    *
    * ONE distinct (type, user) aggregate reduces the events; the pair
    * stage self-joins it on the user id, so pair rows exist only where
    * a user genuinely has both types (bounded by Σ_u k_u², k = types
    * per user ≤ alphabet — never |A|·|B|). Marginals re-aggregate the
    * pair-table-sized input and broadcast. All integers, one final
    * division, ROUND(6).
    *
    * Output: (type_a, type_b, n_a, n_b, n_both, jaccard).
    */
  def audienceOverlap(
      events: DataFrame, typeCol: String, userCol: String): DataFrame = {
    val tu = events
      .select(col(typeCol).as("__ty"), col(userCol).as("__u"))
      .distinct()
    val sizes = tu.groupBy(col("__ty")).agg(count(lit(1)).as("__n"))
    val pairs = tu.as("a").join(tu.as("b"),
        col("a.__u") === col("b.__u") && col("a.__ty") < col("b.__ty"))
      .groupBy(col("a.__ty").as("type_a"), col("b.__ty").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.select(col("__ty").as("type_a"),
        col("__n").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("__ty").as("type_b"),
        col("__n").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Kaplan–Meier survival curve over user lifetimes: duration = days
    * between a user's first and last event; users whose last event
    * falls within `censorHorizonUs` of the corpus end are censored
    * (still alive). S(t) steps down by (1 − d_t/n_t) at each death
    * time — the retention/churn curve estimator that handles the
    * still-active population correctly.
    *
    * Scale shape: one user-keyed (first, last) aggregate reduces the
    * events, then EVERYTHING runs on the distinct-duration table —
    * bounded by the observation span in days, not by users or events
    * (its ordered prefix windows are the documented bounded
    * single-partition step, the q190 carry precedent). The log-product
    * accumulates ln(1 − d/n) terms quantized to DECIMAL(28,12), so the
    * prefix sum is exact and order-free; survival = exp of it,
    * ROUND(6). A time where every remaining user dies (d = n) zeroes
    * the curve from that point on via an explicit flag — never a
    * ln(0) in the arithmetic.
    *
    * Output: (duration_days, n_at_risk, n_deaths, survival) — death
    * times only, ascending.
    */
  def kaplanMeier(
      events: DataFrame, userCol: String, tsCol: String,
      censorHorizonUs: Long = 7L * 86400000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lif = events
      .select(col(userCol).as("user"),
        col(tsCol).cast("long").as("__t"))
      .groupBy(col("user"))
      .agg(min(col("__t")).as("__first"), max(col("__t")).as("__last"))
    val gmax = broadcast(lif.agg(max(col("__last")).as("__gmax")))
    val durs = lif.crossJoin(gmax).select(
      expr("(__last - __first) div 86400000000").as("dur"),
      (col("__last") < col("__gmax") - censorHorizonUs).cast("int")
        .as("__death"))
    val byDur = durs.groupBy(col("dur"))
      .agg(count(lit(1)).as("__c"), sum(col("__death")).as("d"))
    val tot = broadcast(durs.agg(count(lit(1)).as("__n")))
    val wAsc = Window.orderBy(col("dur"))
    val before = byDur.crossJoin(tot)
      .withColumn("__cb", coalesce(sum(col("__c"))
        .over(wAsc.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("n_at_risk", col("__n") - col("__cb"))
    val deaths = before.filter(col("d") > 0)
      .withColumn("__term",
        when(col("d") < col("n_at_risk"),
          log(lit(1.0) - col("d").cast("double") /
            col("n_at_risk").cast("double")))
          .otherwise(lit(0.0)).cast("decimal(28,12)"))
      .withColumn("__zero",
        max((col("d") === col("n_at_risk")).cast("int"))
          .over(wAsc.rowsBetween(Long.MinValue, 0)))
      .withColumn("__cum", sum(col("__term"))
        .over(wAsc.rowsBetween(Long.MinValue, 0)))
    deaths.select(col("dur").as("duration_days"),
      col("n_at_risk"), col("d").as("n_deaths"),
      when(col("__zero") === 1, lit(0.0))
        .otherwise(round(exp(col("__cum").cast("double")), 6))
        .as("survival"))
  }

  /** Nelson–Aalen cumulative-hazard estimator over the same
    * lifetime construction as [[kaplanMeier]]: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ,
    * the non-parametric hazard integral (its exp(−H) is the
    * Fleming–Harrington survival variant — lower variance than KM on
    * heavy censoring). Also emits the Aalen variance estimate
    * Σ dᵢ·(nᵢ−dᵢ)/nᵢ³.
    *
    * Exactness: risk sets and death counts are pure integer window
    * cumsums on the distinct-duration table; each time's hazard and
    * variance terms are ONE fixed-shape division of exact integers,
    * DECIMAL(28,12)-quantized before the order-free prefix sum (the
    * q206/q267 discipline), ROUND(6) surface.
    *
    * Scale shape: identical to [[kaplanMeier]] — one user-keyed
    * aggregate, then everything on the duration-cardinality table
    * (bounded by the observation span in days, not by users).
    */
  def nelsonAalen(
      events: DataFrame, userCol: String, tsCol: String,
      censorHorizonUs: Long = 7L * 86400000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lif = events
      .select(col(userCol).as("user"),
        col(tsCol).cast("long").as("__t"))
      .groupBy(col("user"))
      .agg(min(col("__t")).as("__first"), max(col("__t")).as("__last"))
    val gmax = broadcast(lif.agg(max(col("__last")).as("__gmax")))
    val durs = lif.crossJoin(gmax).select(
      expr("(__last - __first) div 86400000000").as("dur"),
      (col("__last") < col("__gmax") - censorHorizonUs).cast("int")
        .as("__death"))
    val byDur = durs.groupBy(col("dur"))
      .agg(count(lit(1)).as("__c"), sum(col("__death")).as("d"))
    val tot = broadcast(durs.agg(count(lit(1)).as("__n")))
    val wAsc = Window.orderBy(col("dur"))
    byDur.crossJoin(tot)
      .withColumn("__cb", coalesce(sum(col("__c"))
        .over(wAsc.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("n_at_risk", col("__n") - col("__cb"))
      .filter(col("d") > 0)
      .withColumn("__h", (col("d").cast("double") /
        col("n_at_risk").cast("double")).cast("decimal(28,12)"))
      .withColumn("__v",
        ((col("d") * (col("n_at_risk") - col("d"))).cast("double") /
          (col("n_at_risk").cast("double") *
            col("n_at_risk").cast("double") *
            col("n_at_risk").cast("double"))).cast("decimal(28,12)"))
      .withColumn("__ch", sum(col("__h"))
        .over(wAsc.rowsBetween(Long.MinValue, 0)))
      .withColumn("__cv", sum(col("__v"))
        .over(wAsc.rowsBetween(Long.MinValue, 0)))
      .select(col("dur").as("duration_days"),
        col("n_at_risk"), col("d").as("n_deaths"),
        round(col("__ch").cast("double"), 6).as("cum_hazard"),
        round(col("__cv").cast("double"), 6).as("hazard_var"))
  }

  /** U-shaped (position-based) multi-touch attribution: each
    * conversion's credit splits 40% to the FIRST touch, 40% to the
    * LAST touch before conversion, and 20% evenly across the middles
    * — the standard position-based model between last-touch (q179)
    * and linear. Degenerate paths keep the mass: one touch takes 1.0,
    * two touches split 0.5/0.5.
    *
    * Exactness: per-touch credit is ONE fixed IEEE shape (the only
    * division is 0.2/(m−2) on exact integer m), quantized to
    * DECIMAL(18,12) before the order-free per-channel sum, ROUND(6).
    *
    * Scale shape: touches pre-collapse per (user, µs) — the q179
    * latest-wins total order — one user-keyed window pair (ascending
    * row number + per-user count), one channel aggregate.
    */
  def uShapedAttribution(
      touches: DataFrame, // (user, t_us, channel)
      conversions: DataFrame // (user, conv_t_us)
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstConv = conversions
      .groupBy(col("user")).agg(min(col("conv_t_us")).as("__ct"))
    val pre = touches.join(firstConv, "user")
      .filter(col("t_us") <= col("__ct"))
    val w = Window.partitionBy(col("user"))
      .orderBy(col("t_us"), col("channel"))
    val wAll = Window.partitionBy(col("user"))
    val ranked = pre
      .withColumn("__rn", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(wAll))
    val credit =
      when(col("__m") === 1, lit(1.0))
        .when(col("__m") === 2, lit(0.5))
        .when(col("__rn") === 1 || col("__rn") === col("__m"),
          lit(0.4))
        .otherwise(lit(0.2) / (col("__m") - 2).cast("double"))
    ranked
      .withColumn("__c", credit.cast("decimal(18,12)"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("__c")).cast("double"), 6).as("credit"))
  }

  /** Restricted mean survival time off the [[kaplanMeier]] curve:
    * RMST(τ) = ∫₀^τ S(t)dt — the area under the survival step
    * function up to the horizon τ (the largest observed duration),
    * i.e. "expected days retained per user within the window". The
    * number a KM plot is usually squinted at for.
    *
    * Exactness: S is piecewise constant, so the integral is the exact
    * sum Σ S(tₖ)·(tₖ₊₁ − tₖ) over death times (plus the S=1 head
    * piece); each S·Δ term is quantized to DECIMAL(28,6) before the
    * order-free sum (variable death-time set), ROUND(6). The same
    * ln-sum/exp machinery as kaplanMeier feeds S unrounded.
    *
    * Scale shape: identical to [[kaplanMeier]] — everything past the
    * user aggregate runs on the distinct-duration table.
    */
  def rmstDays(
      events: DataFrame, userCol: String, tsCol: String,
      censorHorizonUs: Long = 7L * 86400000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lif = events
      .select(col(userCol).as("user"),
        col(tsCol).cast("long").as("__t"))
      .groupBy(col("user"))
      .agg(min(col("__t")).as("__first"), max(col("__t")).as("__last"))
    val gmax = broadcast(lif.agg(max(col("__last")).as("__gmax")))
    val durs = lif.crossJoin(gmax).select(
      expr("(__last - __first) div 86400000000").as("dur"),
      (col("__last") < col("__gmax") - censorHorizonUs).cast("int")
        .as("__death"))
    val byDur = durs.groupBy(col("dur"))
      .agg(count(lit(1)).as("__c"), sum(col("__death")).as("d"))
    val tot = broadcast(durs.agg(count(lit(1)).as("__n"),
      max(col("dur")).as("__tau")))
    val wAsc = Window.orderBy(col("dur"))
    val deaths = byDur.crossJoin(tot)
      .withColumn("__cb", coalesce(sum(col("__c"))
        .over(wAsc.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("__nar", col("__n") - col("__cb"))
      .filter(col("d") > 0)
      .withColumn("__term",
        when(col("d") < col("__nar"),
          log(lit(1.0) - col("d").cast("double") /
            col("__nar").cast("double")))
          .otherwise(lit(0.0)).cast("decimal(28,12)"))
      .withColumn("__zero",
        max((col("d") === col("__nar")).cast("int"))
          .over(wAsc.rowsBetween(Long.MinValue, 0)))
      .withColumn("__cum", sum(col("__term"))
        .over(wAsc.rowsBetween(Long.MinValue, 0)))
      .withColumn("__next",
        coalesce(lead(col("dur"), 1).over(wAsc), col("__tau")))
      .withColumn("__s", when(col("__zero") === 1, lit(0.0))
        .otherwise(exp(col("__cum").cast("double"))))
    val head = deaths
      .agg(min(col("dur")).cast("double").as("__head"))
    deaths
      .select(col("__tau"),
        (col("__s") * (col("__next") - col("dur")).cast("double"))
          .cast("decimal(28,6)").as("__piece"))
      .groupBy(col("__tau"))
      .agg(count(lit(1)).as("n_death_times"),
        sum(col("__piece")).cast("double").as("__tail"))
      .crossJoin(broadcast(head))
      .select(col("__tau").cast("long").as("tau_days"),
        col("n_death_times"),
        round(col("__head") + col("__tail"), 6).as("rmst_days"))
  }

  /** Entry/exit page report over gap-based sessions: per page (event
    * type), how many sessions ENTER there, EXIT there, and BOUNCE
    * (single-event sessions) — the landing/abandonment surface next
    * to q105's session windows and q257's conversion.
    *
    * Determinism: the in-session order is (t, event_id) — a total
    * order, so first/last per session are unambiguous; sessions break
    * on gaps ≥ `gapUs` (the q105 semantics). All counts are exact
    * integers; bounce_rate is one division, ROUND(6).
    *
    * Scale shape: one user-keyed window pass (shared by the break
    * flag, session id, and both endpoints), one session aggregate,
    * one page aggregate.
    */
  def entryExitPages(
      events: DataFrame, userCol: String, tsCol: String,
      idCol: String, pageCol: String,
      gapUs: Long = 1800000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__u")).orderBy(col("__t"), col("__id"))
    val marked = events
      .select(col(userCol).as("__u"), col(tsCol).as("__t"),
        col(idCol).as("__id"), col(pageCol).as("__p"))
      .withColumn("__brk",
        when(lag(col("__t"), 1).over(w).isNull ||
          col("__t") - lag(col("__t"), 1).over(w) >= gapUs, 1)
          .otherwise(0))
      .withColumn("__sid", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sessions = marked.groupBy(col("__u"), col("__sid"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("__t"), col("__id"), col("__p")))
          .getField("__p").as("__entry"),
        max(struct(col("__t"), col("__id"), col("__p")))
          .getField("__p").as("__exit"))
    val entries = sessions.groupBy(col("__entry").as("page"))
      .agg(count(lit(1)).as("entries"),
        count(when(col("__n") === 1, lit(1))).as("bounces"))
    val exits = sessions.groupBy(col("__exit").as("page"))
      .agg(count(lit(1)).as("exits"))
    entries.join(exits, Seq("page"), "full")
      .na.fill(0L, Seq("entries", "bounces", "exits"))
      .select(col("page"), col("entries"), col("exits"),
        col("bounces"),
        when(col("entries") > 0,
          round(col("bounces").cast("double") /
            col("entries").cast("double"), 6)).as("bounce_rate"))
  }

  /** Matched-cohort ATT: every treated unit matches its NEAREST
    * control on an integer covariate within the same stratum (exact
    * match on `keyCol`, nearest on `xCol` within `tolerance`), and
    * the average treatment effect on the treated is the mean matched
    * outcome difference — matching with replacement, the
    * non-parametric causal companion to q217's CUPED and q339's DiD.
    *
    * Determinism: controls pre-collapse to ONE representative per
    * (stratum, covariate) — the smallest-id unit (min(struct)) — so
    * the [[graft.operators.AsOfJoin.asOfNearest]] merge never sees
    * tied timestamps; nearest ties (equidistant left/right) break
    * backward, the asOfNearest contract. Outcomes are exact integer
    * cents; ATT is one division, ROUND(6).
    *
    * Scale shape: the collapse and the sorted merge are stratum-keyed
    * (one shuffle each side); everything after is one aggregate.
    */
  def matchedAtt(
      treated: DataFrame, // (key, x, outcome)
      controls: DataFrame, // (key, x, outcome, id)
      tolerance: Long): DataFrame = {
    val ctrl = controls
      .groupBy(col("key"), col("x"))
      .agg(min(struct(col("id"), col("outcome"))).as("__m"))
      .select(col("key"), col("x"),
        col("__m").getField("outcome").as("__ctrl_o"))
    // asOfNearest is INNER (out-of-tolerance treated rows drop), so
    // the treated total is counted on the input side
    val nT = broadcast(treated.agg(count(lit(1)).as("n_treated")))
    val m = graft.operators.AsOfJoin.asOfNearest(
      treated, ctrl, "key", "x", "__ctrl_o", tolerance)
    m.agg(
        count(lit(1)).as("n_matched"),
        sum(col("outcome") - col("__ctrl_o")).cast("long")
          .as("__dsum"),
        sum(abs(col("x") - col("right_ts"))).cast("long")
          .as("__xdist"))
      .crossJoin(nT)
      .select(col("n_treated"), col("n_matched"),
        round(col("__dsum").cast("double") /
          col("n_matched").cast("double"), 6).as("att"),
        round(col("__xdist").cast("double") /
          col("n_matched").cast("double"), 6).as("mean_x_dist"))
  }

  /** Stationary distribution of the [[transitionMatrix]] chain by
    * fixed-count power iteration — "where does the user process
    * spend its time in the long run", the equilibrium companion to
    * the one-step transition probabilities. π₀ uniform over the
    * states WITH outgoing transitions (edges into states that never
    * transition out are dropped and rows renormalized — an absorbing
    * sink would otherwise swallow the iteration); πₜ₊₁ = πₜ·P for
    * `iters` rounds unconditionally (the pageRank fixed-round
    * discipline).
    *
    * Exactness: each iteration's incoming-mass terms πᵣ·P(r,s) are
    * DECIMAL(28,15)-quantized before the order-free per-state sum,
    * and the iterate rounds to 9 decimals — drift cannot compound,
    * and an external engine unrolling the same rounds reproduces
    * every π bit-for-bit (the pageRank per-iteration-rounding
    * lesson). Reducible chains leak mass through in-degree-0 states
    * deterministically on both engines.
    *
    * Scale shape: the state set is event-type cardinality (bounded —
    * the IVF-centroid serving contract justifies the driver-side k
    * count); each round is one k²-row join + k-row aggregate.
    */
  def markovStationary(
      transitions: DataFrame, // (from_state, to_state, n)
      iters: Int = 25): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val states = transitions.select(col("from_state").as("s"))
      .distinct()
    val kept = transitions.join(
      states.withColumnRenamed("s", "to_state"), Seq("to_state"),
      "left_semi")
    val tot = kept.groupBy(col("from_state"))
      .agg(sum(col("n")).cast("long").as("__t"))
    val pr = kept.join(tot, "from_state")
      .select(col("from_state"), col("to_state"),
        (col("n").cast("double") / col("__t").cast("double"))
          .as("prob"))
      .cache()
    // k×k chain iteration is a DRIVER kernel under an explicit size
    // guard (the IVF-centroid bounded-serving contract): 25 joins —
    // even checkpointed — cost 25 blocking jobs for k² rows of work.
    // The Scala arithmetic replicates Spark's semantics EXACTLY:
    // quantize each term to DECIMAL(28,15) HALF_UP, exact decimal
    // sum (order-free), ROUND(_, 9) HALF_UP on the double iterate —
    // pinned green against the unrolled-SQL oracle at 3 SFs.
    val rows = pr.collect()
    require(rows.length <= 64 * 64,
      s"state space too large for the driver kernel: ${rows.length}")
    val stateIds = rows.flatMap(r => Seq(r.getAs[Any]("from_state"),
      r.getAs[Any]("to_state"))).distinct.sortBy(_.toString)
    val k = stateIds.length
    require(k >= 1, "no states with outgoing transitions")
    val idx = stateIds.zipWithIndex.toMap
    val trans = rows.map(r => (idx(r.getAs[Any]("from_state")),
      idx(r.getAs[Any]("to_state")), r.getAs[Double]("prob")))
    import java.math.{BigDecimal => JBD, RoundingMode}
    var piV = Array.fill(k)(1.0 / k)
    for (_ <- 1 to iters) {
      val acc = Array.fill(k)(JBD.ZERO)
      trans.foreach { case (f, t, p) =>
        acc(t) = acc(t).add(
          JBD.valueOf(piV(f) * p).setScale(15, RoundingMode.HALF_UP))
      }
      piV = acc.map(a =>
        a.setScale(9, RoundingMode.HALF_UP).doubleValue())
    }
    val spark = transitions.sparkSession
    import spark.implicits._
    val out = stateIds.zipWithIndex
      .filter { case (_, i) => trans.exists(_._2 == i) }
      .map { case (s, i) => (s.toString, piV(i)) }.toSeq
      .toDF("state", "stationary_p")
    pr.unpersist(false)
    out
  }

  /** Adamic–Adar link prediction over item co-baskets: for each item
    * pair sharing baskets, score = Σ_baskets 1/ln(|basket|) — common
    * neighbors weighted DOWN by how promiscuous the shared basket is
    * (a 2-item order is strong evidence; a 40-item order is noise).
    * The standard link-prediction baseline next to [[coOccurrence]]'s
    * lift.
    *
    * Exactness: ln is libm (faithfully rounded), so each basket's
    * 1/ln(sz) term is quantized to DECIMAL(28,12) BEFORE the
    * order-free per-pair sum (the q267 discipline — the basket set
    * per pair is data-dependent), and the output surface is ROUND(6).
    * Ranking cut happens on the ROUNDED score with a pair-key
    * tie-break, so the top-k is deterministic cross-engine.
    * Magnitude contract: ≤ 10³ shared baskets·10¹² scale < 10¹⁵ —
    * inside the 2⁵³ exact-double window for the final cast.
    *
    * Scale shape: same basket-array construction as [[coOccurrence]]
    * (one keyed aggregate, cap² pair fan-out bound), one pair-keyed
    * aggregate, and a distributed TakeOrderedAndProject for the cut.
    */
  def adamicAdar(
      events: DataFrame, basketCol: String, itemCol: String,
      topK: Int = 20, minBasketSize: Int = 2,
      maxBasketSize: Int = 10000): DataFrame = {
    require(topK >= 1 && minBasketSize >= 2, "need topK>=1, min>=2")
    val b = basketTable(events, basketCol, itemCol, maxBasketSize)
      .filter(size(col("__items")) >= minBasketSize)
      .withColumn("__t",
        (lit(1.0) / log(size(col("__items")).cast("double")))
          .cast("decimal(28,12)"))
    b.select(col("__t"), explode(col("__items")).as("item_a"),
        col("__items"))
      .select(col("__t"), col("item_a"),
        explode(col("__items")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_common"),
        round(sum(col("__t")).cast("double"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** k-core of an undirected graph: the maximal subgraph where every
    * node keeps degree ≥ k — the standard "dense cohort" extraction
    * (spam rings, power-user communities) that a one-shot degree
    * filter gets wrong (removing a weak node can demote its
    * neighbors; the peel must iterate to fixpoint).
    *
    * Runs `rounds` peeling iterations UNCONDITIONALLY — converged
    * rounds are no-ops — so the engine replays the oracle's fixed
    * iteration chain exactly (the pageRank fixed-round discipline);
    * callers pick `rounds` ≥ the observed convergence depth (peeling
    * converges in ≤ a few rounds on real degree distributions; each
    * extra round costs one semi-join pass over surviving edges).
    * Output: surviving (node, degree) — degree measured INSIDE the
    * core, exact integers.
    *
    * Scale shape: edges symmetrized once; each round is two
    * node-keyed semi-joins + one map-side-combined degree aggregate
    * on the SHRINKING edge set, localCheckpoint-pinned per round (the
    * connected-components lineage discipline — O(rounds) plan depth,
    * not O(2^rounds)).
    */
  def kCore(
      edges: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k>=1, rounds>=1")
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    var live = sym.localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val alive = live.groupBy(col("a"))
        .agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("a").as("__n"))
      live = live
        .join(alive.withColumnRenamed("__n", "a"), Seq("a"),
          "left_semi")
        .join(alive.withColumnRenamed("__n", "b"), Seq("b"),
          "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
    }
    live.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
  }
}
