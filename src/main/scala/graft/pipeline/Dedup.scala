package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for 100 TB-scale corpora: exact, n-gram Jaccard
  * (inverted index), MinHash+LSH, SimHash. Everything shuffles on
  * content-derived keys (shingle, band bucket, hash band) — never on doc
  * pairs — so no stage is quadratic in the corpus size.
  */
object Dedup {

  /** STREAMING exact dedup: keep the first document per content
    * fingerprint as the corpus arrives (the ingest-time dedup a training
    * pipeline runs before anything lands in storage). Scope columns
    * (e.g. the source) extend the key — dedup-within-source stays
    * deterministic under any arrival order, where global first-wins
    * depends on it. With an event-time column + delay the state store
    * is BOUNDED (`dropDuplicatesWithinWatermark` evicts fingerprints
    * older than the watermark — the 100 TB always-on shape); without,
    * exact global dedup holds one 8-byte fingerprint per distinct
    * document in state.
    */
  def dedupStream(
      docs: DataFrame, textCol: String, scopeCols: Seq[String] = Nil,
      eventTime: Option[(String, String)] = None): DataFrame = {
    val withFp = docs.withColumn("__fp",
      TextAnalysis.fingerprint(col(textCol)))
    val keys = scopeCols :+ "__fp"
    (eventTime match {
      case Some((tsCol, delay)) =>
        withFp.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      case None => withFp.dropDuplicates(keys.head, keys.tail: _*)
    }).drop("__fp")
  }

  /** Canonical-document assignment: every doc maps to the lowest id in
    * its exact-duplicate group (identical normalized text), with an
    * `is_canonical` flag — the keep/drop decision a training pipeline
    * applies after exact dedup. One shuffle on the 64-bit fingerprint;
    * the window min never materializes a per-group sort (running min).
    */
  def assignCanonical(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextAnalysis.fingerprint(col(textCol)))
    docs.select(col(idCol),
      min(col(idCol)).over(w).as("canonical_id"))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation with POINTER JUMPING — the dedup endgame:
    * transitively-connected near-duplicates form one cluster, and a
    * pipeline keeps one doc per cluster. Each round first takes the
    * min label over neighbors, then path-halves (`label(label(id))`,
    * a self-join on the label frame), so a chain of length L converges
    * in O(log L) rounds instead of L — the Kiveris-et-al.-style
    * acceleration without restructuring the edge set. Nodes with no
    * edges keep their own id as the cluster id.
    *
    * Each round is ONE job: the propagation join carries a `__changed`
    * flag, the new labels are marked as a LAZY local checkpoint, and the
    * convergence count both materializes the checkpoint blocks (lineage
    * truncation — standard iterative-graph hygiene) and returns the
    * number of labels that moved, so there is no separate
    * label-comparison job. The previous round's checkpoint blocks are
    * released as soon as the new round is materialized; the returned
    * frame reads only the FINAL label checkpoint (edge-incident nodes,
    * typically a small fraction of the corpus) — release it with
    * [[PipelineCache.free]] once the assignment has been consumed.
    */
  def connectedComponents(
      nodes: DataFrame, // (id)
      edges: DataFrame): DataFrame = // (id_a, id_b)
    connectedComponentsWithRounds(nodes, edges)._1

  /** [[connectedComponents]] exposing the round count, so tests can pin
    * the pointer-jumping acceleration (a 2^k-chain must converge in
    * O(k) rounds, not 2^k).
    */
  private[graft] def connectedComponentsWithRounds(
      nodes: DataFrame,
      edges: DataFrame): (DataFrame, Int) = {
    val symRaw = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    // only edge-incident nodes can ever change labels — loop over
    // them alone and append the untouched singletons once at the end
    val labels0 = symRaw.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id"))
      .localCheckpoint(true)
    // SELF-LOOP augmentation: one (id, id) edge per loop node folds the
    // node's own previous label into the neighbor-min aggregate, which
    // then yields BOTH the new candidate label (min over self∪neighbors)
    // and the old label (conditional min over the self row) in ONE
    // join+aggregate — the separate old-vs-new comparison join a naive
    // round needs simply doesn't exist. Pre-partitioned by the
    // propagation join key before caching: when labels outgrow
    // broadcast (the 100 TB regime) the per-round sort-merge join reads
    // the cached dst-partitioning instead of re-shuffling the edge
    // table every round; at broadcast scale the labels side ships and
    // the cached edge blocks never move either way.
    val sym = symRaw
      .union(labels0.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("dst"))
      .cache()
    try ccLoop(nodes, labels0, sym)
    finally {
      sym.unpersist(false) // loop done; result never reads sym
      PipelineCache.free(labels0)
    }
  }

  /** Connected components over a PREPARED symmetric, self-loop-augmented
    * edge table — e.g. [[DedupArtifacts.symEdgeTable]]'s dst-bucketed
    * persisted layout, where every round's propagation join reads the
    * bucket partitioning with ZERO Exchange on the edge side (and the
    * construction cost was paid ONCE per corpus, not once per consumer).
    * `sym` must contain every edge in both directions plus one (id, id)
    * self-loop per edge-incident node — the invariants the private loop
    * relies on for the old-label extraction.
    */
  def connectedComponentsPreBucketed(
      nodes: DataFrame, sym: DataFrame): (DataFrame, Int) = {
    val labels0 = sym.filter(col("src") === col("dst"))
      .select(col("src").as("id"), col("src").as("cluster_id"))
      .localCheckpoint(true)
    try ccLoop(nodes, labels0, sym)
    finally PipelineCache.free(labels0)
  }

  /** The shared min-label + pointer-jumping loop (see
    * [[connectedComponentsWithRounds]] for the round structure).
    */
  private def ccLoop(
      nodes: DataFrame, labels0: DataFrame,
      sym: DataFrame): (DataFrame, Int) = {
    var rounds = 0
    val assigned = {
        var labels = labels0
        var changed = 1L
        while (changed > 0) {
          rounds += 1
          // neighbor-min step (labels only ever decrease, toward the
          // component minimum); __old rides out of the same aggregate
          // via the guaranteed-unique self row
          val prop = sym
            .join(labels.select(col("id").as("dst"), col("cluster_id")),
              "dst")
            .groupBy(col("src").as("id"))
            .agg(min(col("cluster_id")).as("__m"),
              min(when(col("dst") === col("src"), col("cluster_id")))
                .as("__old"))
          // pointer-jumping step: label_old(label_new(id)). Jumping
          // through the PREVIOUS round's materialized checkpoint keeps
          // one propagation per round while the distance to the
          // component minimum still shrinks geometrically on
          // chain-shaped components. Every label value is itself an
          // edge-incident node id, so the join always resolves; jumped
          // labels are never larger (labels decrease monotonically and
          // label(x) <= x), so coalesce suffices.
          val jump = labels
            .select(col("id").as("__jid"), col("cluster_id").as("__jl"))
          val next = prop
            .join(jump, col("__m") === col("__jid"), "left")
            .select(col("id"),
              coalesce(col("__jl"), col("__m")).as("cluster_id"),
              (coalesce(col("__jl"), col("__m")) < col("__old"))
                .as("__changed"))
            .localCheckpoint(eager = false)
          // the round's single action: materializes `next`'s checkpoint
          // as a side effect and returns the moved-label count
          changed = next.filter(col("__changed")).count()
          if (labels ne labels0) PipelineCache.free(labels)
          labels = next.select("id", "cluster_id")
        }
        nodes.select(col("id"))
          .join(labels, Seq("id"), "left")
          .select(col("id"), coalesce(col("cluster_id"), col("id"))
            .as("cluster_id"))
      }
    (assigned, rounds)
  }

  /** Near-duplicate clusters: exact n-gram Jaccard pairs at `tau` as the
    * edge set, connected components as the cluster assignment. Returns
    * (id, cluster_id) for EVERY doc (singletons cluster with themselves).
    * The pair stage's checkpoint is released here (the label loop has
    * consumed it by the time the loop converges); the returned frame
    * keeps only the final label checkpoint — see [[connectedComponents]].
    */
  def nearDupClusters(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    val edges = ngramJaccardPairs(docs, idCol, textCol, n, tau)
      .select("id_a", "id_b")
    try connectedComponents(docs.select(col(idCol).as("id")), edges)
    finally PipelineCache.free(edges)
  }

  /** [[nearDupClusters]] over the SHARED persisted pair graph
    * ([[DedupArtifacts.symEdgeTable]]): same assignment, but the pair
    * construction is paid once per (corpus, n, tau) across all dedup
    * consumers, and the CC loop reads the dst-bucketed layout with zero
    * Exchange on the edge side. Use when several queries cluster the
    * same corpus — the clustering/keep-best/survivorship family.
    */
  def nearDupClustersShared(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, corpusKey: String): DataFrame = {
    val sym = DedupArtifacts.symEdgeTable(
      docs, idCol, textCol, n, tau, corpusKey)
    connectedComponentsPreBucketed(
      docs.select(col(idCol).as("id")), sym)._1
  }

  /** Quality-aware canonical selection: given cluster assignments
    * (`id`, `cluster_id` — e.g. [[nearDupClusters]]' output) and a
    * per-document score, keep the HIGHEST-scoring member of each
    * cluster (ties to the lowest id) — the dedup endgame a training
    * pipeline actually wants: not "keep the first duplicate seen" but
    * "keep the best". The per-cluster argmax is a single
    * `max(struct(score, -id))` aggregate — one shuffle on cluster_id,
    * no window, no per-group sort. Output: (cluster_id, best_id,
    * best_score, n_members).
    */
  def keepBestPerCluster(
      clusters: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame =
    clusters
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("__score")),
        "id")
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("__score"), (-col("id")).as("__negid"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"),
        (-col("__best.__negid")).as("best_id"),
        col("__best.__score").as("best_score"),
        col("n_members"))

  /** Train/eval contamination (decontamination scan): for each eval doc,
    * the fraction of its distinct n-gram shingles that appear ANYWHERE
    * in the training corpus — containment ≥ threshold flags an eval
    * example as leaked into training. The train side collapses to its
    * DISTINCT shingle-hash set before the join (df-independent: a
    * shingle in a million training docs is one row), so the semi-join
    * shuffles eval shingles against train's vocabulary, never doc pairs.
    * Returns (id, n_sh, n_contained, containment) per eval doc with at
    * least one shingle.
    */
  def contamination(
      trainDocs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val trainSh = hashedShingleTable(trainDocs, idCol, textCol, n)
      .select(col("h")).distinct()
    val evalSh = hashedShingleTable(evalDocs, idCol, textCol, n)
    evalSh
      .join(trainSh.withColumn("__hit", lit(1)), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_sh"),
        count(col("__hit")).as("n_contained"))
      .withColumn("containment",
        col("n_contained").cast("double") / col("n_sh"))
  }

  /** Cross-corpus contamination PAIR report: for every eval document,
    * WHICH train documents contain at least `tau` of its distinct
    * n-gram shingles (asymmetric containment, the GPT-3-style
    * decontamination measure — resemblance would let a long train doc
    * dilute the overlap away). [[contamination]] answers "how much of
    * this eval doc is anywhere in training"; this op names the
    * offending train docs — the evidence table a decontamination run
    * attaches to its removals.
    *
    * Scale shape: identical to the Jaccard family — both sides key on
    * the 8-byte shingle hash, the join shuffles on content, pair rows
    * exist only where shingles are actually shared, and the eval-size
    * join is eval-bounded. No stage is |train|×|eval|.
    */
  def crossContaminationPairs(
      trainDocs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int, tau: Double): DataFrame = {
    val trainSh = hashedShingleTable(trainDocs, idCol, textCol, n)
      .select(col("id").as("train_id"), col("h"))
    val evalSh = hashedShingleTable(evalDocs, idCol, textCol, n).cache()
    val evalSizes = evalSh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val result = evalSh.join(trainSh, "h")
      .groupBy(col("id"), col("train_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(evalSizes, "id")
      .withColumn("containment",
        col("n_common").cast("double") / col("n_sh"))
      .filter(col("containment") >= lit(tau))
      .select(col("id").as("eval_id"), col("train_id"),
        col("n_common"), col("containment"))
    PipelineCache.materialize(evalSh)(result)
  }

  /** K-minimum-values sketch aggregator: the k smallest DISTINCT hash
    * values seen, kept as a sorted array. State is O(k) regardless of
    * input size and map-side combinable (merge = sorted-merge + take
    * k), so a 100 TB corpus reduces to one k-long array per group
    * before the shuffle. The sketch is a deterministic FUNCTION OF THE
    * SET — any insertion order, any partitioning, any merge tree
    * yields the same array — which is what makes the overlap estimate
    * below exactly replayable by an external engine.
    */
  private final class KmvAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], h: Long): Array[Long] = {
      val pos = java.util.Arrays.binarySearch(b, h)
      if (pos >= 0) b // already present
      else {
        val ins = -pos - 1
        if (b.length < k) {
          val out = new Array[Long](b.length + 1)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, b.length - ins)
          out
        } else if (ins < k) { // displaces the current maximum
          val out = new Array[Long](k)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, k - ins - 1)
          out
        } else b
      }
    }
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      // sorted merge, skip duplicates, stop at k
      val out = new Array[Long](math.min(b1.length + b2.length, k))
      var i = 0; var j = 0; var o = 0
      while (o < out.length && (i < b1.length || j < b2.length)) {
        val take =
          if (j >= b2.length || (i < b1.length && b1(i) <= b2(j))) {
            val v = b1(i); i += 1
            if (j < b2.length && b2(j) == v) j += 1
            v
          } else { val v = b2(j); j += 1; v }
        out(o) = take; o += 1
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Corpus-overlap matrix via KMV sketches: the estimated n-gram
    * Jaccard similarity between every pair of document GROUPS (sources,
    * snapshots, languages) — the corpus-level cousin of the per-pair
    * dedup ops, used to pick which source pairs deserve a full
    * cross-dedup pass at all. Standard KMV estimator (Beyer et al.,
    * SIGMOD'07): per group keep the k smallest distinct shingle
    * hashes; for a pair, the k smallest of the signature UNION is a
    * uniform sample of A∪B, and the fraction of that sample present in
    * BOTH signatures estimates |A∩B|/|A∪B|.
    *
    * Scale shape: one shingle scan, one bounded-state aggregate (O(k)
    * per group, map-side combined), then pure ARRAY math on the
    * G-row signature table — the pair stage touches k-long arrays,
    * never corpus rows, so it is G²·k work on broadcast-sized data.
    * The estimate is integer counts + one IEEE division: exactly
    * replayable (the hash is the portable md5-60 — the sketch must
    * compute identically off-JVM, so xxhash64 is out).
    */
  def corpusOverlapKmv(
      docs: DataFrame, groupCol: String, textCol: String,
      n: Int = 3, k: Int = 128): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val h60 = conv(substring(md5(col("sh").cast("binary")), 1, 15), 16, 10)
      .cast("long").as("h")
    val kmv = udaf(new KmvAgg(k))
    val sig = shingleTable(docs, groupCol, textCol, n)
      .select(col("id"), h60)
      .groupBy(col("id"))
      .agg(kmv(col("h")).as("sig"))
    val a = sig.select(col("id").as("group_a"), col("sig").as("__sa"))
    val b = sig.select(col("id").as("group_b"), col("sig").as("__sb"))
    val u = array_sort(array_union(col("__sa"), col("__sb")))
    a.crossJoin(b).filter(col("group_a") < col("group_b"))
      .withColumn("__cut", slice(u, lit(1), least(lit(k), size(u))))
      .withColumn("n_common",
        size(array_intersect(array_intersect(col("__cut"), col("__sa")),
          col("__sb"))).cast("long"))
      .withColumn("jaccard_est",
        col("n_common").cast("double") /
          least(lit(k), size(u)).cast("double"))
      .select(col("group_a"), col("group_b"), col("n_common"),
        col("jaccard_est"))
  }

  /** Distinct n-gram shingle table: (id, shingle) — the inverted-index
    * input shared by the Jaccard paths. Shingling runs as the codegen'd
    * `text_shingles` Expression (identical output to the
    * tokenize+shingle-UDF chain, pinned in PipelineSpec) — the dedup
    * family's hottest scan stage stays inside whole-stage codegen
    * instead of paying the UDF's encoder round-trip per document.
    */
  private def shingleTable(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(call_function("text_shingles", col(textCol), lit(n))).as("sh"))

  /** Hash-keyed inverted index: (id, h = xxhash64(shingle)). Every
    * downstream shuffle and join keys on the 8-byte hash instead of the
    * shingle string — a multi-× reduction in shuffle bytes and probe cost
    * for the self-join paths. Exactness: per-doc shingle sets map to hash
    * sets injectively unless two distinct corpus shingles collide on
    * xxhash64; P ≤ S²/2⁶⁵ for S distinct shingles (~3·10⁻⁹ at S=10⁷; at
    * 10¹² shingles the expected handful of collisions perturbs a Jaccard
    * by ≤1 count — far below the LSH stage's own miss probability).
    * PipelineSpec pins zero collisions on the gate corpora, so gate
    * results are bit-identical to the string-keyed index.
    */
  private def hashedShingleTable(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleTable(docs, idCol, textCol, n)
      .select(col("id"), xxhash64(col("sh")).as("h"))

  /** Exact n-gram Jaccard near-dup pairs via inverted-index self-join:
    * shuffle on shingle hash, count common shingles per pair, join per-doc
    * shingle counts, filter `jaccard >= tau`. Pair generation is bounded
    * by shingle-bucket sizes (df-style posting lists), not |docs|².
    *
    * Two spill bounds on the pair-count aggregate (the one stage the r15
    * sf10 probe saw exceed execution memory):
    *  - SIZE FILTER AT GENERATION: posting rows carry the per-doc
    *    distinct-shingle count (int), and the self-join prunes any pair
    *    with `min(n_a,n_b)/max(n_a,n_b) < tau` BEFORE it reaches the
    *    aggregate. Exactness: common ≤ min and union ≥ max give
    *    J ≤ min/max as reals, and double rounding is monotone, so
    *    `fl(min/max) ≥ fl(common/union)` — the predicate can never drop
    *    a pair the final `jaccard >= tau` filter would keep (the same
    *    bound the prefix variant documents at [[ngramJaccardPairsPrefix]]).
    *  - PACKED PAIR KEY: when the id-range census over the (cached)
    *    shingle table proves every id fits unsigned 32 bits, the
    *    aggregate groups on ONE packed 64-bit key `(id_a << 32) | id_b`
    *    instead of two longs — narrower shuffle rows and narrower
    *    sort-fallback keys. Ids are restored losslessly afterward in the
    *    original column type. Corpora with wider ids (e.g. 64-bit hash
    *    ids at crawl scale) keep the two-key shape.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    // the shingle table feeds three subplans (both self-join sides and the
    // size table) — cached while the pair set materializes, then released
    // `text_shingles` emits the per-doc DISTINCT shingle set, so the
    // doc's shingle count is `size(...)` AT THE SCAN — the size filter
    // needs no join, just 4 bytes riding each posting row.
    val g = docs
      .select(col(idCol).as("id"),
        call_function("text_shingles", col(textCol), lit(n)).as("shs"))
      .select(col("id"), size(col("shs")).cast("int").as("ns"),
        explode(col("shs")).as("sh"))
      .select(col("id"), col("ns"), xxhash64(col("sh")).as("h"))
      .cache()
    val sizes = g.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val idType = docs.schema(idCol).dataType
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.ShortType
    // One census pass over the cached shingle table (the cache is about
    // to be materialized by the pair job anyway) routes BOTH bounds:
    //  - size filter: if even the global extremes satisfy
    //    min_ns/max_ns >= tau, NO pair can be pruned — skip the
    //    predicate and its 4-byte rider on every join row (exact, not a
    //    heuristic: per-pair min/max is bounded by the global extremes).
    //  - packed key: ids proven inside unsigned 32 bits.
    val census =
      g.agg(min(col("ns")), max(col("ns")),
        min(col("id").cast("long")), max(col("id").cast("long"))).first()
    val empty = census.isNullAt(0)
    val sizeFilterPrunes = !empty &&
      census.getInt(0).toDouble / census.getInt(1) < tau
    val packable = integralIds && !empty &&
      census.getLong(2) >= 0L && census.getLong(3) < (1L << 32)
    val side: String => DataFrame = alias =>
      (if (sizeFilterPrunes) g else g.drop("ns")).as(alias)
    // Join strategy for the posting-list self-join, gated on the
    // MATERIALIZED cache size (the census .first() above has already
    // filled the cache, so InMemoryRelation stats are exact — the same
    // test the planner's own broadcast selection runs):
    //  - under the auto-broadcast threshold, leave the planner alone:
    //    it broadcasts g and never shuffles it (the r16 unconditional
    //    SHUFFLE_HASH forced a 2×g shuffle + one extra job at sf0.1 —
    //    10.4 MB of pointless exchange, ~0.3 s — for data that fits a
    //    broadcast);
    //  - past the threshold, force SHUFFLE_HASH: hashing one side skips
    //    the two UnsafeExternalSorter passes SMJ would spill (100×
    //    probe, deterministic: mem spill 24.6 → 21.5 GB, disk 4.0 →
    //    3.6 GB, peak task memory 199 → 152 MB; wall within noise).
    //    Build-side partitions stay bounded because this operator's
    //    contract already excludes df-skewed posting lists (census'd
    //    max-df stays O(10); hot-boilerplate corpora route to
    //    [[ngramJaccardPairsPrefix]]), and AQE's skew split covers
    //    residual imbalance.
    val canBroadcast = g.queryExecution.optimizedPlan.stats.sizeInBytes <=
      docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val hinted =
      if (canBroadcast) side("a") else side("a").hint("shuffle_hash")
    val joined = hinted.join(side("b"),
      col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
        (if (sizeFilterPrunes)
          least(col("a.ns"), col("b.ns")).cast("double") /
            greatest(col("a.ns"), col("b.ns")) >= lit(tau)
        else lit(true)))
    val common =
      if (packable)
        joined
          .groupBy((shiftleft(col("a.id").cast("long"), 32)
            .bitwiseOR(col("b.id").cast("long"))).as("pk"))
          .agg(count(lit(1)).as("common"))
          .select(shiftrightunsigned(col("pk"), 32).cast(idType).as("id_a"),
            col("pk").bitwiseAND(lit(0xffffffffL)).cast(idType).as("id_b"),
            col("common"))
      else
        joined
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("common"))
    PipelineCache.materialize(g)(common
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard"))
  }

  /** The shingle is hashed ONCE to a long upstream; derive the k family
    * members as codegen'd `xxhash64(h, i)` — a `transform` HOF lambda
    * would be interpreted per element, and re-reading the string k times
    * is k× the bytes. (A linear h1+i*h2 scheme would be cheaper still
    * but loses LSH recall.) The element-wise minimum runs as k native
    * `min` aggregates in ONE whole-stage-codegen'd HashAggregate — k
    * primitive long buffer slots per group, no per-row array encoding (a
    * typed Aggregator over Array[Long] spent the stage de/serializing
    * its buffer through an ExpressionEncoder: measured ~2× slower on the
    * signature stage); the array is assembled once per GROUP afterward.
    * Map-side partial aggregation still applies — the shuffle carries
    * one k-slot buffer per (doc, partition).
    * Output: (id, sig, n_sh) — the per-doc distinct-shingle count rides
    * along in the same aggregation pass, so Jaccard denominators never
    * need a second scan of the shingle table.
    */
  private def signaturesFromShingles(hashed: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(col("h"), lit(i))).as(s"__m$i"))
    hashed.groupBy(col("id"))
      .agg(mins.head, (mins.tail :+ count(lit(1)).as("n_sh")): _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"),
        col("n_sh"))
  }

  /** MinHash+LSH candidate pairs: band the signature (`bands` bands of
    * `numHashes/bands` rows), bucket-join on (band, band-hash), then verify
    * candidates with the exact Jaccard from [[ngramJaccardPairs]]'s
    * inverted-index machinery. Output matches the exact operator whenever
    * LSH recall holds (P[miss] = (1-j^r)^bands).
    */
  def minHashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // The shingle table is NOT cached (r17): its consumers (signature
    // aggregate, verification join) each fold it into their own
    // exchange, so the cache only pinned a posting-scale table in
    // executor storage — the 100× probe runs at identical wall and
    // 289 MB LESS shuffle write without it, and sf0.1 is unchanged.
    // sigs (one row per doc) stays cached: banding and the Jaccard
    // denominators both read it, and dropping it measured slower
    // locally ("none" variant, OPTIMIZATION_r17.md).
    val g = hashedShingleTable(docs, idCol, textCol, n)
    val sigs = signaturesFromShingles(g, numHashes).cache()
    // band hashes sliced straight out of the signature array; xxhash64
    // hashes the long-array slice directly (codegen'd, no string concat)
    val bandHashes = sigs.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(slice(col("sig"), b * r + 1, r))): _*))
        .as(Seq("band", "band_hash")))
    // the candidate subtree is read three times in verification (id set +
    // both pair-join inputs) — without a cache the generation plan re-runs
    val candidates = bandHashes.as("a").join(bandHashes.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .cache()
    PipelineCache.materialize(sigs, candidates)(
      verifiedJaccard(g, sigs.select(col("id"), col("n_sh")), candidates, tau))
  }

  /** Exact-Jaccard verification of candidate pairs: restrict the shingle
    * table to docs that appear in a candidate pair (AQE broadcasts the
    * tiny id set) so the pair-count join shuffles candidate shingles, not
    * the corpus; count common shingles, join per-doc sizes, threshold.
    * Callers cache `candidates` (it is read three times here) and release
    * it alongside their other temps.
    */
  private def verifiedJaccard(
      g: DataFrame, // (id, h)
      sizes: DataFrame, // (id, n_sh)
      candidates: DataFrame, // (id_a, id_b)
      tau: Double): DataFrame = {
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val gc = g.join(candIds, Seq("id"), "left_semi")
    val common = gc.as("ga").join(candidates, col("ga.id") === col("id_a"))
      .join(gc.as("gb"),
        col("gb.id") === col("id_b") && col("ga.h") === col("gb.h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard via PREFIX FILTERING (AllPairs/ppjoin): shingles
    * take a global rarest-first order (df asc, hash asc); a doc's prefix
    * is its first `n_sh − ceil(tau·n_sh) + 1` shingles in that order, and
    * any pair with J ≥ tau must share a prefix shingle on BOTH sides
    * (pigeonhole on the minimum common shingle in the global order: a
    * valid pair needs overlap ≥ ceil(tau·|x|), and x's suffix holds only
    * ceil(tau·|x|) − 1 shingles — so the smallest common shingle lies in
    * both prefixes). Candidates therefore come from ~(1−tau) of each
    * posting list, rarest shingles first — hot boilerplate shingles (the
    * df² blowup) mostly fall OUTSIDE prefixes — plus the size filter
    * tau·|x| ≤ |y| ≤ |x|/tau. Exact verification recomputes true Jaccard
    * over candidates only: same output as [[ngramJaccardPairs]]
    * (PipelineSpec pins equality). Trade-off: several extra stages
    * (df counts, rank window, size joins) buy a candidate set bounded by
    * PREFIX posting lists — pure overhead on small corpora where full
    * posting lists already fit a join, decisive when hot shingles make
    * df² pair generation the bottleneck. Pick by posting-list profile.
    */
  def ngramJaccardPairsPrefix(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = hashedShingleTable(docs, idCol, textCol, n).cache()
    val df = g.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val sizes = g.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val pos = Window.partitionBy(col("id")).orderBy(col("df"), col("h"))
    // FP guard: n·tau can land one ULP ABOVE the exact product (e.g.
    // 25·0.28 = 7.000000000000001), which would over-shorten the prefix
    // and over-tighten the size filter — both silently DROP qualifying
    // pairs. Nudge the threshold down by a relative epsilon: a slightly
    // longer prefix / looser filter only admits extra candidates, which
    // exact verification then discards.
    val eps = 1e-9
    val prefix = g.join(df, "h")
      .withColumn("pos", row_number().over(pos))
      .join(sizes, "id")
      .filter(col("pos") <=
        col("n_sh") - ceil(col("n_sh") * tau - eps) + lit(1))
      .select(col("id"), col("h"), col("n_sh"))
      .cache() // both sides of the candidate self-join read it
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("b.n_sh") >= col("a.n_sh") * tau - eps &&
          col("a.n_sh") >= col("b.n_sh") * tau - eps)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .cache() // read three times in verification
    PipelineCache.materialize(g, prefix, candidates)(
      verifiedJaccard(g, sizes, candidates, tau))
  }

  /** SimHash bit-counter aggregator: folds per-token 64-bit hashes into 64
    * signed counters (+1/-1 per bit), sign-folded to the final hash. One
    * 64-int buffer per (doc, partition) with map-side partial aggregation —
    * replaces a collect_list of per-token arrays and interpreted HOF math
    * (which made simhash the slowest text operator).
    */
  private object SimHashAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(b: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) b(i) += 1 else b(i) -= 1
        i += 1
      }
      b
    }
    def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { b1(i) += b2(i); i += 1 }
      b1
    }
    def finish(b: Array[Int]): Long = {
      var out = 0L
      var i = 0
      while (i < 64) {
        if (b(i) > 0) out |= (1L << i)
        i += 1
      }
      out
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** 64-bit token hash assembled from the first 16 hex chars of md5 —
    * engine-portable (md5 of the UTF-8 bytes computes identically in any
    * SQL engine, so an external oracle can replay the simhash bit-for-
    * bit). Default token hash stays xxhash64 (cheaper; one hash pass vs
    * md5's full digest).
    */
  val md5TokenHash: Column => Column = { c =>
    val hx = md5(c.cast("binary"))
    shiftleft(conv(substring(hx, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(hx, 9, 8), 16, 10).cast("long"))
  }

  /** 64-bit SimHash over whitespace tokens (per-token hash, ±1 per bit,
    * sign fold). Token hashing stays codegen'd Column math; the bit-counter
    * fold is a typed Aggregator. `tokenHash` defaults to xxhash64; pass
    * [[md5TokenHash]] when the signature must be reproducible outside the
    * JVM.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val tokens = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.whitespaceTokens(col(textCol))).as("tok"))
    val agg = udaf(SimHashAgg)
    tokens.select(col("id"), tokenHash(col("tok")).as("h"))
      .groupBy(col("id"))
      .agg(agg(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates via 4×16-bit band equality (any
    * pair within Hamming distance 3 shares at least one exact band), then
    * exact popcount verification.
    */
  def simHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val sh = simHash(docs, idCol, textCol, tokenHash)
    val banded = sh.select(col("id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("simhash"), b * 16).bitwiseAND(0xffffL)))
        .as(Seq("band", "band_val")))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("h_a"), col("b.simhash").as("h_b"))
      .distinct()
    candidates
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Edit-distance-verified near-dup pairs: n-gram Jaccard proposes
    * candidates (inverted-index join, never quadratic), Levenshtein
    * CONFIRMS them — the verification step that separates true
    * template edits (a few character changes) from documents that
    * merely share vocabulary (high shingle overlap, large edit
    * distance). The two-stage shape is the scale story: the O(len²)
    * dynamic program runs only on the candidate-bounded pair set, and
    * Spark's threshold form `levenshtein(a, b, max)` early-exits the
    * banded DP at `max`, so a wildly different candidate pair costs
    * O(max·len), not O(len²).
    *
    * Distance semantics: Spark's Levenshtein counts CODE POINTS. When
    * replaying externally, byte-counting engines (e.g. DuckDB) agree
    * only on ASCII text — restrict the comparison surface accordingly
    * or re-verify in one engine.
    */
  def editVerifiedPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.3, maxEdit: Int = 6): DataFrame = {
    require(maxEdit >= 0, "maxEdit must be non-negative")
    val cand = ngramJaccardPairs(docs, idCol, textCol, n, tau)
    val texts = docs.select(col(idCol), col(textCol))
    cand
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("__ta")),
        "id_a")
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("__tb")),
        "id_b")
      .withColumn("edit_distance",
        levenshtein(col("__ta"), col("__tb"), maxEdit))
      .filter(col("edit_distance") >= 0) // -1 = early-exited above max
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("edit_distance"))
  }

  /** Prefix-blocked typo-pair mining over the corpus vocabulary — the
    * entity-resolution blocking pattern at token granularity: find
    * vocabulary pairs within edit distance `maxDist` (OCR damage,
    * misspellings, tokenizer-splitting candidates) without the |V|²
    * comparison. Blocking key = the first `prefixLen` characters, so
    * only same-block pairs are compared; pairs that differ inside the
    * prefix are out of scope BY DEFINITION (the standard
    * recall-for-scale blocking trade — the operator's contract is
    * "same-prefix pairs", which the oracle replays exactly).
    *
    * The vocabulary is restricted to printable-ASCII tokens of ≥
    * `minLen` chars occurring ≥ `minCount` times: ASCII because engine
    * `levenshtein`s disagree off-ASCII (bytes vs code points — the
    * q136 lesson), length because short-token "typos" are mostly
    * distinct words, count because hapaxes are noise.
    *
    * Scale shape: one token-count aggregate (map-side combined) shrinks
    * the stream to vocabulary size; the self-join shuffles on the
    * block key (per-block fan-out bounded by the prefix granularity);
    * the verify stage is Spark's 3-arg `levenshtein(a, b, max)` —
    * banded DP, O(max·len), −1 above the bound.
    */
  def typoPairs(
      docs: DataFrame, textCol: String,
      minCount: Long = 2L, minLen: Int = 4, maxDist: Int = 1,
      prefixLen: Int = 2): DataFrame = {
    require(maxDist >= 1 && minLen > maxDist, "need minLen > maxDist >= 1")
    require(prefixLen >= 1, "need a non-empty blocking prefix")
    val vocab = docs
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("t"))
      .filter(col("t").rlike("\\A[ -~]*\\z") && length(col("t")) >= minLen)
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .withColumn("__blk", substring(col("t"), 1, prefixLen))
    vocab.as("a").join(vocab.as("b"),
        col("a.__blk") === col("b.__blk") &&
          col("a.t") < col("b.t") &&
          abs(length(col("a.t")) - length(col("b.t"))) <= maxDist)
      .withColumn("dist", levenshtein(col("a.t"), col("b.t"), maxDist))
      .filter(col("dist") >= 0) // -1 = early-exited above max
      .select(col("a.t").as("token_a"), col("b.t").as("token_b"),
        col("a.cnt").as("cnt_a"), col("b.cnt").as("cnt_b"), col("dist"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embedding space with k-means, then drop every vector that has a
    * LOWER-id neighbor in its own cluster with cosine ≥ `tau` — near-
    * duplicate *meaning*, not near-duplicate *bytes*, which n-gram /
    * MinHash families cannot see (a paraphrase shares no shingles).
    * Keeping the lowest id per semantic neighborhood makes the pass
    * deterministic and gives the defining guarantee directly: NO TWO
    * SURVIVORS in the same cluster are within `tau` of each other (if
    * kept a < kept b were, b would have been dropped by a).
    *
    * The clustering is what makes this survive corpus scale: the
    * pairwise cosine stage is confined to within-cluster pairs, so its
    * cost is Σ|c|² instead of N² — `k` is the knob that trades recall
    * across cluster boundaries for quadratic blow-up, exactly the
    * paper's design. Assignment reuses [[Similarity.kmeansAssign]]
    * (deterministic lowest-id init + Lloyd refinement; one
    * (cluster, position) shuffle per iteration), the pair stage
    * shuffles on the cluster id, and the verdict is a broadcast-size
    * anti-join when duplicates are rare. Returns (vec_id, cluster) for
    * every SURVIVING vector.
    *
    * Cross-engine replay rests on TWO margins, not one: (1) the cosine
    * cut at `tau` (no within-cluster pair may sit within float noise of
    * the threshold), and (2) the ASSIGNMENT margin — centroid means are
    * data-ordered float SUMs in every engine, so reduction-order ulp
    * drift could flip a nearest-centroid argmin if a vector sat
    * equidistant from two centroids, silently moving it (and its dup
    * verdicts) to another cluster. `Verify --probe-margins` probes BOTH:
    * the nearest-pair distance to `tau` and the minimum argmin
    * separation (gap between nearest and second-nearest centroid
    * distance over all vectors), and fails loudly when either falls
    * below the floor.
    */
  def semDedup(
      vectors: DataFrame, // (vec_id, vec: array<double>)
      tau: Double,
      k: Int = 8,
      iters: Int = 2): DataFrame = {
    val assign = Similarity.kmeansAssign(vectors, k, iters)
    val e = vectors.join(assign, "vec_id")
    val dropped = e.as("a").join(e.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id") &&
          Similarity.cosine(col("a.vec"), col("b.vec")) >= lit(tau))
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    e.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** Golden-record survivorship (the MDM merge step after entity
    * resolution): per cluster, elect one value per attribute — the
    * MODE with a deterministic smallest-value tie-break for
    * categorical columns, the MAX for numeric "most complete wins"
    * columns — plus the representative id (min) and member count.
    * This is what turns q57/q86-style duplicate clusters into a
    * publishable deduplicated table.
    *
    * Shape: one (cluster, value) count + per-cluster rank window per
    * mode column (both partitioned by the cluster key — the windows
    * reuse the aggregate's partitioning), one base aggregate, then
    * |modeCols| cluster-keyed joins of cluster-sized tables. All
    * counts integer; no float anywhere.
    */
  def goldenRecord(
      members: DataFrame, // (clusterCol, idCol, attrs…)
      clusterCol: String,
      idCol: String,
      modeCols: Seq[String],
      maxCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(modeCols.nonEmpty || maxCols.nonEmpty, "elect something")
    val baseAggs = count(lit(1)).as("n_members") +:
      maxCols.map(c => max(col(c)).as(s"${c}_max"))
    val base = members.groupBy(col(clusterCol).as("__c"))
      .agg(min(col(idCol)).as("rep_id"), baseAggs: _*)
    val modes = modeCols.map { c =>
      val w = Window.partitionBy(col("__c"))
        .orderBy(col("__n").desc, col(c).asc)
      members.groupBy(col(clusterCol).as("__c"), col(c))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("__c"), col(c).as(s"${c}_mode"))
    }
    modes.foldLeft(base)((acc, m) => acc.join(m, Seq("__c")))
      .withColumnRenamed("__c", clusterCol)
      .orderBy(clusterCol)
  }

  /** Per-document duplicated-span coverage — the row-level signal
    * behind suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * what fraction of each document's tokens sits inside a k-token
    * span that also occurs elsewhere in the corpus (any doc,
    * including repeats within this one). Where q24/q58 score PAIRS,
    * this scores DOCUMENTS — the quality-filter input ("drop or trim
    * docs that are mostly recycled text").
    *
    * Shape: k-token shingles with POSITIONS (scan-stage explode),
    * 60-bit md5 shingle keys, one global count shuffle, a semi join
    * back to positions of shingles seen ≥ minCount times, then the
    * covered-token total as an interval-union — the gaps-and-islands
    * running max over each doc's dup positions (overlapping spans
    * merge into islands; adjacent islands sum to the same total, so
    * only overlap needs merging). Everything integer until the final
    * coverage division. Per-doc window state is bounded by the doc's
    * own dup-span count, and the shingle shuffle is the q58
    * contamination shape — corpus-scale safe.
    */
  def dupSpanCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minCount: Int = 2): DataFrame = {
    require(k >= 2 && minCount >= 2, "need k >= 2, minCount >= 2")
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        split(trim(lower(col(textCol))), "\\s+").as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .filter(col("n_tokens") >= k)
    val shingles = toks
      .select(col("doc_id"), col("n_tokens"),
        posexplode(transform(
          sequence(lit(0), (col("n_tokens") - k).cast("int")),
          p => conv(substring(md5(
            concat_ws(" ", slice(col("__toks"), p + 1, lit(k)))), 1, 15),
            16, 10).cast("long"))))
      .select(col("doc_id"), col("n_tokens"), col("pos").as("p"),
        col("col").as("h"))
    val dup = shingles.groupBy(col("h"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select("h")
    val hits = shingles.join(dup, Seq("h"), "left_semi")
    val prev = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("__maxEnd", max(col("p") + (k - 1)).over(prev))
      .withColumn("__brk",
        when(col("__maxEnd").isNull || col("p") > col("__maxEnd"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(run))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        (max(col("p")) - min(col("p")) + k).as("__len"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(col("__len")).cast("long").as("covered_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("covered_tokens"),
        (col("covered_tokens").cast("double") /
          col("n_tokens").cast("double")).as("coverage"))
      .orderBy("doc_id")
  }

  /** Lincoln–Petersen capture–recapture estimate of the TRUE corpus
    * size from two overlapping crawls: N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    * (the Chapman bias-corrected form, defined even at m = 0), where
    * the "recapture" is an identical normalized-text fingerprint in
    * both captures — "how much corpus exists that NEITHER crawl saw",
    * the coverage companion to Chao1's per-source vocabulary
    * estimate.
    *
    * Exactness: n₁/n₂/m are exact distinct-fingerprint counts off one
    * two-flag aggregate; the estimate is one fixed IEEE shape,
    * ROUND(6).
    */
  def lincolnPetersen(
      captureA: DataFrame, captureB: DataFrame,
      textCol: String): DataFrame = {
    val fa = captureA
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .distinct().withColumn("__inA", lit(1))
    val fb = captureB
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .distinct().withColumn("__inB", lit(1))
    val j = fa.join(fb, Seq("__fp"), "full")
    val agg = j.agg(
      count(when(col("__inA").isNotNull, lit(1))).as("n_a"),
      count(when(col("__inB").isNotNull, lit(1))).as("n_b"),
      count(when(col("__inA").isNotNull && col("__inB").isNotNull,
        lit(1))).as("m"))
    agg.select(col("n_a"), col("n_b"), col("m"),
      round(((col("n_a") + 1L).cast("double") *
        (col("n_b") + 1L).cast("double") /
        (col("m") + 1L).cast("double")) - lit(1.0), 6)
        .as("n_estimate"))
  }
}
