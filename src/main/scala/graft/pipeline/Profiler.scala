package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling for pipeline health checks: per-column statistics
  * computed in ONE pass over the data (a single aggregate collects
  * every column's stats simultaneously — never one job per column),
  * then unpivoted to a stable (column, stats...) row surface for
  * drift comparison between corpus snapshots.
  */
object Profiler {

  /** Numeric profile: row count, non-null count, min, max, mean and
    * sample standard deviation per column. One map-side-combined
    * aggregate regardless of column count; the unpivot is a zero-cost
    * projection of the single result row.
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__${c}__n"),
        min(col(c)).cast("double").as(s"__${c}__min"),
        max(col(c)).cast("double").as(s"__${c}__max"),
        avg(col(c)).as(s"__${c}__mean"),
        stddev_samp(col(c)).as(s"__${c}__std"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // stack() takes a FLAT argument list (values group by arity)
    val stacked = cols.map { c =>
      s"'$c', `__${c}__n`, `__rows` - `__${c}__n`, `__${c}__min`, " +
        s"`__${c}__max`, `__${c}__mean`, `__${c}__std`"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${cols.length}, $stacked) AS " +
        "(column, n, n_nulls, min, max, mean, stddev)")
  }

  /** Quantile profile: the requested percentiles per numeric column,
    * one aggregate pass for ALL columns (one percentile buffer per
    * column — twelve scalar percentile aggregates measured 6x slower
    * for identical output), unpivoted to (column, p25, p50, ...).
    *
    * `exact = false` (the default, and the PRODUCTION path) uses
    * `approx_percentile`: a Greenwald-Khanna summary whose state is
    * bounded by `accuracy`, not by row count, so the ungrouped
    * aggregate survives a 100 TB corpus — exact `percentile` buffers
    * every value of every profiled column into the final reduce and
    * OOMs there. `exact = true` is the fixture-scale oracle surface
    * (DuckDB `quantile_cont` hash-matches Spark's exact percentile;
    * no engine can replay a t-digest byte-for-byte); an ε-bound
    * property in PipelineSpec ties the two paths together.
    */
  def quantileProfile(
      df: DataFrame, cols: Seq[String],
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      "probabilities must be in [0, 1]")
    require(accuracy >= 1, "accuracy must be positive")
    val parr = array(probs.map(lit): _*)
    val aggs = cols.map { c =>
      val v = col(c).cast("double")
      (if (exact) percentile(v, parr)
       else percentile_approx(v, parr, lit(accuracy))).as(s"__$c")
    }
    val names = probs.map(p =>
      "p" + BigDecimal(p * 100).bigDecimal.stripTrailingZeros
        .toPlainString.replace(".", "_").replace("-", "m"))
    val stacked = cols.map { c =>
      (s"'$c'" +: probs.indices.map(i => s"`__$c`[$i]")).mkString(", ")
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.length}, $stacked) AS " +
        s"(column, ${names.mkString(", ")})")
  }

  /** Grouped quantile profile — [[quantileProfile]]'s per-group form:
    * one percentile-array aggregate per group plus the group count.
    * Same production/oracle split: `exact = false` (default) runs
    * `approx_percentile` whose state is accuracy-bounded PER GROUP
    * (survives 100 TB groups); `exact = true` is the fixture-scale
    * oracle surface (DuckDB `quantile_cont` hash-matches it under
    * ROUND(6), the q115 precedent). One keyed shuffle total.
    */
  def quantileProfileGrouped(
      df: DataFrame, groupCol: String, valueCol: String,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      "probabilities must be in [0, 1]")
    require(accuracy >= 1, "accuracy must be positive")
    val v = col(valueCol).cast("double")
    val parr = array(probs.map(lit): _*)
    val agg =
      (if (exact) percentile(v, parr)
       else percentile_approx(v, parr, lit(accuracy))).as("__q")
    val names = probs.map(p =>
      "p" + BigDecimal(p * 100).bigDecimal.stripTrailingZeros
        .toPlainString.replace(".", "_").replace("-", "m"))
    df.groupBy(col(groupCol))
      .agg(agg, count(lit(1)).as("n"))
      .select(col(groupCol) +: col("n") +:
        probs.indices.map(i =>
          round(element_at(col("__q"), i + 1), 6).as(names(i))): _*)
  }

  /** Winsorized / trimmed robust statistics: clip (winsorize) or drop
    * (trim) the tails beyond the [pLo, pHi] percentiles and report the
    * surviving mass — the standard feature-cleaning step before a
    * scale-sensitive model sees heavy-tailed data.
    *
    * Same production/oracle split as [[quantileProfile]]: `exact=true`
    * (the oracle surface) computes interpolated percentile edges that
    * DuckDB's `quantile_cont` hash-matches; the default uses
    * `approx_percentile` (bounded state). Sums are DECIMAL(18,2)
    * (order-free); means are single divisions, ROUND(6) — the clip
    * values themselves are percentile outputs, replayed identically on
    * both engines before any comparison.
    *
    * Scale shape: one percentile aggregate (1-row broadcast of the two
    * edges) + one conditional-sum pass — two scans, no shuffle other
    * than the two 1-row aggregates.
    */
  def winsorizedStats(
      df: DataFrame, valueCol: String, pLo: Double = 0.05,
      pHi: Double = 0.95, exact: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val v = col(valueCol).cast("double")
    val edges = broadcast(df.agg(
      (if (exact) percentile(v, array(lit(pLo), lit(pHi)))
       else percentile_approx(v, array(lit(pLo), lit(pHi)), lit(accuracy)))
        .as("__e")))
    def dsum2(c: Column) = sum(c.cast("decimal(18,2)")).cast("double")
    df.select(v.as("__v")).crossJoin(edges)
      .select(col("__v"), element_at(col("__e"), 1).as("__lo"),
        element_at(col("__e"), 2).as("__hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v") < col("__lo"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("__v") > col("__hi"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        round(dsum2(greatest(col("__lo"), least(col("__hi"), col("__v"))))
          / count(lit(1)), 6).as("winsorized_mean"),
        round(dsum2(when(col("__v").between(col("__lo"), col("__hi")),
            col("__v"))) /
          sum(when(col("__v").between(col("__lo"), col("__hi")), 1L)
            .otherwise(0L)), 6).as("trimmed_mean"))
  }

  /** Robust per-group outlier detection via the median/MAD rule: a row
    * is an outlier when |x − median| > c · MAD (MAD = median absolute
    * deviation) — the robust cousin of the z-score cut, immune to the
    * outliers' own pull on the center (a spike inflates a mean AND its
    * stddev; the medians don't move). The default c=3 is the classic
    * "very conservative" Leys et al. choice.
    *
    * `exact = false` (the PRODUCTION path) computes both medians with
    * `approx_percentile` — accuracy-bounded state that survives 100 TB
    * groups; `exact = true` is the fixture-scale oracle surface (the
    * [[quantileProfile]] split exactly).
    *
    * The cut itself is FIXED-POINT: both sides are scaled by
    * `scaleDigits` decimal digits and rounded before the compare, so a
    * value sitting exactly ON the boundary (common with 2-decimal
    * money values, whose medians are .xx5 midpoints — the sf0.1 corpus
    * has a literal |dev| = 3·MAD tie) resolves identically on every
    * engine instead of hinging on reduction-order ulps. Ties are NOT
    * outliers (strict >).
    *
    * Scale shape: two grouped aggregates and two key-partitioned joins
    * — after the first aggregate's shuffle everything is co-partitioned
    * on the key; with `exact=false` no state is O(group size).
    */
  def madOutliers(
      df: DataFrame, keyCol: String, valCol: String,
      c: Double = 3.0, exact: Boolean = false,
      accuracy: Int = 10000, scaleDigits: Int = 4): DataFrame = {
    require(c > 0, "c must be positive")
    require(scaleDigits >= 0 && scaleDigits <= 9, "scaleDigits in [0,9]")
    val scale = math.pow(10.0, scaleDigits)
    def med(v: Column): Column =
      if (exact) percentile(v, lit(0.5))
      else percentile_approx(v, lit(0.5), lit(accuracy))
    val k = col(keyCol).as("__k")
    val v = col(valCol).cast("double").as("__v")
    val meds = df.select(k, v).groupBy(col("__k"))
      .agg(med(col("__v")).as("__med"))
    val dev = df.select(k, v).join(meds, "__k")
      .withColumn("__ad", abs(col("__v") - col("__med")))
    val mads = dev.groupBy(col("__k")).agg(med(col("__ad")).as("__mad"))
    dev.join(mads, "__k")
      .filter(round(col("__ad") * lit(scale)) >
        round(lit(c) * col("__mad") * lit(scale)))
      .select(col("__k").as(keyCol), col("__v").as(valCol),
        round(col("__med"), 6).as("med"),
        round(col("__mad"), 6).as("mad"))
  }

  /** Declarative data-quality constraints (the Deequ/expectations
    * pattern): evaluate a suite of table-level checks in as few passes
    * as the suite allows and return one row per constraint —
    * (name, metric, threshold, passed) — the gate report a pipeline
    * asserts on before publishing a snapshot.
    *
    * Constraint kinds and their metrics:
    *  - `notNull(col, maxFrac)`      — null fraction ≤ maxFrac
    *  - `inRange(col, lo, hi, maxFrac)` — out-of-[lo,hi] fraction
    *  - `matches(col, regex, maxFrac)`  — non-matching fraction
    *  - `unique(col)`               — duplicated-row fraction (rows in
    *    value groups of size > 1, over all rows)
    *  - `minRows(n)`                — row count ≥ n
    *
    * Scale shape: every row-local constraint (notNull/inRange/matches/
    * minRows) folds into ONE ungrouped conditional-sum aggregate —
    * one corpus scan for the whole suite; each `unique` needs its own
    * value-keyed count (map-side combined), joined back as a 1-row
    * broadcast. Fractions are single IEEE divisions of exact integer
    * counts; `passed` compares fraction ≤ threshold where both sides
    * are exact-operand derived — replayable on any engine.
    */
  object Check {
    sealed trait Constraint { def name: String }
    final case class NotNull(col: String, maxFrac: Double)
      extends Constraint { def name = s"not_null($col)" }
    final case class InRange(col: String, lo: Double, hi: Double,
        maxFrac: Double)
      extends Constraint { def name = s"in_range($col)" }
    final case class Matches(col: String, regex: String, maxFrac: Double)
      extends Constraint { def name = s"matches($col)" }
    final case class Unique(col: String)
      extends Constraint { def name = s"unique($col)" }
    final case class MinRows(n: Long)
      extends Constraint { def name = "min_rows" }
  }

  def checkConstraints(
      df: DataFrame, constraints: Seq[Check.Constraint]): DataFrame = {
    import Check._
    require(constraints.nonEmpty, "check at least one constraint")
    val rowLocal = constraints.filter(!_.isInstanceOf[Unique])
    val uniques = constraints.collect { case u: Unique => u }
    val aggs = count(lit(1)).cast("double").as("__rows") +:
      rowLocal.zipWithIndex.map {
        case (NotNull(c, _), i) =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).cast("double")
            .as(s"__m$i")
        case (InRange(c, lo, hi, _), i) =>
          sum(when(col(c).isNull
              .or(col(c) < lit(lo)).or(col(c) > lit(hi)), 1L)
            .otherwise(0L)).cast("double").as(s"__m$i")
        case (Matches(c, re, _), i) =>
          sum(when(col(c).isNull.or(!col(c).rlike(re)), 1L)
            .otherwise(0L)).cast("double").as(s"__m$i")
        case (MinRows(_), i) => first(lit(0.0)).as(s"__m$i")
        case (u: Unique, _) =>
          throw new IllegalStateException(s"unfiltered $u")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    def d(x: Double): String = s"CAST($x AS DOUBLE)"
    val rowCells = rowLocal.zipWithIndex.map {
      case (MinRows(n), _) =>
        s"'min_rows', __rows, ${d(n.toDouble)}, __rows >= ${d(n.toDouble)}"
      case (c, i) =>
        val thr = c match {
          case NotNull(_, f) => f
          case InRange(_, _, _, f) => f
          case Matches(_, _, f) => f
          case other => throw new IllegalStateException(other.name)
        }
        s"'${c.name}', `__m$i` / __rows, ${d(thr)}, " +
          s"`__m$i` / __rows <= ${d(thr)}"
    }.mkString(", ")
    val rowReport = one.selectExpr(
      s"stack(${rowLocal.size}, $rowCells) AS " +
        "(check_name, metric, threshold, passed)")
    uniques.foldLeft(rowReport) { (acc, u) =>
      val dup = df.groupBy(col(u.col)).agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n")).cast("double").as("__rows"),
          sum(when(col("__n") > 1L, col("__n")).otherwise(0L))
            .cast("double").as("__d"))
        .selectExpr("'" + u.name + "' AS check_name",
          "__d / __rows AS metric",
          "CAST(0.0 AS DOUBLE) AS threshold",
          "__d = CAST(0.0 AS DOUBLE) AS passed")
      acc.unionAll(dup)
    }
  }

  /** Two-sample Kolmogorov–Smirnov statistic between two samples of a
    * numeric column: D = max over values of |F_a(v) − F_b(v)| plus the
    * location where the gap peaks — the distribution-drift test that,
    * unlike [[drift]]'s moment comparison and the PSI bucket score,
    * sees SHAPE changes at full resolution (a variance swap with equal
    * means, a bimodal split).
    *
    * This EXACT form ranks every distinct value through one global
    * cumulative window — the textbook formulation, and the oracle
    * surface: counts are integers, each CDF value is one IEEE division
    * and the max compares identical doubles, so it replays exactly.
    * A global-ordered window is also its scale ceiling (one partition
    * holds the distinct-value stream); at 100 TB call [[ksTestBinned]]
    * — same statistic over fixed bucket edges (the PSI discipline:
    * replayable, k-bounded state) at resolution 1/k.
    */
  def ksTest(a: DataFrame, b: DataFrame, valCol: String): DataFrame = {
    val av = a.select(col(valCol).cast("double").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("__ca"))
    val bv = b.select(col(valCol).cast("double").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("__cb"))
    val m = av.join(bv, Seq("v"), "full")
      .select(col("v"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val t = broadcast(m.agg(
      sum(col("__ca")).cast("double").as("__na"),
      sum(col("__cb")).cast("double").as("__nb")))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
    m.withColumn("__cua", sum(col("__ca")).over(w).cast("double"))
      .withColumn("__cub", sum(col("__cb")).over(w).cast("double"))
      .crossJoin(t)
      .withColumn("__d",
        abs(col("__cua") / col("__na") - col("__cub") / col("__nb")))
      .orderBy(col("__d").desc, col("v").asc)
      .limit(1)
      .select(col("__na").cast("long").as("n_a"),
        col("__nb").cast("long").as("n_b"),
        col("v").as("at_value"), col("__d").as("d_stat"))
  }

  /** Per-group two-sample KS drift — [[ksTest]] partitioned by a key
    * column (one D statistic per source / segment / shard in ONE job,
    * instead of a driver loop launching a test per group). Same exact
    * construction as the ungrouped form: integer cumulative counts per
    * key, one IEEE division per CDF point, argmax tie-broken on the
    * value — every double replays identically off-Spark.
    *
    * Scale shape: all joins/aggregates/windows key on (group, value) or
    * group — co-partitioned after the first shuffle; the window
    * partition holds a group's DISTINCT values (the exact form's
    * inherent state — the fixed-state alternative is [[ksTestBinned]]
    * per group). Groups missing from one side report that side's n as
    * 0 with its CDF pinned to 1 everywhere (an exhausted empty
    * distribution), falling out of the same arithmetic rather than a
    * special case.
    */
  def ksTestGrouped(
      a: DataFrame, b: DataFrame, keyCol: String, valCol: String)
      : DataFrame = {
    val av = a.select(col(keyCol).as("k"),
        col(valCol).cast("double").as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("__ca"))
    val bv = b.select(col(keyCol).as("k"),
        col(valCol).cast("double").as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("__cb"))
    val m = av.join(bv, Seq("k", "v"), "full")
      .select(col("k"), col("v"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val t = m.groupBy(col("k")).agg(
      sum(col("__ca")).cast("double").as("__na"),
      sum(col("__cb")).cast("double").as("__nb"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("v"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("__d").desc, col("v").asc)
    m.withColumn("__cua", sum(col("__ca")).over(wc).cast("double"))
      .withColumn("__cub", sum(col("__cb")).over(wc).cast("double"))
      .join(t, "k")
      // a one-sided group divides by zero: try_divide NULLs it and
      // coalesce(…, 1) pins that side's CDF to 1 (its distribution is
      // exhausted from the start), giving the conventional D = 1
      .withColumn("__d", abs(
        coalesce(try_divide(col("__cua"), col("__na")), lit(1.0)) -
          coalesce(try_divide(col("__cub"), col("__nb")), lit(1.0))))
      .withColumn("__rn", row_number().over(wd))
      .filter(col("__rn") === 1)
      .select(col("k").as(keyCol),
        col("__na").cast("long").as("n_a"),
        col("__nb").cast("long").as("n_b"),
        col("v").as("at_value"), col("__d").as("d_stat"))
  }

  /** Equal-frequency binning (the QuantileDiscretizer / feature-binning
    * staple): assign each row to one of `k` rank-based buckets and
    * report per-bin count + value range. `exact = true` (the
    * fixture/oracle surface) uses `ntile(k)` over the deterministic
    * (value, id) order — pure rank arithmetic, NO float interpolation
    * anywhere, so both engines agree bit-exactly even when quantile
    * edges would land between data points; its total sort is the price
    * of exactness. The default production path derives bucket edges
    * from `approx_percentile` (bounded state, one aggregate + one
    * broadcast — the [[quantileProfile]] discipline) and assigns by
    * edge comparison; bins then deviate from perfect 1/k shares only
    * by the sketch's rank-ε.
    */
  def equalFrequencyBins(
      df: DataFrame,
      valCol: String,
      idCol: String,
      k: Int,
      exact: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    require(k >= 2, "need at least two bins")
    val v = col(valCol).cast("double").as("__v")
    val binned =
      if (exact) {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("__v"), col("__id"))
        df.select(v, col(idCol).as("__id"))
          .withColumn("bin", ntile(k).over(w).cast("long"))
      } else {
        val probs = (1 until k).map(_.toDouble / k)
        val edges = df.select(v).agg(
          percentile_approx(col("__v"),
            array(probs.map(lit): _*), lit(accuracy)).as("__edges"))
        df.select(v)
          .crossJoin(broadcast(edges))
          .withColumn("bin",
            (lit(1L) + aggregate(col("__edges"), lit(0L),
              (acc, e) => acc + when(col("__v") > e, 1L).otherwise(0L))))
      }
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("__v")).as("lo"), max(col("__v")).as("hi"))
      .select(col("bin"), col("n_rows"), col("lo"), col("hi"))
  }

  /** [[ksTest]] over `k` fixed-width buckets on [lo, hi] — the
    * 100 TB form: two k-bucket map-side-combined aggregates (the PSI
    * shape), a k-row cumulative window, D at bucket-boundary
    * resolution (within 1/k of the exact statistic for any
    * distribution). Bucket edges are FIXED parameters, never
    * data-derived quantiles, so reruns and external replays see the
    * same buckets.
    */
  def ksTestBinned(
      a: DataFrame, b: DataFrame, valCol: String,
      lo: Double, hi: Double, k: Int): DataFrame = {
    require(k >= 2 && hi > lo, "need k >= 2 buckets and hi > lo")
    val width = (hi - lo) / k
    val bucket = least(greatest(floor(
      (col(valCol).cast("double") - lit(lo)) / lit(width)), lit(0.0)),
      lit((k - 1).toDouble)).cast("long")
    val av = a.groupBy(bucket.as("b")).agg(count(lit(1)).as("__ca"))
    val bv = b.groupBy(bucket.as("b")).agg(count(lit(1)).as("__cb"))
    val m = av.join(bv, Seq("b"), "full")
      .select(col("b"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val t = broadcast(m.agg(
      sum(col("__ca")).cast("double").as("__na"),
      sum(col("__cb")).cast("double").as("__nb")))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
    m.withColumn("__cua", sum(col("__ca")).over(w).cast("double"))
      .withColumn("__cub", sum(col("__cb")).over(w).cast("double"))
      .crossJoin(t)
      .withColumn("__d",
        abs(col("__cua") / col("__na") - col("__cub") / col("__nb")))
      .orderBy(col("__d").desc, col("b").asc)
      .limit(1)
      .select(col("__na").cast("long").as("n_a"),
        col("__nb").cast("long").as("n_b"),
        col("b").as("at_bucket"), col("__d").as("d_stat"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns — the
    * feature-redundancy check a pipeline runs before training — in ONE
    * aggregate pass: n, Σx, Σx², and every pairwise Σxy collect in a
    * single partial/final aggregate (k columns → k(k+1)/2 + k + 1
    * scalar sums; never one job per pair), then the k(k−1)/2 upper-
    * triangle cells unpivot through `stack`.
    *
    * `exactDecimal = true` accumulates every sum in DECIMAL instead of
    * DOUBLE: for fixed-point source data (money, quantities) the sums
    * are then EXACT — independent of reduction order, so an external
    * engine replays them bit-for-bit and the final correlation (IEEE
    * arithmetic on exact sums, same expression shape both sides) is
    * deterministic. That is the oracle surface. The default DOUBLE
    * path is the production one — decimal aggregation costs ~2-4× in
    * the partials and the ulp-level sum drift never matters for a
    * redundancy screen.
    *
    * corr = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − Σx²)·(n·Σy² − Σy²)),
    * ROUND(6); a zero-variance column yields NULL on both engines
    * (Spark `try_divide` ≡ DuckDB's DOUBLE `/`, which NULLs a zero
    * divisor instead of returning IEEE inf/nan).
    */
  def correlationMatrix(
      df: DataFrame, cols: Seq[String],
      exactDecimal: Boolean = false): DataFrame = {
    require(cols.size >= 2, "correlate at least two columns")
    def v(c: String): Column =
      if (exactDecimal) col(c).cast("decimal(18,4)")
      else col(c).cast("double")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = (count(lit(1)).cast("double").as("__n") +:
      cols.flatMap(c => Seq(
        sum(v(c)).cast("double").as(s"__s__$c"),
        sum(v(c) * v(c)).cast("double").as(s"__ss__$c")))) ++
      pairs.map { case (a, b) =>
        sum(v(a) * v(b)).cast("double").as(s"__sp__${a}__$b")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val cells = pairs.map { case (a, b) =>
      s"'$a', '$b', round(try_divide(" +
        s"__n * `__sp__${a}__$b` - `__s__$a` * `__s__$b`," +
        s" sqrt((__n * `__ss__$a` - `__s__$a` * `__s__$a`)" +
        s" * (__n * `__ss__$b` - `__s__$b` * `__s__$b`))), 6)"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${pairs.size}, $cells) AS (col_a, col_b, corr)")
  }

  /** Categorical profile: distinct-value count and the top-k most
    * frequent values per string column. All columns MELT into one
    * (column, value) frame first — so the whole profile is ONE shuffle
    * keyed by (column, value) plus a rank window over the (tiny)
    * per-column value counts, instead of one job per column. Ties
    * break on the value string, so the top-k set is deterministic.
    * Output: (column, n_distinct, rank, value, n).
    */
  def categoricalProfile(
      df: DataFrame, cols: Seq[String], k: Int = 3,
      approxDistinct: Boolean = false, rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    require(k >= 1, "k must be at least 1")
    val melted = df.select(posexplode(array(cols.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*))
      .as(Seq("__i", "__cv")))
      .select(col("__cv.column").as("column"), col("__cv.value").as("value"))
    val counts = melted.groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("column"))
      .orderBy(col("n").desc, col("value"))
    val ranked = counts.withColumn("rank", row_number().over(w))
    if (!approxDistinct)
      // exact distinct count: a window count over the per-column value
      // counts — the ORACLE surface, but the count window gathers every
      // distinct value of a column into one partition, so it is the
      // fixture-scale path only
      ranked
        .withColumn("n_distinct",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("column"))))
        .filter(col("rank") <= k)
        .select(col("column"), col("n_distinct"), col("rank"),
          col("value"), col("n"))
    else {
      // PRODUCTION path for high-cardinality columns: HLL sketch with
      // rsd-bounded state instead of the exact window count. It runs
      // over `counts` (already one row per distinct pair, map-side
      // combinable), and the column-count-sized result broadcasts back
      // onto the top-k rows.
      val nd = counts.groupBy(col("column"))
        .agg(approx_count_distinct(col("value"), rsd).as("n_distinct"))
      ranked.filter(col("rank") <= k)
        .join(broadcast(nd), "column")
        .select(col("column"), col("n_distinct"), col("rank"),
          col("value"), col("n"))
    }
  }

  /** Population Stability Index between two snapshots of one numeric
    * column — the standard "did the distribution move" gate between
    * pipeline runs, complementing [[drift]]'s mean-shift with a full
    * shape comparison: fixed-width buckets over [lo, hi) (FIXED edges,
    * not quantile-derived, so the metric is deterministic and
    * replayable), Laplace-smoothed shares p_b = (n_b + 0.5)/(N + k/2)
    * (no bucket divides by zero), per-bucket contribution
    * (p_b − q_b)·ln(p_b/q_b) ≥ 0. PSI = the sum; rule of thumb:
    * < 0.1 stable, > 0.25 shifted.
    *
    * Scale shape: each snapshot pays one scan + one k-bucket
    * aggregate (map-side combined); the k-row results broadcast onto
    * a k-row spine. Nothing is O(rows) after the scans.
    */
  def psi(
      baseline: DataFrame, current: DataFrame, c: String,
      lo: Double, hi: Double, k: Int): DataFrame = {
    require(k >= 2, "need at least two buckets")
    require(hi > lo, "empty value range")
    val w = (hi - lo) / k
    def counts(df: DataFrame, name: String): DataFrame = df
      .select(least(lit(k - 1), greatest(lit(0),
        floor((col(c) - lo) / w).cast("int"))).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(name))
    val spine = baseline.sparkSession.range(k)
      .select(col("id").cast("int").as("bucket"))
    val joined = spine
      .join(broadcast(counts(baseline, "n_base")), Seq("bucket"), "left")
      .join(broadcast(counts(current, "n_cur")), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = joined.agg(
      sum(col("n_base")).as("__tb"), sum(col("n_cur")).as("__tc"))
    joined.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        ((col("n_base") + 0.5) / (col("__tb") + 0.5 * k)).as("p"),
        ((col("n_cur") + 0.5) / (col("__tc") + 0.5 * k)).as("q"))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        ((col("p") - col("q")) * log(col("p") / col("q"))).as("psi_part"))
  }

  /** Drift report between two profile snapshots (the corpus-health
    * check between pipeline runs): per column, both means, the mean
    * shift normalized by the BASELINE stddev (a z-score-flavored
    * magnitude that is scale-free per column), and the row-count
    * ratio. Joins two [[numericProfile]] outputs on the column name —
    * profiles are column-count-sized, so the join is trivially
    * broadcast; the heavy lifting stays in the two one-pass profiles.
    */
  /** Shuffle-skew diagnosis for a prospective join/aggregation key: the
    * top-k hottest key values with their counts, corpus share, and the
    * hot/mean ratio (n·distinct/total — how many times the MEAN ROWS
    * PER DISTINCT KEY the hottest key alone carries; with one shuffle
    * partition per key this would also be partition work, but in
    * general partitions hold many keys). This is the measurement that
    * decides whether a key needs [[graft.operators.SaltedJoin]] — AQE
    * can split oversized PARTITIONS but never a single hot KEY, so a
    * ratio far above 1 at the top is the signature of a join that will
    * straggle no matter the partition count.
    *
    * Scale shape: one map-side-combined count aggregate on the key,
    * then `TakeOrderedAndProject` for the top-k and a 1-row broadcast
    * of (total, distinct) — nothing is O(keys) past the aggregate.
    * share = n/total and hot_ratio = n·distinct/total are single IEEE
    * divisions on identical operands (replayable off-Spark); ties
    * break on the key value itself.
    */
  def skewProfile(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    val totals = broadcast(counts.agg(
      sum(col("n")).as("__total"),
      count(lit(1)).as("__distinct")))
    counts.crossJoin(totals)
      .orderBy(col("n").desc, col("key"))
      .limit(k)
      .select(col("key"), col("n"),
        round(col("n").cast("double") / col("__total").cast("double"), 6)
          .as("share"),
        round(col("n").cast("double") * col("__distinct").cast("double") /
          col("__total").cast("double"), 6).as("hot_ratio"))
  }

  def drift(baseline: DataFrame, current: DataFrame): DataFrame = {
    val b = baseline.select(col("column"),
      col("n").as("n_base"), col("mean").as("mean_base"),
      col("stddev").as("stddev_base"))
    val c = current.select(col("column"),
      col("n").as("n_cur"), col("mean").as("mean_cur"))
    b.join(c, "column")
      .select(col("column"), col("n_base"), col("n_cur"),
        col("mean_base"), col("mean_cur"),
        (abs(col("mean_cur") - col("mean_base")) / col("stddev_base"))
          .as("mean_shift"),
        (col("n_cur").cast("double") / col("n_base")).as("count_ratio"))
  }

  /** Keyed snapshot diff — the regression report between two versions
    * of a keyed table (yesterday's dimension vs today's, a backfill vs
    * the original): per key, whether it was `added`, `removed`, or
    * `changed`, with the old and new payloads side by side. Unchanged
    * keys are omitted (at 100 TB the diff is the interesting minority;
    * emitting the unchanged majority would make the report
    * O(snapshot)).
    *
    * Scale shape: one full-outer join on the key — both sides arrive
    * key-partitioned (or are shuffled once), the comparison is a
    * codegen'd null-safe struct equality, and the output is
    * diff-sized. Payload comparison uses `<=>` per column, so NULL
    * payloads diff correctly.
    */
  def tableDiff(
      before: DataFrame,
      after: DataFrame,
      keyCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "at least one payload column")
    val b = before.select(col(keyCol).as("__k") +:
      payloadCols.map(c => col(c).as(s"__b_$c")): _*)
    val a = after.select(col(keyCol).as("__k") +:
      payloadCols.map(c => col(c).as(s"__a_$c")): _*)
    val same = payloadCols.map(c => col(s"__b_$c") <=> col(s"__a_$c"))
      .reduce(_ && _)
    b.withColumn("__inb", lit(true))
      .join(a.withColumn("__ina", lit(true)), Seq("__k"), "full")
      .withColumn("status",
        when(col("__inb").isNull, lit("added"))
          .when(col("__ina").isNull, lit("removed"))
          .when(!same, lit("changed")))
      .filter(col("status").isNotNull)
      .select(Seq(col("__k").as(keyCol), col("status")) ++
        payloadCols.map(c => col(s"__b_$c").as(s"old_$c")) ++
        payloadCols.map(c => col(s"__a_$c").as(s"new_$c")): _*)
  }

  /** Chi-square independence contributions: for each value of `rowCol`,
    * its χ² contribution against a SMALL LITERAL set of `colCol` values
    * (Σ_d (o_d − e_d)²/e_d with e_d = row_total·col_total_d/grand) —
    * the categorical-association test behind "is event mix independent
    * of weekday / segment / shard".
    *
    * The column domain must be the literal `colValues`: each per-column
    * count is a CONDITIONAL SUM (one column per literal value — the
    * q132 pivot discipline), so the χ² row total is an EXPLICIT
    * left-associated sum of k terms, never a data-ordered float SUM.
    * Column totals + grand total ride one 1-row broadcast. ROUND(6) on
    * the output (q108 discipline). One count shuffle on `rowCol`;
    * everything downstream is O(rows·k) scalar math.
    */
  def chiSquareContrib(
      df: DataFrame, rowCol: String, colCol: String,
      colValues: Seq[Any]): DataFrame = {
    require(colValues.nonEmpty, "column domain must be non-empty")
    def cells(prefix: String) = colValues.zipWithIndex.map { case (v, i) =>
      sum(when(col(colCol) === lit(v), 1L).otherwise(0L))
        .as(s"$prefix$i")
    }
    val oCells = cells("__o")
    val rows = df.groupBy(col(rowCol)).agg(oCells.head, oCells.tail: _*)
    val totalCells = cells("__c") :+ count(lit(1)).as("__grand")
    val totals = broadcast(df.agg(totalCells.head, totalCells.tail: _*))
    val withTotals = rows.crossJoin(totals)
    val rowTotal = colValues.indices
      .map(i => col(s"__o$i"))
      .reduce(_ + _)
    val terms = colValues.indices.map { i =>
      val o = col(s"__o$i").cast("double")
      val e = rowTotal.cast("double") * col(s"__c$i").cast("double") /
        col("__grand").cast("double")
      (o - e) * (o - e) / e
    }
    withTotals.select(col(rowCol),
      rowTotal.as("n_row"),
      round(terms.reduce(_ + _), 6).as("chi2_contrib"))
  }

  /** Benford first-significant-digit conformance test over positive
    * money-scale columns: observed digit distribution vs Benford's
    * log₁₀(1 + 1/d), reported as total-variation distance — the
    * fabricated-data / unit-mixup smell test of numeric profiling.
    *
    * Digit extraction is EXACT and engine-portable: the value rounds to
    * DECIMAL(18,2) (the established cross-engine cast), scales to
    * integer cents, and the first digit comes off the INTEGER's string
    * form — never `log10` (whose faithful rounding can misplace exact
    * powers of ten) and never double→string (engine-dependent
    * shortest-form rendering). Digit counts are conditional sums over
    * the 9-digit literal domain (pivot discipline), TVD is an explicit
    * left-assoc 9-term chain with the Benford constants inlined as
    * full-precision literals, ROUND(6).
    *
    * Scale shape: ONE ungrouped conditional-sum aggregate per column
    * (map-side combined, 9-counter state), one output row per column.
    */
  def benfordTest(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val perCol = cols.map { c =>
      val cents = abs(col(c)).cast("decimal(18,2)")
        .multiply(lit(100)).cast("long")
      val digit = substring(cents.cast("string"), 1, 1).cast("int")
      val base = df.select(digit.as("d")).filter(col("d") >= 1)
      val counts = (1 to 9).map(d =>
        sum(when(col("d") === d, 1L).otherwise(0L)).as(s"c$d"))
      val agg = base.agg(counts.head, counts.tail: _*)
      val n = (1 to 9).map(d => col(s"c$d")).reduce(_ + _)
      val terms = (1 to 9).map { d =>
        val expected = math.log10(1.0 + 1.0 / d)
        abs(col(s"c$d").cast("double") / col("__n").cast("double") -
          lit(expected))
      }
      agg.withColumn("__n", n)
        .select(lit(c).as("col_name"), col("__n").as("n"),
          round(terms.reduce(_ + _) / 2.0, 6).as("tvd"))
    }
    perCol.reduce(_.unionAll(_))
  }

  /** Functional-dependency profiler: for each candidate (determinant →
    * dependent) pair, how many determinant keys exist, how many violate
    * the dependency (more than one dependent value), and the worst
    * violation — the schema-discovery / data-contract check that turns
    * "we assume orderkey determines custkey" into a measured fact.
    * Integer-exact throughout.
    *
    * Scale shape: one (determinant) count-distinct aggregate per pair —
    * map-side partial aggregation on (det, dep) first, so the shuffle
    * carries distinct pairs, not rows; the per-pair reports union into
    * one frame.
    */
  def functionalDependencies(
      df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "at least one candidate pair")
    val perPair = pairs.map { case (det, dep) =>
      df.groupBy(col(det)).agg(countDistinct(col(dep)).as("__nd"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L))
            .as("n_violating_keys"),
          max(col("__nd")).as("max_variants"))
        .select(lit(s"$det -> $dep").as("dependency"),
          col("n_keys"), col("n_violating_keys"), col("max_variants"))
    }
    perPair.reduce(_.unionAll(_))
  }

  /** Seasonal (hour-of-day) decomposition profile: per (group, hour),
    * the seasonal mean plus the residual envelope after removing it —
    * the "is this sensor's daily cycle stable, and what escapes it"
    * report that precedes any calendar-aware anomaly rule.
    *
    * Exactness: the seasonal mean is a DECIMAL(18,2) sum (order-free)
    * divided once by the count; residuals are single IEEE subtractions;
    * the residual envelope is MIN/MAX — selection, not summation — so
    * every output is engine-replayable with no rounding surface.
    *
    * Scale shape: two keyed aggregates over one scan, with the seasonal
    * table (groups × 24 rows by construction) broadcast back — no
    * second pass is ever keyed on anything bigger than (group, hour).
    */
  def seasonalHourlyProfile(
      df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val s = df.select(col(groupCol).as("__g"),
      hour(col(tsCol)).as("hr"), col(valueCol).as("__v"))
    val means = s.groupBy(col("__g"), col("hr"))
      .agg(count(lit(1)).as("n"),
        (sum(col("__v").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("hour_mean"))
    val resid = s
      .join(broadcast(means.select(col("__g"), col("hr"),
        col("hour_mean"))), Seq("__g", "hr"))
      .groupBy(col("__g"), col("hr"))
      .agg(min(col("__v") - col("hour_mean")).as("min_resid"),
        max(col("__v") - col("hour_mean")).as("max_resid"))
    means.join(resid, Seq("__g", "hr"))
      .select(col("__g").as(groupCol), col("hr"), col("n"),
        col("hour_mean"), col("min_resid"), col("max_resid"))
  }

  /** Join-cardinality estimation WITHOUT executing the join: per-key
    * |left|·|right| products, the exact output-row count of an inner
    * equi-join, plus each key's share — the "will this join explode"
    * check run before committing a 100 TB shuffle, and the quantitative
    * companion to [[skewProfile]] (which sees one side at a time).
    *
    * Scale shape: one count aggregate per side (map-side combined — the
    * heavy inputs collapse to one row per distinct key BEFORE the
    * join), an inner join on distinct keys, a 1-row broadcast total,
    * top-k via TakeOrderedAndProject. All integer arithmetic except the
    * final share division.
    */
  def joinCardinalityEstimate(
      left: DataFrame, right: DataFrame, keyCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val lc = left.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val rc = right.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_right"))
    val perKey = lc.join(rc, "key")
      .select(col("key"), col("n_left"), col("n_right"),
        (col("n_left") * col("n_right")).as("est_pairs"))
    val total = broadcast(perKey.agg(
      coalesce(sum(col("est_pairs")), lit(0L)).as("__total")))
    perKey.crossJoin(total)
      .orderBy(col("est_pairs").desc, col("key"))
      .limit(k)
      .select(col("key"), col("n_left"), col("n_right"), col("est_pairs"),
        round(col("est_pairs").cast("double") /
          col("__total").cast("double"), 6).as("share"))
  }

  /** Average (fractional) ranks for every distinct value of one numeric
    * column, computed as a DISTRIBUTED prefix sum: distinct-value
    * counts bucket by value range, each bucket computes its internal
    * running count in parallel, and the cross-bucket carry-in is a
    * prefix over the BUCKET TOTALS — a table bounded by `buckets`, not
    * by the data (the [[graft.operators.SensorOps.maxConcurrency]]
    * shape; the textbook single global rank window would collapse the
    * whole column onto one partition at 100 TB). carry + in-bucket
    * count ≡ the global prefix count exactly, by associativity —
    * bucket-width invariance is property-tested in the spec.
    *
    * rank_avg(v) = #\{x < v\} + (cnt(v) + 1) / 2 — the midrank ties
    * convention. The value is exact: integer counts plus a dyadic
    * half, so an external engine's `RANK() + (cnt − 1) / 2.0` replays
    * it bit-for-bit.
    *
    * Returns (value DOUBLE, rank_avg DOUBLE) keyed by distinct value.
    */
  private[graft] def avgRanks(
      values: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, "need at least one bucket")
    val vc = values.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__cnt"))
    val bounds = broadcast(vc.agg(
      min(col("__v")).as("__lo"), max(col("__v")).as("__hi")))
    val bucketed = vc.crossJoin(bounds).withColumn("__bucket",
      when(col("__hi") === col("__lo"), lit(0L)).otherwise(
        least(lit(buckets - 1L), floor((col("__v") - col("__lo")) /
          ((col("__hi") - col("__lo")) / buckets)).cast("long"))))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bucket")).orderBy(col("__v"))
      .rowsBetween(Long.MinValue, 0)
    val run = bucketed.withColumn("__cum", sum(col("__cnt")).over(wIn))
    val totals = run.groupBy(col("__bucket"))
      .agg(sum(col("__cnt")).as("__tot"))
    val carried = totals.withColumn("__carry",
      coalesce(sum(col("__tot")).over(bucketsBelow), lit(0L)))
    run.join(broadcast(carried.select(col("__bucket"), col("__carry"))),
        "__bucket")
      .select(col("__v").as("value"),
        ((col("__carry") + col("__cum") - col("__cnt")).cast("double") +
          (col("__cnt") + 1L).cast("double") / 2.0).as("rank_avg"))
  }

  /** Gini coefficient of a non-negative integer-unit value column —
    * the inequality profile (token-budget concentration, per-source
    * mass skew, spend distribution) read off before capping or
    * rebalancing a corpus.
    *
    * Sample form over ascending ranks i: G = (2·Σi·xᵢ − (n+1)·Σx) /
    * (n·Σx). The rank-weighted sum needs no per-row ranking: within a
    * tie block of value v (m rows, C rows strictly below), Σi·x =
    * v·(m·C + m(m+1)/2) regardless of order — so the whole computation
    * runs on the DISTINCT-value table with the same bucketed prefix
    * count [[avgRanks]] uses (never a global single-partition window).
    * All sums accumulate in DECIMAL(38,0) from exact integers; callers
    * quantize (cents, µ-units) before calling. G is one fixed IEEE
    * shape on the exact sums, ROUND(6).
    *
    * Output: one row (n, units_total, gini).
    */
  def gini(df: DataFrame, valueCol: String,
      buckets: Int = 1024): DataFrame = {
    val ranked = valueRanks(df, valueCol, buckets)
    val md = col("__m").cast("decimal(38,0)")
    val vd = col("__v").cast("decimal(38,0)")
    val cd = col("__cbelow").cast("decimal(38,0)")
    val rankSum = md * cd +
      ((md * (md + lit(1))) / lit(2)).cast("decimal(38,0)")
    val agg = ranked.agg(
      sum(col("__m")).as("__n"),
      sum(vd * md).cast("double").as("__sx"),
      sum(vd * rankSum).cast("double").as("__six"))
    agg.select(col("__n").as("n"),
      col("__sx").as("units_total"),
      round((lit(2.0) * col("__six") -
          (col("__n").cast("double") + 1.0) * col("__sx")) /
        (col("__n").cast("double") * col("__sx")), 6).as("gini"))
  }

  /** `vc` (one row per distinct long `__v`) with `__bucket`, its
    * equal-width bucket of [min, max] among `buckets`: the partition
    * key of the bucketed DISTRIBUTED prefix counts ([[valueRanks]],
    * [[liftTable]], [[abcClassification]]).
    */
  private def withValueBucket(vc: DataFrame, buckets: Int): DataFrame = {
    val bounds = broadcast(vc.agg(
      min(col("__v")).as("__lo"), max(col("__v")).as("__hi")))
    vc.crossJoin(bounds).withColumn("__bucket",
      when(col("__hi") === col("__lo"), lit(0L)).otherwise(
        least(lit(buckets - 1L),
          floor((col("__v") - col("__lo")).cast("double") /
            ((col("__hi") - col("__lo")).cast("double") / buckets))
            .cast("long"))))
  }

  /** The rows of the current `__bucket` below the current `__v`. */
  private def belowInBucket = org.apache.spark.sql.expressions.Window
    .partitionBy(col("__bucket")).orderBy(col("__v"))
    .rowsBetween(Long.MinValue, -1)

  /** The `__bucket`s below the current one: the carry of the per-bucket
    * totals.
    */
  private def bucketsBelow = org.apache.spark.sql.expressions.Window
    .orderBy(col("__bucket")).rowsBetween(Long.MinValue, -1)

  /** Distinct-value rank table for integer-unit distributions: one row
    * per distinct value with its multiplicity and the exact count of
    * rows strictly below it, from the bucketed DISTRIBUTED prefix
    * count (per-bucket running counts + carry over ≤`buckets` totals —
    * the [[avgRanks]] shape; never a global single-partition window).
    * Shared by [[gini]] and [[lorenzDeciles]].
    */
  private def valueRanks(
      df: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    val vc = df.select(col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__m"))
    val run = withValueBucket(vc, buckets).withColumn("__cin",
      coalesce(sum(col("__m")).over(belowInBucket), lit(0L)))
    val totals = run.groupBy(col("__bucket"))
      .agg(sum(col("__m")).as("__tot"))
    val carried = totals.withColumn("__carry",
      coalesce(sum(col("__tot")).over(bucketsBelow), lit(0L)))
    run
      .join(broadcast(carried.select(col("__bucket"), col("__carry"))),
        "__bucket")
      .select(col("__v"), col("__m"),
        (col("__carry") + col("__cin")).as("__cbelow"))
  }

  /** Lorenz decile table: rows and value mass per frequency-ranked
    * decile of an integer-unit distribution — the concentration
    * companion to [[gini]] ("the top decile holds X% of the mass").
    *
    * Runs entirely on the distinct-value rank table ([[valueRanks]]):
    * a value block occupying ranks (C, C+m] overlaps decile d's rank
    * window (d·n/10, (d+1)·n/10] by a pure integer-interval
    * intersection, so a bounded ×10 fan-out of the value table — never
    * a per-row decile assignment — produces exact counts and DECIMAL
    * masses. Shares are single IEEE divisions, ROUND(6); cumulative
    * share comes from the exact cumulative decimal mass over the
    * 10-row result.
    *
    * Output: (decile, n_rows, units_mass, share, cum_share).
    */
  def lorenzDeciles(df: DataFrame, valueCol: String,
      buckets: Int = 1024): DataFrame = {
    val ranked = valueRanks(df, valueCol, buckets)
    val tot = broadcast(ranked.agg(
      sum(col("__m")).as("__n"),
      sum(col("__v").cast("decimal(38,0)") *
        col("__m").cast("decimal(38,0)")).as("__mass")))
    val spark = df.sparkSession
    import spark.implicits._
    val dec = broadcast((0 until 10).toDF("decile"))
    val cells = ranked.crossJoin(tot).crossJoin(dec)
      .withColumn("__lo", expr("(decile * __n) div 10"))
      .withColumn("__hi", expr("((decile + 1) * __n) div 10"))
      .withColumn("__cnt", greatest(lit(0L),
        least(col("__cbelow") + col("__m"), col("__hi")) -
          greatest(col("__cbelow"), col("__lo"))))
      .filter(col("__cnt") > 0)
    val byDec = cells.groupBy(col("decile"))
      .agg(sum(col("__cnt")).as("n_rows"),
        sum(col("__v").cast("decimal(38,0)") *
          col("__cnt").cast("decimal(38,0)")).as("__dm"),
        max(col("__mass")).as("__tm"))
    val wAsc = org.apache.spark.sql.expressions.Window
      .orderBy(col("decile")).rowsBetween(Long.MinValue, 0)
    byDec
      .withColumn("__cm", sum(col("__dm")).over(wAsc))
      .select(col("decile"), col("n_rows"),
        col("__dm").cast("double").as("units_mass"),
        round(col("__dm").cast("double") / col("__tm").cast("double"),
          6).as("share"),
        round(col("__cm").cast("double") / col("__tm").cast("double"),
          6).as("cum_share"))
  }

  /** Decile lift / gains table for a binary outcome ranked by an
    * integer score — the model-evaluation staple ("the top 10% of the
    * ranking captures X% of the positives, lift Y"). Input is one row
    * per entity with its score and 0/1 label.
    *
    * Runs on the distinct-SCORE table with the bucketed-carry prefix
    * (counts AND positives carried together; never a per-entity global
    * rank). Ties are apportioned proportionally — the standard gains
    * convention, and the only order-free one: inside a tie block every
    * rank cutoff captures (r − C)·pos/m positives regardless of how
    * the tie would break. captured/rate/lift are fixed IEEE shapes on
    * exact integers, ROUND(6).
    *
    * Output: (decile, cutoff_rank, captured_pos, capture_rate, lift),
    * deciles with a non-empty rank prefix only.
    */
  def liftTable(
      df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 1024): DataFrame = {
    val vc = df
      .select((-col(scoreCol).cast("long")).as("__v"),
        col(labelCol).cast("long").as("__lab"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__m"), sum(col("__lab")).as("__pos"))
    val run = withValueBucket(vc, buckets)
      .withColumn("__cin",
        coalesce(sum(col("__m")).over(belowInBucket), lit(0L)))
      .withColumn("__pin",
        coalesce(sum(col("__pos")).over(belowInBucket), lit(0L)))
    val totals = run.groupBy(col("__bucket"))
      .agg(sum(col("__m")).as("__tm"), sum(col("__pos")).as("__tp"))
    val carried = totals
      .withColumn("__cm",
        coalesce(sum(col("__tm")).over(bucketsBelow), lit(0L)))
      .withColumn("__cp",
        coalesce(sum(col("__tp")).over(bucketsBelow), lit(0L)))
    val ranked = run
      .join(broadcast(carried.select(col("__bucket"), col("__cm"),
        col("__cp"))), "__bucket")
      .select(col("__v"), col("__m"), col("__pos"),
        (col("__cm") + col("__cin")).as("__cb"),
        (col("__cp") + col("__pin")).as("__pb"))
    val tot = broadcast(ranked.agg(sum(col("__m")).as("__n"),
      sum(col("__pos")).as("__np")))
    val spark = df.sparkSession
    import spark.implicits._
    val dec = broadcast((1 to 10).toDF("decile"))
    ranked.crossJoin(tot).crossJoin(dec)
      .withColumn("__r", expr("(decile * __n) div 10"))
      .filter(col("__r") >= 1L &&
        col("__cb") < col("__r") && col("__r") <= col("__cb") + col("__m"))
      .withColumn("__cap", col("__pb").cast("double") +
        (col("__r") - col("__cb")).cast("double") *
          (col("__pos").cast("double") / col("__m").cast("double")))
      .select(col("decile"), col("__r").as("cutoff_rank"),
        round(col("__cap"), 6).as("captured_pos"),
        round(expr("try_divide(__cap, CAST(__np AS DOUBLE))"), 6)
          .as("capture_rate"),
        round(expr("try_divide(__cap * CAST(__n AS DOUBLE)," +
          " CAST(__np AS DOUBLE) * CAST(__r AS DOUBLE))"), 6)
          .as("lift"))
  }

  /** Spearman rank correlation matrix: Pearson over midrank-transformed
    * columns — the monotonic-association screen that catches what the
    * linear [[correlationMatrix]] misses (and is robust to outliers).
    *
    * Ranks come from [[avgRanks]] (distributed bucketed prefix count —
    * never a global single-partition window), joined back to the rows
    * through one broadcast-able rank map per column (distinct values ≪
    * rows for measurement data; the join key is the value itself). The
    * rank columns then feed [[correlationMatrix]] with
    * `exactDecimal = true`: midranks are half-integers, so DECIMAL
    * sums are exact and the final ρ is IEEE arithmetic on exact sums —
    * bit-replayable by an external engine, reduction-order-free.
    *
    * Output: (col_a, col_b, rho) for the upper triangle.
    */
  def spearmanMatrix(
      df: DataFrame, cols: Seq[String],
      buckets: Int = 1024): DataFrame = {
    require(cols.size >= 2, "correlate at least two columns")
    val base = df.na.drop(cols).select(
      cols.map(c => col(c).cast("double").as(c)): _*)
    val ranked = cols.foldLeft(base) { (acc, c) =>
      val ranks = avgRanks(base, c, buckets)
        .withColumnRenamed("value", s"__v__$c")
        .withColumnRenamed("rank_avg", s"__r__$c")
      acc.join(ranks, acc(c) === ranks(s"__v__$c"))
        .drop(s"__v__$c")
    }
    correlationMatrix(
        ranked.select(cols.map(c => col(s"__r__$c").as(c)): _*),
        cols, exactDecimal = true)
      .withColumnRenamed("corr", "rho")
  }

  /** Mutual information between two categorical columns — the
    * association profile between metadata facets (does `source` predict
    * `lang`?) a pipeline checks before stratifying on either.
    *
    * ONE data-scale shuffle: the (a, b) contingency aggregate. The
    * marginals and the grand total are re-aggregations of the cell
    * table (bounded by |A|·|B|, not by rows) joined back by broadcast.
    * Per cell: pmi = ln(n_ab·n / (n_a·n_b)) and its MI contribution
    * (n_ab/n)·pmi, both ROUND(6) (ln is the one libm call — everything
    * feeding it is integer-exact, cast to double losslessly below
    * 2^53; products are formed in DOUBLE so 100 TB-scale counts cannot
    * overflow an int64). `mi_total` sums the contributions after a
    * deterministic DECIMAL(28,9) quantization, making the total
    * reduction-order-free (the q135 ordered-float-sum lesson).
    *
    * Output: (val_a, val_b, n_ab, n_a, n_b, pmi, mi_contrib, mi_total).
    */
  def mutualInformation(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("val_a"), col(colB).as("val_b"))
      .agg(count(lit(1)).as("n_ab"))
    val ma = cells.groupBy(col("val_a")).agg(sum(col("n_ab")).as("n_a"))
    val mb = cells.groupBy(col("val_b")).agg(sum(col("n_ab")).as("n_b"))
    val tot = cells.agg(sum(col("n_ab")).as("__n"))
    val j = cells.join(broadcast(ma), "val_a")
      .join(broadcast(mb), "val_b")
      .crossJoin(broadcast(tot))
    val arg = (col("n_ab").cast("double") * col("__n").cast("double")) /
      (col("n_a").cast("double") * col("n_b").cast("double"))
    val contrib =
      col("n_ab").cast("double") / col("__n").cast("double") * log(arg)
    val withC = j
      .withColumn("pmi", round(log(arg), 6))
      .withColumn("mi_contrib", round(contrib, 6))
      .withColumn("__c9", contrib.cast("decimal(28,9)"))
    val total = broadcast(withC.agg(
      sum(col("__c9")).cast("double").as("mi_total")))
    withC.crossJoin(total)
      .select(col("val_a"), col("val_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("pmi"), col("mi_contrib"), col("mi_total"))
  }

  /** Integer µ-unit quantization: floor(v · 10⁶) as BIGINT. The
    * multiply is one IEEE op and floor/cast of an integral double are
    * exact, so ANY engine produces the identical integer — unlike a
    * double→DECIMAL cast, whose round-half tie direction is
    * implementation-defined on dyadic values. Downstream sums of these
    * integers are exact and reduction-order-free. Squared terms stay in
    * BIGINT range for |v| < 3·10³ (measurement-sized values); callers
    * with larger magnitudes pass a coarser quantization scale.
    */
  private def microUnits(v: Column, unitsPerValue: Double): Column =
    floor(v.cast("double") * unitsPerValue).cast("long")

  /** Per-series autocorrelation at lags 1..maxLag — the
    * memory/seasonality screen run before modelling a sensor fleet.
    * acf(k) = Pearson(x_t, x_{t−k}) over the series' aligned pairs.
    *
    * ONE keyed window sort (high-cardinality series key — thousands of
    * short series, never a global or low-cardinality partition) shared
    * by every lag; then one map-side-combined aggregate collecting the
    * six conditional sums per lag; the per-(series, lag) rows unpivot
    * through `stack`. Values quantize to integer µ-units ([[microUnits]]
    * — the scaling cancels in the correlation), products accumulate in
    * DECIMAL(38,0) so every sum is exact, and the final acf is IEEE
    * arithmetic on identical numbers in the identical shape, ROUND(6) —
    * bit-replayable by an external engine. A constant (or too-short)
    * series NULLs via try_divide on the zero variance.
    *
    * Output: (seriesCol, lag_k, n_pairs, acf).
    */
  def autocorrelation(
      df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
      maxLag: Int = 3, unitsPerValue: Double = 1e6): DataFrame = {
    require(maxLag >= 1, "need at least lag 1")
    val one = lagMoments(df, seriesCol, tsCol, valCol, maxLag, unitsPerValue)
    val cells = (1 to maxLag).map { k =>
      s"$k, CAST(`__n$k` AS BIGINT), round(${lagCorr(k)}, 6)"
    }.mkString(", ")
    one.selectExpr(seriesCol,
      s"stack($maxLag, $cells) AS (lag_k, n_pairs, acf)")
  }

  /** Per series: the `leading` aggregates, then for each lag k in
    * 1..`maxLag` the exact µ-unit moments of the values with a k-step
    * predecessor in (time, value) order — pair count `__n<k>` and the
    * sums `__sx<k>`, `__sxx<k>`, `__sy<k>`, `__syy<k>`, `__sxy<k>` —
    * from one keyed window sort and one aggregate.
    */
  private def lagMoments(
      df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
      maxLag: Int, unitsPerValue: Double,
      leading: Seq[Column] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(seriesCol)).orderBy(col(tsCol), col("__vq"))
    val lagged = (1 to maxLag).foldLeft(
      df.select(col(seriesCol), col(tsCol),
        microUnits(col(valCol), unitsPerValue).as("__vq"))) { (acc, k) =>
      acc.withColumn(s"__l$k", lag(col("__vq"), k).over(w))
    }
    def dsum0(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
    val aggs = leading ++ (1 to maxLag).flatMap { k =>
      val y = col(s"__l$k")
      val on = y.isNotNull
      Seq(
        count(y).cast("double").as(s"__n$k"),
        dsum0(when(on, col("__vq"))).as(s"__sx$k"),
        dsum0(when(on, col("__vq") * col("__vq"))).as(s"__sxx$k"),
        dsum0(y).as(s"__sy$k"),
        dsum0(y * y).as(s"__syy$k"),
        dsum0(col("__vq") * y).as(s"__sxy$k"))
    }
    lagged.groupBy(col(seriesCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** The lag-k sample correlation over [[lagMoments]]' sums; null for a
    * degenerate series.
    */
  private def lagCorr(k: Int): String =
    s"try_divide(`__n$k` * `__sxy$k` - `__sx$k` * `__sy$k`," +
      s" sqrt(`__n$k` * `__sxx$k` - `__sx$k` * `__sx$k`)" +
      s" * sqrt(`__n$k` * `__syy$k` - `__sy$k` * `__sy$k`))"

  /** Partial autocorrelation at lags 1–3 via the Durbin–Levinson
    * recursion on the [[autocorrelation]] sample correlations — the
    * AR-order diagnostic (PACF cuts off at the true AR order where
    * ACF only decays). φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²);
    * φ₃₃ = (r₃−φ₂₁r₂−φ₂₂r₁)/(1−φ₂₁r₁−φ₂₂r₂) with φ₂₁ = r₁−φ₂₂r₁.
    *
    * Exactness: the rₖ are the q199 chains (exact integer µ-unit sums,
    * one IEEE shape each — correctly-rounded sqrt only), and the D–L
    * chain is a fixed sequence of IEEE ops written IDENTICALLY on both
    * engines (each intermediate named once, then reused), so the raw
    * doubles replay bit-for-bit; ROUND(6) only on the output surface.
    * Degenerate series (too few pairs, zero variance, |r₁| = 1)
    * null-propagate through try_divide.
    *
    * Scale shape: identical to [[autocorrelation]] — one keyed window
    * sort shared by all lags, one map-side-combined aggregate, then a
    * per-series fixed-shape scalar chain.
    */
  def pacf3(
      df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
      unitsPerValue: Double = 1e6): DataFrame = {
    val one = lagMoments(df, seriesCol, tsCol, valCol, 3, unitsPerValue)
    one
      .selectExpr(seriesCol, s"CAST(`__n1` AS BIGINT) AS n_pairs1",
        s"${lagCorr(1)} AS __r1", s"${lagCorr(2)} AS __r2",
        s"${lagCorr(3)} AS __r3")
      .selectExpr(seriesCol, "n_pairs1", "__r1", "__r2", "__r3",
        "try_divide(__r2 - __r1 * __r1, 1.0D - __r1 * __r1) AS __f22")
      .selectExpr(seriesCol, "n_pairs1", "__r1", "__r2", "__r3",
        "__f22", "__r1 - __f22 * __r1 AS __f21")
      .selectExpr(seriesCol, "n_pairs1",
        "round(__r1, 6) AS phi1", "round(__f22, 6) AS phi2",
        "round(try_divide(__r3 - __f21 * __r2 - __f22 * __r1," +
          " 1.0D - __f21 * __r1 - __f22 * __r2), 6) AS phi3")
  }

  /** Cross-correlation between two series' bucketed totals at integer
    * bucket lags — "does A lead B by k hours?" over a sensor or event
    * pair. Each side reduces to one exact µ-unit total per time bucket
    * (ONE map-side-combined aggregate over the data; the bucket table
    * is bounded by the timespan), the lag alignment is an equi-join on
    * the shifted bucket id fanned out over the 2·maxLag+1 lags, and
    * every Pearson ingredient accumulates in DECIMAL from exact
    * integers — the final correlation is one IEEE shape, ROUND(6).
    *
    * Output: (lag_k, n_buckets, xcorr) for lag_k in [−maxLag, maxLag];
    * xcorr at lag k correlates A(t) with B(t+k).
    */
  def crossCorrelation(
      df: DataFrame, typeCol: String, tsCol: String, valCol: String,
      typeA: String, typeB: String, bucketUs: Long = 3600000000L,
      maxLag: Int = 2, unitsPerValue: Double = 1e6): DataFrame = {
    require(maxLag >= 0 && bucketUs > 0, "non-negative lag, positive bucket")
    val base = df.filter(col(typeCol).isin(typeA, typeB))
      .select(col(typeCol).as("__ty"),
        expr(s"`$tsCol` div ${bucketUs}L").as("__b"),
        microUnits(col(valCol), unitsPerValue).as("__vq"))
      .groupBy(col("__ty"), col("__b"))
      .agg(sum(col("__vq").cast("decimal(38,0)")).as("__s"))
    val aSide = base.filter(col("__ty") === typeA)
      .select(col("__b"), col("__s").as("__sa"))
    val bSide = base.filter(col("__ty") === typeB)
      .select(col("__b").as("__b2"), col("__s").as("__sb"))
    val spark = df.sparkSession
    import spark.implicits._
    val lags = broadcast((-maxLag to maxLag).toDF("lag_k"))
    val pairs = aSide.crossJoin(lags)
      .join(bSide, col("__b") + col("lag_k") === col("__b2"))
    pairs.groupBy(col("lag_k"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__sa")).cast("double").as("__sx"),
        sum(col("__sb")).cast("double").as("__sy"),
        sum(col("__sa") * col("__sa")).cast("double").as("__sxx"),
        sum(col("__sb") * col("__sb")).cast("double").as("__syy"),
        sum(col("__sa") * col("__sb")).cast("double").as("__sxy"))
      .selectExpr("lag_k", "CAST(__n AS BIGINT) AS n_buckets",
        "round(try_divide(__n * __sxy - __sx * __sy," +
          " sqrt(__n * __sxx - __sx * __sx)" +
          " * sqrt(__n * __syy - __sy * __sy)), 6) AS xcorr")
  }

  /** Fano factor (index of dispersion) of per-bucket event counts for
    * every series: var/mean of the counts over the series' OWN bucket
    * span — 1 for Poisson arrivals, ≫1 for bursty traffic, ≪1 for
    * regular heartbeats. The burstiness screen for sensor fleets.
    *
    * ONE (series, bucket) count aggregate over the data, then one
    * series-keyed aggregate: empty buckets inside the span contribute
    * zero to Σc and Σc², so H = hi − lo + 1 enters only arithmetically
    * — the span grid is never materialized. Counts are exact integers
    * (DECIMAL-accumulated); fano folds var/mean into the single
    * division (H·Σc² − (Σc)²) / ((H−1)·Σc), ROUND(6).
    *
    * Output: (seriesCol, n_events, n_buckets, mean_rate, fano).
    */
  def fanoFactor(
      df: DataFrame, seriesCol: String, tsCol: String,
      bucketUs: Long = 3600000000L): DataFrame = {
    require(bucketUs > 0, "positive bucket width")
    val b = df
      .select(col(seriesCol), expr(s"`$tsCol` div ${bucketUs}L").as("__b"))
      .groupBy(col(seriesCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    b.groupBy(col(seriesCol))
      .agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"),
        sum(col("__c")).as("__sc"),
        sum((col("__c") * col("__c")).cast("decimal(38,0)"))
          .cast("double").as("__scc"))
      .withColumn("__h", col("__hi") - col("__lo") + 1L)
      .selectExpr(seriesCol,
        "__sc AS n_events", "__h AS n_buckets",
        "round(CAST(__sc AS DOUBLE) / CAST(__h AS DOUBLE), 6)" +
          " AS mean_rate",
        "round(try_divide(CAST(__h AS DOUBLE) * __scc" +
          " - CAST(__sc AS DOUBLE) * CAST(__sc AS DOUBLE)," +
          " (CAST(__h AS DOUBLE) - 1.0) * CAST(__sc AS DOUBLE)), 6)" +
          " AS fano")
  }

  /** Inter-arrival statistics per series: mean gap and coefficient of
    * variation of consecutive-event gaps — CV ≈ 1 for Poisson
    * arrivals, ≪1 for heartbeats, ≫1 for bursts; the per-event
    * complement of the bucketed [[fanoFactor]]. One keyed window sort,
    * one series aggregate; gaps are exact µs integers (the gap
    * multiset is tie-order invariant), sums accumulate in DECIMAL, cv
    * is one fixed IEEE chain on exact sums, ROUND(6).
    *
    * Output: (seriesCol, n_gaps, mean_gap_us, cv).
    */
  def interArrival(
      df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(seriesCol)).orderBy(col("__t"))
    val gaps = df
      .select(col(seriesCol), col(tsCol).cast("long").as("__t"))
      .withColumn("__g", col("__t") - lag(col("__t"), 1).over(w))
      .filter(col("__g").isNotNull)
    gaps.groupBy(col(seriesCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__g").cast("decimal(38,0)")).cast("double").as("__sg"),
        // square in DECIMAL: a month-long gap is ~2.6e12 µs, whose
        // square overflows int64
        sum(col("__g").cast("decimal(19,0)") * col("__g"))
          .cast("double").as("__sgg"))
      .selectExpr(seriesCol, "n_gaps",
        // no ROUND: sg/n is one IEEE division of exact values (already
        // bit-replayable), and rounding a ~1e11-µs mean at the 6th
        // decimal sits below double precision — engines disagree there
        "__sg / CAST(n_gaps AS DOUBLE) AS mean_gap_us",
        "round(try_divide(sqrt(try_divide(" +
          "CAST(n_gaps AS DOUBLE) * __sgg - __sg * __sg," +
          " CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0)))," +
          " __sg / CAST(n_gaps AS DOUBLE)), 6) AS cv")
  }

  /** CUPED variance-reduced cohort comparison (Deng et al.): adjust
    * each arm's post-period metric by the pooled pre-period covariate,
    * mean_adj = ȳ_arm − θ·(x̄_arm − x̄), θ = cov(x,y)/var(x) — the
    * standard experiment-analysis primitive that removes pre-existing
    * user-level variance before reading a treatment effect.
    *
    * Pre/post split at the corpus time midpoint; arm = user_id parity
    * (a deterministic stand-in for an assignment column). ONE
    * user-keyed conditional aggregate reduces the events to (x, y) per
    * user in integer µ-units; θ, r² and the per-arm means are fixed
    * IEEE shapes on DECIMAL-exact sums (products formed in DECIMAL —
    * µ-unit user totals square past int64). Adjustment is linear, so
    * per-arm adjusted means need no second pass over users.
    *
    * Output: (arm, n_users, mean_y, mean_y_adj, theta, r2) — means in
    * original units, ROUND(6); r² = fraction of variance removed.
    */
  def cuped(
      df: DataFrame, userCol: String, tsCol: String, valCol: String,
      unitsPerValue: Double = 1e6): DataFrame = {
    val span = broadcast(df.agg(
      min(col(tsCol).cast("long")).as("__lo"),
      max(col(tsCol).cast("long")).as("__hi")))
    val vq = microUnits(col(valCol), unitsPerValue)
    val perUser = df.crossJoin(span)
      .withColumn("__mid",
        expr(s"__lo + (__hi - __lo) div 2"))
      .groupBy(col(userCol).as("__u"))
      .agg(
        sum(when(col(tsCol).cast("long") < col("__mid"), vq)
          .otherwise(lit(0L))).as("__x"),
        sum(when(col(tsCol).cast("long") >= col("__mid"), vq)
          .otherwise(lit(0L))).as("__y"))
      .withColumn("__arm", pmod(col("__u"), lit(2)))
    val xd = col("__x").cast("decimal(19,0)")
    val yd = col("__y").cast("decimal(19,0)")
    val g = broadcast(perUser.agg(
      count(lit(1)).cast("double").as("__n"),
      sum(xd).cast("double").as("__sx"),
      sum(yd).cast("double").as("__sy"),
      sum(xd * col("__x")).cast("double").as("__sxx"),
      sum(yd * col("__y")).cast("double").as("__syy"),
      sum(xd * col("__y")).cast("double").as("__sxy")))
    val arms = perUser.groupBy(col("__arm").as("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(xd).cast("double").as("__sxa"),
        sum(yd).cast("double").as("__sya"))
    arms.crossJoin(g)
      .withColumn("__theta", expr(
        "try_divide(__n * __sxy - __sx * __sy," +
          " __n * __sxx - __sx * __sx)"))
      .withColumn("__r2", expr(
        "try_divide((__n * __sxy - __sx * __sy)" +
          " * (__n * __sxy - __sx * __sy)," +
          " (__n * __sxx - __sx * __sx)" +
          " * (__n * __syy - __sy * __sy))"))
      .select(col("arm"), col("n_users"),
        round(col("__sya") / col("n_users").cast("double") /
          unitsPerValue, 6).as("mean_y"),
        round((col("__sya") / col("n_users").cast("double") -
            col("__theta") * (col("__sxa") /
              col("n_users").cast("double") -
              col("__sx") / col("__n"))) / unitsPerValue, 6)
          .as("mean_y_adj"),
        round(col("__theta"), 6).as("theta"),
        round(col("__r2"), 6).as("r2"))
  }

  /** Per-series ordinary-least-squares trend: slope (per day) and
    * intercept of value vs time — the drift screen run across a whole
    * sensor fleet in one aggregate. All five OLS sums accumulate in
    * DECIMAL from exact integers (µs timestamps RE-BASED to each
    * series' minimum first: raw epoch-µs squares overflow even int128
    * under a 10⁶-row sum, and centring also kills the catastrophic
    * cancellation the textbook formula suffers at epoch magnitudes);
    * slope/intercept are fixed IEEE shapes on the exact sums.
    *
    * slope_per_day = (nΣtv − ΣtΣv)/(nΣt² − (Σt)²) · 86400·10⁶ / 10⁶;
    * intercept = value at the series' own start, in original units.
    *
    * Output: (seriesCol, n, slope_per_day, intercept) — both ROUND(6);
    * single-point or zero-time-spread series NULL via try_divide.
    */
  def trendOls(
      df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
      unitsPerValue: Double = 1e6): DataFrame = {
    val base = df.select(col(seriesCol),
      col(tsCol).cast("long").as("__t"),
      microUnits(col(valCol), unitsPerValue).as("__vq"))
    // Series re-base via min-over-window on ONE series-keyed exchange
    // (guide §2.4: a window keyed like the following aggregate shares
    // its partitioning). The former groupBy-min + join-back paid a
    // second full exchange and a join whose strategy flipped
    // broadcast→SMJ across scales; re-landed r17 after the hot-key
    // probe the r16 revert lacked: at a deliberate 5M-row hot series
    // the window runs 0.9 s with 8 MB peak task memory and zero spill,
    // where the join shape's SMJ sort peaks at 296 MB (the q197
    // tie-group cliff does NOT apply — that was a range-frame rank over
    // low-cardinality values; this is a whole-partition aggregate
    // window over the series key itself). 100× probe: shuffle 224→101
    // MB, peak task 57→23 MB; identical integers per row, so the
    // following aggregate is unchanged.
    // NULL series keys are dropped (isNotNull), matching the former
    // inner join's semantics — a NULL window partition would otherwise
    // flow into the aggregate as a NULL output row.
    val wSeries = org.apache.spark.sql.expressions.Window
      .partitionBy(col(seriesCol))
    val reb = base.filter(col(seriesCol).isNotNull)
      .withColumn("__t0", min(col("__t")).over(wSeries))
      .select(col(seriesCol), (col("__t") - col("__t0")).as("__dt"),
        col("__vq"))
    val td = col("__dt").cast("decimal(38,0)")
    val vd = col("__vq").cast("decimal(38,0)")
    val g = reb.groupBy(col(seriesCol))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(td).cast("double").as("__st"),
        sum(vd).cast("double").as("__sv"),
        sum(td * col("__dt")).cast("double").as("__stt"),
        sum(td * col("__vq")).cast("double").as("__stv"))
    g.selectExpr(seriesCol, "CAST(__n AS BIGINT) AS n",
      "round(try_divide(__n * __stv - __st * __sv," +
        " __n * __stt - __st * __st) * 86400000000.0 / " +
        s"$unitsPerValue, 6) AS slope_per_day",
      "round((__sv - try_divide(__n * __stv - __st * __sv," +
        " __n * __stt - __st * __st) * __st) / __n / " +
        s"$unitsPerValue, 6) AS intercept")
  }

  /** Quantile–quantile comparison table between two cohorts of one
    * numeric column: matched quantiles at fixed probabilities and
    * their gaps — the distribution-shift diagnostic that localizes
    * WHERE two cohorts diverge (tails vs median), where a KS statistic
    * only says THAT they do.
    *
    * ONE aggregate computes both cohorts' quantile arrays from
    * conditional values (percentile ignores the other cohort's NULLs);
    * the probe rows unpivot through `stack`. `exact = true` is the
    * oracle surface; the default `approx_percentile` keeps
    * accuracy-bounded state (the q115/q193 split).
    *
    * Output: (p, q_a, q_b, diff), one row per probability, ROUND(6).
    */
  def qqTable(
      df: DataFrame, groupCol: String, valCol: String,
      groupA: String, groupB: String,
      probs: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9),
      exact: Boolean = false): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      "probabilities in (0,1)")
    val arr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    def cond(g: String) =
      s"CASE WHEN `$groupCol` = '$g' THEN CAST(`$valCol` AS DOUBLE) END"
    def pf(v: String) =
      if (exact) s"percentile($v, $arr)"
      else s"approx_percentile($v, $arr, 10000)"
    val one = df.agg(
      expr(pf(cond(groupA))).as("__qa"),
      expr(pf(cond(groupB))).as("__qb"))
    val cells = probs.zipWithIndex.map { case (p, i) =>
      s"${p}D, round(__qa[$i], 6), round(__qb[$i], 6)," +
        s" round(__qa[$i] - __qb[$i], 6)"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${probs.size}, $cells) AS (p, q_a, q_b, diff)")
  }

  /** Median-of-means robust mean: values hash deterministically into
    * `k` buckets (the engine-portable md5 route — NOTES), each bucket
    * takes an exact-integer µ-unit mean, and the estimate is the exact
    * median of the k means — the heavy-tail-robust estimator whose
    * buckets are embarrassingly parallel (ONE map-side-combined
    * aggregate; the median runs on k rows). Odd k selects an element
    * exactly — no interpolation, no reduction-order surface.
    *
    * Output: one row (k, n, mom_mean, plain_mean) in original units,
    * ROUND(6).
    */
  def medianOfMeans(
      df: DataFrame, idCol: String, valCol: String, k: Int = 9,
      unitsPerValue: Double = 1e6): DataFrame = {
    require(k >= 1 && k % 2 == 1, "k must be odd")
    val vq = microUnits(col(valCol), unitsPerValue)
    val bucket = expr(
      s"conv(substr(md5(CAST(`$idCol` AS STRING)), 1, 15), 16, 10)" +
        s" % ${k}L").cast("long")
    val means = df
      .select(bucket.as("__b"), vq.as("__vq"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__vq").cast("decimal(38,0)")).as("__sd"))
      .select(col("__n"), col("__sd"),
        (col("__sd").cast("double") / col("__n").cast("double"))
          .as("__m"))
    means.agg(
        sum(col("__n")).as("n"),
        sum(col("__sd")).cast("double").as("__stot"),
        expr("percentile(__m, 0.5D)").as("__mom"))
      .select(lit(k).as("k"), col("n"),
        round(col("__mom") / unitsPerValue, 6).as("mom_mean"),
        round(col("__stot") / col("n").cast("double") / unitsPerValue,
          6).as("plain_mean"))
  }

  /** Per-group Pearson correlation between two columns — the grouped
    * arm of [[correlationMatrix]], one keyed aggregate. With
    * `exactDecimal` the sums are exact for fixed-point data and the
    * correlation replays bit-for-bit (the q150 oracle surface).
    * Feeds the Simpson's-paradox screen: compare per-stratum signs
    * against the pooled sign.
    *
    * Output: (groupCol, n, corr) with corr ROUND(6).
    */
  def correlationByGroup(
      df: DataFrame, groupCol: String, colA: String, colB: String,
      exactDecimal: Boolean = false): DataFrame = {
    def v(c: String): Column =
      if (exactDecimal) col(c).cast("decimal(18,4)")
      else col(c).cast("double")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(v(colA)).cast("double").as("__sa"),
        sum(v(colA) * v(colA)).cast("double").as("__saa"),
        sum(v(colB)).cast("double").as("__sb"),
        sum(v(colB) * v(colB)).cast("double").as("__sbb"),
        sum(v(colA) * v(colB)).cast("double").as("__sab"))
      .selectExpr(groupCol, "CAST(__n AS BIGINT) AS n",
        "round(try_divide(__n * __sab - __sa * __sb," +
          " sqrt((__n * __saa - __sa * __sa)" +
          " * (__n * __sbb - __sb * __sb))), 6) AS corr")
  }

  /** Naive and seasonal-naive forecast baselines per series: the mean
    * absolute one-step and `seasonLag`-step differences — the MASE
    * denominators every forecast evaluation needs before any model is
    * fit, and a seasonality detector by their ratio (≪1 means the
    * seasonal lag explains the series better than persistence).
    *
    * One keyed window sort shared by both lags; every |Δ| is an exact
    * µ-unit integer, sums accumulate in DECIMAL, and the means/ratio
    * are fixed IEEE shapes, ROUND(6).
    *
    * Output: (seriesCol, n, mae_naive, mae_seasonal, seasonal_ratio).
    */
  def maseBaselines(
      df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
      seasonLag: Int = 7, unitsPerValue: Double = 1e6): DataFrame = {
    require(seasonLag >= 2, "seasonal lag must exceed the naive lag")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(seriesCol)).orderBy(col(tsCol), col("__vq"))
    val lagged = df
      .select(col(seriesCol), col(tsCol).cast("long").as("__t"),
        microUnits(col(valCol), unitsPerValue).as("__vq"))
      .withColumnRenamed("__t", tsCol)
      .withColumn("__d1", abs(col("__vq") - lag(col("__vq"), 1).over(w)))
      .withColumn("__dm",
        abs(col("__vq") - lag(col("__vq"), seasonLag).over(w)))
    lagged.groupBy(col(seriesCol))
      .agg(count(lit(1)).as("n"),
        count(col("__d1")).as("__n1"),
        sum(col("__d1").cast("decimal(38,0)")).cast("double").as("__s1"),
        count(col("__dm")).as("__nm"),
        sum(col("__dm").cast("decimal(38,0)")).cast("double").as("__sm"))
      // no ROUND: each output is a pure division chain on exact
      // operands (bit-replayable) — and s/n with a repeating decimal
      // expansion (n divisible by 3) parks the true value ON a
      // round-half boundary where engines legitimately disagree
      .selectExpr(seriesCol, "n",
        "try_divide(__s1, CAST(__n1 AS DOUBLE)) / " +
          s"$unitsPerValue AS mae_naive",
        "try_divide(__sm, CAST(__nm AS DOUBLE)) / " +
          s"$unitsPerValue AS mae_seasonal",
        "try_divide(try_divide(__sm, CAST(__nm AS DOUBLE))," +
          " try_divide(__s1, CAST(__n1 AS DOUBLE))) AS seasonal_ratio")
  }

  /** Cross-sectional fleet outliers: each observation z-scored against
    * its (cohort, time-bucket) peers — the "this sensor disagrees with
    * the fleet right now" screen, orthogonal to per-series outlier
    * rules (a sensor can be self-consistent and still wrong). One
    * (cohort, bucket) stats aggregate (exact µ-unit sums), one keyed
    * join back, pure IEEE z; the |z| cut compares identical doubles on
    * any engine — no rounding enters the predicate.
    *
    * Output: flagged rows only — (cohort, bucket, idCol, value, z),
    * z ROUND(6).
    */
  def fleetOutliers(
      df: DataFrame, cohortCol: String, tsCol: String, idCol: String,
      valCol: String, bucketUs: Long = 3600000000L,
      zThreshold: Double = 3.0,
      unitsPerValue: Double = 1e6): DataFrame = {
    require(zThreshold > 0 && bucketUs > 0, "positive threshold/bucket")
    val base = df.select(col(cohortCol).as("cohort"),
      expr(s"`$tsCol` div ${bucketUs}L").as("bucket"),
      col(idCol), col(valCol),
      microUnits(col(valCol), unitsPerValue).as("__vq"))
    val stats = base.groupBy(col("cohort"), col("bucket"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__vq").cast("decimal(38,0)")).cast("double").as("__s"),
        sum((col("__vq") * col("__vq")).cast("decimal(38,0)"))
          .cast("double").as("__ss"))
      .withColumn("__mean", col("__s") / col("__n"))
      .withColumn("__std", sqrt(expr(
        "try_divide(__n * __ss - __s * __s, __n * (__n - 1.0))")))
    base.join(stats, Seq("cohort", "bucket"))
      .withColumn("__z", expr(
        "try_divide(CAST(__vq AS DOUBLE) - __mean, __std)"))
      .filter(abs(col("__z")) > zThreshold)
      .select(col("cohort"), col("bucket"), col(idCol), col(valCol),
        round(col("__z"), 6).as("z"))
  }

  /** Grouped concentration (HHI) of an integer weight across
    * subgroups within each group — "which parts depend on one
    * supplier", "which topics are one-source". HHI = (Σc²)/T² per
    * group, exact integer arithmetic (one (group, subgroup) weight
    * aggregate, one group reduce), top-k most concentrated via
    * TakeOrderedAndProject on the RAW double (identical on any
    * engine; display value is rounded separately), group-key
    * tie-break.
    *
    * Output: (groupCol, n_subgroups, total_weight, hhi), k rows,
    * groups with ≥ minSubgroups subgroups only.
    */
  def groupedConcentration(
      df: DataFrame, groupCol: String, subCol: String,
      weightCol: String, minSubgroups: Int = 2, k: Int = 20): DataFrame = {
    val per = df.groupBy(col(groupCol), col(subCol))
      .agg(sum(col(weightCol).cast("long")).as("__w"))
    per.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_subgroups"),
        sum(col("__w")).as("total_weight"),
        sum(col("__w").cast("decimal(19,0)") * col("__w"))
          .cast("double").as("__sq"))
      .filter(col("n_subgroups") >= minSubgroups)
      .withColumn("__hhi", col("__sq") /
        (col("total_weight").cast("double") *
          col("total_weight").cast("double")))
      .orderBy(col("__hhi").desc, col(groupCol))
      .limit(k)
      .select(col(groupCol), col("n_subgroups"), col("total_weight"),
        round(col("__hhi"), 6).as("hhi"))
  }

  /** Log-rank test (Mantel–Cox) between two cohorts — the inference
    * companion to the q206 Kaplan–Meier curves: at each distinct
    * event time, observed-vs-expected cohort-A events under the
    * shared-hazard null; Z = (O_A − E_A)/√V. Exactness: risk sets and
    * event counts are pure integer window cumsums; each time's
    * E/V term is ONE fixed-shape division of exact integers, then
    * DECIMAL(28,6)-quantized before the order-free sum (the q267
    * discipline), so the statistic replays off-engine bit-for-bit.
    *
    * Scale shape: subjects collapse to the distinct-DURATION table
    * first (one aggregate), so the risk-set cumsum's global window
    * runs over duration cardinality — bounded by the observation
    * window in days, not by subjects (the maxConcurrency carry
    * caveat, stated).
    */
  def logRank(
      subjects: DataFrame, // (cohortCol 0/1, durationCol long, eventCol 0/1)
      cohortCol: String, durationCol: String, eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val durs = subjects
      .select(col(cohortCol).as("__g"),
        col(durationCol).cast("long").as("__d"),
        col(eventCol).cast("long").as("__e"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("__c"),
        coalesce(sum(when(col("__g") === 0, lit(1L))), lit(0L)).as("__ca"),
        sum(col("__e")).as("__dd"),
        coalesce(sum(when(col("__g") === 0, col("__e"))), lit(0L))
          .as("__da"))
    val w = Window.orderBy(col("__d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = durs
      .withColumn("__rn", sum(col("__c")).over(w))
      .withColumn("__ra", sum(col("__ca")).over(w))
      .filter(col("__dd") > 0)
      .withColumn("__et",
        (col("__ra") * col("__dd")).cast("double") /
          col("__rn").cast("double"))
      .withColumn("__vt", when(col("__rn") > 1,
        (col("__dd") * col("__ra") * (col("__rn") - col("__ra")) *
          (col("__rn") - col("__dd"))).cast("double") /
          ((col("__rn") * col("__rn")).cast("double") *
            (col("__rn") - 1).cast("double"))).otherwise(lit(0.0)))
    val cohorts = subjects.agg(
      coalesce(sum(when(col(cohortCol) === 0, lit(1L))), lit(0L))
        .as("n_a"),
      coalesce(sum(when(col(cohortCol) =!= 0, lit(1L))), lit(0L))
        .as("n_b"))
    terms.agg(
        count(lit(1)).as("n_event_times"),
        sum(col("__da")).cast("long").as("o_a"),
        sum(col("__et").cast("decimal(28,6)")).cast("double").as("e_a"),
        sum(col("__vt").cast("decimal(28,6)")).cast("double").as("v_a"))
      .crossJoin(broadcast(cohorts))
      .select(col("n_a"), col("n_b"), col("n_event_times"), col("o_a"),
        col("e_a"), col("v_a"),
        ((col("o_a").cast("double") - col("e_a")) / sqrt(col("v_a")))
          .as("z"))
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) distance between each
    * group's integer-value distribution and the corpus distribution —
    * the metric that sees WHERE two length/score distributions differ,
    * not just that they do (KS sees only the max gap, PSI needs
    * binning). W₁ = ∫|F_g − F| dv evaluated on the distinct-value
    * grid: Σ_v |cum_g(v)·N − cum(v)·n_g| · gap(v) — exact integers
    * (the cross-multiplied CDF trick, no division until the final
    * per-group scale by n_g·N).
    *
    * Scale shape: one (group, value) count, a bounded
    * groups×distinct-values grid (the resample-grid pattern — the
    * grid is value-cardinality-sized, never row-sized), two cumsum
    * windows sharing the group partitioning. Magnitude contract:
    * n_g·N·maxGap·|V| < 2⁶³.
    */
  def wassersteinToCorpus(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val perGV = base.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("__c"))
    val vals = base.groupBy(col("v")).agg(count(lit(1)).as("__cg"))
    val groups = base.groupBy(col("g")).agg(count(lit(1)).as("n_rows"))
    val grid = groups.crossJoin(vals)
      .join(perGV, Seq("g", "v"), "left")
      .na.fill(0L, Seq("__c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("g")).orderBy(col("v"))
    val total = base.count()
    grid
      .withColumn("__cumS", sum(col("__c")).over(wCum))
      .withColumn("__cumG", sum(col("__cg")).over(wCum))
      .withColumn("__gap", lead(col("v"), 1).over(wNext) - col("v"))
      .filter(col("__gap").isNotNull)
      .withColumn("__term",
        abs(col("__cumS") * lit(total) - col("__cumG") * col("n_rows")) *
          col("__gap"))
      .groupBy(col("g"))
      .agg(max(col("n_rows")).as("n_rows"),
        sum(col("__term")).cast("long").as("w1_num"))
      .select(col("g").as(groupCol), col("n_rows"), col("w1_num"),
        (col("w1_num").cast("double") /
          (col("n_rows").cast("double") * lit(total.toDouble)))
          .as("w1"))
      .orderBy(groupCol)
  }

  /** Split-conformal prediction intervals (Vovk; Lei et al. 2018) —
    * the distribution-free coverage guarantee check: calibrate a
    * symmetric interval around a per-group median predictor on the
    * even-id half, report empirical coverage on the odd-id half.
    * q̂ is the ⌈(1−α)(n+1)⌉-th smallest calibration residual — an
    * EXACT order statistic selected by integer rank (k =
    * (9(n+1)+9) DIV 10 for α = 0.1, no float ceil), the median an
    * explicit two-middle-rank average; the only float ops are one
    * subtract/abs per residual and the final coverage division, all
    * fixed-shape and engine-replayable. Groups with n_calib < 9 are
    * dropped (k would exceed n — the conformal small-sample rule).
    *
    * Scale shape: two windows and two aggregates, all partitioned by
    * the group key; no all-pairs, no sort beyond the per-group
    * window. The conformal guarantee (coverage ≥ 1−α in expectation)
    * is what a serving gate asserts before shipping a predictor.
    */
  def conformalInterval(
      df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("g"),
      col(idCol).cast("long").as("id"),
      col(valueCol).cast("double").as("v"))
    val calib = base.filter(col("id") % 2 === 0)
    val test = base.filter(col("id") % 2 === 1)
    val wOrd = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    val wAll = Window.partitionBy(col("g"))
    val med = calib
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) DIV 2") ||
        col("rn") === expr("(n + 2) DIV 2"))
      .groupBy(col("g"))
      .agg((sum(col("v")) / count(lit(1)).cast("double")).as("med"),
        max(col("n")).as("n_calib"))
      .filter(col("n_calib") >= 9)
    val wR = Window.partitionBy(col("g"))
      .orderBy(col("__r"), col("v"), col("id"))
    val qhat = calib.join(med, Seq("g"))
      .withColumn("__r", abs(col("v") - col("med")))
      .withColumn("__rr", row_number().over(wR))
      .filter(col("__rr") === expr("(9 * (n_calib + 1) + 9) DIV 10"))
      .select(col("g"), col("med"), col("n_calib"),
        col("__r").as("qhat"))
    test.join(qhat, Seq("g"))
      .groupBy(col("g"))
      .agg(max(col("n_calib")).as("n_calib"), max(col("med")).as("med"),
        max(col("qhat")).as("qhat"), count(lit(1)).as("n_test"),
        count(when(abs(col("v") - col("med")) <= col("qhat"), lit(1)))
          .as("n_covered"))
      .select(col("g").as(groupCol), col("n_calib"), col("med"),
        col("qhat"), col("n_test"), col("n_covered"),
        (col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"))
      .orderBy(groupCol)
  }

  /** Bitmap-index distinct counting (the Roaring/Druid pattern): ids
    * pack into 63-bit lanes — lane = id DIV 63, bit = id MOD 63 — and
    * each (group, lane) OR-combines to one long; the distinct count is
    * Σ popcount(lane). Why over count(distinct): bit_or is a tiny
    * fixed-width MERGEABLE partial aggregate (map-side combined, one
    * long per lane), so the shuffle carries ≤ idRange/63 longs per
    * group instead of every distinct id, and lane bitmaps from
    * different runs/partitions re-merge later — the property
    * count(distinct) fundamentally lacks. 63-bit lanes (not 64) keep
    * every shifted bit inside signed int64, the q276 dHash discipline
    * — engines with CHECKED shifts replay it. The exact
    * count(distinct) rides along as the self-check.
    *
    * Contract: ids must be non-negative integers (dictionary-encoded
    * upstream if natural keys are strings).
    */
  def bitmapDistinct(
      df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    val lanes = df
      .select(col(groupCol).as("g"),
        expr(s"$idCol DIV 63").as("__lane"),
        expr(s"shiftleft(1L, CAST($idCol % 63 AS INT))").as("__bit"))
      .groupBy(col("g"), col("__lane"))
      .agg(expr("bit_or(__bit)").as("__bm"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_lanes"),
        sum(expr("bit_count(__bm)")).cast("long").as("n_distinct_bitmap"))
    val exact = df.groupBy(col(groupCol).as("g"))
      .agg(countDistinct(col(idCol)).as("n_distinct_exact"))
    lanes.join(exact, Seq("g"))
      .select(col("g").as(groupCol), col("n_lanes"),
        col("n_distinct_bitmap"), col("n_distinct_exact"))
      .orderBy(groupCol)
  }

  /** Referential-integrity profile: for each declared FK edge
    * (relation label, child frame, child key, parent frame, parent
    * key) report total child rows, distinct child keys, orphan rows
    * (child rows whose key has no parent), distinct orphan keys, and
    * the orphan-row rate. NULL child keys are excluded (SQL FK
    * semantics: a NULL reference is not a violation).
    *
    * Scale shape: the child is FIRST collapsed to distinct keys with
    * row counts and the parent to distinct keys, so the join runs at
    * key cardinality — never child-rows × parent-rows. Totals and
    * orphan counts come from ONE conditional aggregate over the
    * left-joined key table (no second scan of either input); each
    * edge contributes a single row, unioned at the end. At 100 TB the
    * per-edge cost is two distinct-aggregates plus one key-sized join
    * — the same plan a dedicated DQ engine (Deequ's hasReferentialIntegrity)
    * compiles to.
    */
  def refIntegrity(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "declare at least one FK edge")
    edges.map { case (label, child, childKey, parent, parentKey) =>
      val ck = child.filter(col(childKey).isNotNull)
        .groupBy(col(childKey).as("__k"))
        .agg(count(lit(1)).as("__n"))
      val pk = parent.select(col(parentKey).as("__k")).distinct()
        .withColumn("__p", lit(1))
      ck.join(pk, Seq("__k"), "left")
        .agg(
          coalesce(sum(col("__n")), lit(0L)).cast("long").as("n_child"),
          count(lit(1)).as("n_keys"),
          coalesce(sum(when(col("__p").isNull, col("__n"))), lit(0L))
            .cast("long").as("n_orphan_rows"),
          count(when(col("__p").isNull, lit(1))).as("n_orphan_keys"))
        .select(lit(label).as("relation"), col("n_child"), col("n_keys"),
          col("n_orphan_rows"), col("n_orphan_keys"),
          (col("n_orphan_rows").cast("double") /
            col("n_child").cast("double")).as("orphan_rate"))
    }.reduce(_.unionAll(_)).orderBy("relation")
  }

  /** ABC (Pareto) classification of entities by an integer value:
    * class A = entities whose cumulative value (mass strictly above
    * them, plus their own) stays within 80% of the total, B within
    * 95%, C the tail — the inventory/effort-prioritization classic.
    *
    * Entirely on the distinct-VALUE table: every entity in a tie block
    * shares the same strictly-above mass, so its class is a pure
    * integer comparison (cum·5 ≤ T·4, cum·20 ≤ T·19 — cross-multiplied,
    * no float anywhere) and no per-entity ranking ever happens. The
    * strictly-above prefix uses the bucketed carry ([[valueRanks]] on
    * the negated value, mass-weighted).
    *
    * Output: (abc_class, n_entities, value_total, share), share
    * ROUND(6), classes present in the data only, ordered A→C.
    */
  def abcClassification(
      df: DataFrame, valueCol: String, buckets: Int = 1024): DataFrame = {
    val vc = df.select((-col(valueCol).cast("long")).as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__m"))
      .withColumn("__mass", (-col("__v")) * col("__m"))
    val run = withValueBucket(vc, buckets).withColumn("__min",
      coalesce(sum(col("__mass")).over(belowInBucket), lit(0L)))
    val totals = run.groupBy(col("__bucket"))
      .agg(sum(col("__mass")).as("__tot"))
    val carried = totals.withColumn("__carry",
      coalesce(sum(col("__tot")).over(bucketsBelow), lit(0L)))
    val tot = broadcast(run.agg(sum(col("__mass")).as("__T")))
    run
      .join(broadcast(carried.select(col("__bucket"), col("__carry"))),
        "__bucket")
      .crossJoin(tot)
      .withColumn("__cum",
        col("__carry") + col("__min") + (-col("__v")))
      .withColumn("abc_class",
        when(col("__cum") * 5 <= col("__T") * 4, lit("A"))
          .when(col("__cum") * 20 <= col("__T") * 19, lit("B"))
          .otherwise(lit("C")))
      .groupBy(col("abc_class"))
      .agg(sum(col("__m")).as("n_entities"),
        sum(col("__mass")).as("value_total"),
        round(sum(col("__mass")).cast("double") /
          max(col("__T")).cast("double"), 6).as("share"))
  }

  /** Bivariate Mahalanobis outliers: rows whose (x, y) pair sits
    * outside the data's own correlation ellipse — catches the
    * "plausible x, plausible y, impossible PAIR" rows that marginal
    * z-scores miss entirely (a 2-unit order at a 200-unit price). The
    * 2×2 covariance inverts in closed form, so the whole screen is one
    * exact-sum aggregate (µ-unit DECIMAL — one 1-row broadcast) plus a
    * per-row fixed IEEE chain; the d² cut compares identical doubles
    * on any engine. Threshold defaults to the χ²₂ 99% point.
    *
    * Output: flagged rows only — (idCols…, xCol, yCol, d2), d2
    * ROUND(6).
    */
  def mahalanobis2d(
      df: DataFrame, xCol: String, yCol: String, idCols: Seq[String],
      threshold: Double = 9.21, unitsPerValue: Double = 1e4): DataFrame = {
    val xq = microUnits(col(xCol), unitsPerValue)
    val yq = microUnits(col(yCol), unitsPerValue)
    val base = df.select(
      idCols.map(col) ++ Seq(col(xCol), col(yCol),
        xq.as("__xq"), yq.as("__yq")): _*)
    val g = broadcast(base.agg(
      count(lit(1)).cast("double").as("__n"),
      sum(col("__xq").cast("decimal(38,0)")).cast("double").as("__sx"),
      sum(col("__yq").cast("decimal(38,0)")).cast("double").as("__sy"),
      sum(col("__xq").cast("decimal(19,0)") * col("__xq"))
        .cast("double").as("__sxx"),
      sum(col("__yq").cast("decimal(19,0)") * col("__yq"))
        .cast("double").as("__syy"),
      sum(col("__xq").cast("decimal(19,0)") * col("__yq"))
        .cast("double").as("__sxy")))
    val joined = base.crossJoin(g)
      .withColumn("__cxx", expr(
        "(__sxx - __sx * __sx / __n) / (__n - 1.0)"))
      .withColumn("__cyy", expr(
        "(__syy - __sy * __sy / __n) / (__n - 1.0)"))
      .withColumn("__cxy", expr(
        "(__sxy - __sx * __sy / __n) / (__n - 1.0)"))
      .withColumn("__dx", expr("CAST(__xq AS DOUBLE) - __sx / __n"))
      .withColumn("__dy", expr("CAST(__yq AS DOUBLE) - __sy / __n"))
      .withColumn("__d2", expr(
        "try_divide(__cyy * __dx * __dx" +
          " - 2.0 * __cxy * __dx * __dy + __cxx * __dy * __dy," +
          " __cxx * __cyy - __cxy * __cxy)"))
    joined.filter(col("__d2") > threshold)
      .select(idCols.map(col) ++ Seq(col(xCol), col(yCol),
        round(col("__d2"), 6).as("d2")): _*)
  }

  /** Per-series drift screen: Welch's t between each series' first and
    * second half of the GLOBAL time span — which sensors moved, not
    * just whether the fleet did. One conditional aggregate keyed by
    * the series (six exact µ-unit sums per row), per-row fixed IEEE t;
    * the |t| cut compares identical doubles. Series missing either
    * half (or with a degenerate variance) drop out via NULL.
    *
    * Output: flagged series only — (seriesCol, n_pre, n_post,
    * mean_pre, mean_post, t_stat), means ROUND(6).
    */
  def seriesDrift(
      df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
      tThreshold: Double = 3.0, unitsPerValue: Double = 1e6): DataFrame = {
    val span = broadcast(df.agg(
      min(col(tsCol).cast("long")).as("__lo"),
      max(col(tsCol).cast("long")).as("__hi")))
    val vq = microUnits(col(valCol), unitsPerValue)
    def dsum0(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
    val pre = col(tsCol).cast("long") < col("__mid")
    val g = df.crossJoin(span)
      .withColumn("__mid", expr("__lo + (__hi - __lo) div 2"))
      .groupBy(col(seriesCol))
      .agg(
        sum(pre.cast("long")).cast("double").as("__n1"),
        dsum0(when(pre, vq).otherwise(lit(0L))).as("__s1"),
        dsum0(when(pre, vq * vq).otherwise(lit(0L))).as("__ss1"),
        sum((!pre).cast("long")).cast("double").as("__n2"),
        dsum0(when(!pre, vq).otherwise(lit(0L))).as("__s2"),
        dsum0(when(!pre, vq * vq).otherwise(lit(0L))).as("__ss2"))
      .withColumn("__v1", expr(
        "try_divide(__n1 * __ss1 - __s1 * __s1, __n1 * (__n1 - 1.0))"))
      .withColumn("__v2", expr(
        "try_divide(__n2 * __ss2 - __s2 * __s2, __n2 * (__n2 - 1.0))"))
      .withColumn("__t", expr(
        "try_divide(__s1 / __n1 - __s2 / __n2," +
          " sqrt(__v1 / __n1 + __v2 / __n2))"))
    g.filter(abs(col("__t")) > tThreshold)
      .selectExpr(seriesCol,
        "CAST(__n1 AS BIGINT) AS n_pre", "CAST(__n2 AS BIGINT) AS n_post",
        s"round(__s1 / __n1 / $unitsPerValue, 6) AS mean_pre",
        s"round(__s2 / __n2 / $unitsPerValue, 6) AS mean_post",
        "round(__t, 6) AS t_stat")
  }

  /** Welch's unequal-variance t-test between every pair of groups —
    * the "did the metric move between cohorts" primitive. One
    * map-side-combined aggregate (count, Σv, Σv² in integer µ-units /
    * DECIMAL — exact, order-free), then the group-pair join runs on
    * the |groups|-bounded stats table. t and the Welch–Satterthwaite
    * df are fixed IEEE shapes on exact sums (the µ scaling cancels),
    * ROUND(6); means are reported in original units.
    *
    * Output: (group_a, group_b, n_a, n_b, mean_a, mean_b, t_stat, df)
    * for group_a < group_b.
    */
  def welchTTest(
      df: DataFrame, groupCol: String, valCol: String,
      unitsPerValue: Double = 1e6): DataFrame = {
    val vq = microUnits(col(valCol), unitsPerValue)
    val g = df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(vq.cast("decimal(38,0)")).cast("double").as("s"),
        sum((vq * vq).cast("decimal(38,0)")).cast("double").as("ss"))
    val a = g.select(col("g").as("group_a"), col("n").as("na"),
      col("s").as("sa"), col("ss").as("ssa"))
    val b = g.select(col("g").as("group_b"), col("n").as("nb"),
      col("s").as("sb"), col("ss").as("ssb"))
    val paired = a.join(b, col("group_a") < col("group_b"))
    val va = expr("try_divide(na * ssa - sa * sa, na * (na - 1.0))")
    val vb = expr("try_divide(nb * ssb - sb * sb, nb * (nb - 1.0))")
    val sea = va / col("na")
    val seb = vb / col("nb")
    val se2 = sea + seb
    paired.select(
      col("group_a"), col("group_b"),
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      round(col("sa") / col("na") / unitsPerValue, 6).as("mean_a"),
      round(col("sb") / col("nb") / unitsPerValue, 6).as("mean_b"),
      round((col("sa") / col("na") - col("sb") / col("nb")) /
        sqrt(se2), 6).as("t_stat"),
      round(se2 * se2 / (sea * sea / (col("na") - 1.0) +
        seb * seb / (col("nb") - 1.0)), 6).as("df"))
  }

  /** One-way ANOVA F across k groups — the k-sample generalization of
    * [[welchTTest]] (classic equal-variance form): F =
    * (SSB/(k−1)) / (SSW/(N−k)) with SSB = Σ_g S_g²/n_g − S²/N and
    * SSW = Σ_g (SS_g − S_g²/n_g), all from one (n, Σv, Σv²) aggregate
    * per group in integer µ-units.
    *
    * Exactness: group sums are exact integers (µ-quantized input,
    * cast-first decimal squares); each group's S_g²/n_g and SSW term
    * is ONE fixed IEEE shape on those exact numbers, quantized to
    * DECIMAL(28,6) before the order-free cross-group sum (the q267
    * discipline — group sets are data-dependent, so a raw double sum
    * would be reduction-order-dependent). Magnitude contract:
    * per-group |SS_g| < 10²² µ² (v ~10⁶ µ-units × 10¹⁰ rows headroom).
    *
    * Scale shape: one map-side-combined aggregate over the data, then
    * everything on the |groups|-bounded stats table.
    */
  def anovaF(
      df: DataFrame, groupCol: String, quantCol: String): DataFrame = {
    val g = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(col(quantCol).cast("decimal(38,0)")).as("__s"),
        sum(col(quantCol).cast("decimal(19,0)") * col(quantCol))
          .as("__ss"))
    val nd = col("__n").cast("double")
    val sd = col("__s").cast("double")
    val ssd = col("__ss").cast("double")
    val terms = g.select(col("__n"), col("__s"),
      (sd * sd / nd).cast("decimal(28,6)").as("__tb"),
      (ssd - sd * sd / nd).cast("decimal(28,6)").as("__tw"))
    val agg = terms.agg(
      count(lit(1)).as("k"),
      sum(col("__n")).cast("long").as("n"),
      sum(col("__s")).as("__stot"),
      sum(col("__tb")).as("__sbq"),
      sum(col("__tw")).as("__swq"))
    // The decimal sums' scaled integers exceed 2⁵³, so a direct
    // decimal→double cast double-rounds on DuckDB (the q180 lesson):
    // split into exact-long FLOOR + sub-2⁵³ fraction, ONE IEEE add.
    def split(c: Column): Column =
      floor(c).cast("long").cast("double") + (c - floor(c)).cast("double")
    val ntd = col("n").cast("double")
    val std = col("__stot").cast("double")
    val kd = col("k").cast("double")
    val sb = split(col("__sbq"))
    val sw = split(col("__swq"))
    // ss_* ship RAW: the chains are bit-identical cross-engine by
    // construction, and ROUND(6) at 10¹³ magnitude is lossy on
    // engines that round via ×10⁶ (DuckDB) — rounding would CREATE
    // divergence, not absorb it.
    // degenerate guards: k = 1 (no between df), n = k (no within df),
    // or zero within-variance all make F undefined — null-propagate
    // instead of an ANSI /0 error (Round12Spec pins both shapes)
    agg.select(col("k"), col("n"),
      (sb - std * std / ntd).as("ss_between"),
      sw.as("ss_within"),
      round(try_divide(
        try_divide(sb - std * std / ntd, kd - 1.0),
        try_divide(sw, ntd - kd)), 6).as("f_stat"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between two cohorts, with the
    * tie-corrected normal approximation — the non-parametric two-sample
    * location test that needs no distributional assumption (the rank
    * companion to [[welchTTest]]).
    *
    * Exactness: everything runs on the distinct-value table. Average
    * ranks are rationals with denominator 2, so DOUBLED rank sums are
    * pure integers: 2R_A = Σ_v cA_v·(2·cum_before + c_v + 1); the tie
    * term Σ(c³−c) is exact long arithmetic. The only IEEE work is the
    * final fixed-shape z chain. Magnitude contract: N·(N+1) and the
    * largest tie c³ below 2⁶³ (N < 2·10⁶ per test cell — the
    * distinct-duration caveat applies to the rank table's global
    * cumsum window, bounded by VALUE cardinality).
    *
    * Scale shape: one (value) aggregate with conditional cohort sums,
    * one bounded ordered window over distinct values, one final row.
    */
  def mannWhitneyU(
      df: DataFrame, cohortCol: String, quantCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = df
      .select(col(quantCol).cast("long").as("__v"),
        (col(cohortCol) === 0).cast("long").as("__ia"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__c"), sum(col("__ia")).as("__ca"))
    val wAsc = Window.orderBy(col("__v"))
    val ranked = byV.withColumn("__cb", coalesce(sum(col("__c"))
      .over(wAsc.rowsBetween(Long.MinValue, -1)), lit(0L)))
    val agg = ranked.agg(
      sum(col("__ca")).cast("long").as("n_a"),
      (sum(col("__c")) - sum(col("__ca"))).cast("long").as("n_b"),
      sum(col("__ca") * (lit(2L) * col("__cb") + col("__c") + 1L))
        .cast("long").as("__r2a"),
      sum(col("__c") * col("__c") * col("__c") - col("__c"))
        .cast("long").as("__ties"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val nd = (col("n_a") + col("n_b")).cast("double")
    val u2 = col("__r2a") - col("n_a") * (col("n_a") + 1L)
    // degenerate guards (ANSI doubles error on /0): n < 2 zeroes the
    // tie denominator; an all-tied or single-cohort input zeroes varU —
    // z is undefined there and null-propagates (Round12Spec pins this)
    val varU = nad * nbd / 12.0 *
      ((nd + 1.0) - try_divide(col("__ties").cast("double"),
        nd * (nd - 1.0)))
    agg.select(col("n_a"), col("n_b"),
      (u2.cast("double") / 2.0).as("u_a"),
      round(try_divide((u2.cast("double") - nad * nbd) / 2.0,
        sqrt(varU)), 6).as("z"))
  }

  /** Kruskal–Wallis H across k groups — the rank-based one-way ANOVA
    * ([[anovaF]]'s non-parametric sibling), with the standard tie
    * correction: H = [12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)] / C,
    * C = 1 − Σ(c³−c)/(N³−N).
    *
    * Exactness: the same doubled-integer-rank machinery as
    * [[mannWhitneyU]] (2R_g exact longs on the distinct-value grid);
    * each group's R_g²/n_g runs as ONE fixed IEEE shape
    * (2R·2R/(4n)), DECIMAL(28,6)-quantized before the order-free
    * cross-group sum. Magnitude contract: 2R_g ≤ N(N+1) < 2⁶³ and
    * (N(N+1))²/(4n_g) < 10²² — N below ~2·10⁶ per test cell.
    *
    * Scale shape: one (group, value) aggregate, one (value) rollup,
    * one bounded ordered window over distinct values, a |groups|-sized
    * stats table, one final row.
    */
  def kruskalWallis(
      df: DataFrame, groupCol: String, quantCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gv = df
      .select(col(groupCol).as("__g"),
        col(quantCol).cast("long").as("__v"))
      .groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__cg"))
    val byV = gv.groupBy(col("__v")).agg(sum(col("__cg")).as("__c"))
    val wAsc = Window.orderBy(col("__v"))
    val ranked = byV.withColumn("__cb", coalesce(sum(col("__c"))
      .over(wAsc.rowsBetween(Long.MinValue, -1)), lit(0L)))
    val perGroup = gv.join(ranked, Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__cg")).cast("long").as("__n"),
        sum(col("__cg") * (lit(2L) * col("__cb") + col("__c") + 1L))
          .cast("long").as("__r2"))
      .select(col("__g"), col("__n"),
        (col("__r2").cast("double") * col("__r2").cast("double") /
          (lit(4.0) * col("__n").cast("double"))).cast("decimal(28,6)")
          .as("__t"))
    val ties = broadcast(ranked.agg(
      sum(col("__c") * col("__c") * col("__c") - col("__c"))
        .cast("long").as("__ties")))
    val agg = perGroup.agg(
        count(lit(1)).as("k"),
        sum(col("__n")).cast("long").as("n"),
        // floor/frac split: the scaled decimal sum exceeds 2⁵³, so a
        // direct decimal→double cast double-rounds on DuckDB (q180)
        (floor(sum(col("__t"))).cast("long").cast("double") +
          (sum(col("__t")) - floor(sum(col("__t")))).cast("double"))
          .as("__sr"))
      .crossJoin(ties)
    val nd = col("n").cast("double")
    val h0 = lit(12.0) / (nd * (nd + 1.0)) * col("__sr") -
      lit(3.0) * (nd + 1.0)
    // degenerate guards: n = 1 zeroes the tie denominator; an all-tied
    // input drives the correction to 0 — H undefined, null (pinned)
    val corr = lit(1.0) -
      try_divide(col("__ties").cast("double"), nd * nd * nd - nd)
    agg.select(col("k"), col("n"),
      round(h0, 6).as("h_uncorrected"),
      round(try_divide(h0, corr), 6).as("h"))
  }

  /** Histogram-overlap coefficient between every pair of groups:
    * Σ_b min(p_a(b), p_b(b)) over a shared value-bucket histogram —
    * 1 means identical distributions, 0 disjoint support. The
    * symmetric, bounded cousin of PSI/KS for "how much do these two
    * cohorts' distributions actually share".
    *
    * Exactness: cross-multiplied — Σ min(c_a·n_b, c_b·n_a) stays in
    * exact integers (min of products, no division), ONE final divide
    * by n_a·n_b, ROUND(6). Magnitude contract: c·n < 2⁶³.
    *
    * Scale shape: one (group, bucket) aggregate; the pair join runs
    * on the |groups|·|buckets|-bounded histogram table, never rows.
    */
  def distributionOverlap(
      df: DataFrame, groupCol: String, bucketCol: String): DataFrame = {
    val h = df.groupBy(col(groupCol).as("__g"), col(bucketCol)
        .as("__b"))
      .agg(count(lit(1)).as("__c"))
    val n = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
    val ha = h.join(n, "__g")
      .select(col("__g").as("g_a"), col("__b"),
        col("__c").as("__ca"), col("__n").as("__na"))
    val hb = h.join(n, "__g")
      .select(col("__g").as("g_b"), col("__b"),
        col("__c").as("__cb"), col("__n").as("__nb"))
    ha.join(hb, Seq("__b"))
      .filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(least(col("__ca") * col("__nb"), col("__cb") * col("__na")))
          .cast("long").as("__num"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        round(col("__num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("overlap"))
  }

  /** Cohen's kappa between two deterministic boolean raters —
    * chance-corrected agreement, the standard check that two labeling
    * RULES (quality gates, heuristic filters) agree beyond what their
    * marginals force. κ = (p_o − p_e)/(1 − p_e).
    *
    * Exactness: the 2×2 table is one conditional-sum aggregate
    * (exact integers); p_o and p_e are fixed IEEE shapes on those
    * counts, ROUND(6).
    */
  def cohenKappa(
      df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val a = raterA.cast("boolean")
    val b = raterB.cast("boolean")
    val t = df.agg(
      count(lit(1)).as("n"),
      count(when(a && b, lit(1))).as("n11"),
      count(when(a && !b, lit(1))).as("n10"),
      count(when(!a && b, lit(1))).as("n01"),
      count(when(!a && !b, lit(1))).as("n00"))
    val nd = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nd
    val pe = ((col("n11") + col("n10")).cast("double") *
        (col("n11") + col("n01")).cast("double") +
      (col("n01") + col("n00")).cast("double") *
        (col("n10") + col("n00")).cast("double")) / (nd * nd)
    t.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("p_observed"),
      round(pe, 6).as("p_expected"),
      round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** Grubbs-style max studentized deviation per group: G =
    * max|v − mean| / s — the "is the single worst point an outlier"
    * screen (compare against the Grubbs critical value offline).
    *
    * Exactness: the max deviation is computed CROSS-MULTIPLIED —
    * max|v·n − S| over exact integers (no per-row division, no float
    * max ordering), then ONE fixed IEEE shape: G =
    * (maxdev/n) / sqrt((SS − S²/n)/(n−1)), ROUND(6). Magnitude
    * contract: |v|·n < 2⁶³ and SS < 2⁵³ (milli-unit inputs).
    *
    * Scale shape: one stats aggregate, a 1-row-per-group broadcast
    * back onto the rows, one max aggregate — two passes, both
    * map-side combined.
    */
  def grubbsMax(
      df: DataFrame, groupCol: String, quantCol: String): DataFrame = {
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(col(quantCol)).cast("long").as("__s"),
        sum(col(quantCol).cast("decimal(19,0)") * col(quantCol))
          .cast("double").as("__ss"))
    val dev = df.join(broadcast(stats), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(max(abs(col(quantCol) * col("__n") - col("__s")))
          .cast("long").as("__maxdev"),
        max(col("__n")).as("n"), max(col("__s")).as("__s2"),
        max(col("__ss")).as("__ss2"))
    val nd = col("n").cast("double")
    val sd = col("__s2").cast("double")
    val s2 = (col("__ss2") - sd * sd / nd) / (nd - lit(1.0))
    dev.filter(col("n") >= 3)
      .select(col(groupCol), col("n"),
        round((col("__maxdev").cast("double") / nd) / sqrt(s2), 6)
          .as("g_stat"))
  }

  /** One-vs-rest two-sample KS screen per group with Benjamini–
    * Hochberg FDR control — the multiple-testing-correct version of
    * "which cohorts' distributions deviate": per group, the exact KS
    * D against the complement (cross-multiplied integer CDFs, the
    * q158 discipline), the asymptotic Kolmogorov p (3-term series,
    * valid for λ ≳ 0.3 — deterministic regardless), then BH step-up
    * adjustment p̃ᵢ = min_{j≥i} pⱼ·m/j on the ROUNDED p surface (so
    * the cross-engine ranking is over identical values).
    *
    * Exactness: D's numerator is max|cumA·n_B − cumB·n_A| over exact
    * integers (no float max); λ and the exp series are fixed IEEE
    * shapes; p rounds to 6 BEFORE ranking, and everything downstream
    * (rank, m/j scaling, running min) runs on that fixed surface.
    *
    * Scale shape: one (group, value) count, per-group cumsum windows
    * over the distinct-value grid, then a |groups|-row table for the
    * BH pass (its global window is bounded by group cardinality).
    */
  def ksBhFdr(
      df: DataFrame, groupCol: String, quantCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("__g"),
      col(quantCol).cast("long").as("__v"))
    val gv = base.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val vAll = base.groupBy(col("__v")).agg(count(lit(1)).as("__ct"))
    val nPer = base.groupBy(col("__g")).agg(count(lit(1)).as("__na"))
    val tot = broadcast(base.agg(count(lit(1)).as("__nt")))
    val grid = nPer.crossJoin(vAll)
      .join(gv, Seq("__g", "__v"), "left")
      .na.fill(0L, Seq("__c"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = grid
      .withColumn("__cumA", sum(col("__c")).over(w))
      .withColumn("__cumT", sum(col("__ct")).over(w))
      .crossJoin(tot)
      .groupBy(col("__g"))
      .agg(max(col("__na")).as("n_a"),
        (max(col("__nt")) - max(col("__na"))).as("n_b"),
        max(abs(col("__cumA") * (col("__nt") - col("__na")) -
          (col("__cumT") - col("__cumA")) * col("__na")))
          .cast("long").as("d_num"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val lam = col("d_num").cast("double") / (nad * nbd) *
      sqrt(nad * nbd / (nad + nbd))
    val p = least(lit(1.0),
      lit(2.0) * exp(lit(-2.0) * lam * lam) -
        lit(2.0) * exp(lit(-8.0) * lam * lam) +
        lit(2.0) * exp(lit(-18.0) * lam * lam))
    val scored = d.withColumn("p_raw", round(p, 6))
    val wRank = Window.orderBy(col("p_raw"), col("__g"))
    val m = Window.partitionBy()
    val ranked = scored
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__m", count(lit(1)).over(m))
    val wMin = Window.orderBy(col("__rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .withColumn("__adj", min(col("p_raw") *
        col("__m").cast("double") / col("__rk").cast("double"))
        .over(wMin))
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
        col("d_num"), col("p_raw"),
        round(least(lit(1.0), col("__adj")), 6).as("p_adj"))
  }

  /** Difference-in-differences estimate over a 2×2 (treat, post)
    * design: DiD = (m̄₁₁ − m̄₁₀) − (m̄₀₁ − m̄₀₀) — the standard causal
    * panel estimator. One conditional-sum aggregate (pivot discipline
    * — each cell's sum has a FIXED position, no float order freedom),
    * exact integer sums in the 2⁵³ window, fixed IEEE shapes,
    * ROUND(6).
    */
  def diffInDiff(
      df: DataFrame, treatCol: String, postCol: String,
      quantCol: String): DataFrame = {
    val t = col(treatCol) === 1
    val post = col(postCol) === 1
    def cell(tt: Boolean, pp: Boolean) = {
      val cond = (if (tt) t else !t) && (if (pp) post else !post)
      (count(when(cond, lit(1))), sum(when(cond, col(quantCol))))
    }
    val (n11, s11) = cell(true, true)
    val (n10, s10) = cell(true, false)
    val (n01, s01) = cell(false, true)
    val (n00, s00) = cell(false, false)
    val agg = df.agg(
      n11.as("n11"), s11.cast("long").as("__s11"),
      n10.as("n10"), s10.cast("long").as("__s10"),
      n01.as("n01"), s01.cast("long").as("__s01"),
      n00.as("n00"), s00.cast("long").as("__s00"))
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    val m11 = mean("__s11", "n11")
    val m10 = mean("__s10", "n10")
    val m01 = mean("__s01", "n01")
    val m00 = mean("__s00", "n00")
    agg.select(col("n11"), col("n10"), col("n01"), col("n00"),
      round(m11, 6).as("mean_treat_post"),
      round(m10, 6).as("mean_treat_pre"),
      round(m01, 6).as("mean_ctrl_post"),
      round(m00, 6).as("mean_ctrl_pre"),
      round((m11 - m10) - (m01 - m00), 6).as("did"))
  }

  /** Pooled two-proportion z-test: z = (p₁ − p₀) /
    * √(p̂(1−p̂)(1/n₁ + 1/n₀)) — the conversion-rate A/B significance
    * check. One conditional-count aggregate, exact integers, one
    * fixed IEEE chain, ROUND(6).
    */
  def twoProportionZ(
      df: DataFrame, grpCol: String, succCol: String): DataFrame = {
    val g1 = col(grpCol) === 1
    val s = col(succCol) === 1
    val agg = df.agg(
      count(when(g1, lit(1))).as("n1"),
      count(when(g1 && s, lit(1))).as("x1"),
      count(when(!g1, lit(1))).as("n0"),
      count(when(!g1 && s, lit(1))).as("x0"))
    // degenerate guards: an empty arm zeroes a 1/n term; a saturated
    // (or empty) pooled rate zeroes the variance — z undefined, null
    val p1 = try_divide(col("x1").cast("double"), col("n1").cast("double"))
    val p0 = try_divide(col("x0").cast("double"), col("n0").cast("double"))
    val pp = try_divide((col("x1") + col("x0")).cast("double"),
      (col("n1") + col("n0")).cast("double"))
    agg.select(col("n1"), col("x1"), col("n0"), col("x0"),
      round(p1, 6).as("p_treat"), round(p0, 6).as("p_ctrl"),
      round(try_divide(p1 - p0, sqrt(pp * (lit(1.0) - pp) *
        (try_divide(lit(1.0), col("n1").cast("double")) +
          try_divide(lit(1.0), col("n0").cast("double"))))), 6).as("z"))
  }

  /** Calibration (reliability) table + per-bin Brier for a DYADIC
    * score: predictions arrive as exact integer numerators `num` over
    * the fixed denominator 2^k (a dyadic score is exactly
    * representable, so there is NO float-rounding surface anywhere —
    * the q337 all-integer replay class). Bins are num·bins div 2^k;
    * the Brier numerator is Σ(num − y·2^k)² in exact integers
    * (cross-multiplied — never a per-row float square).
    *
    * Scale shape: one map-side-combined aggregate over the rows;
    * |bins| output rows. Magnitude contract: Σ(num−y·2^k)² < 2⁶³.
    */
  def calibrationBins(
      df: DataFrame, numCol: String, yCol: String, k: Int,
      bins: Int = 10): DataFrame = {
    require(k >= 1 && k <= 40 && bins >= 2, "need 1<=k<=40, bins>=2")
    val denom = 1L << k
    val num = col(numCol).cast("long")
    val y = col(yCol).cast("long")
    val err = num - y * denom
    val byBin = df
      .select(expr(s"CAST($numCol AS BIGINT) * $bins div ${denom}L")
          .as("bin"),
        num.as("__num"), y.as("__y"), err.as("__e"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__num")).cast("long").as("__sn"),
        sum(col("__y")).cast("long").as("__sy"),
        sum(col("__e").cast("decimal(19,0)") * col("__e"))
          .cast("double").as("__sq"))
    val nd = col("n").cast("double")
    byBin.select(col("bin"), col("n"), col("__sy").as("n_pos"),
      (col("__sn").cast("double") / (nd * denom.toDouble))
        .as("mean_pred"),
      (col("__sy").cast("double") / nd).as("rate"),
      round(col("__sq") / (nd * denom.toDouble * denom.toDouble), 6)
        .as("brier"))
  }

  /** Exact ROC AUC via the rank statistic — AUC = P(score⁺ > score⁻)
    * + ½P(tie), which is the [[mannWhitneyU]] U divided by n⁺n⁻. The
    * same doubled-integer tied-rank machinery: AUC =
    * (2R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻), exact integers into ONE division —
    * no sorting of floats, no trapezoids, no approximation.
    *
    * Scale shape: one (score) aggregate with a conditional positive
    * count, one bounded cumsum window over distinct scores, one row.
    */
  def aucExact(
      df: DataFrame, scoreCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = df
      .select(col(scoreCol).cast("long").as("__v"),
        (col(yCol) === 1).cast("long").as("__ip"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__c"), sum(col("__ip")).as("__cp"))
    val wAsc = Window.orderBy(col("__v"))
    val ranked = byV.withColumn("__cb", coalesce(sum(col("__c"))
      .over(wAsc.rowsBetween(Long.MinValue, -1)), lit(0L)))
    ranked.agg(
        sum(col("__cp")).cast("long").as("n_pos"),
        (sum(col("__c")) - sum(col("__cp"))).cast("long").as("n_neg"),
        sum(col("__cp") * (lit(2L) * col("__cb") + col("__c") + 1L))
          .cast("long").as("__r2p"))
      .select(col("n_pos"), col("n_neg"),
        ((col("__r2p") - col("n_pos") * (col("n_pos") + 1L))
          .cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double"))).as("auc"))
  }

  /** Exact average precision (area under the PR curve, the AP@all
    * definition): AP = (1/P) Σ_{positives at rank k} cumPos(k)/k over
    * the (score desc, id asc) total order — the tie-broken
    * deterministic ranking both engines replay. Per-positive
    * precision terms are one exact-integer division each, quantized
    * to DECIMAL(28,12) before the order-free sum.
    *
    * Scale note: AP is a GLOBAL ranking metric — the ordered window
    * runs over the evaluation set, which is bounded by contract (an
    * eval slice, not the corpus; the q7 global-scan caveat applies).
    */
  def averagePrecision(
      df: DataFrame, scoreCol: String, yCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(scoreCol).desc, col(idCol).asc)
    val ranked = df
      .select(col(scoreCol), col(idCol),
        (col(yCol) === 1).cast("long").as("__y"))
      .withColumn("__k", row_number().over(w))
      .withColumn("__cp", sum(col("__y"))
        .over(w.rowsBetween(Long.MinValue, 0)))
    ranked
      .filter(col("__y") === 1)
      .select((col("__cp").cast("double") / col("__k").cast("double"))
        .cast("decimal(28,12)").as("__t"))
      .agg(count(lit(1)).as("n_pos"),
        sum(col("__t")).as("__s"))
      .select(col("n_pos"),
        round(col("__s").cast("double") /
          col("n_pos").cast("double"), 6).as("avg_precision"))
  }

  /** Exponential (log₂) histogram per group — the Prometheus-native-
    * histogram-style bucketing that covers decades of dynamic range
    * in ~60 buckets. The bucket of a POSITIVE integer value is its
    * BIT LENGTH, computed exactly as the length of the base-2 string
    * (`conv(v, 10, 2)` ↔ `printf('%b', v)`) — a pure-integer bucket
    * function with NO float log anywhere (floor(log2) via libm would
    * 1-ulp-misbucket exact powers of two). Zero/negative values take
    * bucket 0.
    *
    * Scale shape: one scan-stage expression + one map-side-combined
    * aggregate.
    */
  def log2Histogram(
      df: DataFrame, groupCol: String, quantCol: String): DataFrame = {
    val v = col(quantCol).cast("long")
    val bucket = when(v >= 1, length(conv(v, 10, 2)))
      .otherwise(lit(0)).cast("int")
    df.select(col(groupCol), bucket.as("bucket"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", when(col("bucket") >= 1,
        expr("shiftleft(1L, bucket - 1)")).otherwise(lit(0L)))
      .withColumn("hi", when(col("bucket") >= 1,
        expr("shiftleft(1L, bucket) - 1L")).otherwise(lit(0L)))
  }

  /** Importance weights for covariate shift: per score bucket, the
    * target/source frequency ratio w(b) = (c_t(b)·n_s)/(c_s(b)·n_t) —
    * the reweighting every domain-adaptation pipeline applies before
    * training on source data to match a target distribution.
    *
    * Exactness: cross-multiplied exact integers into ONE division,
    * ROUND(6). Buckets with no source mass are dropped (their weight
    * is undefined, not infinite — the caller clips or rebins).
    *
    * Scale shape: two (cohort, bucket) aggregates on one pass, a
    * bounded histogram join.
    */
  def importanceWeights(
      df: DataFrame, isTargetCol: String,
      bucketCol: String): DataFrame = {
    val t = col(isTargetCol) === 1
    val h = df.groupBy(col(bucketCol).as("bucket"))
      .agg(count(when(t, lit(1))).as("c_t"),
        count(when(!t, lit(1))).as("c_s"))
    val n = broadcast(df.agg(
      count(when(t, lit(1))).as("__nt"),
      count(when(!t, lit(1))).as("__ns")))
    h.crossJoin(n)
      .filter(col("c_s") > 0)
      .select(col("bucket"), col("c_t"), col("c_s"),
        round((col("c_t") * col("__ns")).cast("double") /
          (col("c_s") * col("__nt")).cast("double"), 6).as("weight"))
  }

  /** Mann–Kendall trend test per series over bucketed totals: S =
    * Σ_{i<j} sign(vⱼ − vᵢ) with the tie-corrected normal
    * approximation — the non-parametric "is this drifting
    * monotonically" test that needs no linearity assumption (the
    * inference companion to Theil–Sen's slope).
    *
    * Exactness: bucket totals are exact integers, S is an integer
    * pair sum, the tie term Σt(t−1)(2t+5) is exact long arithmetic,
    * and z is one fixed IEEE shape with the ±1 continuity correction
    * in a CASE both engines replay. ROUND(6).
    *
    * Scale shape: the data reduces to (series, bucket) totals FIRST;
    * the O(B²) pair join runs on bucket cardinality per series
    * (weeks, not rows) — the q345 bounded-cubic discipline.
    */
  def mannKendall(
      df: DataFrame, seriesCol: String, bucketCol: String,
      quantCol: String, minBuckets: Int = 8): DataFrame = {
    val b = df.groupBy(col(seriesCol).as("__g"),
        col(bucketCol).as("__b"))
      .agg(sum(col(quantCol)).cast("long").as("__v"))
    val l = b.select(col("__g"), col("__b").as("__bi"),
      col("__v").as("__vi"))
    val r = b.select(col("__g"), col("__b").as("__bj"),
      col("__v").as("__vj"))
    val s = l.join(r, Seq("__g"))
      .filter(col("__bi") < col("__bj"))
      .groupBy(col("__g"))
      .agg(sum(signum(col("__vj") - col("__vi")).cast("long"))
        .cast("long").as("s_stat"))
    val ties = b.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__nv"),
        sum(col("__t")).cast("long").as("n_buckets"),
        sum(col("__t") * (col("__t") - 1) *
          (lit(2L) * col("__t") + 5)).cast("long").as("__tp"))
    val nd = col("n_buckets").cast("double")
    val varS = (nd * (nd - 1.0) * (lit(2.0) * nd + 5.0) -
      col("__tp").cast("double")) / 18.0
    s.join(ties, "__g")
      .filter(col("n_buckets") >= minBuckets && varS > 0)
      .select(col("__g").as(seriesCol), col("n_buckets"),
        col("s_stat"),
        round(when(col("s_stat") > 0,
          (col("s_stat").cast("double") - 1.0) / sqrt(varS))
          .when(col("s_stat") < 0,
            (col("s_stat").cast("double") + 1.0) / sqrt(varS))
          .otherwise(lit(0.0)), 6).as("z"))
  }

  /** Autocorrelation-adjusted effective sample size per series:
    * ESS = n / (1 + 2(ρ₁ + ρ₂ + ρ₃)) — how many INDEPENDENT samples
    * the series is worth (the correction every naive ±1.96/√n
    * confidence band needs on autocorrelated telemetry). Truncated
    * at lag 3 (the [[autocorrelation]] window).
    *
    * Exactness: the ρₖ are the q199 chains on exact µ-unit sums; the
    * ESS is one fixed IEEE chain with the ρ sum in explicit
    * left-assoc order, ROUND(6); degenerate series null-propagate.
    */
  def effectiveSampleSize(
      df: DataFrame, seriesCol: String, tsCol: String,
      valCol: String, unitsPerValue: Double = 1e6): DataFrame = {
    val one = lagMoments(df, seriesCol, tsCol, valCol, 3, unitsPerValue,
      leading = Seq(count(lit(1)).as("__n0")))
    one
      .selectExpr(seriesCol, "CAST(`__n0` AS BIGINT) AS n",
        s"${lagCorr(1)} AS __r1", s"${lagCorr(2)} AS __r2",
        s"${lagCorr(3)} AS __r3")
      .selectExpr(seriesCol, "n",
        "round(__r1, 6) AS rho1", "round(__r2, 6) AS rho2",
        "round(__r3, 6) AS rho3",
        "round(CAST(n AS DOUBLE) / (1.0D + 2.0D *" +
          " (__r1 + __r2 + __r3)), 6) AS ess")
  }

  /** Mix/rate decomposition of a metric gap between two cohorts
    * (Oaxaca–Blinder / revenue-bridge style): Δ = m̄_A − m̄_B splits
    * into MIX (segment-share shift valued at B's rates,
    * Σ(w_A − w_B)·r_B) plus RATE (within-segment change weighted by
    * A's shares, Σ w_A·(r_A − r_B)) — the "did the metric move or did
    * the mix move" answer, exactly additive by construction.
    *
    * Exactness: shares and rates are one exact-integer division each;
    * per-segment mix/rate terms are fixed IEEE shapes quantized to
    * DECIMAL(28,12) before the order-free cross-segment sums; the
    * headline Δ is computed from the SAME quantities, so
    * mix + rate = Δ holds bit-exactly. ROUND(6) surface.
    *
    * Scale shape: one (cohort, segment) aggregate; everything after
    * runs on the |segments|-bounded table.
    */
  def mixRateDecomposition(
      df: DataFrame, cohortCol: String, segmentCol: String,
      quantCol: String): DataFrame = {
    val cell = df.groupBy(col(segmentCol).as("__seg"))
      .agg(
        count(when(col(cohortCol) === 1, lit(1))).as("__na"),
        coalesce(sum(when(col(cohortCol) === 1, col(quantCol))),
          lit(0L)).cast("long").as("__sa"),
        count(when(col(cohortCol) =!= 1, lit(1))).as("__nb"),
        coalesce(sum(when(col(cohortCol) =!= 1, col(quantCol))),
          lit(0L)).cast("long").as("__sb"))
    val tot = broadcast(cell.agg(
      sum(col("__na")).cast("long").as("__ta"),
      sum(col("__nb")).cast("long").as("__tb")))
    val withTot = cell.crossJoin(tot)
      .filter(col("__na") > 0 && col("__nb") > 0)
    val wa = col("__na").cast("double") / col("__ta").cast("double")
    val wb = col("__nb").cast("double") / col("__tb").cast("double")
    val ra = col("__sa").cast("double") / col("__na").cast("double")
    val rb = col("__sb").cast("double") / col("__nb").cast("double")
    withTot
      .select(
        ((wa - wb) * rb).cast("decimal(28,12)").as("__mix"),
        (wa * (ra - rb)).cast("decimal(28,12)").as("__rate"),
        (wa * ra).cast("decimal(28,12)").as("__ma"),
        (wb * rb).cast("decimal(28,12)").as("__mb"))
      .agg(count(lit(1)).as("n_segments"),
        round((sum(col("__ma")) - sum(col("__mb"))).cast("double"), 6)
          .as("delta_total"),
        round(sum(col("__mix")).cast("double"), 6).as("mix_effect"),
        round(sum(col("__rate")).cast("double"), 6).as("rate_effect"))
  }

  /** Top-N + OTHER rollup: the reporting collapse that keeps the N
    * largest keys by an exact integer measure and folds the tail into
    * one OTHER row — deterministic cut on (measure desc, key asc).
    * One aggregate, a broadcast of the N winners, one re-aggregate.
    */
  def topNOtherRollup(
      df: DataFrame, keyCol: String, quantCol: String,
      topN: Int = 5): DataFrame = {
    require(topN >= 1, "topN must be positive")
    val per = df.groupBy(col(keyCol).as("__k"))
      .agg(sum(col(quantCol)).cast("long").as("__s"),
        count(lit(1)).as("__n"))
    val winners = per
      .orderBy(col("__s").desc, col("__k").asc)
      .limit(topN)
      .select(col("__k"))
      .withColumn("__w", lit(1))
    per.join(broadcast(winners), Seq("__k"), "left")
      .select(when(col("__w").isNotNull, col("__k").cast("string"))
        .otherwise(lit("OTHER")).as(keyCol),
        col("__s"), col("__n"))
      .groupBy(col(keyCol))
      .agg(sum(col("__s")).cast("long").as("total"),
        sum(col("__n")).cast("long").as("n_rows"),
        count(lit(1)).as("n_keys"))
  }

  /** Leave-one-out source ablation: for each group, the corpus mean
    * of a metric WITHOUT that group — (S − S_g)/(N − n_g) — and the
    * delta against the full-corpus mean. The one-query answer to
    * "which source drags the corpus quality", run before dropping a
    * source from the mix.
    *
    * Exactness: one grouped integer aggregate + a 1-row broadcast
    * total; each output is a fixed IEEE shape on exact integers,
    * ROUND(6).
    */
  def looAblation(
      df: DataFrame, groupCol: String, quantCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(quantCol)).cast("long").as("__s"))
    val tot = broadcast(df.agg(count(lit(1)).as("__nt"),
      sum(col(quantCol)).cast("long").as("__st")))
    per.crossJoin(tot)
      .select(col(groupCol), col("n"),
        round(col("__s").cast("double") / col("n").cast("double"), 6)
          .as("group_mean"),
        round(col("__st").cast("double") / col("__nt").cast("double"),
          6).as("corpus_mean"),
        round((col("__st") - col("__s")).cast("double") /
          (col("__nt") - col("n")).cast("double"), 6)
          .as("loo_mean"),
        round((col("__st") - col("__s")).cast("double") /
          (col("__nt") - col("n")).cast("double") -
          col("__st").cast("double") / col("__nt").cast("double"), 6)
          .as("loo_delta"))
  }

  /** Per-group → corpus decile alignment table: for each group and
    * decile q, the group's exact lower-order-statistic quantile and
    * the corpus's, plus the shift between them — the bounded mapping
    * table quantile normalization applies (align a source's value
    * distribution onto the corpus before mixing).
    *
    * Exactness: the q316 cross-multiplied selection — quantile =
    * min v with cum·10 ≥ q·n — pure integers, no interpolation, no
    * division at all.
    *
    * Scale shape: one (group, value) count, per-group cumsum windows
    * over distinct values, a 9-row literal decile fan-out; output is
    * |groups|·9 rows.
    */
  def quantileAlign(
      df: DataFrame, groupCol: String, quantCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("__g"),
      col(quantCol).cast("long").as("__v"))
    val gv = base.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val nPer = base.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val tot = broadcast(base.agg(count(lit(1)).as("__nt")))
    val wg = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = gv.withColumn("__cum", sum(col("__c")).over(wg))
      .join(nPer, "__g")
    val deciles = (1 to 9).map(q => s"($q)").mkString(", ")
    val spark = df.sparkSession
    val dec = broadcast(spark.sql(
      s"SELECT * FROM VALUES $deciles AS t(decile)"))
    val perGroup = cums.crossJoin(dec)
      .filter(col("__cum") * 10 >= col("decile") * col("__n"))
      .groupBy(col("__g"), col("decile"))
      .agg(min(col("__v")).as("v_group"))
    val cv = base.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
    val wc = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val corpus = cv.withColumn("__cum", sum(col("__c")).over(wc))
      .crossJoin(tot)
      .crossJoin(dec)
      .filter(col("__cum") * 10 >= col("decile") * col("__nt"))
      .groupBy(col("decile"))
      .agg(min(col("__v")).as("v_corpus"))
    perGroup.join(broadcast(corpus), "decile")
      .select(col("__g").as(groupCol), col("decile"),
        col("v_group"), col("v_corpus"),
        (col("v_corpus") - col("v_group")).as("shift"))
  }

  /** Theil T inequality index per group (plus its population mean):
    * T = (1/n) Σ (xᵢ/μ)·ln(xᵢ/μ) — 0 at perfect equality, ln(n) at
    * total concentration; the decomposable inequality measure next
    * to the Gini/Lorenz family (q203/q210).
    *
    * Exactness: xᵢ/μ = xᵢ·n/S is exact integers into one division;
    * the per-row ln term is DECIMAL(28,12)-quantized before the
    * order-free sum (q267 discipline), final /n and ROUND(6).
    * Zero/negative x are excluded (ln undefined) — deterministically
    * on both engines. Magnitude contract: xᵢ·n < 2⁶³.
    */
  def theilIndex(
      df: DataFrame, groupCol: String, quantCol: String): DataFrame = {
    val pos = df.filter(col(quantCol) > 0)
      .select(col(groupCol).as("__g"),
        col(quantCol).cast("long").as("__x"))
    val stats = pos.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).cast("long")
        .as("__s"))
    val terms = pos.join(broadcast(stats), "__g")
      .select(col("__g"), col("__n"), col("__s"),
        ((col("__x") * col("__n")).cast("double") /
          col("__s").cast("double")).as("__r"))
      .select(col("__g"), col("__n"), col("__s"),
        (col("__r") * log(col("__r"))).cast("decimal(28,12)")
          .as("__t"))
    terms.groupBy(col("__g"))
      .agg(max(col("__n")).as("n"), max(col("__s")).as("__s2"),
        sum(col("__t")).as("__sum"))
      .select(col("__g").as(groupCol), col("n"),
        (col("__s2").cast("double") / col("n").cast("double"))
          .as("mean"),
        round(col("__sum").cast("double") / col("n").cast("double"),
          6).as("theil"))
  }
}
