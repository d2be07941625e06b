package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.IngestBatch
import graft.operators.{LabelMatcher, Matchers}

/** PromQL analytical extension — the operations the reference *rejects*
  * with 400s (reference: src/ingestors/http/simple_promql.rs:150-171) and
  * explicitly delegates to the storage backend as future work
  * (SURVEY §2.5). Here the backend is Spark, so they evaluate natively:
  *
  *  - `<agg>_over_time(sel[range])` — per-series aggregation over the
  *    range window (sum/avg/count/min/max/last);
  *  - `<agg> by (l1,...) (sel)` / `<agg> without (...) (sel)` /
  *    bare `<agg>(sel)` — instant-vector aggregation across series: each
  *    series contributes its latest sample in the lookback window, grouped
  *    by the label clause (sum/avg/count/min/max);
  *  - `topk(k, sel)` / `bottomk(k, sel)` — deterministic global ranking
  *    of the instant vector (TakeOrderedAndProject, never a full sort);
  *  - binary expressions `vec ⊙ vec` (one-to-one label matching on the
  *    canonical sorted-entries form of the labels map) and `vec ⊙ scalar`
  *    for + - * /, with selectors and per-series range functions as
  *    operands (`rate(a[5m]) / rate(b[5m])`).
  *
  * A query is lexed once ([[PromQLLexer]]) and parsed in one
  * recursive-descent pass over its tokens: binary operators by
  * precedence climbing (`or` < `and`/`unless` < comparisons < `+ -` <
  * `* / % atan2` < `^`, all left-associative except `^`), then function
  * calls and selectors. A query nested deeper than a fixed bound rejects
  * with [[SimplePromQL.PromQLError]] instead of overflowing the stack.
  * Selector parsing (matchers, ranges, durations, rejection of binary ops
  * etc.) is delegated to [[SimplePromQL]], so reference-compatible
  * selector semantics — 1h default lookback, inclusive bounds — carry
  * over; the `offset <dur>` and `@ <time>` modifiers (also absent from
  * the reference) are handled here by shifting or pinning the evaluation
  * window. [[SimplePromQL]] itself keeps the reference's strict rejection
  * behavior; this evaluator is the opt-in extension.
  *
  * Documented deviations from upstream Prometheus (beyond the
  * inclusive-bounds convention noted on [[SubqueryOverTimeQ]]): the
  * duration grammar accepts unit terms in any order with repeats
  * (`1h30m` ≡ `30m1h`), a strict superset of Prometheus's
  * descending-unique order; `@` on a sub-expression of a range query
  * rejects (whole-expression pins evaluate once and replicate — see
  * [[evalRangeApi]]). NESTED subqueries
  * (`max_over_time(min_over_time(x[5m:1m])[1h:5m])`) and binary
  * vector/set/dynamic-scalar operands inside subqueries — the SLO
  * burn-rate shape `max_over_time((errors/requests)[1h:5m])` — now
  * EVALUATE (r14) through [[perStepAny]]: one scan pass per leaf
  * operand with its step grid, operands joined per
  * (matching-labels, step), nested grids shared across outer steps.
  */
object ExtendedPromQL {

  // "present" is present_over_time's op: 1.0 for every series with at
  // least one sample in the window (Prometheus semantics — the grouped
  // aggregation only ever sees series WITH samples, so it is constant 1)
  val OverTimeOps =
    Set("sum", "avg", "count", "min", "max", "last", "stddev", "stdvar",
      "present")
  val InstantAggOps =
    Set("sum", "avg", "count", "min", "max", "stddev", "stdvar", "group")
  val RangeFnOps = Set("rate", "increase", "delta", "resets", "changes",
    "idelta", "irate", "deriv")
  /** Per-value math functions (PromQL's scalar function family): name →
    * number of scalar args AFTER the vector operand (round's step is
    * optional, so it carries a range).
    */
  val MathFnArity: Map[String, Range] = Map(
    "abs" -> (0 to 0), "ceil" -> (0 to 0), "floor" -> (0 to 0),
    "sqrt" -> (0 to 0), "exp" -> (0 to 0), "ln" -> (0 to 0),
    "log2" -> (0 to 0), "log10" -> (0 to 0), "sgn" -> (0 to 0),
    "round" -> (0 to 1), "clamp_min" -> (1 to 1), "clamp_max" -> (1 to 1),
    "clamp" -> (2 to 2),
    // the Prometheus 2.31 trigonometry family (promql/functions.go);
    // deg/rad are the degree<->radian conversions
    "sin" -> (0 to 0), "cos" -> (0 to 0), "tan" -> (0 to 0),
    "asin" -> (0 to 0), "acos" -> (0 to 0), "atan" -> (0 to 0),
    "sinh" -> (0 to 0), "cosh" -> (0 to 0), "tanh" -> (0 to 0),
    "deg" -> (0 to 0), "rad" -> (0 to 0),
    // time functions over vector VALUES (epoch seconds, UTC) -- the
    // Prometheus family; pair with timestamp(sel) for sample times
    "minute" -> (0 to 0), "hour" -> (0 to 0), "day_of_week" -> (0 to 0),
    "day_of_month" -> (0 to 0), "day_of_year" -> (0 to 0),
    "days_in_month" -> (0 to 0),
    "month" -> (0 to 0), "year" -> (0 to 0))

  /** The documented Prometheus-3 delta (served at /docs/promql_delta):
    * functions that exist in Prometheus 3.x but are structurally or
    * deliberately absent HERE — each name rejects with its reason
    * instead of mis-parsing as a metric selector. Everything else in
    * the Prometheus 3 function list evaluates (incl. the experimental
    * limitk/limit_ratio/sort_by_label family and
    * double_exponential_smoothing).
    */
  val UnsupportedFns: Map[String, String] = {
    val histo = "native-histogram sample types do not exist in this " +
      "data model (float/integer/numeric/string/boolean/location/json/" +
      "blob — reference src/datamodel); classic bucket histograms are " +
      "served by histogram_quantile"
    val tsOf = "experimental (Prometheus 3.5 feature flag); pair " +
      "timestamp() with the base selector instead"
    Map(
      "histogram_count" -> histo, "histogram_sum" -> histo,
      "histogram_avg" -> histo, "histogram_fraction" -> histo,
      "histogram_stddev" -> histo, "histogram_stdvar" -> histo,
      "info" -> ("experimental OTel target_info metadata join; the " +
        "catalog API (/series, /api/v1/metadata) serves sensor " +
        "metadata instead"),
      "ts_of_last_over_time" -> tsOf, "ts_of_max_over_time" -> tsOf,
      "ts_of_min_over_time" -> tsOf)
  }

  sealed trait Query {
    def matchers: Seq[LabelMatcher]
    def startUs: Long
    def endUs: Long
  }
  /** Plain selector — identical to the restricted endpoint's semantics. */
  final case class SelectorQ(
      matchers: Seq[LabelMatcher], startUs: Long, endUs: Long) extends Query
  /** `<op>_over_time(sel[range])`. */
  final case class OverTimeQ(
      op: String, matchers: Seq[LabelMatcher], startUs: Long, endUs: Long)
      extends Query
  /** `<op> [by|without (labels)] (sel)`. */
  final case class InstantAggQ(
      op: String, by: Seq[String], without: Boolean,
      matchers: Seq[LabelMatcher], startUs: Long, endUs: Long) extends Query
  /** `<op> [by|without (labels)] (<per-series expr>)` — cross-series
    * aggregation over a FUNCTION result: `sum(rate(x[5m]))`, the
    * canonical PromQL reduction (the reference rejects every
    * aggregation; the plain-selector form is [[InstantAggQ]]). The inner
    * evaluates to one row per series; the fold groups by the kept
    * labels — one extra shuffle keyed on the (tiny) group-label map.
    */
  final case class InstantAggVecQ(
      op: String, by: Seq[String], without: Boolean, inner: Query)
      extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `quantile [by|without (...)] (φ, vec)` — the cross-series
    * φ-quantile aggregation (the one parameterized member of the
    * instant-aggregation family): exact per-group quantile with linear
    * interpolation over the instant vector, grouped by the kept
    * labels.
    */
  final case class QuantileAggQ(
      phi: Double, by: Seq[String], without: Boolean, inner: Query)
      extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `rate/increase/delta(sel[range])` — counter/gauge range functions.
    * Simplified Prometheus semantics (no boundary extrapolation, which
    * Prometheus itself documents as an approximation): `increase` sums
    * consecutive positive deltas and counts the full new value after a
    * counter reset, `rate` divides that by the range in seconds, `delta`
    * is last−first. Series with fewer than two samples yield no result,
    * matching PromQL.
    */
  final case class RangeFnQ(
      op: String, matchers: Seq[LabelMatcher], startUs: Long, endUs: Long)
      extends Query
  /** `quantile_over_time(φ, sel[range])` — exact per-series φ-quantile
    * with linear interpolation (Prometheus semantics; evaluated with
    * Spark's exact `percentile`, which sorts per series).
    */
  final case class QuantileOverTimeQ(
      phi: Double, matchers: Seq[LabelMatcher], startUs: Long, endUs: Long)
      extends Query
  /** `mad_over_time(sel[range])` — per-series median absolute deviation:
    * median(|x − median(x)|), both medians with Prometheus's
    * linear-interpolation quantile rule. Needs the window median before
    * the deviations exist, so evaluation is two sensor-keyed aggregates
    * with a sensor-keyed join between them — still nothing broader than
    * the series key ever shuffles.
    */
  final case class MadOverTimeQ(
      matchers: Seq[LabelMatcher], startUs: Long, endUs: Long)
      extends Query
  /** `predict_linear(sel[range], t)` — the value `t` seconds past the
    * window end under a per-series least-squares fit over
    * (seconds-from-window-end, value): `intercept + slope·t` via the
    * codegen'd `regr_*` aggregates. Series with <2 points yield nothing.
    */
  final case class PredictLinearQ(
      horizonS: Double, matchers: Seq[LabelMatcher],
      startUs: Long, endUs: Long) extends Query
  /** `holt_winters(sel[range], sf, tf)` — Prometheus double exponential
    * smoothing: per series, the smoothed value after sequentially
    * folding the window's samples with smoothing factor `sf` and trend
    * factor `tf` (both in (0,1)). The recursion is inherently
    * sequential, so evaluation is a per-series sorted fold
    * (`flatMapGroups`) — one shuffle on sensor_id, state O(1) per
    * series. Series with fewer than two samples yield no result.
    */
  final case class HoltWintersQ(
      sf: Double, tf: Double, matchers: Seq[LabelMatcher],
      startUs: Long, endUs: Long) extends Query
  /** `sort(v)` / `sort_desc(v)` — the instant vector ordered by value
    * (ties by sensor_id), surfaced as an explicit `rank` column. The
    * rank window is global but runs over the per-SERIES vector (one row
    * per series, catalog-bounded), the same shape [[TopKQ]] ranks.
    */
  final case class SortQ(desc: Boolean, inner: Query) extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `sort_by_label[_desc](vec, "l1", "l2", …)` — the instant vector
    * ranked by label VALUES instead of sample values (Prometheus 3
    * experimental; ties fall through the label list, then the series
    * id). Missing labels sort as empty strings, matching Prometheus's
    * empty-label convention.
    */
  final case class SortByLabelQ(
      desc: Boolean, labels: Seq[String], inner: Query) extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `timestamp(sel)` — each series' latest-sample TIMESTAMP as the
    * value, in float seconds (PromQL semantics). Composes with the
    * time-of-day math functions: `hour(timestamp(sel))`.
    */
  final case class TimestampQ(
      matchers: Seq[LabelMatcher], startUs: Long, endUs: Long) extends Query
  /** `topk(k, sel)` / `bottomk(k, sel)` — the k series with the
    * largest/smallest latest sample in the lookback window, ranked
    * deterministically ((value desc|asc), sensor_id). Without a clause
    * the ranking is global and the input is one row per SERIES, so the
    * final top-k is `TakeOrderedAndProject`, never a full sort; a
    * `by (labels)` / `without (labels)` clause ranks per group
    * (Prometheus grouped topk) via the WindowGroupLimit shape.
    */
  final case class TopKQ(
      op: String, k: Int, by: Seq[String], without: Boolean,
      matchers: Seq[LabelMatcher], startUs: Long, endUs: Long) extends Query
  /** `limitk(k, vec)` — the k series with the smallest deterministic
    * label-hash draws (Prometheus 3's experimental deterministic
    * sampling aggregation: membership depends only on the label set,
    * so it is stable across evals and replayable).
    */
  final case class LimitKQ(
      k: Int, matchers: Seq[LabelMatcher],
      startUs: Long, endUs: Long) extends Query
  /** `limit_ratio(r, vec)` — keeps the series whose label-hash draw
    * falls below `r`; a negative `r` keeps the complement, so
    * `limit_ratio(r)` and `limit_ratio(r − 1)` partition the vector
    * exactly (the Prometheus 3 contract).
    */
  final case class LimitRatioQ(
      r: Double, matchers: Seq[LabelMatcher],
      startUs: Long, endUs: Long) extends Query
  /** `sel <op> scalar` / `scalar <op> sel` for + - * / — arithmetic on
    * an instant vector (each series' latest sample, or a range
    * function's per-series result).
    */
  final case class BinScalarQ(
      op: Char, scalar: Double, scalarOnLeft: Boolean, inner: Query)
      extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `abs/ceil/floor/sqrt/exp/ln/log2/log10/sgn/round/clamp*(vec, ...)`
    * — PromQL's per-value math functions over an instant vector; scalar
    * arguments (round's step, clamp's bounds) follow the vector operand.
    * Prometheus float semantics: `ln(0) = -Inf`, `ln(x<0) = NaN` (and
    * likewise log2/log10), `sqrt(x<0) = NaN`, `round` resolves ties
    * upward (`floor(v/to + 0.5) * to`), `clamp` with min > max yields
    * NaN. Deviations: `ceil`/`floor`/`round` pass through a 64-bit
    * integer stage, so inputs beyond ±2^63 overflow (Prometheus floats
    * that large are already integral, so only absurd magnitudes differ).
    */
  final case class MathFnQ(fn: String, args: Seq[Double], inner: Query)
      extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `vec1 <op> [on(...)|ignoring(...)] vec2` for + - * / — one-to-one
    * vector matching on the FULL label set by default (Prometheus
    * semantics with the metric name excluded; labels here never include
    * the name), restricted to `on` labels or the complement of
    * `ignoring` labels when a modifier is present. Output labels are the
    * matching labels (Prometheus one-to-one semantics). Operands are
    * arbitrary vector expressions — selectors, per-series functions
    * (`rate(a[5m]) / rate(b[5m])`), and aggregations (`sum(a) / sum(b)`,
    * whose group-label maps match exactly like Prometheus's
    * name-stripped label sets). Duplicate match-label sets
    * on a side produce a many-to-many join — callers needing
    * Prometheus's hard error should validate cardinality beforehand.
    * Evaluate via [[evalWith]] (two independent matcher sets need two
    * catalog selections).
    */
  final case class BinVectorQ(
      op: Char, left: Query, right: Query,
      matchOn: Seq[String] = Nil, ignoring: Boolean = false,
      grouping: Option[String] = None, // Some("left") | Some("right")
      groupCopy: Seq[String] = Nil) // group_left(l1,...) labels copied
      extends Query {                 // from the "one" side

    def matchers: Seq[LabelMatcher] = left.matchers
    def startUs: Long = math.min(left.startUs, right.startUs)
    def endUs: Long = math.max(left.endUs, right.endUs)
  }
  /** `vec <cmp> scalar` (or `scalar <cmp> vec`) for > >= < <= == != —
    * Prometheus comparison filtering: series failing the predicate drop
    * out and survivors keep their value; with the `bool` modifier every
    * series survives with value 1.0/0.0 instead.
    */
  final case class BinCmpQ(
      op: String, scalar: Double, scalarOnLeft: Boolean, bool: Boolean,
      inner: Query) extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `vector(s)` — PromQL's scalar→vector conversion: a one-element
    * instant vector with an empty label set. The idiomatic use is the
    * `expr or vector(0)` empty-result fallback. (The reference's
    * restricted endpoint rejects every function call:
    * src/ingestors/http/simple_promql.rs:153-155.)
    */
  final case class VectorLitQ(value: Double) extends Query {
    def matchers: Seq[LabelMatcher] = Seq.empty
    // a literal consumes NO samples: report a neutral (inverted) window
    // so a binary/set parent's min/max window derivation collapses to
    // the other operand's — a [0, 0] window here made `x or vector(0)`
    // widen the caller's scan bound to [epoch, now], a full-history
    // scan at scale for the most idiomatic fallback query
    def startUs: Long = Long.MaxValue
    def endUs: Long = Long.MinValue
  }
  /** `scalar(vec)` — vector→scalar conversion: the single series' value
    * when the inner vector has exactly one element, NaN otherwise
    * (Prometheus semantics). Standalone it evaluates to one unlabeled
    * row; as a binary-arithmetic operand it becomes the dynamic scalar
    * of [[BinDynScalarQ]].
    */
  final case class ScalarQ(inner: Query) extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `vec <op> scalar(other)` for + - * / — arithmetic against a scalar
    * computed at evaluation time. The one-row scalar frame is broadcast
    * into a cross join, a constant-cost nested-loop broadcast at any
    * vector size. Evaluate via [[evalWith]] so the two operands select
    * their series independently.
    */
  final case class BinDynScalarQ(
      op: Char, scalarQ: ScalarQ, scalarOnLeft: Boolean, inner: Query)
      extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = math.min(inner.startUs, scalarQ.startUs)
    def endUs: Long = math.max(inner.endUs, scalarQ.endUs)
  }
  /** `vec1 and|or|unless vec2` — Prometheus set operators between
    * instant vectors, matching on the FULL label set: `and` keeps left
    * rows whose label set also appears on the right (semi join),
    * `unless` keeps those that don't (anti join), `or` returns the left
    * plus right rows whose label set has no left row. Values and labels
    * always come from the contributing side. Evaluate via [[evalWith]].
    */
  final case class BinSetQ(op: String, left: Query, right: Query)
      extends Query {
    def matchers: Seq[LabelMatcher] = left.matchers
    def startUs: Long = math.min(left.startUs, right.startUs)
    def endUs: Long = math.max(left.endUs, right.endUs)
  }
  /** `count_values("label", sel)` — frequency of each distinct latest
    * value across the instant vector, keyed as a one-entry labels map.
    */
  final case class CountValuesQ(
      label: String, matchers: Seq[LabelMatcher], startUs: Long, endUs: Long)
      extends Query
  /** `absent(sel)` — a single row with value 1.0 when NO series matches
    * (or none has a sample in the window); empty result otherwise.
    */
  final case class AbsentQ(
      matchers: Seq[LabelMatcher], startUs: Long, endUs: Long) extends Query
  /** `label_replace(vec, dst, replacement, src, regex)` — when `regex`
    * FULLY matches the `src` label's value (absent ⇒ empty string), set
    * `dst` to the expansion of `replacement` ($1… group refs); series
    * that don't match pass through unchanged; an empty expansion drops
    * `dst`. Operand rules follow the binary-op operands (selectors /
    * per-series functions).
    */
  final case class LabelReplaceQ(
      dst: String, replacement: String, src: String, regex: String,
      inner: Query) extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `label_join(vec, dst, sep, src1, src2, ...)` — `dst` becomes the
    * `sep`-joined values of the source labels (absent ⇒ empty string).
    */
  final case class LabelJoinQ(
      dst: String, sep: String, srcs: Seq[String], inner: Query)
      extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    def startUs: Long = inner.startUs
    def endUs: Long = inner.endUs
  }
  /** `histogram_quantile(φ, sel)` — Prometheus histogram interpolation
    * over `le`-labeled cumulative bucket series: per group (labels minus
    * `le`), rank = φ·total, find the first bucket whose cumulative count
    * covers the rank, interpolate linearly inside it (first bucket's
    * lower bound is 0; the +Inf bucket resolves to the highest finite
    * `le`). Groups whose total is 0 drop out. Assumes monotone bucket
    * counts (no NaN repair pass).
    */
  final case class HistogramQuantileQ(
      phi: Double, matchers: Seq[LabelMatcher], startUs: Long, endUs: Long)
      extends Query
  /** `<op>_over_time(<inner>[range:step])` — a PromQL SUBQUERY (rejected
    * by the reference alongside every other function: src/ingestors/http/
    * simple_promql.rs:150-171, and previously unsupported here too): the
    * inner expression is evaluated as an instant vector at every
    * step-aligned timestamp in `[end − range, end]` (Prometheus
    * alignment: evaluation times are the multiples of `step` inside the
    * range), and the outer `<op>_over_time` folds each series' step
    * values. `phi` carries quantile_over_time's φ.
    *
    * Inner expressions evaluate per (series, step) with the window
    * re-anchored to the step: selectors contribute their latest sample
    * in the lookback window ending at the step, `<agg>_over_time` /
    * `quantile_over_time` / the range functions their window result
    * (the instant evaluation's window functions, keyed by step too),
    * and scalar arithmetic / comparison wrappers apply per step value.
    * An inner `offset` shifts every step window back uniformly
    * (`innerShiftUs`); `innerSpanUs` is the inner window length (the
    * lookback for plain selectors, the bracketed range otherwise).
    * Cross-series aggregations evaluate per step over that step's
    * vector (`max_over_time(sum(rate(x[5m]))[1h:5m])`, the canonical
    * alerting shape); the aggregate's group labels become the series
    * identity the outer fold groups on. Binary vector/set operands and
    * nested subqueries compose per step too: the whole inner evaluates
    * through [[perStepAny]], one scan pass per leaf operand.
    *
    * Boundary convention: each step window is CLOSED ON BOTH ENDS
    * (`timestamp_us >= lo && <= hi`), matching this engine's pervasive
    * inclusive `between()` convention — a sample sitting exactly on a
    * step boundary therefore contributes to both adjacent step windows.
    * This is a deliberate, documented deviation from upstream
    * Prometheus, whose range windows are left-open.
    */
  final case class SubqueryOverTimeQ(
      op: String, phi: Option[Double], inner: Query,
      rangeUs: Long, stepUs: Long, evalEndUs: Long,
      innerShiftUs: Long, innerSpanUs: Long) extends Query {
    def matchers: Seq[LabelMatcher] = inner.matchers
    // the scan span: earliest window start of the first step through the
    // latest window end of the last step (both shifted by inner offset)
    def startUs: Long = evalEndUs - rangeUs - innerShiftUs - innerSpanUs
    def endUs: Long = evalEndUs - innerShiftUs
  }

  import SimplePromQL.{ParsedQuery, PromQLError, msToUs, parseDurationMs}

  import PromQLLexer.{Dur, Ident, Kind, Num, Op, Punct, Str, Tok, lex}

  /** The deepest nesting a query may have: each parenthesised group,
    * function argument and operator operand is one level. The parser
    * and the evaluator both recurse once per level on the caller's
    * thread, and a gateway worker's default stack overflowed on 300
    * nested parens or a 400-term `x + x + …` chain; real queries nest a
    * handful of levels.
    */
  private val MaxDepth = 64

  def parse(query: String, nowUs: Long): Query =
    Parser(query, nowUs, None).query()

  /** Parse with PromQL's `@ start()` / `@ end()` anchors resolved
    * against an explicit evaluation range (a range query's start/end
    * parameters). Both anchors default to the instant evaluation time
    * when the range bound is absent — Prometheus's instant-query
    * semantics, where start() == end() == the query time. An anchor
    * stands wherever a numeric `@ <seconds>` does.
    */
  def parse(query: String, nowUs: Long,
      rangeStartUs: Option[Long], rangeEndUs: Option[Long]): Query =
    Parser(query, nowUs, Some((
      rangeStartUs.getOrElse(nowUs), rangeEndUs.getOrElse(nowUs)))).query()

  /** A query's operator structure: operand token runs joined by binary
    * operators, each node spanning the token range [lo, hi).
    */
  private sealed trait Node { def lo: Int; def hi: Int }
  private final case class Leaf(lo: Int, hi: Int) extends Node
  /** `l op r`, `op` the operator's token index, `tier` its precedence
    * level (0 loosest).
    */
  private final case class Bin(tier: Int, op: Int, l: Node, r: Node)
      extends Node {
    val lo: Int = l.lo // fields, not defs: a chain's tree is deep
    val hi: Int = r.hi
  }

  // operator tiers, loosest first; `^` is the one right-associative tier
  private val OrTier = 0     // or
  private val AndTier = 1    // and, unless
  private val CmpTier = 2    // == != > >= < <=
  private val AddTier = 3    // + -
  private val MulTier = 4    // * / % atan2
  private val PowTier = 5    // ^
  private val Operand = -1   // part of an operand
  private val BoolMod = 6    // `bool` right after a comparison

  /** The extended front end: one recursive-descent pass over the
    * query's tokens, every node a token range of them. A range first
    * splits into its operator tree ([[tree]], precedence climbing: each
    * left-associative tier is a loop), then each node turns into a
    * [[Query]] top-down ([[lower]]), so a node's own checks run before
    * its operands are read. Selector leaves go to [[SimplePromQL.parse]]
    * with their source text, which keeps the reference's selector
    * semantics and messages in one place.
    *
    * Depth, bracket matching and argument commas count from the start
    * of the range at hand ([[PromQLLexer.depths]]), so a stray closer
    * inside a group behaves as it does at the top of a query.
    */
  private final class Parser(src: String, toks: Vector[Tok], nowUs: Long,
      anchors: Option[(Long, Long)]) {

    def query(): Query = expr(0, toks.length, 0)

    private def is(k: Int, kind: Kind, text: String): Boolean =
      k >= 0 && k < toks.length && toks(k).kind == kind && toks(k).text == text

    /** The source text of tokens [lo, hi). */
    private def text(lo: Int, hi: Int): String =
      if (lo >= hi) "" else src.substring(toks(lo).start, toks(hi - 1).end)
    private def text(r: (Int, Int)): String = text(r._1, r._2)

    private def depths(lo: Int, hi: Int): Array[Int] =
      PromQLLexer.depths(toks, lo, hi)

    /** The `)` that brings the depth counted from `open` back to 0, or
      * -1 when there is none.
      */
    private def closeOf(open: Int, hi: Int): Int = {
      val ds = depths(open, hi)
      (open until hi).find(k => ds(k - open) == 0 && is(k, Punct, ")"))
        .getOrElse(-1)
    }

    /** The operator tier of each token of [lo, hi) (or [[Operand]]).
      * A word operator, and a `+`/`-` that would otherwise be binary,
      * is an operand at the start of its tier's segment: the range start,
      * or right after a looser operator. A `+`/`-` after an arithmetic
      * operator, `(`, `,` or `atan2` is a sign. With `arithOnly` the
      * set and comparison operators count as operand tokens.
      */
    private def tiers(lo: Int, hi: Int, arithOnly: Boolean): Array[Int] = {
      val ds = depths(lo, hi)
      val out = Array.fill(hi - lo)(Operand)
      for (k <- lo until hi if ds(k - lo) == 0) {
        val t = toks(k)
        val prev = if (k > lo) out(k - lo - 1) else Operand
        def startsSegment(tier: Int): Boolean =
          k == lo || (prev != Operand &&
            (if (prev == BoolMod) CmpTier else prev) < tier)
        def sign: Boolean = startsSegment(AddTier) || {
          val p = toks(k - 1)
          (p.kind == Op && p.text.length == 1 && "+-*/%^".contains(p.text)) ||
          (p.kind == Punct && (p.text == "(" || p.text == ",")) ||
          (p.kind == Ident && p.text == "atan2" && ds(k - 1 - lo) == 0)
        }
        out(k - lo) = (t.kind, t.text) match {
          case (Ident, "or") if !arithOnly && k > lo => OrTier
          case (Ident, "and" | "unless") if !arithOnly && startsSegment(AndTier) => Operand
          case (Ident, "and" | "unless") if !arithOnly => AndTier
          case (Ident, "bool") if prev == CmpTier => BoolMod
          case (Op, "==" | "!=" | ">" | ">=" | "<" | "<=") if !arithOnly => CmpTier
          case (Op, "+" | "-") => if (sign) Operand else AddTier
          case (Op, "*" | "/" | "%") => MulTier
          case (Ident, "atan2") => if (startsSegment(MulTier)) Operand else MulTier
          case (Op, "^") => PowTier
          case _ => Operand
        }
      }
      out
    }

    /** The operator tree of [lo, hi): operands are the maximal runs of
      * operand tokens, possibly empty (`x or` has an empty right one).
      */
    private def tree(lo: Int, hi: Int): Node = {
      val tier = tiers(lo, hi, arithOnly = false)
      var pos = lo
      def at(k: Int): Int = if (k < hi) tier(k - lo) else Operand
      def operand(): Node = {
        val st = pos
        while (pos < hi && at(pos) == Operand) pos += 1
        Leaf(st, pos)
      }
      def climb(t: Int): Node =
        if (t == PowTier) {
          val parts = scala.collection.mutable.ArrayBuffer(operand())
          val ops = scala.collection.mutable.ArrayBuffer.empty[Int]
          while (at(pos) == PowTier) { ops += pos; pos += 1; parts += operand() }
          ops.indices.foldRight(parts.last)((i, r) => Bin(t, ops(i), parts(i), r))
        } else {
          var left = climb(t + 1)
          while (at(pos) == t) {
            val op = pos
            pos += 1
            if (at(pos) == BoolMod) pos += 1
            left = Bin(t, op, left, climb(t + 1))
          }
          left
        }
      climb(OrTier)
    }

    private def expr(lo: Int, hi: Int, depth: Int): Query =
      lower(tree(lo, hi), depth)

    private def lower(n: Node, depth: Int): Query = {
      if (depth > MaxDepth)
        throw PromQLError(s"Query nests deeper than $MaxDepth levels")
      // a paren group spanning the whole node unwraps
      if (n.lo < n.hi && is(n.lo, Punct, "(")) {
        val close = closeOf(n.lo, n.hi)
        if (close < 0)
          throw PromQLError("Failed to parse PromQL query: unbalanced parentheses")
        if (close == n.hi - 1) return expr(n.lo + 1, close, depth + 1)
      }
      n match {
        case b: Bin => binary(b, depth)
        case Leaf(lo, hi) => primary(lo, hi, depth)
      }
    }

    /** The name of the zero-argument call `name()` filling [lo, hi),
      * written without spaces.
      */
    private def call0(lo: Int, hi: Int): Option[String] =
      if (hi - lo == 3 && toks(lo).kind == Ident && is(lo + 1, Punct, "(") &&
          is(lo + 2, Punct, ")") && toks(lo + 1).start == toks(lo).end &&
          toks(lo + 2).start == toks(lo + 1).end) Some(toks(lo).text)
      else None

    /** `time()` (the evaluation time in epoch seconds, Prometheus's
      * funcTime) and `pi()`.
      */
    private def constant(name: String): Option[Double] = name match {
      case "time" => Some(nowUs / 1e6)
      case "pi" => Some(math.Pi)
      case _ => None
    }

    /** A number: a float literal in Java's syntax, or `time()` / `pi()`
      * with an optional sign right before it.
      */
    private def scalarOf(lo: Int, hi: Int): Option[Double] = {
      val signed = hi - lo == 4 && toks(lo).kind == Op &&
        (toks(lo).text == "-" || toks(lo).text == "+") &&
        toks(lo).end == toks(lo + 1).start
      call0(if (signed) lo + 1 else lo, hi).flatMap(constant) match {
        case Some(v) => Some(if (signed && toks(lo).text == "-") -v else v)
        case None => parseScalar(text(lo, hi))
      }
    }
    private def scalarOf(r: (Int, Int)): Option[Double] = scalarOf(r._1, r._2)
    private def scalarOf(n: Node): Option[Double] = scalarOf(n.lo, n.hi)

    private def binary(b: Bin, depth: Int): Query = {
      val op = toks(b.op).text
      def sub(n: Node): Query = lower(n, depth + 1)
      val missing = b.l.lo == b.l.hi || b.r.lo == b.r.hi
      def scalarScalar = PromQLError("Scalar-scalar expressions are not supported")
      if (b.tier <= AndTier) {
        if (missing)
          throw PromQLError(s"Set operator '$op' is missing an operand")
        BinSetQ(op, requireVectorOperand(sub(b.l), "left"),
          requireVectorOperand(sub(b.r), "right"))
      } else if (b.tier == CmpTier) {
        if (missing)
          throw PromQLError(s"Comparison '$op' is missing an operand")
        val bool = b.r.lo > b.op + 1 // `bool` sits between op and operand
        (scalarOf(b.l), scalarOf(b.r)) match {
          case (Some(_), Some(_)) => throw scalarScalar
          case (Some(v), None) =>
            BinCmpQ(op, v, scalarOnLeft = true, bool,
              requireVectorOperand(sub(b.r), "right"))
          case (None, Some(v)) =>
            BinCmpQ(op, v, scalarOnLeft = false, bool,
              requireVectorOperand(sub(b.l), "left"))
          case (None, None) =>
            throw PromQLError(
              "vector-vector comparisons are not supported — compare " +
                "against a scalar")
        }
      } else {
        val c = if (op == "atan2") 'A' else op.head
        def noOperand = PromQLError(s"Binary operator '$c' is missing an operand")
        if (missing) throw noOperand
        (scalarOf(b.l), scalarOf(b.r)) match {
          case (Some(_), Some(_)) => throw scalarScalar
          case (Some(v), None) =>
            BinScalarQ(c, v, scalarOnLeft = true,
              requireVectorOperand(sub(b.r), "right"))
          case (None, Some(v)) =>
            BinScalarQ(c, v, scalarOnLeft = false,
              requireVectorOperand(sub(b.l), "left"))
          case (None, None) =>
            // optional matching modifiers before the right operand:
            // on(l1,...) or ignoring(l1,...), then group_left/group_right
            // (many-to-one matching), bare or with labels to copy from
            // the "one" side
            val hi = b.r.hi
            def word(k: Int, w: String): Boolean = k < hi && is(k, Ident, w)
            // `(l1, ...)` at k, closed by the first `)`: the labels and
            // the index after the list
            def labels(k: Int): Option[(Seq[String], Int)] =
              if (k < hi && is(k, Punct, "("))
                (k + 1 until hi).find(is(_, Punct, ")"))
                  .map(c => (labelList(k + 1, c), c + 1))
              else None
            var k = b.r.lo
            val matching =
              if (word(k, "on") || word(k, "ignoring")) labels(k + 1) else None
            val ignoring = matching.nonEmpty && word(k, "ignoring")
            val matchOn = matching.fold(Seq.empty[String])(_._1)
            matching.foreach(m => k = m._2)
            var grouping = Option.empty[String]
            var groupCopy = Seq.empty[String]
            if (word(k, "group_left") || word(k, "group_right")) {
              grouping = Some(toks(k).text.stripPrefix("group_"))
              labels(k + 1) match {
                case Some((ls, next)) => groupCopy = ls; k = next
                case None if k + 1 < hi && toks(k + 1).start > toks(k).end =>
                  k += 1
                case None => grouping = None
              }
            }
            if (k >= hi) throw noOperand
            val lq = sub(b.l)
            val rq = if (k == b.r.lo) sub(b.r) else expr(k, hi, depth + 1)
            val plainMatch = matchOn.isEmpty && !ignoring && grouping.isEmpty
            (lq, rq) match {
              // a scalar() operand turns the vector op into dynamic-
              // scalar arithmetic (matching modifiers don't apply to a
              // scalar side, so they force the vector-vector path and
              // its operand validation)
              case (sq: ScalarQ, _) if plainMatch =>
                BinDynScalarQ(c, sq, scalarOnLeft = true,
                  requireVectorOperand(rq, "right"))
              case (_, sq: ScalarQ) if plainMatch =>
                BinDynScalarQ(c, sq, scalarOnLeft = false,
                  requireVectorOperand(lq, "left"))
              case _ =>
                BinVectorQ(c,
                  requireVectorOperand(lq, "left"),
                  requireVectorOperand(rq, "right"),
                  matchOn, ignoring, grouping, groupCopy)
            }
        }
      }
    }

    /** Comma-separated label names, empty entries dropped. */
    private def labelList(lo: Int, hi: Int): Seq[String] =
      text(lo, hi).split(",").map(_.trim).filter(_.nonEmpty).toSeq

    /** The arguments of [lo, hi): the ranges between its top-level
      * commas.
      */
    private def args(r: (Int, Int)): Seq[(Int, Int)] = {
      val (lo, hi) = r
      val ds = depths(lo, hi)
      val commas = (lo until hi).filter(k => ds(k - lo) == 0 && is(k, Punct, ","))
      (lo +: commas.map(_ + 1)).zip(commas :+ hi)
    }

    /** The first comma of [lo, hi) at any depth, or -1: the `k, vec`
      * and `φ, vec` argument lists split there.
      */
    private def firstComma(lo: Int, hi: Int): Int =
      (lo until hi).find(is(_, Punct, ",")).getOrElse(-1)

    private def trailing(from: Int, hi: Int): PromQLError =
      PromQLError("Unexpected trailing content in query: '" +
        src.substring(from, toks(hi - 1).end) + "'")

    /** The `(` … `)` group at `open`: its closing index. */
    private def group(open: Int, hi: Int): Int = {
      if (!(open < hi && is(open, Punct, "(")))
        throw PromQLError(s"Failed to parse PromQL query at: '${text(open, hi)}'")
      val close = closeOf(open, hi)
      if (close < 0)
        throw PromQLError("Failed to parse PromQL query: unbalanced parentheses")
      close
    }

    /** `head(args)` filling [lo, hi): the argument range. */
    private def call(lo: Int, hi: Int): (Int, Int) = {
      val close = group(lo + 1, hi)
      if (close + 1 < hi) throw trailing(toks(close).end, hi)
      (lo + 2, close)
    }

    /** An aggregation `head [by|without (labels)] (args)
      * [by|without (labels)]`: (labels, without, argument range). The
      * clause goes before or after the arguments, not both.
      */
    private def aggregation(lo: Int, hi: Int): (Seq[String], Boolean, (Int, Int)) = {
      def clause(k: Int): Option[(Seq[String], Boolean, Int)] =
        if (k < hi && toks(k).kind == Ident &&
            (toks(k).text.startsWith("by") || toks(k).text.startsWith("without"))) {
          val kw = if (toks(k).text.startsWith("without")) "without" else "by"
          if (toks(k).text != kw)
            throw PromQLError("Failed to parse PromQL query at: '" +
              src.substring(toks(k).start + kw.length, toks(hi - 1).end).trim + "'")
          val close = group(k + 1, hi)
          Some((labelList(k + 2, close), kw == "without", close + 1))
        } else None
      val before = clause(lo + 1)
      val open = before.fold(lo + 1)(_._3)
      val close = group(open, hi)
      val after = if (before.isEmpty) clause(close + 1) else None
      val end = after.fold(close + 1)(_._3)
      if (end < hi) throw trailing(toks(end).start, hi)
      val (labels, without) =
        before.orElse(after).fold((Seq.empty[String], false))(c => (c._1, c._2))
      (labels, without, (open + 1, close))
    }

    /** `φ, rest`: φ in [0, 1] and the range after the comma. */
    private def phiArg(r: (Int, Int), usage: String): (Double, (Int, Int)) = {
      val comma = firstComma(r._1, r._2)
      if (comma < 0) throw PromQLError(usage)
      val t = text(r._1, comma)
      val phi = scalarOf(r._1, comma).getOrElse(
        throw PromQLError(s"Bad quantile value '$t'"))
      if (phi < 0.0 || phi > 1.0)
        throw PromQLError(s"Quantile $phi out of [0, 1]")
      (phi, (comma + 1, r._2))
    }

    private def kArg(t: String): Int =
      try t.toInt
      catch { case _: NumberFormatException =>
        throw PromQLError(s"Bad k value '$t'")
      }

    /** A label name written `"name"`. */
    private def quoted(t: String): Option[String] =
      if (t.length >= 2 && t.head == '"' && t.last == '"' &&
          !t.substring(1, t.length - 1).contains('"'))
        Some(t.substring(1, t.length - 1))
      else None

    /** Whether tokens [lo, hi) hold a `[` — a range or subquery
      * bracket, never one inside a quoted label value.
      */
    private def hasBracket(r: (Int, Int)): Boolean =
      (r._1 until r._2).exists(is(_, Punct, "["))

    /** A range selector argument of `fn`. */
    private def rangeSelector(fn: String, r: (Int, Int)): ParsedQuery = {
      if (!hasBracket(r))
        throw PromQLError(s"$fn expects a range selector (like metric[5m])")
      selector(r)
    }

    /** An instant selector argument of `fn`. */
    private def instantSelector(what: String, r: (Int, Int)): ParsedQuery = {
      if (hasBracket(r)) throw PromQLError(what)
      selector(r)
    }

    /** The body of `<op>_over_time(…)`: a subquery `<expr>[range:step]`
      * (its last five tokens), else a range selector.
      */
    private def overTime(fn: String, op: String, phi: Option[Double],
        r: (Int, Int), depth: Int)(plain: ParsedQuery => Query): Query = {
      val (lo, hi) = r
      def dur(k: Int): Boolean =
        (toks(k).kind == Dur || toks(k).kind == Num) &&
          toks(k).text.matches("[0-9a-z]+")
      if (hi - lo < 5 || !is(hi - 5, Punct, "[") || !is(hi - 3, Punct, ":") ||
          !is(hi - 1, Punct, "]") || !dur(hi - 4) || !dur(hi - 2))
        return plain(rangeSelector(fn, r))
      val (rangeD, stepD) = (toks(hi - 4).text, toks(hi - 2).text)
      val rangeUs = msToUs(parseDurationMs(rangeD))
      val stepUs = msToUs(parseDurationMs(stepD))
      if (rangeUs <= 0 || stepUs <= 0)
        throw PromQLError("Subquery range and step must be positive")
      if (rangeUs / stepUs > 100000L)
        throw PromQLError(
          s"Subquery [$rangeD:$stepD] resolves to more than 100000 steps")
      val inner = expr(lo, hi - 5, depth + 1)
      if (!validSubqueryInner(inner))
        throw PromQLError(
          "Subquery inner expression must be a selector or a per-series " +
            "function (cross-series aggregations are not subquery operands)")
      SubqueryOverTimeQ(op, phi, inner, rangeUs, stepUs, nowUs,
        innerShiftUs = nowUs - inner.endUs,
        innerSpanUs = inner.endUs - inner.startUs)
    }

    /** An aggregation's vector argument: a plain selector, else any
      * vector expression. When both fail on a selector-shaped argument
      * (no call head, no leading paren, no arithmetic operator), the
      * selector's message names the actual syntax error.
      */
    private def aggregated(fn: String, r: (Int, Int), depth: Int)
        : Either[ParsedQuery, Query] = {
      val (lo, hi) = r
      (try Right(selector(r)) catch { case e: PromQLError => Left(e) }) match {
        case Right(sel) if sel.hadRange =>
          throw PromQLError(s"$fn aggregates an instant vector; use " +
            s"${fn}_over_time for range windows")
        case Right(sel) => Left(sel)
        case Left(selErr) =>
          try Right(requireVectorOperand(expr(lo, hi, depth + 1), "aggregated"))
          catch {
            case _: PromQLError if selectorShaped(lo, hi) => throw selErr
          }
      }
    }

    /** No call head, no leading paren and no arithmetic operator: text
      * that can only have been meant as a selector.
      */
    private def selectorShaped(lo: Int, hi: Int): Boolean =
      !(lo + 1 < hi && toks(lo).kind == Ident && is(lo + 1, Punct, "(")) &&
        !(lo < hi && is(lo, Punct, "(")) &&
        !tiers(lo, hi, arithOnly = true).exists(_ != Operand)

    /** An operand with no operator at its top level: a function call or
      * a selector.
      */
    private def primary(lo: Int, hi: Int, depth: Int): Query = {
      val head = if (lo < hi && toks(lo).kind == Ident) toks(lo).text else ""
      val called = lo + 1 < hi && is(lo + 1, Punct, "(")
      def sub(r: (Int, Int)): Query = expr(r._1, r._2, depth + 1)
      head match {
        case h if UnsupportedFns.contains(h) && called =>
          throw PromQLError(s"$head is not supported: ${UnsupportedFns(head)}")
        case "label_replace" | "label_join" =>
          val as = args(call(lo, hi))
          def str(r: (Int, Int), what: String): String = {
            val t = text(r)
            if (t.length < 2 || t.head != '"' || t.last != '"')
              throw PromQLError(s"$head expects a quoted string for $what")
            t.substring(1, t.length - 1)
          }
          val vec = requireVectorOperand(sub(as.head), "vector")
          if (head == "label_replace") {
            if (as.length != 5)
              throw PromQLError(
                "label_replace expects (vec, dst, replacement, src, regex)")
            LabelReplaceQ(str(as(1), "dst"), str(as(2), "replacement"),
              str(as(3), "src"), str(as(4), "regex"), vec)
          } else {
            if (as.length < 3)
              throw PromQLError("label_join expects (vec, dst, sep, src...)")
            LabelJoinQ(str(as(1), "dst"), str(as(2), "sep"),
              as.drop(3).map(str(_, "src label")), vec)
          }
        case "count_values" =>
          val (a, b) = call(lo, hi)
          val label = (if (b - a >= 2 && toks(a).kind == Str && is(a + 1, Punct, ","))
            quoted(toks(a).text) else None).getOrElse(
              throw PromQLError("count_values expects (\"label\", selector)"))
          val sel = instantSelector(
            "count_values aggregates an instant vector", (a + 2, b))
          CountValuesQ(label, sel.matchers, sel.startUs, sel.endUs)
        case "vector" if called =>
          val r = call(lo, hi)
          VectorLitQ(scalarOf(r).getOrElse(throw PromQLError(
            s"vector() expects a scalar literal, got '${text(r)}'")))
        case "scalar" if called =>
          sub(call(lo, hi)) match {
            case _: ScalarQ => throw PromQLError(
              "scalar() expects an instant vector, not another scalar()")
            case q => ScalarQ(q)
          }
        case "absent" =>
          val sel = selector(call(lo, hi))
          AbsentQ(sel.matchers, sel.startUs, sel.endUs)
        case "histogram_quantile" =>
          val (phi, r) = phiArg(call(lo, hi), "histogram_quantile expects (φ, selector)")
          val sel = instantSelector(
            "histogram_quantile aggregates an instant vector of buckets", r)
          HistogramQuantileQ(phi, sel.matchers, sel.startUs, sel.endUs)
        case "topk" | "bottomk" =>
          val (by, without, (a, b)) = aggregation(lo, hi)
          val comma = firstComma(a, b)
          if (comma < 0) throw PromQLError(s"$head expects (k, selector)")
          val k = kArg(text(a, comma))
          if (k < 1) throw PromQLError(s"$head needs k >= 1, got $k")
          val sel = instantSelector(
            s"$head ranks an instant vector, not a range selector", (comma + 1, b))
          TopKQ(head, k, by, without, sel.matchers, sel.startUs, sel.endUs)
        case "limitk" | "limit_ratio" =>
          val (a, b) = call(lo, hi)
          val comma = firstComma(a, b)
          if (comma < 0)
            throw PromQLError(s"$head expects (${
              if (head == "limitk") "k" else "ratio"}, selector)")
          val arg = text(a, comma)
          val sel = instantSelector(
            s"$head samples an instant vector, not a range selector", (comma + 1, b))
          if (head == "limitk") {
            val k = kArg(arg)
            if (k < 1) throw PromQLError(s"limitk needs k >= 1, got $k")
            LimitKQ(k, sel.matchers, sel.startUs, sel.endUs)
          } else {
            val r = scalarOf(a, comma).getOrElse(
              throw PromQLError(s"Bad ratio value '$arg'"))
            if (r < -1.0 || r > 1.0)
              throw PromQLError(s"limit_ratio $r out of [-1, 1]")
            LimitRatioQ(r, sel.matchers, sel.startUs, sel.endUs)
          }
        case "quantile_over_time" =>
          val (phi, r) = phiArg(call(lo, hi), "quantile_over_time expects (φ, metric[range])")
          overTime(head, "quantile", Some(phi), r, depth)(sel =>
            QuantileOverTimeQ(phi, sel.matchers, sel.startUs, sel.endUs))
        case "mad_over_time" =>
          overTime(head, "mad", None, call(lo, hi), depth)(sel =>
            MadOverTimeQ(sel.matchers, sel.startUs, sel.endUs))
        case "predict_linear" =>
          val as = args(call(lo, hi))
          if (as.length != 2)
            throw PromQLError("predict_linear expects (metric[range], t_seconds)")
          val horizon = scalarOf(as(1)).getOrElse(throw PromQLError(
            s"predict_linear expects a scalar horizon, got '${text(as(1))}'"))
          val sel = rangeSelector(head, as.head)
          PredictLinearQ(horizon, sel.matchers, sel.startUs, sel.endUs)
        case "holt_winters" | "double_exponential_smoothing" =>
          // Prometheus 3 renamed holt_winters (it is double exponential
          // smoothing, not the seasonal Holt-Winters); accept both
          val as = args(call(lo, hi))
          if (as.length != 3)
            throw PromQLError("holt_winters expects (metric[range], sf, tf)")
          def factor(r: (Int, Int), what: String): Double = {
            val a = text(r)
            val v = scalarOf(r).getOrElse(throw PromQLError(
              s"holt_winters expects a scalar $what, got '$a'"))
            if (!(v > 0.0 && v < 1.0))
              throw PromQLError(s"holt_winters $what must be in (0, 1), got '$a'")
            v
          }
          val sfp = factor(as(1), "smoothing factor")
          val tfp = factor(as(2), "trend factor")
          val sel = selector(as.head)
          if (!sel.hadRange)
            throw PromQLError(
              "holt_winters expects a range selector (like metric[5m])")
          HoltWintersQ(sfp, tfp, sel.matchers, sel.startUs, sel.endUs)
        case "timestamp" if called =>
          val sel = selector(call(lo, hi))
          if (sel.hadRange) throw PromQLError("timestamp expects an instant vector")
          TimestampQ(sel.matchers, sel.startUs, sel.endUs)
        case "sort_by_label" | "sort_by_label_desc" if called =>
          val as = args(call(lo, hi))
          if (as.length < 2)
            throw PromQLError(s"$head expects (vec, \"label\", ...)")
          val labels = as.tail.map(r => quoted(text(r)).getOrElse(throw PromQLError(
            s"$head expects quoted label names, got '${text(r)}'")))
          SortByLabelQ(head.endsWith("_desc"), labels,
            requireVectorOperand(sub(as.head), "sorted"))
        case "sort" | "sort_desc" if called =>
          SortQ(head == "sort_desc",
            requireVectorOperand(sub(call(lo, hi)), "sorted"))
        case "absent_over_time" =>
          // absent(sel) over a range window — AbsentQ's machinery with
          // the window taken from the range selector
          val sel = rangeSelector(head, call(lo, hi))
          AbsentQ(sel.matchers, sel.startUs, sel.endUs)
        case h if h.endsWith("_over_time") =>
          val op = h.stripSuffix("_over_time")
          if (!OverTimeOps.contains(op))
            throw PromQLError(s"Unsupported function: $head")
          overTime(head, op, None, call(lo, hi), depth)(sel =>
            OverTimeQ(op, sel.matchers, sel.startUs, sel.endUs))
        case h if RangeFnOps.contains(h) && called =>
          val sel = rangeSelector(head, call(lo, hi))
          RangeFnQ(head, sel.matchers, sel.startUs, sel.endUs)
        case h if MathFnArity.contains(h) && called =>
          val as = args(call(lo, hi))
          val arity = MathFnArity(head)
          val scalars = as.tail.map(r => scalarOf(r).getOrElse(
            throw PromQLError(s"$head expects scalar arguments, got '${text(r)}'")))
          if (!arity.contains(scalars.length))
            throw PromQLError(s"$head expects ${arity.min}" +
              (if (arity.min == arity.max) "" else s"..${arity.max}") +
              s" scalar argument(s) after the vector, got ${scalars.length}")
          if (head == "round" && scalars.headOption.exists(_ <= 0.0))
            throw PromQLError("round step must be positive")
          MathFnQ(head, scalars,
            requireVectorOperand(sub(as.head), "vector"))
        case "quantile" =>
          val (by, without, r) = aggregation(lo, hi)
          val (phi, vec) = phiArg(r, "quantile expects (φ, vector)")
          QuantileAggQ(phi, by, without, aggregated(head, vec, depth).fold(
            sel => SelectorQ(sel.matchers, sel.startUs, sel.endUs), identity))
        case h if InstantAggOps.contains(h) =>
          // plain selector -> the classic InstantAggQ; anything else
          // (rate(x[5m]), abs(m), m * 2, nested math) -> aggregation
          // over the per-series vector it evaluates to
          val (by, without, r) = aggregation(lo, hi)
          aggregated(head, r, depth).fold(
            sel => InstantAggQ(head, by, without, sel.matchers, sel.startUs, sel.endUs),
            q => InstantAggVecQ(head, by, without, q))
        case _ =>
          val sel = selector((lo, hi))
          SelectorQ(sel.matchers, sel.startUs, sel.endUs)
      }
    }

    /** A trailing `@ <unix_seconds>` (or `@ time()`, or given a range
      * `@ start()` / `@ end()`) ending at `hi`: the pinned time and the
      * index of `@`.
      */
    private def pin(lo: Int, hi: Int): Option[(Long, Int)] =
      if (hi - lo >= 2 && is(hi - 2, Op, "@") && toks(hi - 1).kind == Num &&
          toks(hi - 1).text.matches("[0-9]+(\\.[0-9]+)?")) {
        val secs = toks(hi - 1).text
        val us = secs.toDouble * 1e6
        if (us >= Long.MaxValue.toDouble)
          throw PromQLError(s"timestamp out of bounds for @ modifier: $secs")
        Some((us.toLong, hi - 2))
      } else if (hi - lo >= 4 && is(hi - 4, Op, "@")) {
        call0(hi - 3, hi).flatMap {
          case "start" | "end" if anchors.nonEmpty =>
            val (startUs, endUs) = anchors.get
            val us = if (toks(hi - 3).text == "start") startUs else endUs
            require(us >= 0, s"@ anchor must be a non-negative time, got $us")
            Some(us)
          case name => constant(name).map(v => (v * 1e6).toLong)
        }.map((_, hi - 4))
      } else None

    /** A selector with its trailing `@` and `offset <dur>` modifiers
      * (both absent from the reference's restricted endpoint), read from
      * the end: `@` pins the evaluation time absolutely (so a client can
      * replay historical instants against the serving endpoint), each
      * `offset` shifts the window back by its duration. Each modifier
      * applies to the selector on its left, so the leftmost `@` is the
      * one in force.
      */
    private def selector(r: (Int, Int)): ParsedQuery = {
      val (lo, hi) = r
      var end = hi
      var evalUs = nowUs
      var shiftUs = 0L
      var more = true
      while (more) pin(lo, end) match {
        case Some((us, at)) => evalUs = us; end = at
        case None =>
          val kw = end - 2
          more = kw > lo && is(kw, Ident, "offset") &&
            toks(kw - 1).end < toks(kw).start &&
            Set[Kind](Dur, Num, Ident).contains(toks(kw + 1).kind) &&
            toks(kw + 1).text.matches("[0-9a-z]+")
          if (more) {
            shiftUs += msToUs(parseDurationMs(toks(kw + 1).text))
            end = kw
          }
      }
      if (call0(lo, end).flatMap(constant).nonEmpty)
        throw SimplePromQL.rejection("literal")
      val sel = SimplePromQL.parse(text(lo, end), evalUs)
      sel.copy(startUs = sel.startUs - shiftUs, endUs = sel.endUs - shiftUs)
    }

    /** A `query_range` expression: `(query, Some(pinnedUs))` when a
      * trailing `@` pins the whole expression, None when it carries no
      * `@` at all.
      */
    def rangeQuery(): (Query, Option[Long]) = {
      val ats = toks.count(t => t.kind == Op && t.text == "@")
      if (ats == 0) (query(), None)
      else pin(0, toks.length) match {
        // `@ time()` pins a selector, not a range query's grid
        case Some((pinUs, at)) if ats == 1 &&
            !call0(at + 1, toks.length).exists(constant(_).nonEmpty) =>
          (new Parser(src, toks, pinUs, anchors).expr(0, at, 0), Some(pinUs))
        case _ =>
          throw PromQLError(
            "@ modifiers on sub-expressions are not supported in " +
              "query_range; pin the whole expression with a trailing @ " +
              "(e.g. `sum(metric) @ end()`)")
      }
    }
  }

  private object Parser {
    /** A parser of the query with its surrounding whitespace trimmed. */
    def apply(query: String, nowUs: Long,
        anchors: Option[(Long, Long)]): Parser = {
      val src = query.trim
      new Parser(src, lex(src), nowUs, anchors)
    }
  }

  private def parseScalar(s: String): Option[Double] =
    try Some(s.trim.toDouble) catch { case _: NumberFormatException => None }

  /** Every query shape evaluates to an instant vector except `scalar()`
    * — Prometheus composes aggregations, ranked vectors, and binary
    * results as operands freely (`sum(a) / sum(b)`, `sum(x) or
    * vector(0)`, `abs(a - b)`), and [[operandVec]] normalizes each
    * operand to the (sensor_id, labels, value) vector shape, so the only
    * rejection left is the genuinely non-vector operand.
    */
  private def requireVectorOperand(q: Query, side: String): Query = q match {
    case _: ScalarQ => throw PromQLError(
      s"$side operand must be an instant vector — scalar() produces a " +
        "scalar (use it directly as the scalar side of an arithmetic op)")
    case _ => q
  }

  private def validSubqueryInner(q: Query): Boolean = q match {
    case _: SelectorQ | _: OverTimeQ | _: RangeFnQ | _: QuantileOverTimeQ =>
      true
    case b: BinScalarQ => validSubqueryInner(b.inner)
    case b: BinCmpQ => validSubqueryInner(b.inner)
    case m: MathFnQ => validSubqueryInner(m.inner)
    // cross-series aggregations evaluate per step over the step's
    // instant/range vector — max_over_time(sum(rate(x[5m]))[1h:5m]) is
    // the canonical alerting shape; the aggregate's GROUP labels become
    // the series identity the outer fold groups on
    case _: InstantAggQ => true
    case a: InstantAggVecQ => validSubqueryInner(a.inner)
    case qa: QuantileAggQ => validSubqueryInner(qa.inner)
    // binary vector/set/dynamic-scalar operands and NESTED subqueries
    // evaluate per step like every other inner (perStepAny: one scan
    // pass per leaf operand; operands join on (key, step))
    case b: BinVectorQ =>
      validSubqueryInner(b.left) && validSubqueryInner(b.right)
    case b: BinSetQ =>
      validSubqueryInner(b.left) && validSubqueryInner(b.right)
    case b: BinDynScalarQ =>
      validSubqueryInner(b.inner) && validSubqueryInner(b.scalarQ.inner)
    case sq: SubqueryOverTimeQ => validSubqueryInner(sq.inner)
    case _: VectorLitQ => true
    case _ => false
  }

  // -------------------------------------------------------------- evaluate

  private def aggCol(op: String, c: Column): Column = op match {
    case "sum" => sum(c)
    case "avg" => avg(c)
    case "count" => count(c)
    case "min" => min(c)
    case "max" => max(c)
    // Prometheus stddev/stdvar are population statistics
    case "stddev" => stddev_pop(c)
    case "stdvar" => var_pop(c)
    case "present" => max(lit(1.0)) // any sample in the group ⇒ 1
    case "group" => max(lit(1.0))   // Prometheus group(): 1 per group
    case other => throw PromQLError(s"Unsupported aggregation: $other")
  }

  /** The instant evaluation. Binary vector and set operators carry TWO
    * independent matcher sets, so the caller provides the
    * matcher→selected-series mapping instead of one pre-selected frame.
    * Every node evaluates here once: operator nodes recurse structurally
    * through [[operandVec]], so a multi-matcher subtree anywhere
    * underneath (sum(a / b), abs(a - b) > 0.1) still selects each
    * operand's series independently, and each leaf reads the samples of
    * its own selection ([[evalLeaf]]).
    *
    * @param selectFor matchers → (sensor_id, labels: map), the selected
    *                  series (`Matchers.sensorsByLabels` projected; over
    *                  the events, `EventsAdapter.promSeries`)
    * @param samples   (sensor_id, timestamp_us, value)
    * @return OverTimeQ / RangeFnQ → (sensor_id, labels, value);
    *         InstantAggQ → (group_labels, value);
    *         SelectorQ → (sensor_id, labels, timestamp_us, value)
    */
  def evalWith(
      q: Query,
      selectFor: Seq[LabelMatcher] => DataFrame,
      samples: DataFrame): DataFrame = q match {
    case b: BinVectorQ =>
      // an instant binary result is (labels, value); it gets its series
      // id back when it becomes an operand (normalizeVec)
      joinVectors(b, operandVec(b.left, selectFor, samples),
        operandVec(b.right, selectFor, samples), Nil).drop("sensor_id")
    case b: BinSetQ =>
      setOp(b.op, operandVec(b.left, selectFor, samples),
        operandVec(b.right, selectFor, samples), Nil)
    case sq: SubqueryOverTimeQ =>
      // the inner evaluates per step (one scan pass per leaf operand over
      // its step grid; binary sides compose per (matching-labels, step)),
      // then the outer *_over_time folds each series' step values
      val steps = stepTimestamps(sq.rangeUs, sq.stepUs, sq.evalEndUs)
      if (steps.isEmpty)
        throw PromQLError("Subquery range contains no step timestamps")
      overTime(perStepAny(sq.inner, steps, sq.evalEndUs, selectFor, samples),
        sq.op, sq.phi, Seq("sensor_id"), "__t")
    case b: BinDynScalarQ =>
      // the scalar side resolves its own matcher set; its one-row frame
      // broadcasts into a cross join against the vector side — a
      // constant-cost nested-loop broadcast regardless of vector size
      val sc = broadcast(evalWith(b.scalarQ, selectFor, samples)
        .select(col("value").as("__s")))
      val v = operandVec(b.inner, selectFor, samples)
      val expr =
        if (b.scalarOnLeft) binCol(b.op, col("__s"), col("value"))
        else binCol(b.op, col("value"), col("__s"))
      v.crossJoin(sc).withColumn("value", expr).drop("__s")
    case sq: ScalarQ =>
      scalarValueFrame(operandVec(sq.inner, selectFor, samples))
    case v: VectorLitQ => vectorLitFrame(samples.sparkSession, v.value)
    case b: BinScalarQ =>
      applyBinScalar(b, operandVec(b.inner, selectFor, samples))
    case m: MathFnQ =>
      applyMathFn(m, operandVec(m.inner, selectFor, samples))
    case b: BinCmpQ =>
      applyBinCmp(b, operandVec(b.inner, selectFor, samples))
    case s: SortQ =>
      applySort(s.desc, operandVec(s.inner, selectFor, samples))
    case s: SortByLabelQ =>
      applySortByLabel(s, operandVec(s.inner, selectFor, samples))
    case a: InstantAggVecQ =>
      applyGroupAgg(aggCol(a.op, col("value")), a.by, a.without,
        operandVec(a.inner, selectFor, samples))
    case qa: QuantileAggQ =>
      applyGroupAgg(percentile(col("value"), lit(qa.phi)), qa.by,
        qa.without, operandVec(qa.inner, selectFor, samples))
    case lr: LabelReplaceQ =>
      applyLabelReplace(lr, operandVec(lr.inner, selectFor, samples))
    case lj: LabelJoinQ =>
      applyLabelJoin(lj, operandVec(lj.inner, selectFor, samples))
    case other => evalLeaf(other, selectFor(other.matchers), samples)
  }

  /** The sorted entry array of the MATCHING labels of a binary vector
    * op: all of them, the on() subset, or everything but the ignoring()
    * subset — the join key both sides share.
    */
  private def matchingEntries(
      c: Column, matchOn: Seq[String], ignoring: Boolean): Column = {
    val entries = map_entries(coalesce(c, map().cast("map<string,string>")))
    val kept =
      if (matchOn.isEmpty && !ignoring) entries
      else {
        val keys = array(matchOn.map(lit): _*)
        if (ignoring)
          filter(entries, e => !array_contains(keys, e.getField("key")))
        else
          filter(entries, e => array_contains(keys, e.getField("key")))
      }
    array_sort(kept)
  }

  /** Many-to-one output labels: the many side's full labels with the
    * group_left/right(l1,...) labels copied from the "one" side (copied
    * keys replace same-named keys, the Prometheus contract); built
    * entry-wise so no duplicate keys reach map_from_entries.
    */
  private def copiedLabels(
      many: Column, one: Column, groupCopy: Seq[String]): Column =
    if (groupCopy.isEmpty) many
    else {
      val keys = array(groupCopy.map(lit): _*)
      val kept = filter(map_entries(many),
        e => !array_contains(keys, e.getField("key")))
      val copied = filter(map_entries(one),
        e => array_contains(keys, e.getField("key")))
      map_from_entries(concat(kept, copied))
    }

  /** The binary vector join of two evaluated operands (each with
    * labels, value and `keys`): the key is the canonical (sorted-entries)
    * form of the MATCHING labels — all of them, the on() subset, or
    * everything but the ignoring() subset — plus `keys` (none for an
    * instant evaluation, the step `__t` per step). Output labels: the
    * matching labels (one-to-one), or the MANY side's full labels under
    * group_left/group_right (many-to-one matching — the "one" side's
    * uniqueness per key is the caller's contract, as in Prometheus).
    * Output: the canonical series id of the output labels, keys,
    * labels, value.
    */
  private def joinVectors(
      b: BinVectorQ, lv: DataFrame, rv: DataFrame,
      keys: Seq[String]): DataFrame = {
    def side(v: DataFrame, labels: String, value: String): DataFrame =
      v.select((matchingEntries(col("labels"), b.matchOn, b.ignoring)
        .as("__k") +: keys.map(col)) :+ col("labels").as(labels) :+
        col("value").as(value): _*)
    val outLabels = b.grouping match {
      case Some("left") => copiedLabels(col("__ll"), col("__rl"), b.groupCopy)
      case Some("right") => copiedLabels(col("__rl"), col("__ll"), b.groupCopy)
      case _ => map_from_entries(col("__k"))
    }
    side(lv, "__ll", "__lv").join(side(rv, "__rl", "__rv"), "__k" +: keys)
      .select((canonicalSeriesId(outLabels).as("sensor_id") +:
        keys.map(col)) :+ outLabels.as("labels") :+
        binCol(b.op, col("__lv"), col("__rv")).as("value"): _*)
  }

  /** Prometheus set operators between two evaluated operands (each with
    * sensor_id, labels, value and `keys`), matching on the FULL label
    * set plus `keys`: `and` keeps left rows whose label set also appears
    * on the right (semi join), `unless` keeps those that don't (anti
    * join), `or` returns the left plus right rows whose label set has no
    * left row. Values and labels always come from the contributing side.
    */
  private def setOp(
      op: String, left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    val k = "__k" +: keys
    def keyed(v: DataFrame): DataFrame =
      v.withColumn("__k", matchingEntries(col("labels"), Nil, ignoring = false))
    val (lv, rv) = (keyed(left), keyed(right))
    def keysOf(v: DataFrame): DataFrame = v.select(k.map(col): _*).distinct()
    val out = op match {
      case "and" => lv.join(keysOf(rv), k, "left_semi")
      case "unless" => lv.join(keysOf(rv), k, "left_anti")
      case _ => lv.unionByName(rv.join(keysOf(lv), k, "left_anti")) // or
    }
    out.select((("sensor_id" +: keys) :+ "labels" :+ "value").map(col): _*)
  }

  /** Evaluate an operand to the NORMALIZED instant-vector shape
    * (sensor_id, labels, value: double): selectors contribute their
    * latest sample per series; everything else evaluates through
    * [[evalWith]] (so nested multi-matcher subtrees keep per-operand
    * selection) and is then reshaped — aggregation results surface
    * their group-label map as the label set with a canonical rendering
    * minted as the series id (deterministic, used only for ordering
    * tie-breaks), ranked vectors drop their rank column.
    */
  private def operandVec(
      q: Query,
      selectFor: Seq[LabelMatcher] => DataFrame,
      samples: DataFrame): DataFrame = q match {
    case v: VectorLitQ => vectorLitFrame(samples.sparkSession, v.value)
    case s: SelectorQ =>
      normalizeVec(lastInWindow(withSelected(samples
        .filter(col("timestamp_us").between(s.startUs, s.endUs)),
        selectFor(s.matchers))).select("sensor_id", "labels", "value"))
    case other => normalizeVec(evalWith(other, selectFor, samples))
  }

  /** Canonical series id of a label set: the sorted `k=v` rendering —
    * deterministic and injective per label set, so synthetic vectors
    * (aggregation groups) order and tie-break stably.
    */
  private def canonicalSeriesId(labels: Column): Column =
    concat_ws(",", transform(
      array_sort(map_entries(coalesce(labels,
        map().cast("map<string,string>")))),
      e => concat(e.getField("key"), lit("="), e.getField("value"))))

  /** Reshape any evaluated vector frame to (sensor_id, labels, value:
    * double): aggregations rename group_labels → labels and mint a
    * canonical sensor_id; extra columns (rank) drop.
    */
  private def normalizeVec(df: DataFrame): DataFrame = {
    val labeled =
      if (df.columns.contains("labels")) df
      else df.withColumnRenamed("group_labels", "labels")
    val withId =
      if (labeled.columns.contains("sensor_id")) labeled
      else labeled.withColumn("sensor_id", canonicalSeriesId(col("labels")))
    withId.select(col("sensor_id"), col("labels"),
      col("value").cast("double").as("value"))
  }

  /** One-row/one-series literal vector: empty label set, constant
    * value — the shape `vector(s)` evaluates to.
    */
  private def vectorLitFrame(
      spark: org.apache.spark.sql.SparkSession, v: Double): DataFrame =
    spark.range(1).select(
      lit("").as("sensor_id"),
      map().cast("map<string,string>").as("labels"),
      lit(v).cast("double").as("value"))

  /** Collapse an evaluated vector to PromQL's `scalar()`: one unlabeled
    * row carrying the single element's value, NaN when the vector has
    * zero or more than one element. A global one-row aggregate —
    * constant output at any scale.
    */
  private def scalarValueFrame(vec: DataFrame): DataFrame =
    vec.agg(
      when(count(lit(1)) === 1, first(col("value")))
        .otherwise(lit(Double.NaN)).as("value"))
      .select(lit("").as("sensor_id"),
        map().cast("map<string,string>").as("labels"),
        col("value").cast("double").as("value"))

  private def binCol(op: Char, l: Column, r: Column): Column = op match {
    case '+' => l + r
    case '-' => l - r
    case '*' => l * r
    case '/' => l / r
    // float mod, sign follows the dividend (Go math.Mod = Java %)
    case '%' => l % r
    case '^' => pow(l, r)
    case 'A' => atan2(l, r) // the `atan2` word operator
    case other => throw PromQLError(s"Unsupported binary operator: $other")
  }

  /** Per-value math column (see [[MathFnQ]] for the float-semantics
    * contract). All codegen'd built-ins — no UDFs.
    */
  private def mathCol(fn: String, args: Seq[Double], v: Column): Column =
    fn match {
      case "abs" => abs(v)
      case "ceil" => ceil(v).cast("double")
      case "floor" => floor(v).cast("double")
      case "sqrt" => sqrt(v) // Spark: NaN below zero, same as Prometheus
      case "exp" => exp(v)
      // Spark's log family returns null outside the domain; Prometheus
      // wants -Inf at 0 and NaN below — spell the branches out
      case "ln" => logWithDomain(log(v), v)
      case "log2" => logWithDomain(log2(v), v)
      case "log10" => logWithDomain(log10(v), v)
      case "sgn" => signum(v)
      // trig family: IEEE semantics carry through (asin/acos outside
      // [-1,1] give NaN in both Spark and Go)
      case "sin" => sin(v)
      case "cos" => cos(v)
      case "tan" => tan(v)
      case "asin" => asin(v)
      case "acos" => acos(v)
      case "atan" => atan(v)
      case "sinh" => sinh(v)
      case "cosh" => cosh(v)
      case "tanh" => tanh(v)
      case "deg" => degrees(v)
      case "rad" => radians(v)
      case "round" =>
        val to = args.headOption.getOrElse(1.0)
        floor(v / lit(to) + lit(0.5)).cast("double") * lit(to)
      case "clamp_min" => greatest(v, lit(args.head))
      case "clamp_max" => least(v, lit(args.head))
      case "clamp" =>
        if (args.head > args(1)) lit(Double.NaN)
        else least(greatest(v, lit(args.head)), lit(args(1)))
      // time functions: value = epoch seconds, truncated toward zero
      // exactly like Prometheus's int64(t) cast, fields in UTC (the
      // session timezone GraftSession pins). day_of_week is Sunday=0.
      case "minute" => minute(tsOf(v)).cast("double")
      case "hour" => hour(tsOf(v)).cast("double")
      case "day_of_week" => (dayofweek(tsOf(v)) - 1).cast("double")
      case "day_of_month" => dayofmonth(tsOf(v)).cast("double")
      case "day_of_year" => dayofyear(tsOf(v)).cast("double")
      case "days_in_month" => dayofmonth(last_day(tsOf(v))).cast("double")
      case "month" => month(tsOf(v)).cast("double")
      case "year" => year(tsOf(v)).cast("double")
      case other => throw PromQLError(s"Unsupported math function: $other")
    }

  private def tsOf(epochSeconds: Column): Column =
    // cast, not floor: the int64(t) cast truncates toward zero, so a
    // pre-1970 (negative) epoch second must round up, which floor()
    // would not
    timestamp_seconds(epochSeconds.cast("long"))

  private def logWithDomain(logged: Column, v: Column): Column =
    when(v > 0, logged)
      .when(v === 0, lit(Double.NegativeInfinity))
      .otherwise(lit(Double.NaN))

  /** Deterministic 60-bit draw from a series' label set: md5 of the
    * sorted `k=v` canonical string — membership in limitk/limit_ratio
    * depends only on labels, so it is stable across evals and exactly
    * replayable by any engine with an md5 function.
    */
  private def labelDraw(labels: Column): Column =
    conv(substring(md5(concat_ws(",",
      transform(array_sort(map_entries(labels)),
        e => concat(e.getField("key"), lit("="), e.getField("value"))))
      .cast("binary")), 1, 15), 16, 10).cast("long")

  /** The label set an aggregation groups on: everything collapses to an
    * empty map without a clause, otherwise the `by` labels (or the
    * complement under `without`).
    */
  private def groupLabelsCol(by: Seq[String], without: Boolean): Column =
    if (by.isEmpty && !without)
      map().cast("map<string,string>") // aggregate everything
    else {
      val keys = array(by.map(lit): _*)
      val entries = map_entries(coalesce(col("labels"),
        map().cast("map<string,string>")))
      val kept =
        if (without)
          filter(entries, e => !array_contains(keys, e.getField("key")))
        else
          filter(entries, e => array_contains(keys, e.getField("key")))
      map_from_entries(kept)
    }

  private def cmpPred(op: String, l: Column, r: Column): Column = op match {
    case ">" => l > r
    case ">=" => l >= r
    case "<" => l < r
    case "<=" => l <= r
    case "==" => l === r
    case "!=" => l =!= r
    case other => throw PromQLError(s"Unsupported comparison: $other")
  }

  // ---- per-node column transforms over an evaluated vector frame,
  // ---- shared between the instant evaluation (evalWith) and the
  // ---- per-step one (perStepAny)

  private def applyBinScalar(b: BinScalarQ, v: DataFrame): DataFrame = {
    val expr =
      if (b.scalarOnLeft) binCol(b.op, lit(b.scalar), col("value"))
      else binCol(b.op, col("value"), lit(b.scalar))
    v.withColumn("value", expr)
  }

  private def applyMathFn(m: MathFnQ, v: DataFrame): DataFrame =
    v.withColumn("value", mathCol(m.fn, m.args, col("value")))

  private def applyBinCmp(b: BinCmpQ, v: DataFrame): DataFrame = {
    val (l, r) =
      if (b.scalarOnLeft) (lit(b.scalar), col("value"))
      else (col("value"), lit(b.scalar))
    val pred = cmpPred(b.op, l, r)
    if (b.bool) v.withColumn("value", when(pred, 1.0).otherwise(0.0))
    else v.filter(pred)
  }

  private def applySort(desc: Boolean, v: DataFrame): DataFrame = {
    val ord =
      if (desc) Seq(col("value").desc, col("sensor_id").asc)
      else Seq(col("value").asc, col("sensor_id").asc)
    // global rank over the per-SERIES vector: catalog-bounded rows
    // (one per series), the TopKQ shape — never a sample-level sort
    v.withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
      .select("rank", "sensor_id", "labels", "value")
  }

  private def applySortByLabel(q: SortByLabelQ, v: DataFrame): DataFrame = {
    val keys = q.labels.map { l =>
      val k = coalesce(element_at(col("labels"), l), lit(""))
      if (q.desc) k.desc else k.asc
    } :+ (if (q.desc) col("sensor_id").desc else col("sensor_id").asc)
    v.withColumn("rank", row_number().over(Window.orderBy(keys: _*)))
      .select("rank", "sensor_id", "labels", "value")
  }

  private def applyGroupAgg(
      agg: Column, by: Seq[String], without: Boolean,
      v: DataFrame, keys: Seq[String] = Nil): DataFrame =
    v.withColumn("group_labels", groupLabelsCol(by, without))
      .groupBy(keys.map(col) :+ col("group_labels"): _*)
      .agg(agg.as("value"))

  private def applyLabelReplace(lr: LabelReplaceQ, v: DataFrame): DataFrame = {
    // Prometheus: regex must match the WHOLE src value; non-matching
    // series pass through; an empty expansion drops dst. Anchored match
    // + capture expansion run on the linear-time engine
    // (graft.functions.LinearRegex) — user regexes never reach Java's
    // backtracking matcher (ReDoS class; see Matchers.scala scaladoc).
    val srcVal = coalesce(element_at(col("labels"), lr.src), lit(""))
    val expanded = org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.LinearRegexReplaceFullExpression(
        org.apache.spark.sql.GraftSqlShim.expression(srcVal),
        lr.regex, lr.replacement))
    v.withColumn("labels",
      when(expanded.isNotNull,
        labelsWith(lr.dst, expanded)).otherwise(col("labels")))
  }

  private def applyLabelJoin(lj: LabelJoinQ, v: DataFrame): DataFrame = {
    val joined = concat_ws(lj.sep, lj.srcs.map(sl =>
      coalesce(element_at(col("labels"), sl), lit(""))): _*)
    v.withColumn("labels", labelsWith(lj.dst, joined))
  }

  /** `samples` of the `selected` series, each row with its series'
    * columns (`labels`): `sensor_id`, the sample columns, then the
    * selection's. A driver-resident selection (a local frame, as the
    * gateway's) travels in the plan — an id filter and a per-sample
    * lookup, no join and no broadcast job; any other is broadcast-joined.
    */
  private def withSelected(samples: DataFrame, selected: DataFrame): DataFrame =
    (if (selected.columns.toSeq == Seq("sensor_id", "labels"))
      IngestBatch.localRows(selected) else None) match {
      case Some(rows) =>
        val byId = rows.map(r => r.getString(0) ->
          Option(r.getMap[String, String](1)).map(_.toMap).orNull).toMap
        samples.filter(col("sensor_id").isin(byId.keys.toSeq: _*))
          .select((col("sensor_id") +: samples.columns.toSeq
            .filter(_ != "sensor_id").map(col)) :+
            Matchers.labelsById(byId).as("labels"): _*)
      case None => samples.join(broadcast(selected), "sensor_id")
    }

  /** The steps of `steps` whose window `[t − shift − span, t − shift]`
    * holds the row's `timestamp_us`, as an array column for a generator.
    * An evenly spaced grid (every query_range and subquery grid) is a
    * `sequence` between the first and last step in
    * `[ts + shift, ts + shift + span]`; any other, the literal grid
    * filtered.
    */
  private def stepsHolding(
      steps: Seq[Long], shiftUs: Long, spanUs: Long): Column = {
    val lo = col("timestamp_us") + lit(shiftUs)
    val hi = lo + lit(spanUs)
    val sorted = steps.distinct.sorted
    val gaps = sorted.zip(sorted.drop(1)).map { case (a, b) => b - a }.distinct
    gaps match {
      case Seq() | Seq(_) =>
        val (first, step) = (sorted.head, gaps.headOption.getOrElse(1L))
        // the grid points nearest inside [lo, hi], clamped to the grid
        val from = greatest(lo + pmod(lit(first) - lo, lit(step)), lit(first))
        val to = least(hi - pmod(hi - lit(first), lit(step)), lit(sorted.last))
        when(from <= to, sequence(from, to, lit(step)))
      case _ =>
        filter(typedLit(sorted.toArray), t => t >= lo && t <= hi)
    }
  }

  /** Prometheus subquery step alignment: evaluation timestamps are the
    * multiples of `step` (since the Unix epoch) inside
    * `[end − range, end]`.
    */
  private def stepTimestamps(
      rangeUs: Long, stepUs: Long, endUs: Long): Seq[Long] = {
    val start = endUs - rangeUs
    val floor = Math.floorDiv(start, stepUs) * stepUs
    val first = if (floor < start) floor + stepUs else floor
    (first to endUs by stepUs).toList
  }

  /** `<op>_over_time` of each `keys` group's values in `rows` (keys,
    * labels, value, and the column `at` that orders `last`): the one
    * fold behind the window functions ([[windowed]], ordered by
    * timestamp) and the subquery outer fold (ordered by step). `op` is
    * an [[OverTimeQ]] op, `quantile` (with `phi`) or `mad`. Output:
    * keys, labels, value.
    */
  private def overTime(
      rows: DataFrame, op: String, phi: Option[Double],
      keys: Seq[String], at: String): DataFrame = {
    def fold(value: Column): DataFrame = foldBy(rows, keys, value)
    (op, phi) match {
      case ("quantile", Some(p)) => fold(percentile(col("value"), lit(p)))
      case ("mad", _) =>
        // median(|x − median(x)|): the group median joins back first
        val med = rows.groupBy(keys.map(col): _*)
          .agg(percentile(col("value"), lit(0.5)).as("__med"))
        foldBy(rows.join(med, keys), keys,
          percentile(abs(col("value") - col("__med")), lit(0.5)))
      // latest by `at`, ties resolved by the larger value
      case ("last", _) =>
        fold(max(struct(col(at), col("value"))).getField("value"))
      case (op2, _) => fold(aggCol(op2, col("value")))
    }
  }

  /** `rows` folded per `keys` group: the group's labels, `value` and any
    * `more` aggregates.
    */
  private def foldBy(rows: DataFrame, keys: Seq[String], value: Column,
      more: Column*): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(first(col("labels")).as("labels"), value.as("value") +: more: _*)

  /** A per-series window function over `rows` (sensor_id, labels,
    * timestamp_us, value and `keys`), folded per `keys` group: the
    * series alone for an instant evaluation, (series, step `__t`) per
    * step — one implementation for both. A selector contributes its
    * latest sample (`last_over_time` over its lookback), ties on
    * timestamp resolved by the larger value like [[lastInWindow]].
    * Output: keys, labels, value.
    */
  private def windowed(
      q: Query, rows: DataFrame, keys: Seq[String]): DataFrame = {
    val latest = struct(col("timestamp_us"), col("value"))
    // the lag order includes value so ties on timestamp stay deterministic
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("timestamp_us"), col("value"))
    def withPrev = rows.withColumn("__prev", lag(col("value"), 1).over(ord))
    def over(op: String, phi: Option[Double] = None): DataFrame =
      overTime(rows, op, phi, keys, "timestamp_us")
    q match {
      case _: SelectorQ => over("last")
      case OverTimeQ(op, _, _, _) => over(op)
      case QuantileOverTimeQ(phi, _, _, _) => over("quantile", Some(phi))
      case _: MadOverTimeQ => over("mad")
      case RangeFnQ("delta", _, _, _) =>
        // last − first via lexicographic (ts, value) struct extrema —
        // deterministic under timestamp ties, no summation involved
        foldBy(rows, keys,
          max(latest).getField("value") - min(latest).getField("value"),
          count(lit(1)).as("__n"))
          .filter(col("__n") >= 2).drop("__n")
      case RangeFnQ(op @ ("resets" | "changes"), _, _, _) =>
        // per-pair indicators summed per series: resets = counter
        // decreases, changes = any value change (Prometheus counts
        // pairs, so singleton series yield 0, empty windows nothing)
        val ind =
          if (op == "resets") col("value") < col("__prev")
          else col("value") =!= col("__prev")
        foldBy(withPrev, keys, sum(when(col("__prev").isNotNull && ind, 1L)
          .otherwise(0L)).cast("double"))
      case RangeFnQ(op @ ("idelta" | "irate"), _, _, _) =>
        // the LAST adjacent pair per series: lag rides along into a
        // lexicographic (ts, value) struct max. irate is the
        // instantaneous counter rate over that pair (reset-aware,
        // divided by the pair's own time gap — Prometheus semantics); a
        // pair sharing one timestamp yields nothing, as in Prometheus
        val lastPair = withPrev
          .withColumn("__prev_ts", lag(col("timestamp_us"), 1).over(ord))
          .groupBy(keys.map(col): _*)
          .agg(first(col("labels")).as("labels"),
            max(struct(col("timestamp_us"), col("value"),
              col("__prev"), col("__prev_ts"))).as("__last"))
          .filter(col("__last.__prev").isNotNull &&
            col("__last.timestamp_us") > col("__last.__prev_ts"))
        val v = col("__last.value")
        val p = col("__last.__prev")
        val gapS = (col("__last.timestamp_us") - col("__last.__prev_ts"))
          .cast("double") / lit(1e6)
        lastPair.withColumn("value",
          if (op == "idelta") v - p
          else when(v >= p, (v - p) / gapS).otherwise(v / gapS))
          .drop("__last")
      case RangeFnQ("deriv", _, _, endUs) =>
        // least-squares slope of value over time-in-seconds
        // (Prometheus deriv); x is anchored at the window end so the
        // regression arithmetic is replayable
        val x = (col("timestamp_us") - lit(endUs)).cast("double") / lit(1e6)
        foldBy(rows, keys, regr_slope(col("value"), x), count(lit(1)).as("__n"))
          .filter(col("__n") >= 2 && col("value").isNotNull).drop("__n")
      case RangeFnQ(op, _, startUs, endUs) => // increase | rate
        val d = withPrev
          .withColumn("__d",
            when(col("__prev").isNull, lit(null).cast("double"))
              .when(col("value") >= col("__prev"),
                col("value") - col("__prev"))
              .otherwise(col("value")))
        // plain f64 summation — Prometheus values are f64, and any
        // quantization here (e.g. a decimal cast) would corrupt
        // fractional counter deltas for generic callers; callers that
        // need order-independent comparison round at their own layer
        val agg = foldBy(d, keys, sum(col("__d")))
          .filter(col("value").isNotNull) // <2 samples ⇒ no result
        if (op == "rate")
          agg.withColumn("value", col("value") / lit((endUs - startUs) / 1e6))
        else agg
      case _ =>
        throw PromQLError("Unsupported subquery inner expression")
    }
  }

  /** The per-step vector of a leaf over a step grid: one row per
    * (series, step) — (sensor_id, __t, labels, value). ONE pass over
    * the scan: a generator lands each sample in every step window
    * holding it (≤ span/step + 1 steps, [[stepsHolding]]), then the
    * leaf's window function folds per (series, step) group — never a
    * per-step job loop. The leaf's window is re-anchored at each step,
    * shifted back by its distance from `refUs`, the parse-time
    * evaluation reference (an `offset`).
    */
  private def perStepVector(
      leaf: Query, steps: Seq[Long], refUs: Long,
      selected: DataFrame, samples: DataFrame): DataFrame = {
    val shiftUs = refUs - leaf.endUs
    val spanUs = leaf.endUs - leaf.startUs
    val inWindow = withSelected(samples
      .filter(col("timestamp_us").between(
        steps.min - shiftUs - spanUs, steps.max - shiftUs)),
      selected)
    windowed(leaf,
      inWindow.withColumn("__t", explode(stepsHolding(steps, shiftUs, spanUs))),
      Seq("sensor_id", "__t"))
  }

  /** The per-step evaluation of any subquery-valid expression over a
    * step grid — the one per-step recursion, shared by subqueries,
    * [[evalRange]] and the pinned [[evalRangeApi]]. Each leaf selects
    * its own series and gets ONE scan pass over its step grid
    * ([[perStepVector]]); wrappers and aggregations apply the same
    * per-node transforms as the instant evaluation, per step; binary
    * vector/set operands join per (matching-labels, step); nested
    * subqueries share one epoch-aligned inner grid across all outer
    * steps (inner step timestamps are epoch multiples, so they repeat
    * across outer steps — one inner pass total, joined to the small
    * (outer, inner) pair frame); dynamic scalars resolve per step.
    * Output: (sensor_id, __t, labels, value), one row per (series, step).
    *
    * `refUs` is the parse-time evaluation reference (every node's
    * offset shift is measured against it).
    */
  private def perStepAny(
      q: Query, steps: Seq[Long], refUs: Long,
      selectFor: Seq[LabelMatcher] => DataFrame,
      samples: DataFrame): DataFrame = {
    def sub(q2: Query): DataFrame =
      perStepAny(q2, steps, refUs, selectFor, samples)
    q match {
      case b: BinVectorQ =>
        joinVectors(b, sub(b.left), sub(b.right), Seq("__t"))
      case b: BinSetQ => setOp(b.op, sub(b.left), sub(b.right), Seq("__t"))
      case b: BinDynScalarQ =>
        // scalar(x) per step: the single series' value when the step's
        // vector has exactly one element, NaN otherwise (Prometheus);
        // steps with an EMPTY vector surface NaN via the left join
        val sc = sub(b.scalarQ.inner).groupBy(col("__t"))
          .agg(when(count(lit(1)) === 1, min(col("value")))
            .otherwise(lit(Double.NaN)).as("__s"))
        val s = coalesce(col("__s"), lit(Double.NaN))
        val e =
          if (b.scalarOnLeft) binCol(b.op, s, col("value"))
          else binCol(b.op, col("value"), s)
        sub(b.inner).join(broadcast(sc), Seq("__t"), "left")
          .withColumn("value", e).drop("__s")
      case v: VectorLitQ =>
        import samples.sparkSession.implicits._
        val empty = map().cast("map<string,string>")
        steps.toDF("__t").select(
          canonicalSeriesId(empty).as("sensor_id"), col("__t"),
          empty.as("labels"), lit(v.value).as("value"))
      case sq: SubqueryOverTimeQ =>
        // nested subquery: for each outer step t the inner evaluates on
        // its own grid ending at t — but inner steps are epoch-aligned
        // multiples, so the DISTINCT inner timestamps across all outer
        // steps form ONE shared grid: a single inner pass, fanned out
        // to (outer, inner) pairs by a broadcast join, folded per
        // (series, outer step)
        val pairs = steps.flatMap(t =>
          stepTimestamps(sq.rangeUs, sq.stepUs, t).map(it => (t, it)))
        if (pairs.isEmpty)
          throw PromQLError("Subquery range contains no step timestamps")
        val innerTs = pairs.map(_._2).distinct.sorted
        val sv = perStepAny(sq.inner, innerTs, refUs, selectFor, samples)
        import samples.sparkSession.implicits._
        val pairDf = broadcast(pairs.toDF("__ot", "__t"))
        overTime(sv.join(pairDf, "__t"), sq.op, sq.phi,
          Seq("sensor_id", "__ot"), "__t")
          .select(col("sensor_id"), col("__ot").as("__t"), col("labels"),
            col("value"))
      case b: BinScalarQ => applyBinScalar(b, sub(b.inner))
      case m: MathFnQ => applyMathFn(m, sub(m.inner))
      case b: BinCmpQ => applyBinCmp(b, sub(b.inner))
      case a: InstantAggQ =>
        stepAggVec(sub(SelectorQ(a.matchers, a.startUs, a.endUs)),
          aggCol(a.op, col("value")), a.by, a.without)
      case a: InstantAggVecQ =>
        stepAggVec(sub(a.inner), aggCol(a.op, col("value")), a.by, a.without)
      case qa: QuantileAggQ =>
        stepAggVec(sub(qa.inner), percentile(col("value"), lit(qa.phi)),
          qa.by, qa.without)
      case leaf =>
        perStepVector(leaf, steps, refUs, selectFor(leaf.matchers), samples)
    }
  }

  /** Cross-series aggregation of a per-step vector at each step: the
    * aggregate's group labels become the series identity.
    */
  private def stepAggVec(sv: DataFrame, agg: Column, by: Seq[String],
      without: Boolean): DataFrame =
    applyGroupAgg(agg, by, without, sv, Seq("__t"))
      .select(canonicalSeriesId(col("group_labels")).as("sensor_id"),
        col("__t"), col("group_labels").as("labels"),
        col("value").cast("double").as("value"))

  /** Prometheus range-query evaluation (`query_range`): the expression
    * at every step in `[startUs, endUs]` anchored at `startUs` (start,
    * start+step, …, ≤ end — the Prometheus API grid, unlike subquery
    * steps which align to epoch multiples), one row per (series, step):
    * (sensor_id, labels, t_us, value). Supported expressions are the
    * subquery-valid shapes — selectors (latest sample in the lookback
    * ending at the step), per-series range functions over their
    * bracketed window, scalar arithmetic/comparison/math wrappers, and
    * cross-series aggregations over any of them. Parse the query with
    * `nowUs = endUs` so selector windows and `offset` resolve against
    * the range end (the 4-argument [[parse]] overload also resolves
    * `@ start()` / `@ end()` anchors).
    */
  def evalRange(
      q: Query, startUs: Long, endUs: Long, stepUs: Long,
      selectFor: Seq[LabelMatcher] => DataFrame,
      samples: DataFrame): DataFrame = {
    rangeChecks(q, startUs, endUs, stepUs)
    val steps = (startUs to endUs by stepUs).toList
    perStepAny(q, steps, endUs, selectFor, samples)
      .select(col("sensor_id"), col("labels"), col("__t").as("t_us"),
        col("value").cast("double").as("value"))
  }

  private def rangeChecks(
      q: Query, startUs: Long, endUs: Long, stepUs: Long): Unit = {
    if (stepUs <= 0) throw PromQLError("query_range step must be positive")
    if (endUs < startUs)
      throw PromQLError("query_range end precedes start")
    if ((endUs - startUs) / stepUs > 100000L)
      throw PromQLError("query_range resolves to more than 100000 steps")
    if (!validSubqueryInner(q))
      throw PromQLError(
        "query_range supports selectors, per-series functions, scalar " +
          "wrappers, and cross-series aggregations over them")
  }

  /** The query_range API entry: parses `query`, resolves `@ start()` /
    * `@ end()` anchors against the range bounds, and dispatches:
    *
    *  - no `@` modifier → the per-step path ([[evalRange]]): each step's
    *    window ends at that step (shifted by `offset` if present);
    *  - a trailing top-level `@ T` pinning the WHOLE expression →
    *    Prometheus semantics: evaluate ONCE at the pinned time and
    *    replicate the value across every step (a constant series) —
    *    `metric @ start()` reads the window ending at the range start
    *    at every step, it does NOT drift with the grid;
    *  - `@` on a sub-expression (e.g. `a @ 100 + b`) → clean
    *    PromQLError (documented deviation: per-operand pinning inside a
    *    range grid is not supported).
    *
    * `samplesFor(loUs, hiUs)` supplies the sample scan bounded to the
    * widest window any step (or the pinned instant) reads — bounds
    * computed HERE so callers can't under-scan.
    */
  def evalRangeApi(
      query: String, startUs: Long, endUs: Long, stepUs: Long,
      selectFor: Seq[LabelMatcher] => DataFrame,
      samplesFor: (Long, Long) => DataFrame): DataFrame = {
    val (q, pinned) = Parser(query, endUs, Some((startUs, endUs))).rangeQuery()
    rangeChecks(q, startUs, endUs, stepUs)
    val lastStepUs = endUs - (endUs - startUs) % stepUs
    pinned match {
      case None =>
        val shiftUs = endUs - q.endUs
        val spanUs = q.endUs - q.startUs
        // the scan ends at the last step, not at `end`: the same bound as
        // perStepVector's, so the two merge and an unaligned range plans
        // like an aligned one
        evalRange(q, startUs, endUs, stepUs, selectFor,
          samplesFor(startUs - shiftUs - spanUs, lastStepUs - shiftUs))
      case Some(pinUs) =>
        val samples = samplesFor(q.startUs, q.endUs)
        // one evaluation at the pinned instant (a single-step grid at
        // the pinned window's end, zero shift) — through perStepAny, so
        // every shape rangeChecks admits pins too
        val once = perStepAny(q, List(pinUs), pinUs, selectFor, samples)
          .select(col("sensor_id"), col("labels"),
            col("value").cast("double").as("value"))
        // ...replicated across the step grid
        once.select(col("sensor_id"), col("labels"),
          explode(sequence(lit(startUs), lit(lastStepUs), lit(stepUs)))
            .as("t_us"), col("value"))
    }
  }

  /** A leaf node: the shapes that read the samples of ONE selection
    * directly, each within its own window. The per-series window
    * functions are [[windowed]] keyed by the series alone.
    */
  private def evalLeaf(
      q: Query, selected: DataFrame, samples: DataFrame): DataFrame = {
    val inWindow = withSelected(samples
      .filter(col("timestamp_us").between(q.startUs, q.endUs)), selected)
    q match {
      case LimitKQ(k, _, _, _) =>
        lastInWindow(inWindow)
          .withColumn("__d", labelDraw(col("labels")))
          .orderBy(col("__d").asc, col("sensor_id").asc)
          .limit(k)
          .select("sensor_id", "labels", "value")
      case LimitRatioQ(r, _, _, _) =>
        val latest = lastInWindow(inWindow)
          .withColumn("__d", labelDraw(col("labels")).cast("double") /
            lit((1L << 60).toDouble))
        val kept =
          // r = 1.0 keeps ALL series: the ~2^-54 of draws that round
          // to exactly 1.0 in double space would fail a bare `< 1.0`
          if (r >= 1.0) lit(true)
          else if (r >= 0) col("__d") < lit(r)
          else col("__d") >= lit(1.0 + r)
        latest.filter(kept).select("sensor_id", "labels", "value")
      case TopKQ(op, k, by, without, _, _, _) =>
        val latest = lastInWindow(inWindow)
        val ord = Seq(
          if (op == "topk") col("value").desc else col("value").asc,
          col("sensor_id").asc)
        if (by.isEmpty && !without) {
          // limit first: TakeOrderedAndProject bounds the sort to k
          // rows; the rank window then runs over k rows, not the full
          // vector
          latest.orderBy(ord: _*).limit(k)
            .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
            .select("rank", "sensor_id", "labels", "value")
        } else {
          // per-group ranking: the rank-filter shape Spark rewrites to
          // WindowGroupLimit — per-partition top-k, no global sort.
          // Maps are not orderable, so the window partitions on the
          // sorted-entries canonical key of the group labels
          val w = Window.partitionBy(col("__gk")).orderBy(ord: _*)
          latest.withColumn("__gk",
              array_sort(map_entries(groupLabelsCol(by, without))))
            .withColumn("rank", row_number().over(w))
            .filter(col("rank") <= k)
            .select("rank", "sensor_id", "labels", "value")
        }
      case HoltWintersQ(sfp, tfp, _, _, _) =>
        import samples.sparkSession.implicits._
        // Prometheus's holtWinters fold (promql/functions.go): s seeds
        // with the first sample, the trend with the first delta, and the
        // i=1 step uses the seed trend directly. Inherently sequential —
        // a per-series sorted scan with O(1) state, one shuffle on
        // sensor_id (the storage sort key), exactly the deadband shape.
        inWindow
          .select(col("sensor_id"), col("labels"),
            col("timestamp_us"), col("value"))
          .as[(String, Map[String, String], Long, Double)]
          .groupByKey(_._1)
          .flatMapGroups { (id, it) =>
            val rows = it.toArray.sortBy(r => (r._3, r._4))(
              Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering))
            if (rows.length < 2) Iterator.empty
            else {
              var s0 = 0.0
              var s1 = rows(0)._4
              var b = rows(1)._4 - rows(0)._4
              var i = 1
              while (i < rows.length) {
                val trend =
                  if (i == 1) b else tfp * (s1 - s0) + (1 - tfp) * b
                val next = sfp * rows(i)._4 + (1 - sfp) * (s1 + trend)
                s0 = s1; s1 = next; b = trend
                i += 1
              }
              Iterator((id, rows(0)._2, s1))
            }
          }
          .toDF("sensor_id", "labels", "value")
      case TimestampQ(_, _, _) =>
        lastInWindow(inWindow)
          .select(col("sensor_id"), col("labels"),
            (col("timestamp_us").cast("double") / lit(1e6)).as("value"))
      case SelectorQ(_, _, _) =>
        inWindow.select("sensor_id", "labels", "timestamp_us", "value")
      case PredictLinearQ(horizonS, _, _, endUs) =>
        // x anchored at the window end, so the prediction at now + t is
        // intercept + slope * t — replayable regression arithmetic
        val x = (col("timestamp_us") - lit(endUs)).cast("double") / lit(1e6)
        inWindow.groupBy(col("sensor_id"))
          .agg(first(col("labels")).as("labels"),
            (regr_intercept(col("value"), x) +
              regr_slope(col("value"), x) * lit(horizonS)).as("value"),
            count(lit(1)).as("__n"))
          .filter(col("__n") >= 2 && col("value").isNotNull)
          .select("sensor_id", "labels", "value")
      case InstantAggQ(op, by, without, _, _, _) =>
        applyGroupAgg(aggCol(op, col("value")), by, without,
          lastInWindow(inWindow))
      case HistogramQuantileQ(phi, _, _, _) =>
        // buckets per group = labels minus `le`; arrays are tiny (one
        // entry per bucket boundary), so the interpolation runs as a
        // per-group scalar fold
        val latest = lastInWindow(inWindow)
          .withColumn("__le", element_at(col("labels"), "le"))
          .filter(col("__le").isNotNull)
          .withColumn("group_labels",
            map_from_entries(filter(map_entries(col("labels")),
              e => e.getField("key") =!= "le")))
        latest
          .groupBy(col("group_labels"))
          .agg(collect_list(struct(col("__le").as("le"),
            col("value").as("cum"))).as("__bs"))
          .select(col("group_labels"),
            histInterp(col("__bs"), lit(phi)).as("value"))
          .filter(col("value").isNotNull)
      case CountValuesQ(label, _, _, _) =>
        // Prometheus count_values: one output series per distinct latest
        // value, keyed by a fresh label carrying the value's string form
        lastInWindow(inWindow)
          .groupBy(col("value").as("__v"))
          .agg(count(lit(1)).as("__n"))
          .select(map(lit(label), col("__v").cast("string"))
            .as("group_labels"), col("__n").as("value"))
      case AbsentQ(_, _, _) =>
        // lazy: a global count that keeps its row only when zero — no
        // Spark job runs at plan-construction time (evaluation stays a pure
        // plan builder on every branch)
        inWindow.agg(count(lit(1)).as("__n"))
          .filter(col("__n") === 0)
          .select(map().cast("map<string,string>").as("labels"),
            lit(1.0).as("value"))
      case _ => windowed(q, inWindow, Seq("sensor_id"))
    }
  }

  /** Prometheus bucket interpolation: sort buckets by `le` ("+Inf" →
    * ∞), rank = φ·total, walk to the covering bucket, interpolate
    * `lo + (hi − lo)·(rank − cumPrev)/(cum − cumPrev)` (mul before div,
    * the order an external SQL replay also produces). First bucket's
    * lower bound is 0; an infinite covering bucket yields the highest
    * finite `le`; total ≤ 0 or unparsable input yields null.
    */
  private val histInterp = udf {
    (bs: Seq[org.apache.spark.sql.Row], phi: Double) =>
      def parseLe(s: String): Option[Double] =
        if (s == "+Inf" || s == "inf" || s == "Inf")
          Some(Double.PositiveInfinity)
        else s.toDoubleOption
      val les = bs.map(r => parseLe(r.getString(0)).map((_, r.getDouble(1))))
      // unparsable le, no finite bucket, or zero total ⇒ null (dropped)
      if (les.exists(_.isEmpty)) null.asInstanceOf[java.lang.Double]
      else {
        val parsed = les.flatten.sortBy(_._1)
        if (parsed.isEmpty || !parsed.head._1.isFinite)
          null.asInstanceOf[java.lang.Double]
        else {
          val total = parsed.last._2
          if (total <= 0.0) null.asInstanceOf[java.lang.Double]
          else {
            val rank = phi * total
            var prevLe = 0.0
            var prevCum = 0.0
            var res: java.lang.Double = null
            var i = 0
            while (i < parsed.length && res == null) {
              val (le, cum) = parsed(i)
              if (cum >= rank) {
                res =
                  if (le.isPosInfinity) prevLe
                  else prevLe + (le - prevLe) * (rank - prevCum) / (cum - prevCum)
              } else { prevLe = le; prevCum = cum }
              i += 1
            }
            res
          }
        }
      }
  }

  /** Labels map with `dst` set to `value` — or removed when `value` is
    * the empty string (Prometheus's empty-label-means-absent rule).
    */
  private def labelsWith(dst: String, value: Column): Column = {
    val without = map_from_entries(filter(
      map_entries(coalesce(col("labels"), map().cast("map<string,string>"))),
      e => e.getField("key") =!= dst))
    when(value === "", without)
      .otherwise(map_concat(without, map(lit(dst), value)))
  }

  /** Each series' latest sample in the window (deterministic tie-break on
    * value) — PromQL instant-vector semantics at the evaluation timestamp.
    */
  private def lastInWindow(inWindow: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sensor_id"))
      .orderBy(col("timestamp_us").desc, col("value").desc)
    inWindow
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
