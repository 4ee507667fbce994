"""Distribution drift report between two relation snapshots — the
monitoring half of FS5's asset checks: checks gate a single
materialization, drift compares one against a baseline (yesterday's
table, the training snapshot, another environment) and flags the
columns whose distribution moved.

Shape: ONE lazy aggregate job. The snapshots union under a side tag
and a single global aggregate computes every per-column statistic
for both sides at once via side-conditional aggregates
(count/nulls/min/max/exact-decimal mean — the A12 statistics, but
all columns in one aggregate because drift reports want a fixed row
per column, not per-value NDV); the one summary row then explodes
into per-column report rows without ever touching the driver. The
whole report is a single DataFrame lineage, so callers pay exactly
one job at action time; at 100 TB the cost is the two input scans
feeding one partial+final aggregate, and on `TableStore` tables the
baseline side can come from time travel for free.

Exact-mean fast paths (round 11). The exact mean's contract is
``round(cast(sum(cast(c as decimal(28,9))) as double) / count, 6)``.
Executing that literally costs one per-row JVM decimal conversion
per column — for DOUBLE columns the cast goes through
``Double.toString`` + BigDecimal (measured as ~85% of the whole
report at the 64x probe; the SUM adds themselves are cheap — an
interleaved microbench showed limb-splitting the sum while keeping
the casts is a net LOSS). The fast paths below compute the same
value with per-row long/double arithmetic only, provably equal to
the cast semantics:

* INTEGRAL columns: ``cast(c as decimal(28,9))`` is exactly ``c``
  (a long always fits the 19 integer digits), so the exact sum is
  ``sum(cast(c as decimal(28,0)))`` — a compact (long-backed) per-row
  conversion — rescaled once per group to decimal(38,9), which
  nulls at 1e29 exactly like the native sum's overflow check.
* DECIMAL(p, s<=9) columns: the cast is an exact rescale, nulling
  values with more than 19 integer digits. Summing at the SOURCE
  scale via ``cast(c as decimal(19+s, s))`` (identity below 1e19,
  NULL at exactly the native cast's threshold) gives a
  decimal(29+s, s) sum whose overflow check also fires at 1e29;
  one group-level rescale to (38,9) is exact.
* DOUBLE columns: Spark's double->decimal cast rounds the SHORTEST
  DECIMAL REPRESENTATION of the double (BigDecimal.valueOf =
  Double.toString) HALF_UP at scale 9. The shared
  ``queries.util.money_fast_parts`` construction (one home for the
  proof) identifies rows whose value IS a 2-fractional-digit
  decimal: y = floor(d*100 + 0.5) with a bitwise y/100.0 == d check
  under a |d| < 1e10 magnitude gate — for such d,
  cast(d as decimal(28,9)) has value y/100 EXACTLY (and never
  NULLs: 1e10 is far under the cast's 1e19 overflow threshold).
  Such rows contribute the LONG y to a compact
  scale-0 sum (value 100*sum); all other rows (more than 2
  fractional digits, |d| >= 1e10, NaN/Inf/NULL) keep the native cast
  and native decimal sum. The two partial sums recombine exactly
  once per group: fast_total = cast(sum_y as decimal(34,0)) *
  0.01 -> decimal(37,2) (exact — no precision-loss adjustment),
  then either branch alone is rescaled to (38,9), and the mixed case
  adds at decimal(37,9) + decimal(37,9) -> (38,9), the widest
  Spark addition that does NOT trigger the precision-loss scale
  trim (a (38,9)+(38,9) add silently becomes (38,8) and ROUNDS —
  measured, never use it).

Residual semantic corners, all beyond 1e28-magnitude SUMS (1e12
rows of 1e16 values): the mixed double branch nulls at 1e28 where
the native sum nulls at 1e29, and a fast-only double sum nulls at
1e34 on the intermediate where native's threshold is 1e29 (the
group-level (38,9) rescale re-imposes 1e29 before anything is
returned). Fixture, dirty-fixture and property tests pin value
equality with the generic path (tests/test_features.py).
"""

from __future__ import annotations

from collections.abc import Sequence
from decimal import Decimal as _PyDecimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fresh_name(base: str, taken: set[str]) -> str:
    """A helper-column name colliding with neither the input columns
    nor a previously generated helper (ADVICE r10: a profiled set
    like {'a', 'a_', '__dec_a'} must not yield duplicate aliases)."""
    d = base
    while d in taken:
        d += "_"
    taken.add(d)
    return d


#: default mean-accumulator type — the only target the typed fast
#: paths are proven for; any override routes through the generic cast
_DEFAULT_DECIMAL = "decimal(28,9)"

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _route(dtype: T.DataType, decimal: str) -> str:
    """Which exact-mean strategy a column of ``dtype`` takes."""
    if decimal.replace(" ", "").lower() != _DEFAULT_DECIMAL:
        return "generic"
    if isinstance(dtype, _INTEGRAL):
        return "integral"
    if isinstance(dtype, T.DecimalType) and dtype.scale <= 9:
        return "decimal"
    if isinstance(dtype, T.DoubleType):
        return "double"
    return "generic"


def drift_report(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    decimal: str = "decimal(28,9)",
    _force_generic: bool = False,
) -> DataFrame:
    """Per-column drift between two snapshots: row counts, null
    rates, min/max ranges and exact-decimal means on both sides,
    plus the deltas monitoring rules alert on (mean shift, null-rate
    shift, range expansion). Exact decimal arithmetic end to end —
    two runs over identical data report EXACTLY zero drift, so
    alert thresholds never fight float noise.

    ``decimal`` sets the mean accumulator's type: the (28,9) default
    keeps 9 fractional digits (normalized features don't quantize to
    zero) with integer headroom to ~1e19; values beyond the chosen
    precision cast to NULL under non-ANSI semantics and silently
    leave the mean — widen the type for such columns. Means are
    rounded to 6 decimals: DuckDB's decimal(…,9)→double cast is not
    correctly rounded, so the raw quotient drifts ~1 ulp between
    engines; 6-decimal rounding on BOTH sides absorbs that while
    staying far above alert thresholds.

    ``_force_generic`` is a test hook: it disables the typed exact
    fast paths (module docstring) so differential tests can pin the
    fast and generic legs value-identical.

    Fully lazy: returns an unevaluated DataFrame whose plan is one
    global aggregate (both sides' statistics as side-conditional
    aggregates over the tagged union — identical arithmetic to two
    separate per-side aggregates) followed by a driverless explode
    of the summary row into per-column rows."""
    if not cols:
        # zero columns profiled (e.g. an empty schema intersection):
        # an empty, correctly-typed report — F.array() of zero structs
        # would fail analysis instead
        return baseline.sparkSession.createDataFrame(
            [],
            "col_name string, n_baseline bigint, n_current bigint, "
            "null_rate_baseline double, null_rate_current double, "
            "mean_baseline double, mean_current double, mean_shift double, "
            "min_baseline double, min_current double, "
            "max_baseline double, max_current double, range_expanded boolean",
        )
    tagged = baseline.select(F.lit("b").alias("__side"), *cols).unionByName(
        current.select(F.lit("c").alias("__side"), *cols)
    )
    routes = {
        c: ("generic" if _force_generic else _route(tagged.schema[c].dataType, decimal))
        for c in cols
    }

    # Per-row helper fields, hoisted into ONE unconditional projection
    # (codegen subexpression elimination skips conditional branches,
    # so an expensive expression inlined under when(side, ...) inside
    # several aggregate buffers re-evaluates per reference — the r10
    # fs10 lesson; CollapseProject cannot inline a non-cheap alias
    # referenced more than once).
    taken = set(tagged.columns)
    helpers: list[Column] = []
    #: per column: dict of helper-column names by role
    h: dict[str, dict[str, str]] = {}
    for c in cols:
        r = routes[c]
        names: dict[str, str] = {}
        if r == "generic":
            d = _fresh_name(f"__dec_{c}", taken)
            helpers.append(F.col(c).cast(decimal).alias(d))
            names["dec"] = d
        elif r == "decimal":
            s = tagged.schema[c].dataType.scale
            tgt = f"decimal({19 + s},{s})"
            d = _fresh_name(f"__rc_{c}", taken)
            # identity below 1e19; NULL at exactly the native
            # (28,9)-cast's 19-integer-digit threshold
            helpers.append(F.col(c).cast(tgt).alias(d))
            names["rc"] = d
        elif r == "double":
            # the shared shortest-repr fast-leg construction (proof
            # lives on money_fast_parts): fast rows' cast(c as
            # decimal(28,9)) has value y/100 exactly
            from feray_spark.queries.util import money_fast_parts

            y, fast = money_fast_parts(F.col(c), 2)
            fy = _fresh_name(f"__fy_{c}", taken)
            ds = _fresh_name(f"__ds_{c}", taken)
            # fast rows: the long y (100x the exact value); NULL cond
            # (c IS NULL) falls through to NULL on both helpers
            helpers.append(F.when(fast, y).alias(fy))
            helpers.append(
                F.when(
                    ~F.coalesce(fast, F.lit(False)),
                    F.col(c).cast("decimal(28,9)"),
                ).alias(ds)
            )
            names["fy"] = fy
            names["ds"] = ds
        h[c] = names
    if helpers:
        tagged = tagged.select("*", *helpers)

    def _mean(side: Column, c: str) -> tuple[Column, Column]:
        """(exact decimal(38,9) sum, castable count) for one side."""
        r = routes[c]
        if r == "generic":
            dv = F.when(side, F.col(h[c]["dec"]))
            return F.sum(dv).cast("decimal(38,9)"), F.count(dv)
        if r == "integral":
            # cast(long as decimal(28,0)) is compact (no 10^9 shift)
            # and never NULLs; sum -> decimal(38,0); the (38,9)
            # rescale nulls at 1e29 exactly like the native sum
            v = F.when(side, F.col(c).cast("decimal(28,0)"))
            return F.sum(v).cast("decimal(38,9)"), F.count(
                F.when(side, F.col(c))
            )
        if r == "decimal":
            rc = F.when(side, F.col(h[c]["rc"]))
            # sum -> decimal(29+s, s): overflow check at 1e29 like
            # the native sum; group-level rescale to (38,9) is exact
            return F.sum(rc).cast("decimal(38,9)"), F.count(rc)
        # double: fast long leg + native-cast slow leg, recombined
        # exactly once per group (module docstring)
        fy, ds = F.col(h[c]["fy"]), F.col(h[c]["ds"])
        sum_y = F.sum(F.when(side, fy).cast("decimal(28,0)"))
        sum_s = F.sum(F.when(side, ds))
        # (34,0) * lit(2,2) -> decimal(37,2): EXACT (no precision-
        # loss trim); the input cap nulls at 1e34, above every value
        # the final (38,9) rescale would keep anyway
        t_fast = sum_y.cast("decimal(34,0)") * F.lit(_PyDecimal("0.01"))
        total = (
            F.when(sum_y.isNull(), sum_s)
            .when(sum_s.isNull(), t_fast.cast("decimal(38,9)"))
            # mixed: (37,9)+(37,9) -> (38,9) is the widest loss-free
            # decimal add; a (38,9)+(38,9) add precision-trims to
            # (38,8) and ROUNDS (measured) — never widen this
            .otherwise(
                t_fast.cast("decimal(37,9)") + sum_s.cast("decimal(37,9)")
            )
        )
        cnt = F.count(
            F.when(side & (fy.isNotNull() | ds.isNotNull()), F.lit(1))
        )
        return total, cnt

    aggs = []
    for s in ("b", "c"):
        side = F.col("__side") == s
        aggs.append(F.count(F.when(side, 1)).alias(f"{s}__n"))
        for c in cols:
            v = F.when(side, F.col(c))
            total, cnt = _mean(side, c)
            aggs += [
                F.count(F.when(side & F.col(c).isNull(), 1)).alias(
                    f"{s}_{c}__nulls"
                ),
                F.min(v).cast("double").alias(f"{s}_{c}__min"),
                F.max(v).cast("double").alias(f"{s}_{c}__max"),
                # denominator counts the CASTABLE values only: a value
                # overflowing the decimal cast leaves the numerator as
                # NULL, so it must leave the denominator too — else the
                # mean is sum-of-some over count-of-all (neither the
                # true mean nor the mean of castables)
                F.round(total.cast("double") / cnt, 6).alias(
                    f"{s}_{c}__mean"
                ),
            ]
    summary = tagged.agg(*aggs)

    per_col = []
    for c in cols:
        b_n, c_n = F.col("b__n"), F.col("c__n")
        b_min, c_min = F.col(f"b_{c}__min"), F.col(f"c_{c}__min")
        b_max, c_max = F.col(f"b_{c}__max"), F.col(f"c_{c}__max")
        b_mean, c_mean = F.col(f"b_{c}__mean"), F.col(f"c_{c}__mean")
        per_col.append(
            F.struct(
                F.lit(c).alias("col_name"),
                b_n.cast("bigint").alias("n_baseline"),
                c_n.cast("bigint").alias("n_current"),
                F.when(
                    b_n > 0, F.col(f"b_{c}__nulls").cast("double") / b_n
                ).alias("null_rate_baseline"),
                F.when(
                    c_n > 0, F.col(f"c_{c}__nulls").cast("double") / c_n
                ).alias("null_rate_current"),
                b_mean.alias("mean_baseline"),
                c_mean.alias("mean_current"),
                (c_mean - b_mean).alias("mean_shift"),
                b_min.alias("min_baseline"),
                c_min.alias("min_current"),
                b_max.alias("max_baseline"),
                c_max.alias("max_current"),
                # expanded: current has values outside the baseline's
                # range — including the case where the baseline had NO
                # values at all (a range appearing IS an expansion;
                # b_min NULL short-circuits the three-valued OR to
                # TRUE before the NULL comparisons can poison it)
                F.when(
                    c_min.isNotNull(),
                    b_min.isNull() | (c_min < b_min) | (c_max > b_max),
                )
                .otherwise(F.lit(False))
                .alias("range_expanded"),
            )
        )
    return summary.select(F.explode(F.array(*per_col)).alias("__r")).select(
        "__r.*"
    )
