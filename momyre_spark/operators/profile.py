"""Column-level statistics profiling (ANALYZE-style) in one scan.

A 100 TB pipeline needs table stats before it needs anything else: null
ratios gate quality filters, NDVs drive join-strategy choices (broadcast vs
shuffle), min/max feed partition-layout decisions (see
sinks/snapshots.snapshot_zorder). This computes, in a single pass over the table, per column:

    n_rows, n_nulls, ndv, min/max (numeric as double, strings lexically)

Plan shape: ONE aggregate. With ``exact_ndv=True`` Spark plans multiple
exact count-distincts via a single Expand (rows duplicated once per
distinct agg — the standard cost, still one scan). At 100 TB use the
default ``exact_ndv=False``: ``approx_count_distinct`` (HyperLogLog++,
relative error ~2.3%) keeps the aggregate a plain one-pass partial+final
hash agg with no Expand. The oracle queries pin the exact path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from momyre_spark.functions.numeric import round_half_up

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"} | {
    "decimal"
}


def _is_numeric(dtype: str) -> bool:
    return dtype.split("(")[0] in _NUMERIC


def profile_columns(
    df: DataFrame, cols: Sequence[str], exact_ndv: bool = False
) -> DataFrame:
    """Long-form stats: one output row per profiled column.

    Output: ``col_name, n_rows, n_nulls, ndv, min_num, max_num, min_str,
    max_str`` — numeric columns fill ``*_num`` (rounded half-up to 4),
    string-typed columns fill ``*_str``; the other pair is NULL.
    """
    dtypes = dict(df.dtypes)
    ndv = F.count_distinct if exact_ndv else F.approx_count_distinct
    aggs, ndv_aggs, rows = [], [], []
    for c in cols:
        num = _is_numeric(dtypes[c])
        ndv_aggs.append(ndv(c).alias(f"__ndv_{c}"))
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{c}"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"),
            (
                round_half_up(F.min(c).cast("double"), 4)
                if num
                else F.lit(None).cast("double")
            ).alias(f"__min_num_{c}"),
            (
                round_half_up(F.max(c).cast("double"), 4)
                if num
                else F.lit(None).cast("double")
            ).alias(f"__max_num_{c}"),
            (F.min(c).cast("string") if not num else F.lit(None).cast("string")).alias(
                f"__min_str_{c}"
            ),
            (F.max(c).cast("string") if not num else F.lit(None).cast("string")).alias(
                f"__max_str_{c}"
            ),
        ]
        rows.append(
            f"'{c}', `__rows_{c}`, `__nulls_{c}`, `__ndv_{c}`, "
            f"`__min_num_{c}`, `__max_num_{c}`, `__min_str_{c}`, `__max_str_{c}`"
        )
    # The NDVs live in their OWN aggregate, cross-joined back onto the
    # plain-stats row (both sides are exactly one row). Fused into one
    # aggregate, the string min/max partials (immutable UTF8String
    # buffers) force the WHOLE first phase — including the
    # len(cols) x N-row multi-distinct Expand — onto SortAggregate, and
    # the plan pays a full sort of the expanded corpus before any
    # partial aggregation (measured 4.1s at sf0.1; the sort dominates).
    # Split, the distinct pass is count-only (long buffers), so the
    # Expand collapses through map-side HashAggregate partials and the
    # stats pass is a single sortless scan: 0.6s, identical output.
    wide = df.agg(*aggs).crossJoin(df.agg(*ndv_aggs))
    stack = (
        f"stack({len(cols)}, "
        + ", ".join(rows)
        + ") as (col_name, n_rows, n_nulls, ndv, min_num, max_num, min_str, max_str)"
    )
    return wide.selectExpr(stack)


def column_histogram(
    df: DataFrame,
    specs: dict[str, tuple[float, float, int]],
    clamp: bool = True,
) -> DataFrame:
    """Equi-width histograms with FIXED bounds, one scan for all columns.

    ``specs`` maps column -> (lo, hi, bins). Fixed bounds (not data-driven
    min/max) keep it a single pass and make bins comparable across
    partitions, days, and engines — the shape optimizers and drift monitors
    want. ``bin = floor((x - lo) / width)``; out-of-range values clamp to
    the edge bins when ``clamp`` (else dropped); nulls are always dropped
    (profile_columns already counts them).

    Plan: explode of ``len(specs)`` small structs per row (map-only) + ONE
    hash aggregation on (col_name, bin) — cardinality bins*cols, so the
    reduce side is trivially small at any scale.

    Output: ``col_name, bin, lo, hi, cnt`` with [lo, hi) the bin's range.
    """
    entries = []
    for c, (lo, hi, bins) in specs.items():
        width = (float(hi) - float(lo)) / int(bins)
        b = F.floor((F.col(c).cast("double") - F.lit(float(lo))) / F.lit(width))
        if clamp:
            b = F.least(F.greatest(b, F.lit(0)), F.lit(int(bins) - 1))
        else:
            b = F.when((b >= 0) & (b < int(bins)), b)
        entries.append(
            F.when(
                F.col(c).isNotNull() & b.isNotNull(),
                F.struct(
                    F.lit(c).alias("col_name"),
                    b.cast("bigint").alias("bin"),
                    (F.lit(float(lo)) + b * width).alias("lo"),
                    (F.lit(float(lo)) + (b + 1) * width).alias("hi"),
                ),
            )
        )
    exploded = df.select(
        F.explode(F.filter(F.array(*entries), lambda e: e.isNotNull())).alias("e")
    )
    return exploded.groupBy("e.col_name", "e.bin", "e.lo", "e.hi").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def drift_report(
    spark,
    root: str,
    cols: Sequence[str],
    from_version: int,
    to_version: int | None = None,
    exact_ndv: bool = False,
) -> DataFrame:
    """Column-stat drift between two snapshot versions — the day-over-day
    data-quality monitor: run it after each ingest commit and alert when a
    column's null rate jumps or its range/NDV shifts (schema rot, upstream
    encoding changes, a crawler gone wrong).

    Reads both versions from the snapshot store (time travel — the old
    version costs no extra storage under copy-on-write), profiles each in
    one scan, and joins the long-form stats per column. Output row per
    column: rows/nulls/ndv for both sides plus deltas, with the null RATE
    delta the headline alert signal (count deltas are meaningless when the
    corpus grew).
    """
    from momyre_spark.sinks.snapshots import current_version, snapshot_read

    if to_version is None:
        to_version = current_version(spark, root)
    a = profile_columns(
        snapshot_read(spark, root, version=from_version), cols, exact_ndv
    ).select(
        F.col("col_name"),
        F.col("n_rows").alias("rows_from"),
        F.col("n_nulls").alias("nulls_from"),
        F.col("ndv").alias("ndv_from"),
        F.col("min_num").alias("min_num_from"),
        F.col("max_num").alias("max_num_from"),
        F.col("min_str").alias("min_str_from"),
        F.col("max_str").alias("max_str_from"),
    )
    b = profile_columns(
        snapshot_read(spark, root, version=to_version), cols, exact_ndv
    ).select(
        F.col("col_name"),
        F.col("n_rows").alias("rows_to"),
        F.col("n_nulls").alias("nulls_to"),
        F.col("ndv").alias("ndv_to"),
        F.col("min_num").alias("min_num_to"),
        F.col("max_num").alias("max_num_to"),
        F.col("min_str").alias("min_str_to"),
        F.col("max_str").alias("max_str_to"),
    )
    nr_from = F.col("nulls_from") / F.greatest(F.col("rows_from"), F.lit(1))
    nr_to = F.col("nulls_to") / F.greatest(F.col("rows_to"), F.lit(1))
    return (
        a.join(b, "col_name", "full_outer")
        .withColumn(
            "null_rate_delta", round_half_up(nr_to - nr_from, 4)
        )
        .withColumn("ndv_delta", F.col("ndv_to") - F.col("ndv_from"))
        # range drift per TYPE family: numeric bounds compare numerically,
        # string bounds lexicographically — a string column (min_num NULL
        # on both sides) previously never alerted at all
        .withColumn(
            "range_widened",
            F.coalesce(
                (F.col("min_num_to") < F.col("min_num_from"))
                | (F.col("max_num_to") > F.col("max_num_from")),
                F.lit(False),
            )
            | F.coalesce(
                (F.col("min_str_to") < F.col("min_str_from"))
                | (F.col("max_str_to") > F.col("max_str_from")),
                F.lit(False),
            ),
        )
        .withColumn(
            "min_from",
            F.coalesce(F.col("min_num_from").cast("string"), F.col("min_str_from")),
        )
        .withColumn(
            "max_from",
            F.coalesce(F.col("max_num_from").cast("string"), F.col("max_str_from")),
        )
        .withColumn(
            "min_to",
            F.coalesce(F.col("min_num_to").cast("string"), F.col("min_str_to")),
        )
        .withColumn(
            "max_to",
            F.coalesce(F.col("max_num_to").cast("string"), F.col("max_str_to")),
        )
        .drop(
            "min_num_from", "max_num_from", "min_str_from", "max_str_from",
            "min_num_to", "max_num_to", "min_str_to", "max_str_to",
        )
        .orderBy("col_name")
    )


def join_cardinality_estimate(
    left: DataFrame,
    right: DataFrame,
    join_col: str,
) -> DataFrame:
    """The planner's classic equi-join output estimate from per-side
    stats: ``|A| * |B| / max(ndv_A, ndv_B)`` (uniform-frequency
    assumption, containment of the smaller key set) — plus the ACTUAL
    join count next to it, so the report doubles as an estimate-quality
    probe. Run it before shipping an expensive join: a huge estimate says
    broadcast/filter first; estimate << actual says the uniformity
    assumption broke (skew — see skew.key_skew_report).

    Cost: one aggregate per side (count + exact NDV in the same pass) and
    the actual count via a key-count join on NDV-sized per-key tables,
    never materializing the join output itself."""
    la = left.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_left"),
        F.countDistinct(join_col).cast("bigint").alias("ndv_left"),
    )
    ra = right.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_right"),
        F.countDistinct(join_col).cast("bigint").alias("ndv_right"),
    )
    # actual |A join B| = sum over shared keys of cntA * cntB — computed
    # on the per-key COUNT tables (NDV-sized), not by running the join
    ka = left.groupBy(join_col).agg(F.count(F.lit(1)).alias("__ca"))
    kb = right.groupBy(join_col).agg(F.count(F.lit(1)).alias("__cb"))
    actual = ka.join(kb, join_col).agg(
        F.coalesce(F.sum(F.col("__ca") * F.col("__cb")), F.lit(0))
        .cast("bigint")
        .alias("actual_rows")
    )
    est = F.floor(
        F.col("n_left").cast("double")
        * F.col("n_right").cast("double")
        / F.greatest(F.col("ndv_left"), F.col("ndv_right")).cast("double")
    ).cast("bigint")
    return (
        la.crossJoin(ra)
        .crossJoin(actual)
        .select(
            "n_left", "ndv_left", "n_right", "ndv_right",
            est.alias("estimated_rows"),
            "actual_rows",
        )
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier report via median absolute deviation:
    ``(*group_cols, med, mad, n, n_outliers)`` where an outlier is
    ``|x - median| > k * MAD``. The robust twin of the rolling-zscore
    family — mean/stddev move with the outliers they are supposed to
    flag; median/MAD do not (breakdown point 50%), which is what makes
    this the standard gate for heavy-tailed corpus metrics (doc lengths,
    token counts, scores).

    Shape: ONE grouped-map pandas pass (``applyInPandas``) — per group,
    median, MAD and the outlier count come out of a single in-memory
    sort, Arrow-batched, no second shuffle. Contract (same as the
    grouped-median query this generalizes): a GROUP's rows fit in
    executor memory — group count is unbounded, group size is not. For
    groups too large for that, use ``profile_columns``'s approx
    percentiles to the same effect at sketch precision.

    Exact medians (mean of the two middle doubles — numpy and DuckDB
    agree bit-for-bit), so the registered query carries a full value-hash
    oracle. An all-identical group reads MAD 0.0 and flags nothing
    (|x - med| = 0 is never > 0)."""
    import numpy as np
    import pandas as pd

    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    kk = float(k)
    gcols = list(group_cols)

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col].to_numpy(dtype="float64")
        med = float(np.median(v))
        ad = np.abs(v - med)
        mad = float(np.median(ad))
        out = {c: [pdf[c].iloc[0]] for c in gcols}
        out.update(
            med=[med],
            mad=[mad],
            n=[len(v)],
            n_outliers=[int((ad > kk * mad).sum())],
        )
        return pd.DataFrame(out)

    gschema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in gcols
    )
    return df.select(*gcols, value_col).groupBy(*gcols).applyInPandas(
        stats,
        schema=f"{gschema}, med double, mad double, n long, n_outliers long",
    )


def wilson_bounds(
    df: DataFrame,
    group_cols: Sequence[str],
    success_col: str,
    z: float = 1.96,
    digits: int = 6,
) -> DataFrame:
    """Per-group success rate with a Wilson score interval:
    ``(*group_cols, n, successes, rate, wilson_low, wilson_high)``.

    THE interval for curation dashboards ranking sources/domains by a
    pass rate: the naive normal interval lies badly at small n or
    extreme p (a 3/3 domain reads as "100% ± 0%"); Wilson stays inside
    [0,1] and pulls small samples toward 1/2, so sorting by
    ``wilson_low`` is a principled small-sample-safe ranking.

    Shape: ONE hash aggregation (count + conditional sum), float math on
    the two exact integers per group — engine-reproducible because the
    expression tree is mirrored literally in the oracle SQL and outputs
    round at ``digits``. NULL successes count as failures is NOT assumed:
    NULL rows are excluded from n (visible in the count, never silently
    a failure).
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    zz = float(z)
    z2 = zz * zz
    agg = (
        df.filter(F.col(success_col).isNotNull())
        .groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col(success_col), F.lit(1)).otherwise(F.lit(0))
            ).cast("bigint").alias("successes"),
        )
    )
    n = F.col("n").cast("double")
    s = F.col("successes").cast("double")
    p = s / n
    denom = F.lit(1.0) + F.lit(z2) / n
    center = (p + F.lit(z2) / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(zz)
        * F.sqrt(
            p * (F.lit(1.0) - p) / n
            + F.lit(z2) / (F.lit(4.0) * n * n)
        )
        / denom
    )
    return agg.select(
        *group_cols,
        "n",
        "successes",
        round_half_up(p, digits).alias("rate"),
        round_half_up(center - half, digits).alias("wilson_low"),
        round_half_up(center + half, digits).alias("wilson_high"),
    )


def welch_ab_report(
    df: DataFrame,
    group_cols: Sequence[str],
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Per-group Welch two-sample comparison between arms ``arm_a`` and
    ``arm_b``: ``(*group_cols, n_a, n_b, mean_a, mean_b, var_a, var_b,
    t_stat, df_welch)`` — the unequal-variance t statistic plus its
    Welch–Satterthwaite degrees of freedom, the standard A/B readout.

    Shape: one (group, arm) hash aggregation, one tiny group re-agg that
    pairs the arms via conditional max — two shuffles total, the second
    over |groups| rows. Groups missing either arm, or with fewer than 2
    rows in an arm, are dropped (a variance needs n >= 2; absent arms
    have no comparison) — visible in the row count, never NULL-filled.

    Determinism (house integer-units recipe): values fix to ``1/scale``
    units, per-arm sum and sum-of-squares are exact BIGINT arithmetic,
    and every downstream float op consumes exactly-converted integers in
    an expression tree mirrored literally by the oracle SQL, rounded at
    ``digits``. Keep ``(|x|*scale)^2 * rows_per_arm < 2^63`` (ANSI mode
    raises on overflow rather than wrapping) — coarsen ``scale`` for
    large-magnitude metrics.
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    per = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn(
            "__u",
            F.floor(
                F.col(value_col).cast("double") * F.lit(float(scale))
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .filter(F.col(arm_col).isin([arm_a, arm_b]))
        .groupBy(*[F.col(c) for c in group_cols], F.col(arm_col))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__u").alias("__su"),
            F.sum(F.col("__u") * F.col("__u")).alias("__ssq"),
        )
    )

    def side(tag, arm):
        cond = F.col(arm_col) == F.lit(arm)
        return [
            F.max(F.when(cond, F.col("__n"))).alias(f"__n_{tag}"),
            F.max(F.when(cond, F.col("__su"))).alias(f"__su_{tag}"),
            F.max(F.when(cond, F.col("__ssq"))).alias(f"__ssq_{tag}"),
        ]

    paired = (
        per.groupBy(*group_cols)
        .agg(*(side("a", arm_a) + side("b", arm_b)))
        .filter(
            (F.col("__n_a") >= 2) & (F.col("__n_b") >= 2)
        )
    )
    sc2 = float(scale) * float(scale)

    def stats(tag):
        nd = F.col(f"__n_{tag}").cast("double")
        su = F.col(f"__su_{tag}").cast("double")
        ssq = F.col(f"__ssq_{tag}").cast("double")
        mean = su / nd / F.lit(float(scale))
        var = (ssq - su * su / nd) / (nd - F.lit(1.0)) / F.lit(sc2)
        return nd, mean, var

    nd_a, mean_a, var_a = stats("a")
    nd_b, mean_b, var_b = stats("b")
    se2 = var_a / nd_a + var_b / nd_b
    t = (mean_a - mean_b) / F.sqrt(se2)
    dfw = (
        se2
        * se2
        / (
            (var_a / nd_a) * (var_a / nd_a) / (nd_a - F.lit(1.0))
            + (var_b / nd_b) * (var_b / nd_b) / (nd_b - F.lit(1.0))
        )
    )
    return paired.select(
        *group_cols,
        F.col("__n_a").alias("n_a"),
        F.col("__n_b").alias("n_b"),
        round_half_up(mean_a, digits).alias("mean_a"),
        round_half_up(mean_b, digits).alias("mean_b"),
        round_half_up(var_a, digits).alias("var_a"),
        round_half_up(var_b, digits).alias("var_b"),
        round_half_up(t, digits).alias("t_stat"),
        round_half_up(dfw, digits).alias("df_welch"),
    )


def group_ols_trend(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    y_scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Per-group least-squares trend of ``y`` against ``x``:
    ``(*group_cols, n, slope, intercept, r2)``. The metric-drift readout
    — "is this source's quality score trending down over time, and how
    fast" — computed for every group in ONE pass.

    ``x_col`` must already be integer-valued at a resolution whose sums
    stay small (epoch DAYS, batch indexes — not raw micros: the closed
    form multiplies second moments, so keep
    ``(|x| * |y| * y_scale * rows_per_group) < 2^63``; ANSI mode raises
    on overflow rather than wrapping). ``y`` fixes to ``1/y_scale``
    units. All five moment sums (x, y, xy, x², y²) are then exact BIGINT
    arithmetic; the closed-form numerators/denominators are exact BIGINT
    products; and slope/intercept/r² are a handful of mirrored float ops
    over their single-rounded double conversions — deterministic across
    engines and partitionings.

    Shape: one hash aggregation keyed on the group (map-side partials,
    no window, no second pass). Rows with NULL x or y are dropped;
    groups need n >= 2 and non-constant x (zero x-variance has no
    slope) — both dropped visibly, never NULL-filled.
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    x = F.col(x_col).cast("bigint")
    y = F.floor(
        F.col(y_col).cast("double") * F.lit(float(y_scale)) + F.lit(0.5)
    ).cast("bigint")
    agg = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(*group_cols, x.alias("__x"), y.alias("__y"))
        .groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__x").alias("__sx"),
            F.sum("__y").alias("__sy"),
            F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
            F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
            F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        )
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    denx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    deny = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    numd = num.cast("double")
    denxd = denx.cast("double")
    denyd = deny.cast("double")
    nd = F.col("__n").cast("double")
    ys = F.lit(float(y_scale))
    slope = numd / denxd / ys
    intercept = (
        (F.col("__sy").cast("double") / nd - numd / denxd
         * (F.col("__sx").cast("double") / nd)) / ys
    )
    r2 = F.when(
        deny != 0, numd * numd / (denxd * denyd)
    )
    return agg.filter((F.col("__n") >= 2) & (denx != 0)).select(
        *group_cols,
        F.col("__n").alias("n"),
        round_half_up(slope, digits).alias("slope"),
        round_half_up(intercept, digits).alias("intercept"),
        round_half_up(r2, digits).alias("r2"),
    )


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    digits: int = 6,
) -> DataFrame:
    """Chi-squared test of independence between two categorical columns:
    ONE row ``(n, n_a, n_b, dof, chi2, cramers_v)`` — are language and
    source independent, does quality-gate pass rate depend on domain?
    Cramér's V normalizes chi² to [0,1] so effect sizes compare across
    tables.

    Contract: both columns are CATEGORICAL with bounded cardinality —
    the expected-count grid materializes all r x c cells (including
    unobserved ones, which contribute their full expected count; a
    sparse-only sum understates chi²). Rows where either column is NULL
    are excluded.

    Shape: one (a,b) count aggregation, two tiny marginal aggs, the
    r x c grid built by crossing the marginals (broadcast — both are
    category-sized), one broadcast join back to the observed counts.
    Determinism: all counts exact integers; each cell's term
    ``(o-e)²/e`` is a mirrored float expression rounded half-up at 6dp
    and fixed to DECIMAL(38,6) BEFORE summation, so the sum is exact and
    order-free (the temperature-mixture recipe); chi² and V are then a
    mirrored float tail.
    """
    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    counts = base.groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__o"))
    rowt = base.groupBy("__a").agg(F.count(F.lit(1)).alias("__ra"))
    colt = base.groupBy("__b").agg(F.count(F.lit(1)).alias("__cb"))
    grid = rowt.crossJoin(F.broadcast(colt))
    cells = grid.join(F.broadcast(counts), ["__a", "__b"], "left").select(
        "__a",
        "__b",
        "__ra",
        "__cb",
        F.coalesce(F.col("__o"), F.lit(0)).cast("bigint").alias("__o"),
    )
    tot = base.agg(F.count(F.lit(1)).alias("__n"))
    cells = cells.crossJoin(F.broadcast(tot))
    od = F.col("__o").cast("double")
    e = (F.col("__ra") * F.col("__cb")).cast("double") / F.col(
        "__n"
    ).cast("double")
    term = (od - e) * (od - e) / e
    summed = (
        cells.select(
            F.col("__n"),
            round_half_up(term, digits).cast("decimal(38,6)").alias("__t"),
        )
        .groupBy("__n")
        .agg(F.sum("__t").alias("__chi2d"), F.count(F.lit(1)).alias("__rc"))
    )
    shape = rowt.agg(F.count(F.lit(1)).alias("__nr")).crossJoin(
        F.broadcast(colt.agg(F.count(F.lit(1)).alias("__nc")))
    )
    out = summed.crossJoin(F.broadcast(shape))
    chi2 = F.col("__chi2d").cast("double")
    mindim = F.least(
        F.col("__nr") - F.lit(1), F.col("__nc") - F.lit(1)
    )
    v = F.when(
        mindim > 0,
        F.sqrt(chi2 / (F.col("__n") * mindim).cast("double")),
    )
    return out.select(
        F.col("__n").alias("n"),
        F.col("__nr").alias("n_a"),
        F.col("__nc").alias("n_b"),
        ((F.col("__nr") - F.lit(1)) * (F.col("__nc") - F.lit(1))).alias(
            "dof"
        ),
        round_half_up(chi2, digits).alias("chi2"),
        round_half_up(v, digits).alias("cramers_v"),
    )


def group_auc(
    df: DataFrame,
    group_cols: Sequence[str],
    label_col: str,
    score_col: str,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Per-group ROC AUC of ``score_col`` predicting boolean ``label_col``
    via the Mann-Whitney rank identity:
    ``AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)`` where ``R_pos``
    is the sum of the positives' mid-ranks (ties get the average rank, the
    standard trapezoidal-ROC tie treatment). The classifier-quality readout
    every model-scored corpus gate needs ("does this quality score actually
    separate kept from dropped?") without materializing a single ROC point.

    Shape: one hash aggregation keyed on (group, distinct score value),
    then ONE window pass over the per-group distinct values (cumulative
    counts), then a per-group re-agg. Work scales with the number of
    DISTINCT scores per group — not rows — after the first agg, so a
    billion-row group with a 6-digit fixed-point score sorts at most 10^6
    value rows. Never a per-row window.

    Determinism: scores fix to ``1/scale`` units (ties are therefore
    engine-independent), every rank quantity is exact BIGINT (mid-ranks
    are half-integers, so the operator carries 2x the rank sum), and the
    single final division is one mirrored float op rounded at ``digits``.
    Groups without at least one positive AND one negative are dropped
    (AUC undefined) — visible in the row count, never NULL-filled.
    Keep ``rows_per_group^2 * 2 < 2^63`` (the rank-sum bound; ANSI mode
    raises on overflow rather than wrapping).
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    u = F.floor(
        F.col(score_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("bigint")
    per = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(
            *group_cols,
            u.alias("__u"),
            F.col(label_col).cast("boolean").alias("__y"),
        )
        .groupBy(*[F.col(c) for c in group_cols], F.col("__u"))
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__pos"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy("__u").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per.withColumn(
        "__cum", F.sum("__cnt").over(w)
    ).withColumn("__cb", F.col("__cum") - F.col("__cnt"))
    # 2 * sum of positives' mid-ranks: each of the __pos positives at this
    # value has mid-rank (__cb + (__cnt + 1) / 2); doubled stays integral.
    contrib = F.col("__pos") * (
        F.lit(2) * F.col("__cb") + F.col("__cnt") + F.lit(1)
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("__cnt").alias("__n"),
        F.sum("__pos").alias("__npos"),
        F.sum(contrib).alias("__r2"),
    )
    npos = F.col("__npos")
    nneg = F.col("__n") - npos
    # AUC = (R_pos - npos(npos+1)/2) / (npos*nneg) with R_pos = __r2/2
    num = F.col("__r2") - npos * (npos + F.lit(1))
    auc = num.cast("double") / (
        (F.lit(2) * npos * nneg).cast("double")
    )
    return agg.filter((npos >= 1) & (nneg >= 1)).select(
        *group_cols,
        npos.alias("n_pos"),
        nneg.alias("n_neg"),
        round_half_up(auc, digits).alias("auc"),
    )


def ks_2sample(
    df: DataFrame,
    group_cols: Sequence[str],
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic between arms
    ``arm_a`` and ``arm_b``: ``D = max_v |ECDF_a(v) - ECDF_b(v)|`` — the
    distribution-shift test behind "did this release change the metric's
    whole shape, not just its mean" (the readout Welch's t cannot give).

    Shape: one hash aggregation keyed on (group, distinct value), ONE
    window pass over per-group distinct values (cumulative arm counts +
    per-group totals in the same pass), then a per-group max. Post-agg
    work scales with DISTINCT values per group, never rows.

    Determinism: the statistic is computed as an exact BIGINT maximum of
    ``|cum_a * n_b - cum_b * n_a|`` (cross-multiplied ECDFs — no float
    until the single final division, mirrored and rounded at ``digits``).
    Values fix to ``1/scale`` units so tie structure is engine-exact.
    Groups missing either arm are dropped visibly. Keep
    ``n_a * n_b < 2^63`` (ANSI mode raises on overflow, never wraps).
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    u = F.floor(
        F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("bigint")
    isa = F.col(arm_col) == F.lit(arm_a)
    per = (
        df.filter(F.col(value_col).isNotNull())
        .filter(F.col(arm_col).isin([arm_a, arm_b]))
        .select(*group_cols, u.alias("__u"), isa.alias("__isa"))
        .groupBy(*[F.col(c) for c in group_cols], F.col("__u"))
        .agg(
            F.sum(F.when(F.col("__isa"), 1).otherwise(0)).alias("__ca"),
            F.sum(F.when(F.col("__isa"), 0).otherwise(1)).alias("__cb"),
        )
    )
    wcum = Window.partitionBy(*group_cols).orderBy("__u").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = (
        per.withColumn("__cuma", F.sum("__ca").over(wcum))
        .withColumn("__cumb", F.sum("__cb").over(wcum))
        .withColumn("__na", F.sum("__ca").over(wall))
        .withColumn("__nb", F.sum("__cb").over(wall))
    )
    diff = F.abs(
        F.col("__cuma") * F.col("__nb") - F.col("__cumb") * F.col("__na")
    )
    agg = stepped.groupBy(*group_cols).agg(
        F.max(diff).alias("__d"),
        F.max("__na").alias("__na"),
        F.max("__nb").alias("__nb"),
    )
    ks = F.col("__d").cast("double") / (
        (F.col("__na") * F.col("__nb")).cast("double")
    )
    return agg.filter((F.col("__na") >= 1) & (F.col("__nb") >= 1)).select(
        *group_cols,
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        round_half_up(ks, digits).alias("ks_stat"),
    )


def psi_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    boundaries: Sequence[float],
    ref_group,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Population Stability Index of ``value_col``'s distribution in every
    ``group_col`` population against the ``ref_group`` population, over the
    fixed histogram ``boundaries`` (k edges -> k+1 bins, upper-unbounded
    last bin): ``PSI = sum_bins (p_g - p_ref) * ln(p_g / p_ref)`` — the
    standard drift score (rule of thumb: <0.1 stable, >0.25 shifted) for
    "has this source's length/score distribution moved since the reference
    snapshot". Bin probabilities are Laplace-smoothed
    ``(cnt + 0.5) / (n + 0.5 * n_bins)`` so empty bins contribute finitely
    instead of blowing up the log.

    Shape: one hash aggregation keyed on (group, bin), a broadcast of the
    per-group totals and of the tiny dense (group x bin) grid, and a
    per-group re-agg of k+1 term rows — post-agg work is
    ``|groups| * n_bins`` whatever the row count.

    Determinism: values and edges fix to ``1/scale`` units (bin membership
    is integer comparison, engine-exact); each PSI term is rounded at
    ``digits`` and fixed to DECIMAL(38,6) BEFORE the sum, so the total is
    an exact decimal sum of identically-rounded terms (the chi2_independence
    recipe) — associativity of the float sum never matters.
    """
    if not boundaries or list(boundaries) != sorted(set(boundaries)):
        raise ValueError("momyre: boundaries must be sorted and distinct")
    edges = [
        int(__import__("math").floor(float(b) * scale + 0.5))
        for b in boundaries
    ]
    n_bins = len(edges) + 1
    u = F.floor(
        F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("bigint")
    bin_expr = sum(
        (F.when(F.col("__u") >= F.lit(e), 1).otherwise(0) for e in edges),
        F.lit(0),
    ).cast("int")
    base = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(F.col(group_col).alias("__g"), u.alias("__u"))
        .select("__g", bin_expr.alias("__b"))
    )
    counts = base.groupBy("__g", "__b").agg(
        F.count(F.lit(1)).alias("__c")
    )
    totals = base.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    # dense (group x bin) grid via a map-side explode of the literal bin
    # list — never a join (a cross join would plan as a nested-loop join,
    # which the plan auditor bans even when harmless)
    grid = (
        totals.withColumn(
            "__b",
            F.explode(
                F.array(*[F.lit(i).cast("int") for i in range(n_bins)])
            ),
        )
        .join(counts, ["__g", "__b"], "left")
        .select(
            "__g",
            "__b",
            "__n",
            F.coalesce(F.col("__c"), F.lit(0)).alias("__c"),
        )
    )
    p = (F.col("__c").cast("double") + F.lit(0.5)) / (
        F.col("__n").cast("double") + F.lit(0.5 * n_bins)
    )
    cells = grid.select("__g", "__b", "__n", p.alias("__p"))
    ref = (
        cells.filter(F.col("__g") == F.lit(ref_group))
        .select(F.col("__b"), F.col("__p").alias("__pr"))
    )
    # fail-stop on a missing/typo'd reference population: the inner join
    # below would otherwise return an EMPTY report that reads as "no
    # drift anywhere" — the opposite of visible. Limit-probe cost: one
    # tiny job over the already-aggregated cells.
    if not ref.limit(1).take(1):
        raise ValueError(
            f"momyre: psi_report reference group {ref_group!r} has no"
            " rows — check the group value"
        )
    joined = cells.join(F.broadcast(ref), "__b")
    term = (F.col("__p") - F.col("__pr")) * F.log(
        F.col("__p") / F.col("__pr")
    )
    out = (
        joined.select(
            "__g",
            "__n",
            round_half_up(term, digits).cast("decimal(38,6)").alias("__t"),
        )
        .groupBy("__g", "__n")
        .agg(F.sum("__t").alias("__psi"))
    )
    return out.select(
        F.col("__g").alias(group_col),
        F.col("__n").alias("n"),
        F.col("__psi").cast("double").alias("psi"),
    )


def gini_concentration(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    digits: int = 6,
) -> DataFrame:
    """Per-group Gini coefficient of non-negative integer ``value_col``
    (sizes, token counts, byte counts): the concentration readout —
    "is 1% of this source's documents carrying 90% of its tokens?" —
    via the sorted-rank closed form
    ``G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x))`` with
    ``x_1 <= ... <= x_n``.

    Shape: ONE window sort per group (row_number over value order) plus
    one hash agg. Tied values make row_number's tie-break arbitrary, but
    the statistic is invariant under permuting equal values, so the
    result is still engine-exact. The per-group sort is the cost: groups
    here are sources/types (bounded cardinality, heavy rows per group) —
    for a truly unsorted 100 TB column prefer the mergeable quantile
    state (operators/sketches.py) and read concentration off the CDF.

    Determinism: all three terms are exact BIGINT (requires
    ``n * max|x| * n < 2^63``; ANSI mode raises on overflow); the single
    final division is one mirrored float op rounded at ``digits``.
    Rows with NULL value are dropped; groups with zero total are dropped
    (Gini undefined) — both visible in the row count.
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    x = F.col(value_col).cast("bigint")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, x.alias("__x")
    )
    w = Window.partitionBy(*group_cols).orderBy("__x")
    ranked = base.withColumn("__i", F.row_number().over(w))
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__i") * F.col("__x")).alias("__six"),
        F.min("__x").alias("__minx"),
    )
    num = F.lit(2) * F.col("__six") - (F.col("__n") + F.lit(1)) * F.col(
        "__sx"
    )
    den = F.col("__n") * F.col("__sx")
    # a negative value makes the Lorenz construction invalid — report
    # NULL for that group (visible) rather than a silently-wrong number
    gini = F.when(
        F.col("__minx") >= 0, num.cast("double") / den.cast("double")
    )
    return agg.filter(F.col("__sx") > 0).select(
        *group_cols,
        F.col("__n").alias("n"),
        F.col("__sx").alias("total"),
        round_half_up(gini, digits).alias("gini"),
    )


def entropy_report(
    df: DataFrame,
    group_col: str,
    label_col: str,
    digits: int = 6,
) -> DataFrame:
    """Per-group Shannon entropy of ``label_col``'s distribution —
    "how language-diverse is each source?" — plus the normalized form
    ``H / ln(k)`` (1 = uniform over the group's k observed labels,
    NULL when k = 1 since a one-label group has no normalizable
    diversity): ``(group, n, n_labels, entropy, entropy_norm)``.

    Shape: one (group, label) hash agg, one per-group re-agg — post-agg
    work is the number of distinct (group, label) cells, never rows.

    Determinism: each ``-p*ln(p)`` term is rounded at ``digits`` and
    fixed to DECIMAL(38,6) BEFORE the exact sum (the chi2/PSI recipe);
    the normalized form divides the exact decimal sum by one mirrored
    ``ln(k)``. NULL labels are dropped visibly.
    """
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"), F.col(label_col).alias("__l")
    )
    counts = base.groupBy("__g", "__l").agg(
        F.count(F.lit(1)).alias("__c")
    )
    wall = Window.partitionBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cells = counts.withColumn("__n", F.sum("__c").over(wall))
    p = F.col("__c").cast("double") / F.col("__n").cast("double")
    term = -(p * F.log(p))
    agg = (
        cells.select(
            "__g",
            "__n",
            round_half_up(term, digits).cast("decimal(38,6)").alias("__t"),
        )
        .groupBy("__g", "__n")
        .agg(
            F.sum("__t").alias("__h"),
            F.count(F.lit(1)).alias("__k"),
        )
    )
    h = F.col("__h").cast("double")
    norm = F.when(
        F.col("__k") > 1, h / F.log(F.col("__k").cast("double"))
    )
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("__n").alias("n"),
        F.col("__k").alias("n_labels"),
        h.alias("entropy"),
        round_half_up(norm, digits).alias("entropy_norm"),
    )


def cuped_report(
    df: DataFrame,
    group_cols: Sequence[str],
    unit_col: str,
    arm_col: str,
    is_post_col: str,
    value_col: str,
    arm_a,
    arm_b,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """CUPED variance-reduced A/B comparison (Deng et al., WSDM'13
    "Improving the Sensitivity of Online Controlled Experiments"): per
    group, the experiment readout using each unit's PRE-period metric as
    the control covariate — ``y_adj = y - theta * (x - mean(x))`` with
    ``theta = cov(x, y) / var(x)`` pooled across arms. Output one row
    per group: ``(*group_cols, n_a, n_b, theta, diff_raw, diff_cuped,
    var_reduction)`` where diff_cuped = diff_raw - theta * (x̄_b - x̄_a)
    (the adjusted-means identity — no per-unit adjusted column is ever
    materialized) and var_reduction = corr(x, y)^2, the fraction of
    outcome variance the covariate removes.

    Input rows: one observation per (group, unit) with the unit's arm,
    an ``is_post_col`` boolean (False = pre-period), and the metric.
    Units need >= 1 pre and >= 1 post observation (x and y are the
    unit's pre/post MEANS); one-sided units are dropped visibly. The
    arm must be constant per unit (it is read via max — pass a
    unit-derived arm, e.g. a hash parity, as the CDC queries do).

    Shape: one (group, unit) hash aggregation (the data-proportional
    pass), then ONE group re-agg carrying 6 pooled + 4 per-arm exact
    BIGINT moment sums. Unit means fix to ``1/scale`` units via a
    single mirrored division+floor; every downstream float op consumes
    exactly-converted integers in a tree the oracle mirrors literally,
    rounded at ``digits``. Keep ``(|x|*scale)^2 * units_per_group
    < 2^63`` (ANSI raises on overflow).

    Groups are dropped when either arm is empty or pooled var(x) is 0
    (theta undefined); var_reduction is NULL when var(y) = 0.
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    u = F.floor(
        F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("bigint")
    post = F.col(is_post_col).cast("boolean")
    per_unit = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(is_post_col).isNotNull()
        )
        .filter(F.col(arm_col).isin([arm_a, arm_b]))
        .groupBy(*[F.col(c) for c in group_cols], F.col(unit_col))
        .agg(
            F.max(arm_col).alias("__arm"),
            F.sum(F.when(~post, u)).alias("__su_pre"),
            F.sum(F.when(~post, 1).otherwise(0)).alias("__c_pre"),
            F.sum(F.when(post, u)).alias("__su_post"),
            F.sum(F.when(post, 1).otherwise(0)).alias("__c_post"),
        )
        .filter((F.col("__c_pre") >= 1) & (F.col("__c_post") >= 1))
    )

    def mean_units(su, c):
        return F.floor(
            F.col(su).cast("double") / F.col(c).cast("double") + F.lit(0.5)
        ).cast("bigint")

    units = per_unit.select(
        *group_cols,
        F.col("__arm"),
        mean_units("__su_pre", "__c_pre").alias("__x"),
        mean_units("__su_post", "__c_post").alias("__y"),
    )
    isb = F.col("__arm") == F.lit(arm_b)
    x, y = F.col("__x"), F.col("__y")
    agg = units.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(F.when(~isb, 1).otherwise(0)).alias("__na"),
        F.sum(F.when(~isb, x)).alias("__sxa"),
        F.sum(F.when(~isb, y)).alias("__sya"),
        F.sum(F.when(isb, 1).otherwise(0)).alias("__nb"),
        F.sum(F.when(isb, x)).alias("__sxb"),
        F.sum(F.when(isb, y)).alias("__syb"),
    )
    nd = F.col("__n").cast("double")
    sxd, syd = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    covn = nd * F.col("__sxy").cast("double") - sxd * syd
    varxn = nd * F.col("__sxx").cast("double") - sxd * sxd
    varyn = nd * F.col("__syy").cast("double") - syd * syd
    theta = covn / varxn
    sc = F.lit(float(scale))
    nad, nbd = F.col("__na").cast("double"), F.col("__nb").cast("double")
    diff_raw = (
        F.col("__syb").cast("double") / nbd
        - F.col("__sya").cast("double") / nad
    ) / sc
    diff_x = (
        F.col("__sxb").cast("double") / nbd
        - F.col("__sxa").cast("double") / nad
    ) / sc
    rho2 = F.when(varyn != 0, covn * covn / (varxn * varyn))
    return agg.filter(
        (F.col("__na") >= 1) & (F.col("__nb") >= 1) & (varxn != 0)
    ).select(
        *group_cols,
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        round_half_up(theta, digits).alias("theta"),
        round_half_up(diff_raw, digits).alias("diff_raw"),
        round_half_up(diff_raw - theta * diff_x, digits).alias(
            "diff_cuped"
        ),
        round_half_up(rho2, digits).alias("var_reduction"),
    )


def hill_tail_index(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 50,
    digits: int = 6,
) -> DataFrame:
    """Per-group Hill estimator of the power-law tail exponent of a
    positive metric (document sizes, degree counts, token frequencies):
    ``H = (1/k) * sum_{i=1..k} ln(x_(i) / x_(k+1))`` over the k+1 largest
    values (descending order statistics), ``alpha = 1/H`` — the standard
    "how heavy is this tail" readout that decides whether a mean is even
    meaningful and what the skew-join salt factor must absorb.

    Output: ``(*group_cols, n_top, k_used, x_ref, hill, alpha)``. Groups
    with fewer than k+1 values use all they have (``k_used = m - 1``,
    reference = the group minimum) — visible via k_used; groups with a
    single positive value are dropped. ``alpha`` is NULL when H = 0
    (all top values tied — no measurable tail).

    Shape: ONE window sort per group truncated at rank k+1, then a hash
    agg over <= k+1 rows per group. The sort is the cost at scale; the
    documented 100 TB path pre-filters with the mergeable quantile
    state's CDF (only values above the ~(1 - (k+1)/n) quantile can reach
    the top set), making the window input k-proportional. Tied values
    make row_number's tie-break arbitrary but the estimator depends only
    on the VALUE multiset, so the result is engine-exact.

    Determinism: ``value_col`` must be integer-valued (fix floats to
    units upstream; the ratio x/ref is scale-invariant so the unit
    cancels); each ``ln(x/ref)`` term is rounded at ``digits`` and fixed
    to DECIMAL(38,6) before the exact sum; the final ``/k`` and ``1/H``
    are mirrored float ops.
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    if k < 1:
        raise ValueError("momyre: k must be >= 1")
    x = F.col(value_col).cast("bigint")
    base = df.filter(F.col(value_col).isNotNull() & (x > 0)).select(
        *group_cols, x.alias("__x")
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("__x").desc())
    top = base.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k + 1
    )
    wall = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    marked = top.withColumn("__ref", F.min("__x").over(wall)).withColumn(
        "__m", F.count(F.lit(1)).over(wall)
    )
    is_term = F.col("__rn") < F.col("__m")
    term = F.log(
        F.col("__x").cast("double") / F.col("__ref").cast("double")
    )
    agg = (
        marked.groupBy(*group_cols)
        .agg(
            F.max("__m").alias("__m"),
            F.max("__ref").alias("__ref"),
            F.sum(
                F.when(
                    is_term,
                    round_half_up(term, digits).cast("decimal(38,6)"),
                )
            ).alias("__s"),
        )
        .filter(F.col("__m") >= 2)
    )
    kg = F.col("__m") - F.lit(1)
    h = F.col("__s").cast("double") / kg.cast("double")
    return agg.select(
        *group_cols,
        F.col("__m").alias("n_top"),
        kg.alias("k_used"),
        F.col("__ref").alias("x_ref"),
        round_half_up(h, digits).alias("hill"),
        F.when(h != 0, round_half_up(F.lit(1.0) / h, digits)).alias(
            "alpha"
        ),
    )


_BENFORD_E = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]  # log10(1 + 1/d), d = 1..9 — embed the SAME literals in any oracle


def benford_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Per-group Benford first-digit conformance of a positive metric —
    the classic fabricated-data / broken-upstream detector (organic
    magnitudes follow ``P(d) = log10(1 + 1/d)``; a synthesized or
    clipped feed does not). Output: ``(group, n, chi2, mad)`` — the
    9-cell chi-squared statistic against the Benford expectation and
    the mean absolute deviation of the digit proportions (Nigrini's
    conformance bands: MAD < 0.006 close, > 0.015 nonconforming).

    Shape: one (group, digit) hash agg, a map-side explode of the
    literal 9-digit grid onto per-group totals (missing digits count 0
    but still contribute their expected mass), one per-group re-agg.

    Determinism: values fix to ``1/scale`` units and the first digit is
    taken from the BIGINT's decimal string — integer-exact in any
    engine, no float log10. Non-positive fixed values are dropped
    visibly. Each chi2/MAD term is rounded at ``digits`` and fixed to
    DECIMAL(38,6) before the exact sum; the expected-probability
    literals above must be embedded verbatim by any oracle.
    """
    u = F.floor(
        F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("bigint")
    base = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(F.col(group_col).alias("__g"), u.alias("__u"))
        .filter(F.col("__u") > 0)
        .select(
            "__g",
            F.substring(F.col("__u").cast("string"), 1, 1)
            .cast("int")
            .alias("__d"),
        )
    )
    counts = base.groupBy("__g", "__d").agg(
        F.count(F.lit(1)).alias("__c")
    )
    totals = base.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    grid = (
        totals.withColumn(
            "__d",
            F.explode(
                F.array(*[F.lit(i).cast("int") for i in range(1, 10)])
            ),
        )
        .join(counts, ["__g", "__d"], "left")
        .select(
            "__g",
            "__d",
            "__n",
            F.coalesce(F.col("__c"), F.lit(0)).alias("__c"),
        )
    )
    e = F.element_at(
        F.array(*[F.lit(v) for v in _BENFORD_E]), F.col("__d")
    )
    od = F.col("__c").cast("double")
    nd = F.col("__n").cast("double")
    ed = nd * e
    chi_term = (od - ed) * (od - ed) / ed
    mad_term = F.abs(od / nd - e)
    agg = (
        grid.select(
            "__g",
            "__n",
            round_half_up(chi_term, digits)
            .cast("decimal(38,6)")
            .alias("__tc"),
            round_half_up(mad_term, digits)
            .cast("decimal(38,6)")
            .alias("__tm"),
        )
        .groupBy("__g", "__n")
        .agg(F.sum("__tc").alias("__chi2"), F.sum("__tm").alias("__mad"))
    )
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("__n").alias("n"),
        F.col("__chi2").cast("double").alias("chi2"),
        round_half_up(
            F.col("__mad").cast("double") / F.lit(9.0), digits
        ).alias("mad"),
    )


def spearman_corr(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    digits: int = 6,
) -> DataFrame:
    """Per-group Spearman rank correlation of two INTEGER-VALUED columns
    (fix floats to units upstream) — the monotonic-association readout
    that survives outliers and nonlinearity where Pearson does not.
    Ties get mid-ranks (the standard tie treatment), computed per
    DISTINCT value so no per-row window ever runs: one hash agg + one
    distinct-value window per variable, two co-partitioned equi-joins
    back to the rows, one moment agg.

    Determinism: mid-ranks are half-integers carried DOUBLED so every
    rank and moment sum is exact BIGINT (keep ``4 * n^3 < 2^63`` per
    group — n up to ~1.3e6; coarsen by pre-bucketing values beyond
    that); the correlation is one mirrored float tree over
    exactly-converted sums, rounded at ``digits``. Groups with zero
    variance in either variable are dropped visibly.
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *group_cols,
        F.col(x_col).cast("bigint").alias("__x"),
        F.col(y_col).cast("bigint").alias("__y"),
    )

    def rank2(col: str, out: str) -> DataFrame:
        per = base.groupBy(*group_cols, col).agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        w = Window.partitionBy(*group_cols).orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return per.withColumn("__cum", F.sum("__cnt").over(w)).select(
            *group_cols,
            col,
            (
                F.lit(2) * (F.col("__cum") - F.col("__cnt"))
                + F.col("__cnt")
                + F.lit(1)
            ).alias(out),
        )
    ranked = base.join(
        rank2("__x", "__rx"), [*group_cols, "__x"]
    ).join(rank2("__y", "__ry"), [*group_cols, "__y"])
    rx, ry = F.col("__rx"), F.col("__ry")
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(rx).alias("__s1"),
        F.sum(ry).alias("__s2"),
        F.sum(rx * ry).alias("__s12"),
        F.sum(rx * rx).alias("__s11"),
        F.sum(ry * ry).alias("__s22"),
    )
    nd = F.col("__n").cast("double")
    s1d, s2d = F.col("__s1").cast("double"), F.col("__s2").cast("double")
    covn = nd * F.col("__s12").cast("double") - s1d * s2d
    varx = nd * F.col("__s11").cast("double") - s1d * s1d
    vary = nd * F.col("__s22").cast("double") - s2d * s2d
    rho = covn / F.sqrt(varx * vary)
    return agg.filter((varx != 0) & (vary != 0)).select(
        *group_cols,
        F.col("__n").alias("n"),
        round_half_up(rho, digits).alias("spearman"),
    )


_Z_ALPHA_2 = 1.959963984540054   # Phi^-1(0.975): two-sided alpha = 0.05
_Z_BETA = 0.8416212335729143     # Phi^-1(0.80): power = 80%
# embed these literals verbatim in any oracle


def ab_power_report(
    df: DataFrame,
    group_cols: Sequence[str],
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Per-group A/B effect-size and power planning readout at the
    standard alpha = 0.05 (two-sided) / power = 80% operating point:
    ``(*group_cols, n_a, n_b, cohens_d, hedges_g, mde, n_required)``.

    - ``cohens_d``: observed standardized effect (pooled SD);
      ``hedges_g`` is its small-sample-corrected form.
    - ``mde``: the smallest true difference the CURRENT sample sizes
      detect at the operating point, ``(z_a + z_b) * sp *
      sqrt(1/n_a + 1/n_b)`` — "was this experiment even big enough?".
    - ``n_required``: per-arm n to detect the OBSERVED difference,
      ``ceil(2 * sp^2 * (z_a + z_b)^2 / delta^2)`` — NULL when the
      observed difference is 0 (nothing to power for), visible not
      fabricated.

    Shape and determinism: identical contract to welch_ab_report (same
    exact BIGINT centi-unit moment pass, two shuffles, mirrored float
    tree, ``digits`` rounding); the z literals above must be embedded
    verbatim by any oracle. Groups missing an arm or with n < 2 per arm
    are dropped; zero pooled variance drops the group (no scale to
    standardize against).
    """
    if not group_cols:
        raise ValueError("momyre: group_cols must be non-empty")
    u = F.floor(
        F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("bigint")
    per = (
        df.filter(F.col(value_col).isNotNull())
        .filter(F.col(arm_col).isin([arm_a, arm_b]))
        .groupBy(*[F.col(c) for c in group_cols], F.col(arm_col))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(u).alias("__su"),
            F.sum(u * u).alias("__ssq"),
        )
    )

    def side(tag, arm):
        cond = F.col(arm_col) == F.lit(arm)
        return [
            F.max(F.when(cond, F.col("__n"))).alias(f"__n_{tag}"),
            F.max(F.when(cond, F.col("__su"))).alias(f"__su_{tag}"),
            F.max(F.when(cond, F.col("__ssq"))).alias(f"__ssq_{tag}"),
        ]

    paired = (
        per.groupBy(*group_cols)
        .agg(*(side("a", arm_a) + side("b", arm_b)))
        .filter((F.col("__n_a") >= 2) & (F.col("__n_b") >= 2))
    )
    sc = float(scale)

    def stats(tag):
        nd = F.col(f"__n_{tag}").cast("double")
        su = F.col(f"__su_{tag}").cast("double")
        ssq = F.col(f"__ssq_{tag}").cast("double")
        mean = su / nd / F.lit(sc)
        var = (ssq - su * su / nd) / (nd - F.lit(1.0)) / F.lit(sc * sc)
        return nd, mean, var

    na, mean_a, var_a = stats("a")
    nb, mean_b, var_b = stats("b")
    sp2 = ((na - F.lit(1.0)) * var_a + (nb - F.lit(1.0)) * var_b) / (
        na + nb - F.lit(2.0)
    )
    sp = F.sqrt(sp2)
    delta = mean_a - mean_b
    d = delta / sp
    g = d * (
        F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (na + nb) - F.lit(9.0))
    )
    zz = F.lit(_Z_ALPHA_2) + F.lit(_Z_BETA)
    mde = zz * sp * F.sqrt(F.lit(1.0) / na + F.lit(1.0) / nb)
    n_req = F.when(
        delta != 0,
        F.ceil(
            F.lit(2.0) * sp2 * zz * zz / (delta * delta)
        ).cast("bigint"),
    )
    return paired.filter(sp2 != 0).select(
        *group_cols,
        F.col("__n_a").alias("n_a"),
        F.col("__n_b").alias("n_b"),
        round_half_up(d, digits).alias("cohens_d"),
        round_half_up(g, digits).alias("hedges_g"),
        round_half_up(mde, digits).alias("mde"),
        n_req.alias("n_required"),
    )


def kaplan_meier(
    df: DataFrame,
    group_cols: Sequence[str],
    duration_col: str,
    observed_col: str,
    digits: int = 6,
) -> DataFrame:
    """Kaplan-Meier survival curve (right-censored): for each group and
    each distinct integer duration t, the at-risk count n_t, event count
    d_t, censored count c_t, and the product-limit survival estimate
    S(t) = prod_{s<=t} (1 - d_s/n_s) — the time-to-event readout
    (conversion latency, churn, failure analysis) that handles censoring
    correctly where a naive mean-of-converters does not. ``observed_col``
    is 1 for an observed event, 0 for a censored subject; ``duration_col``
    must be integer-valued (fix units upstream — hours, days).

    Shape: one hash agg to distinct (group, t) rows (map-side combine —
    subjects collapse before the shuffle), one distinct-TIME window per
    group for the at-risk counts, then one ordered fold per group over
    the distinct-time rows for the product (collect_list is bounded by
    the number of DISTINCT durations per group — time resolution, not
    subject count; coarsen units if a group would exceed ~1e6 distinct
    times). Never a per-subject window or sort.

    Determinism: d/c/n are exact BIGINT; each factor is one double
    division and the product is a FIXED-ORDER ascending-time fold — the
    same IEEE sequence in any engine and under any partitioning (the
    list is sorted before folding) — rounded at ``digits``.
    """
    gcols = list(group_cols)
    base = df.select(
        *gcols,
        F.col(duration_col).cast("bigint").alias("__t"),
        F.when(F.col(observed_col).cast("int") == 1, F.lit(1))
        .otherwise(F.lit(0))
        .alias("__e"),
    ).filter(F.col("__t").isNotNull())
    per = base.groupBy(*gcols, "__t").agg(
        F.sum("__e").alias("__d"),
        (F.count(F.lit(1)) - F.sum("__e")).alias("__c"),
    )
    # Window.partitionBy(*[]) IS the global window, so the empty-group
    # case needs no branch — the window runs over distinct times either
    # way (bounded; see docstring)
    wcum = (
        Window.partitionBy(*[F.col(c) for c in gcols])
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*[F.col(c) for c in gcols])
    sized = per.withColumn(
        "__n",
        F.sum(F.col("__d") + F.col("__c")).over(wall)
        - (
            F.sum(F.col("__d") + F.col("__c")).over(wcum)
            - (F.col("__d") + F.col("__c"))
        ),
    )
    lst = sized.groupBy(*gcols).agg(
        F.sort_array(
            F.collect_list(F.struct("__t", "__d", "__c", "__n"))
        ).alias("__l")
    )
    folded = lst.select(
        *gcols,
        F.aggregate(
            F.col("__l"),
            F.struct(
                F.lit(1.0).alias("p"),
                F.array().cast(
                    "array<struct<t:bigint,d:bigint,c:bigint,"
                    "n:bigint,s:double>>"
                ).alias("out"),
            ),
            lambda acc, x: F.struct(
                (
                    acc["p"]
                    * (
                        F.lit(1.0)
                        - x["__d"].cast("double") / x["__n"].cast("double")
                    )
                ).alias("p"),
                F.concat(
                    acc["out"],
                    F.array(
                        F.struct(
                            x["__t"].alias("t"),
                            x["__d"].alias("d"),
                            x["__c"].alias("c"),
                            x["__n"].alias("n"),
                            (
                                acc["p"]
                                * (
                                    F.lit(1.0)
                                    - x["__d"].cast("double")
                                    / x["__n"].cast("double")
                                )
                            ).alias("s"),
                        )
                    ),
                ).alias("out"),
            ),
            lambda acc: acc["out"],
        ).alias("__rows"),
    )
    ex = folded.select(*gcols, F.explode("__rows").alias("__r"))
    return ex.select(
        *gcols,
        F.col("__r.t").alias("t"),
        F.col("__r.n").alias("n_risk"),
        F.col("__r.d").alias("d_events"),
        F.col("__r.c").alias("c_censored"),
        round_half_up(F.col("__r.s"), digits).alias("surv"),
    )


def trimmed_mean(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    trim_pct: int = 5,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Per-group trimmed mean: drop the ``trim_pct`` percent smallest and
    largest observations (k = floor(n * pct / 100) from each tail, as a
    sorted multiset) and average the rest — the robust location estimate
    that survives fat tails and sensor glitches where the plain mean
    does not. Values are fixed to ``1/scale`` units upstream-style
    (floor(v * scale + 0.5)), so every sum is exact BIGINT.

    Shape: one hash agg to distinct (group, value) rows with counts
    (map-side combine — the corpus collapses before anything ordered
    happens), one distinct-VALUE cumulative window per group, then a
    closed-form per-distinct-value overlap with the kept index range
    [k+1, n-k] — no per-row sort, no per-row window, no collect. The
    distinct-value frame is bounded by value resolution, the same
    contract as the quantile/histogram family.

    Determinism: counts, cumulative indices, and the kept-mass sum are
    exact BIGINT; the single division is mirrored and rounded at
    ``digits``. Groups where n - 2k <= 0 are dropped visibly.
    """
    if not 0 <= trim_pct < 50:
        raise ValueError("momyre: trim_pct must be in [0, 50)")
    gcols = list(group_cols)
    base = df.filter(F.col(value_col).isNotNull()).select(
        *gcols,
        F.floor(F.col(value_col).cast("double") * F.lit(scale) + F.lit(0.5))
        .cast("bigint")
        .alias("__v"),
    )
    per = base.groupBy(*gcols, "__v").agg(F.count(F.lit(1)).alias("__c"))
    wcum = (
        Window.partitionBy(*[F.col(c) for c in gcols])
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*[F.col(c) for c in gcols])
    cum = per.withColumn("__cum", F.sum("__c").over(wcum)).withColumn(
        "__n", F.sum("__c").over(wall)
    )
    k = F.floor(F.col("__n") * F.lit(int(trim_pct)) / F.lit(100)).cast(
        "bigint"
    )
    lo = k + 1                      # first kept 1-based index
    hi = F.col("__n") - k           # last kept 1-based index
    first = F.col("__cum") - F.col("__c") + 1   # this value's index range
    last = F.col("__cum")
    kept = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(last, hi) - F.greatest(first, lo) + F.lit(1),
    )
    agg = (
        cum.select(*gcols, "__v", "__n", kept.alias("__kept"), k.alias("__k"))
        .groupBy(*gcols)
        .agg(
            F.max("__n").alias("n"),
            F.max("__k").alias("k_trimmed"),
            F.sum(F.col("__v") * F.col("__kept")).alias("__sum"),
            F.sum("__kept").alias("__nk"),
        )
        .filter(F.col("__nk") > 0)
    )
    return agg.select(
        *gcols,
        F.col("n").cast("bigint").alias("n"),
        F.col("k_trimmed").cast("bigint").alias("k_trimmed"),
        round_half_up(
            F.col("__sum").cast("double")
            / F.col("__nk").cast("double")
            / F.lit(float(scale)),
            digits,
        ).alias("trimmed_mean"),
    )


# Poisson(1) CDF thresholds for k = 0..8 (cumulative e^-1/k!): the
# deterministic-bootstrap weight ladder. Embed these EXACT literals in any
# oracle — recomputing them with a different op order yields different
# doubles. P(k > 8) < 1.2e-6; the ladder caps there.
_POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
]


def bootstrap_ci(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    value_col: str,
    n_boot: int = 200,
    alpha_pct: int = 5,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Percentile bootstrap confidence interval for the per-group mean via
    the POISSON bootstrap (Poisson(1) replicate weights per row — the
    resampling scheme that works on distributed data because no replicate
    ever needs a global sample of exactly n rows; public technique, used
    for exactly this at web scale). Weights are DERIVED, not drawn:
    md5(id, replicate) -> uniform -> inverse-CDF ladder, so the whole
    procedure is deterministic, partition-invariant, and cross-engine
    reproducible. Output per group:
    ``(group_cols..., n, mean, ci_lo, ci_hi)`` at the
    ``100 - alpha_pct`` percent level.

    Shape: one explode of the replicate index (B x rows through a
    map-side-combinable hash agg — the agg input grows B-fold but
    collapses to |groups| x B replicate rows before any shuffle
    completes), then a B-bounded sorted-array pick per group. No
    replicate ever materializes a resampled table.

    Determinism: values fixed to 1/``scale`` units (exact BIGINT
    weighted sums; keep ``max|v| * scale * 9 * n < 2^63``); each
    replicate mean is one division of exact integers; the percentile
    pick is an order statistic (index = ceil(nb * alpha/2), mirrored in
    integer arithmetic), not an interpolation.
    """
    if not 2 <= n_boot <= 10_000:
        raise ValueError("momyre: n_boot must be in [2, 10000]")
    if not 1 <= alpha_pct < 100:
        raise ValueError("momyre: alpha_pct must be in [1, 100)")
    gcols = list(group_cols)
    from momyre_spark.operators.parallelism import ensure_parallelism

    # B x rows of md5+ladder is the heavy map stage — it must not
    # serialize on a single-file input layout (measured 17s -> sub-second
    # at sf0.1 x B=200 on local[32] from this alone)
    base = ensure_parallelism(
        df.filter(F.col(value_col).isNotNull()).select(
            *gcols,
            F.col(id_col).cast("string").alias("__id"),
            F.floor(
                F.col(value_col).cast("double") * F.lit(scale) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("__v"),
        )
    )
    rep = base.select(
        *gcols,
        "__id",
        "__v",
        F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("__b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.col("__id"), F.col("__b"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 60))
    )
    w = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        rep.withColumn("__w", w.cast("bigint"))
        .groupBy(*gcols, "__b")
        .agg(
            F.sum(F.col("__w") * F.col("__v")).alias("__s"),
            F.sum("__w").alias("__n"),
        )
        .filter(F.col("__n") > 0)
        .select(
            *gcols,
            (
                F.col("__s").cast("double")
                / F.col("__n").cast("double")
                / F.lit(float(scale))
            ).alias("__m"),
        )
    )
    overall = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"), F.sum("__v").alias("__sv")
    )
    picked = means.groupBy(*gcols).agg(
        F.sort_array(F.collect_list("__m")).alias("__ms"),
        F.count(F.lit(1)).alias("__nb"),
    )
    lo_idx = F.floor(
        (F.col("__nb") * F.lit(int(alpha_pct)) + F.lit(199))
        / F.lit(200)
    ).cast("int")
    lo_idx = F.greatest(F.lit(1), lo_idx)
    hi_idx = (F.col("__nb") + F.lit(1) - lo_idx).cast("int")
    # empty group_cols = one global CI: both frames are one row, and
    # join(on=[]) raises in PySpark — cross-join them instead
    joined = (
        overall.join(picked, gcols)
        if gcols
        else overall.crossJoin(F.broadcast(picked))
    )
    return joined.select(
        *gcols,
        F.col("n").cast("bigint").alias("n"),
        round_half_up(
            F.col("__sv").cast("double")
            / F.col("n").cast("double")
            / F.lit(float(scale)),
            digits,
        ).alias("mean"),
        round_half_up(F.element_at("__ms", lo_idx), digits).alias("ci_lo"),
        round_half_up(F.element_at("__ms", hi_idx), digits).alias("ci_hi"),
    )


def bh_adjust(
    df: DataFrame,
    p_col: str,
    id_col: str,
    group_cols: Sequence[str] = (),
    alpha_pct: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR adjustment over a family of
    p-values (Benjamini & Hochberg 1995) — the multiple-testing control
    every metric battery needs: run hundreds of segment/metric tests and
    report q-values (adjusted p) instead of drowning in 5% false alarms.
    Output per test: ``(*group_cols, id, p, rank, q, is_discovery)``
    where ``q_(i) = min_{j>=i} (m * p_(j) / j)`` clipped to 1 and
    ``is_discovery = q <= alpha`` (the step-up rule, in its equivalent
    q-value form).

    Shape: one exchange per family (``group_cols``), then three window
    reads over the same partition — rank (row_number), family size m
    (count), and the reverse running min that realizes the min-over-tail
    — no collect, no self-join. Families are test batteries (dozens to
    thousands of rows after their own aggregation), never corpora; the
    sort is |family| log |family| per family.

    Determinism: rank ties break on ``id_col``; the only doubles are
    ``m * p / i`` and the running-min fold, both mirrored
    operand-for-operand in the oracle; ``alpha`` enters as the exact
    double ``alpha_pct / 100.0``.
    """
    if not 1 <= alpha_pct < 100:
        raise ValueError("momyre: alpha_pct must be in [1, 100)")
    gcols = list(group_cols)
    wo = Window.partitionBy(*gcols).orderBy(
        F.col(p_col).asc(), F.col(id_col).asc()
    )
    wall = Window.partitionBy(*gcols)
    wrev = (
        Window.partitionBy(*gcols)
        .orderBy(F.col(p_col).desc(), F.col(id_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        df.withColumn("__i", F.row_number().over(wo))
        .withColumn("__m", F.count(F.lit(1)).over(wall))
        .withColumn(
            "__raw",
            F.col("__m").cast("double")
            * F.col(p_col).cast("double")
            / F.col("__i"),
        )
        .withColumn(
            "__q", F.least(F.min("__raw").over(wrev), F.lit(1.0))
        )
    )
    return ranked.select(
        *gcols,
        id_col,
        F.col(p_col).cast("double").alias("p"),
        F.col("__i").cast("bigint").alias("rank"),
        round_half_up(F.col("__q"), digits).alias("q"),
        (F.col("__q") <= F.lit(alpha_pct).cast("double") / F.lit(100.0))
        .alias("is_discovery"),
    )


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Isotonic regression of a binary label on a score — the standard
    monotone calibration map for a quality/ranking classifier (Zadrozny
    & Elkan 2002): fit the best monotone non-decreasing step function of
    P(label | score), so downstream thresholds read calibrated
    probabilities instead of raw scores. Output one row per non-empty
    score bucket: ``(bucket, score_lo, n, sum_label, mean_label,
    iso_prob)`` with ``iso_prob`` the PAV-optimal fit.

    Spark-first shape: the corpus collapses FIRST — one map-side-
    combinable hash agg onto at most ``n_buckets`` fixed-width score
    buckets (the pool-adjacent-violators solution depends on the data
    only through per-bucket (count, positive-count), so bucketing loses
    nothing beyond score resolution, the same trade every large-scale
    calibrator makes). The fit itself then uses the exact minimax
    characterization  iso(i) = max_{j<=i} min_{k>=i} avg(label over
    buckets j..k)  — O(B^3) rows of join work over a frame of at most
    B rows, independent of corpus size, instead of the sequential
    driver-side PAV sweep (equivalent by the classical minimax theorem
    for isotonic L2 regression). No collect; everything stays a plan.

    Determinism: bucket counts and label sums are exact BIGINTs; each
    interval average is ONE division of two exact integers; min/max
    over those doubles are order-free; ``iso_prob``/``mean_label``
    round at ``digits``.
    """
    if not 2 <= n_buckets <= 256:
        raise ValueError("momyre: n_buckets must be in [2, 256]")
    if not hi > lo:
        raise ValueError("momyre: need hi > lo")
    width = (float(hi) - float(lo)) / float(n_buckets)
    b = F.least(
        F.greatest(
            F.floor(
                (F.col(score_col).cast("double") - F.lit(float(lo)))
                / F.lit(width)
            ),
            F.lit(0),
        ),
        F.lit(int(n_buckets) - 1),
    ).cast("int")
    stats = (
        # NULL hygiene (the qq_table convention): greatest() SKIPS nulls
        # in Spark, so a NULL score would land floor(NULL)=NULL ->
        # greatest(NULL,0)=0 -> bucket 0, silently contaminating the
        # lowest bucket — and DuckDB's greatest() NULL semantics differ
        # by version, so the oracle could diverge. Drop NULL rows first.
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(b.alias("bucket"), F.col(label_col).cast("bigint").alias("__y"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__y").cast("bigint").alias("sum_label"),
        )
    )
    # prefix sums over the <= B present buckets (bounded window by
    # construction), so avg(j..k) = (P_k - P_{j-1}) / (W_k - W_{j-1})
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    pre = stats.select(
        "bucket", "n", "sum_label",
        F.sum("n").over(w).alias("__W"),
        F.sum("sum_label").over(w).alias("__P"),
    )
    jside = pre.select(
        F.col("bucket").alias("__j"),
        (F.col("__W") - F.col("n")).alias("__Wj"),
        (F.col("__P") - F.col("sum_label")).alias("__Pj"),
    )
    kside = pre.select(
        F.col("bucket").alias("__k"),
        F.col("__W").alias("__Wk"),
        F.col("__P").alias("__Pk"),
    )
    intervals = jside.join(kside, F.col("__j") <= F.col("__k")).select(
        "__j", "__k",
        (
            (F.col("__Pk") - F.col("__Pj")).cast("double")
            / (F.col("__Wk") - F.col("__Wj")).cast("double")
        ).alias("__avg"),
    )
    anchors = pre.select(F.col("bucket").alias("__i"))
    inner = (
        anchors.join(intervals, (F.col("__j") <= F.col("__i"))
                     & (F.col("__k") >= F.col("__i")))
        .groupBy("__i", "__j")
        .agg(F.min("__avg").alias("__m"))
        .groupBy("__i")
        .agg(F.max("__m").alias("__iso"))
    )
    from momyre_spark.functions.numeric import round_half_up

    return (
        pre.join(inner, pre.bucket == F.col("__i"))
        .select(
            "bucket",
            round_half_up(
                F.lit(float(lo)) + F.col("bucket").cast("double") * F.lit(width),
                digits,
            ).alias("score_lo"),
            "n",
            "sum_label",
            round_half_up(
                F.col("sum_label").cast("double") / F.col("n").cast("double"),
                digits,
            ).alias("mean_label"),
            round_half_up(F.col("__iso"), digits).alias("iso_prob"),
        )
    )


def qq_table(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    n_quantiles: int = 19,
    digits: int = 6,
) -> DataFrame:
    """Two-sample Q-Q table at a fixed quantile grid — the
    distribution-shift readout that complements the KS statistic
    (stats_ks_2sample gives ONE number; the Q-Q table shows WHERE the
    distributions diverge — tails vs body — which is what a drift
    investigation actually needs). Output one row per p in
    {1/(n+1), ..., n/(n+1)}: ``(p, q_a, q_b, qq_diff)`` with each
    quantile the EXACT type-1 order statistic (the value at rank
    ceil(p * group_size) — no interpolation, so the numbers are raw
    data values and engine-exact by construction).

    Spark-first shape: the stats_group_auc move — rank work happens on
    DISTINCT values only, never per row. One (group, value) hash agg
    (map-side combine), one cumulative-count window over each group's
    distinct values, a broadcast join against the static p grid, and a
    min-value agg. The window partition is the per-group distinct-value
    set: bounded by NDV, not corpus size (at true 100 TB NDV over raw
    doubles can itself be large — bucket values first, or read the
    mergeable-sketch twin stats_value_quantiles; THIS form is the exact
    oracle-able readout).

    Determinism: counts exact BIGINT; p = i/(n+1) is the same two-int
    division in both engines; the rank target ceil(p * n) is one
    mirrored float op; quantiles are raw input values; ``qq_diff`` is
    one subtraction of identical doubles, rounded at ``digits``.
    """
    if not 1 <= n_quantiles <= 99:
        raise ValueError("momyre: n_quantiles must be in [1, 99]")
    spark = df.sparkSession
    groups = df.filter(
        F.col(group_col).isin(group_a, group_b)
    ).select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    counts = groups.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    dv = groups.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    w = Window.partitionBy("__g").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dv.withColumn("__cum", F.sum("__c").over(w)).join(counts, "__g")
    ps = spark.range(1, int(n_quantiles) + 1).select(
        (F.col("id").cast("double") / F.lit(float(n_quantiles + 1))).alias(
            "p"
        )
    )
    target = F.ceil(F.col("p") * F.col("__n").cast("double")).cast("bigint")
    picked = (
        cum.join(F.broadcast(ps), F.col("__cum") >= target)
        .groupBy("__g", "p")
        .agg(F.min("__v").alias("__q"))
    )
    qa = picked.filter(F.col("__g") == group_a).select(
        "p", F.col("__q").alias("q_a")
    )
    qb = picked.filter(F.col("__g") == group_b).select(
        "p", F.col("__q").alias("q_b")
    )
    from momyre_spark.functions.numeric import round_half_up

    return qa.join(qb, "p").select(
        "p", "q_a", "q_b",
        round_half_up(F.col("q_a") - F.col("q_b"), digits).alias("qq_diff"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Reliability table + expected-calibration-error contributions for a
    probabilistic classifier (Naeini et al. 2015's binned ECE): fixed-width
    score buckets over ``[lo, hi)``, and per non-empty bucket the count,
    the mean predicted score, the observed positive rate, their absolute
    gap, and the bucket's weighted ECE contribution ``n/N * |gap|`` —
    ``sum(ece_contrib)`` IS the ECE, and the per-bucket rows are the
    reliability diagram a quality-classifier gate is tuned from. The
    natural companion readout to :func:`isotonic_calibrate` (that one
    fixes miscalibration; this one measures it).

    Shape at 100 TB: ONE map-side-combinable hash aggregation onto at
    most ``n_buckets`` rows — the corpus is touched once; everything
    after operates on the bucket frame (a broadcast 1-row total for N).

    Determinism: counts and label sums are exact BIGINTs; scores enter
    the sum as 1e-6 fixed-point units (floor(x*1e6+0.5) — exact integer
    addition, order-free), so ``mean_score`` is ONE division of two
    exact integers; every emitted float is a mirrored single op rounded
    at ``digits``. NULL scores/labels are dropped (the
    isotonic_calibrate hygiene).
    """
    if not 2 <= n_buckets <= 1000:
        raise ValueError("momyre: n_buckets must be in [2, 1000]")
    if not hi > lo:
        raise ValueError("momyre: need hi > lo")
    width = (float(hi) - float(lo)) / float(n_buckets)
    b = F.least(
        F.greatest(
            F.floor(
                (F.col(score_col).cast("double") - F.lit(float(lo)))
                / F.lit(width)
            ),
            F.lit(0),
        ),
        F.lit(int(n_buckets) - 1),
    ).cast("int")
    u = F.floor(
        F.col(score_col).cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    stats = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            b.alias("bucket"),
            u.alias("__u"),
            F.col(label_col).cast("bigint").alias("__y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__u").cast("bigint").alias("__su"),
            F.sum("__y").cast("bigint").alias("sum_label"),
        )
    )
    total = stats.agg(F.sum("n").cast("bigint").alias("__N"))
    from momyre_spark.functions.numeric import round_half_up

    mean_score = (F.col("__su").cast("double") / F.lit(1e6)) / F.col(
        "n"
    ).cast("double")
    frac_pos = F.col("sum_label").cast("double") / F.col("n").cast("double")
    gap = F.abs(frac_pos - mean_score)
    return (
        stats.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n",
            "sum_label",
            round_half_up(mean_score, digits).alias("mean_score"),
            round_half_up(frac_pos, digits).alias("frac_pos"),
            round_half_up(gap, digits).alias("abs_gap"),
            round_half_up(
                (F.col("n").cast("double") / F.col("__N").cast("double"))
                * gap,
                digits,
            ).alias("ece_contrib"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 100,
    digits: int = 6,
) -> DataFrame:
    """Cross-group quantile normalization MAP: for each (group, distinct
    value), the pooled-distribution value at the same quantile — the
    standard move for making quality/classifier scores from different
    sources comparable before a global threshold (each group's score
    distribution is mapped onto the pooled one; a within-group rank is
    preserved, only the scale changes). Output one row per (group,
    distinct value): ``(group, value, n, norm_value)``; join it back on
    (group, value) to normalize rows — the map is what's worth
    materializing (NDV-bounded), not a corpus-sized rewrite.

    The quantile convention is engine-exact end to end: a value's
    within-group position is its doubled mid-ECDF numerator
    ``2*cum - cnt`` over ``2*n_g`` (the average rank of its ties —
    group_auc's mid-rank); its pooled target is the type-1 pooled
    quantile at rank ``ceil(position * N_pool)``, computed as ONE exact
    integer ceiling division ``(p2*N + 2*n_g - 1) div (2*n_g)`` — no
    float touches the rank math. The pooled lookup joins the rank into
    the pooled distinct-value table's cumulative-count intervals
    (broadcast: NDV-bounded by the 1/``scale`` fixed-point grid).

    Shape: two hash aggs on distinct values (group-level and pooled),
    two NDV-bounded windows, one broadcast interval join. Post-agg work
    scales with DISTINCT values, never rows — which is the CONTRACT:
    feed this a score on a bounded range (probabilities, calibrated
    ratings), where the 1/``scale`` grid caps NDV at range*scale+1.
    The interval join is quadratic in NDV (measured: 8.4s at sf0.1 on
    an unbounded raw-value column vs sub-second on the [0,1) grid), so
    normalize the squash of an unbounded metric, not the metric itself.
    """
    from momyre_spark.functions.numeric import round_half_up

    u = F.floor(
        F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("bigint")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), u.alias("__u")
    )
    per = vals.groupBy("__g", "__u").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    wg = Window.partitionBy("__g").orderBy("__u").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wgn = Window.partitionBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gm = (
        per.withColumn("__cum", F.sum("__cnt").over(wg))
        .withColumn("__ng", F.sum("__cnt").over(wgn))
        .withColumn("__p2", F.lit(2) * F.col("__cum") - F.col("__cnt"))
    )
    pooled = vals.groupBy("__u").agg(
        F.count(F.lit(1)).cast("bigint").alias("__pc")
    )
    wp = Window.orderBy("__u").rowsBetween(Window.unboundedPreceding, 0)
    ptab = (
        pooled.withColumn("__pcum", F.sum("__pc").over(wp))
        .withColumn("__plo", F.col("__pcum") - F.col("__pc") + F.lit(1))
        .select(
            F.col("__u").alias("__pu"), "__plo", F.col("__pcum").alias("__phi")
        )
    )
    ntot = pooled.agg(F.sum("__pc").cast("bigint").alias("__N"))
    # pooled type-1 rank at the mid-ECDF position, as ONE exact integer
    # ceiling division: ceil(p2/(2*ng) * N) = (p2*N + 2*ng - 1) div (2*ng)
    # `div` is true BIGINT division (the `/` operator would detour
    # through double and lose exactness past 2^53 — p2*N is corpus-sized)
    ranked = gm.crossJoin(F.broadcast(ntot)).withColumn(
        "__rk",
        F.expr("(__p2 * __N + 2 * __ng - 1) div (2 * __ng)"),
    )
    return (
        ranked.join(
            F.broadcast(ptab),
            (F.col("__rk") >= F.col("__plo"))
            & (F.col("__rk") <= F.col("__phi")),
        )
        .select(
            F.col("__g").alias(group_col),
            round_half_up(
                F.col("__u").cast("double") / F.lit(float(scale)), digits
            ).alias("value"),
            F.col("__cnt").alias("n"),
            round_half_up(
                F.col("__pu").cast("double") / F.lit(float(scale)), digits
            ).alias("norm_value"),
        )
    )
