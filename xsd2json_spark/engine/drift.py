"""Distribution-drift checks against a persisted baseline snapshot
(north_star extension; the reference has no runtime analog — this
generalizes its accumulate-then-verdict shape to distributions).

Baseline snapshot format (JSON-serializable dict, see make_snapshot):

    {
      "<name>": {
        "kind": "categorical",
        "counts": {"en": 218, "fr": 64, ...}          # chi-square target
      },
      "<name>": {
        "kind": "numeric",
        "n": 500,
        "grid": [q1, q2, ...],                        # value grid
        "ecdf": [F(q1), F(q2), ...]                   # baseline ECDF at grid
      }
    }

Scale design: the current-side statistics are computed with ONE
aggregation each —

- chi2: groupBy(col).count() (bounded by category cardinality), then the
  Pearson statistic driver-side (O(#categories), no row collect).
- ks: the baseline stores a ~199-point value grid with its ECDF; the
  current ECDF at those grid points is one agg of
  count_if(value <= q_i) plus count(*) — 200 counters in a single pass,
  no sort, no row collect; ecdf_cur(q_i) = count_i / n and
  D = max_i |ecdf_cur(q_i) - ecdf_base(q_i)|. The grid bounds the error
  of D by the grid resolution (1/(grid+1) per cell), which is what you
  want at 10^12 rows — an exact KS needs a full sort.

Every grid-sized expression (the ECDF probes, the in-plan D, the bin
index) is built as ONE parsed SQL string (``ecdf_probe_counts``,
``bin_index_expr``), not as ~200 Column trees: each Column call is a
py4j round trip with call-site capture, and at ~5k of them per KS check
the driver-side plan construction cost more than the Spark job.
Grid values enter the SQL through ``_sql_double``, which round-trips
every double exactly, so the parsed forms compare against exactly the
doubles a literal Column would carry.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xsd2json_spark.engine.stats_math import chi2_sf, chi2_stat, ks_pvalue
from xsd2json_spark.spec.constraints import Drift, SpecError

DEFAULT_GRID_POINTS = 199


def _value_col(c: Drift):
    return F.expr(c.expr) if c.expr else F.col(c.column)


def _sql_double(q) -> str:
    """A double as SQL text that parses back to the SAME double:
    repr() is the shortest round-tripping decimal, and Spark's
    string->double cast is correctly rounded (and reads repr's
    'inf' / '-inf' / 'nan')."""
    return f"CAST('{float(q)!r}' AS DOUBLE)"


def _max_abs_diff(ecdf_terms, base_ecdf) -> Column:
    """greatest_i |ecdf_i - base_i| over SQL ECDF terms, one parsed
    expression (the KS D of every in-plan form)."""
    diffs = [f"abs({t} - {_sql_double(e)})" for t, e in zip(ecdf_terms, base_ecdf)]
    return F.expr(f"greatest({', '.join(diffs)})" if len(diffs) > 1 else diffs[0])


def _ks_passed(d: Column, n_base: int, alpha: float) -> Column:
    """The in-plan KS pass rule over an ``n_cur`` column:
    D <= ks_crit_lambda(alpha) / (sqrt(ne) + 0.12 + 0.11/sqrt(ne)),
    ne = n_base*n_cur/(n_base+n_cur) — the alpha-dependent part is one
    driver-side constant, the sample-size part a pure expression, and
    the rule equals ks_pvalue(D) >= alpha by monotonicity of the
    Kolmogorov series."""
    from xsd2json_spark.engine.stats_math import ks_crit_lambda

    ne = (F.lit(float(n_base)) * F.col("n_cur")) / (F.lit(float(n_base)) + F.col("n_cur"))
    return d <= F.lit(ks_crit_lambda(alpha)) / (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne))


def ecdf_probe_counts(v: str, grid) -> Column:
    """count_if(v <= q_i) at every grid point, as one array<bigint>
    aggregate built from ONE parsed expression over the column named
    ``v``. Divided by count(*) over the same (NULL-free) rows it is the
    ECDF at the grid — bit-identical to avg((v <= q_i)::double), which
    is the same integer sum over the same count in double precision.
    NULL values never count (v <= q is NULL); NaN counts only at NaN
    grid points (Spark orders NaN above every number)."""
    probes = ", ".join(f"count_if(`{v}` <= {_sql_double(q)})" for q in grid)
    return F.expr(f"array({probes})")


def group_key(values) -> str:
    """Unambiguous group key for multi-column group_by. A bare
    '|'.join(str(v)) collides ('a|b','c') with ('a','b|c') and NULL with
    the string 'None', silently merging distinct groups' distributions —
    so the separator and backslash are escaped and NULL gets its own
    token. Single pipe-free string values keep their natural key."""
    def esc(v):
        if v is None:
            return "\\N"
        return str(v).replace("\\", "\\\\").replace("|", "\\|")

    return "|".join(esc(v) for v in values)


def make_categorical_baseline(df: DataFrame, column: str) -> dict:
    rows = df.groupBy(column).agg(F.count(F.lit(1)).alias("n")).collect()
    return {"kind": "categorical", "counts": {str(r[column]): r["n"] for r in rows if r[column] is not None}}


def make_numeric_baseline(
    df: DataFrame, expr: str, grid_points: int = DEFAULT_GRID_POINTS
) -> dict:
    """Quantile grid + ECDF of the baseline itself at that grid."""
    col = F.expr(expr).cast("double")
    probs = [i / (grid_points + 1) for i in range(1, grid_points + 1)]
    agg = df.select(col.alias("v")).na.drop()
    row = agg.agg(
        F.percentile_approx("v", probs, 10000).alias("grid"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    grid = [float(g) for g in row["grid"]]
    # ECDF of the baseline at its own grid (exact, one more agg)
    erow = agg.agg(ecdf_probe_counts("v", grid).alias("c"), F.count(F.lit(1)).alias("n")).collect()[0]
    return {
        "kind": "numeric",
        "n": int(row["n"]),
        "grid": grid,
        "ecdf": [k / erow["n"] for k in erow["c"]],
    }


def chi2_drift(df: DataFrame, c: Drift, baseline: dict) -> "tuple[float, float]":
    counts = baseline["counts"]
    total = sum(counts.values())
    if total == 0:
        raise SpecError(f"drift {c.id}: empty baseline")
    probs = {k: v / total for k, v in counts.items()}
    rows = df.groupBy(_value_col(c).alias("__cat")).agg(F.count(F.lit(1)).alias("n")).collect()
    observed = {str(r["__cat"]): r["n"] for r in rows if r["__cat"] is not None}
    stat, dof = chi2_stat(observed, probs)
    return stat, chi2_sf(stat, dof)


def ks_drift(df: DataFrame, c: Drift, baseline: dict) -> "tuple[float, float]":
    """Driver-side KS verdict inputs: ks_statistic_df's D plus the
    scipy-pinned p-value. NULL and NaN values are dropped (na.drop);
    raises SpecError when none remain."""
    cur = df.select(_value_col(c).cast("double").alias("v")).na.drop()
    row = ks_statistic_df(cur, "v", baseline["grid"], baseline["ecdf"]).collect()[0]
    if not row["n_cur"]:
        raise SpecError(f"drift {c.id}: no current values")
    return row["d_statistic"], ks_pvalue(row["d_statistic"], baseline["n"], row["n_cur"])


def chi2_statistic_df(
    df: DataFrame, column: str, baseline_df: DataFrame, by=None
) -> DataFrame:
    """Distributed Pearson chi-square STATISTIC: observed counts,
    expected counts, and the statistic are all computed IN-PLAN (one
    groupBy + a broadcast join against the baseline counts — no
    driver-side math), which makes the statistic itself oracle-able in
    plain SQL and scales per-group chi2 to any number of groups.

    ``baseline_df`` carries the reference distribution as
    (``column``, n) count rows; ``by`` optionally groups the current
    data (one statistic row per group). NULL categories are excluded on
    both sides. Observed categories MUST be a subset of the baseline's
    (pre-bucket novel categories into an OTHER label for open
    vocabularies — a spine-missing category would silently drop its
    term). Returns (by..., statistic, n_cats, dof); converting to a
    p-value stays driver-side via chi2_sf, which is scipy-pinned in
    tests."""
    gb = list(by or [])
    obs = (
        df.filter(F.col(column).isNotNull())
        .groupBy(*gb, F.col(column).alias("__cat"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    b = baseline_df.select(F.col(column).alias("__cat"), F.col("n").alias("__b")).filter(
        F.col("__cat").isNotNull()
    )
    bt = b.agg(F.sum("__b").alias("__bt"))
    n = obs.groupBy(*gb).agg(F.sum("__o").alias("__n"))
    spine = n.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(bt))
    j = spine.join(obs, gb + ["__cat"], "left").withColumn(
        "__o", F.coalesce(F.col("__o"), F.lit(0))
    )
    e = F.col("__n") * F.col("__b") / F.col("__bt")
    return (
        j.groupBy(*gb)
        .agg(
            F.sum((F.col("__o") - e) ** 2 / e).alias("statistic"),
            F.count(F.lit(1)).alias("n_cats"),
        )
        .withColumn("dof", (F.col("n_cats") - 1).cast("long"))
    )


def psi_statistic_df(
    df: DataFrame, column: str, baseline_df: DataFrame, by=None, eps: float = 1e-6
) -> DataFrame:
    """Population Stability Index, fully in-plan (same spine shape as
    chi2_statistic_df, widened to the UNION of baseline and observed
    categories): psi = sum_cat (p_cur - p_base) * ln(p_cur / p_base),
    proportions clipped to ``eps`` so empty cells — including NOVEL
    observed categories absent from the baseline, a primary PSI use
    case — contribute the finite eps-clipped penalty instead of being
    silently dropped. PSI has no p-value — the conventional action
    thresholds are 0.1 (watch) / 0.25 (act), applied directly to the
    statistic, which makes the whole check oracle-able (no driver-side
    math at all, unlike chi2/KS where only the p-value stays on the
    driver). Returns (by..., psi, n_cats); n_cats counts the union
    spine per group."""
    gb = list(by or [])
    obs = (
        df.filter(F.col(column).isNotNull())
        .groupBy(*gb, F.col(column).alias("__cat"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    # Round 6 shape: ONE reference to the observed counts. The previous
    # spine (groups x baseline-cats union + three joins) re-expanded the
    # obs subtree four times in the physical plan — 22 scans and 32
    # exchanges for a category-sized statistic. Instead each group
    # collapses to a single (cat -> count) map row (category-bounded,
    # the documented collect discipline), the baseline aggregates to ONE
    # broadcast row, and the psi sum folds over the union of the two
    # key sets — same cells, same eps clips, 3 scans / 4 exchanges.
    # Baseline (cat, n) rows must be distinct (every builder groups);
    # novel observed cats read __b = 0, vanished baseline cats __o = 0.
    gm = obs.groupBy(*gb).agg(
        F.map_from_entries(F.collect_list(F.struct("__cat", "__o"))).alias("__m"),
        F.sum("__o").alias("__n"),
    )
    b1 = (
        baseline_df.filter(F.col(column).isNotNull())
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col(column).alias("__cat"), F.col("n").alias("__b")))
            ).alias("__bm"),
            F.sum("n").alias("__bt"),
        )
    )
    j = gm.crossJoin(F.broadcast(b1))
    cats = F.array_union(F.map_keys("__m"), F.map_keys("__bm"))

    def term(c):
        o = F.coalesce(F.element_at(F.col("__m"), c), F.lit(0))
        bv = F.coalesce(F.element_at(F.col("__bm"), c), F.lit(0))
        p_cur = F.greatest(o / F.col("__n"), F.lit(eps))
        p_base = F.greatest(bv / F.col("__bt"), F.lit(eps))
        return (p_cur - p_base) * F.log(p_cur / p_base)

    return j.select(
        *gb,
        F.aggregate(cats, F.lit(0.0), lambda acc, c: acc + term(c)).alias("psi"),
        F.size(cats).cast("long").alias("n_cats"),
    )


def ks_statistic_df(
    df: DataFrame, expr: str, grid, base_ecdf, by=None
) -> DataFrame:
    """Grid-ECDF Kolmogorov–Smirnov D STATISTIC fully in-plan: one
    aggregation counts the current values at or below every baseline
    grid point (``ecdf_probe_counts``), then D = max_i |c_i / n - base_i|
    as a greatest() over literal baseline values. `by` optionally groups
    (one D row per group — per-scenario, per-window, per-lang...).

    Because the ECDF terms are integer counts over an integer total, D
    is bit-identical across Spark and a SQL replay that averages 0/1
    indicators, which is what makes the statistic oracle-able (unlike
    p-values, which stay driver-side via ks_pvalue, scipy-pinned). An
    empty global input gives a NULL D and n_cur 0.
    Returns (by..., d_statistic, n_cur)."""
    gb = list(by or [])
    cur = df.select(*gb, F.expr(expr).cast("double").alias("__v")).filter(F.col("__v").isNotNull())
    exprs = [ecdf_probe_counts("__v", grid).alias("__c"), F.count(F.lit(1)).alias("n_cur")]
    agg = cur.groupBy(*gb).agg(*exprs) if gb else cur.agg(*exprs)
    # try_divide: the empty global aggregate has n_cur = 0 (NULL, like avg)
    d = _max_abs_diff([f"try_divide(__c[{i}], n_cur)" for i in range(len(grid))], base_ecdf)
    return agg.select(*gb, d.alias("d_statistic"), F.col("n_cur").cast("long").alias("n_cur"))


def bin_index_expr(v: str, grid) -> Column:
    """In-plan bin index against a baseline quantile grid: the number
    of grid edges STRICTLY BELOW the value of column ``v``, so rows
    with v <= grid[i] are exactly the rows with bin <= i — the same
    boundary semantics as ks_drift's count_if(v <= q) probes. Shared by
    the incremental KS state and the streaming KS counter.

    One parsed binary search over the sorted edges (nested
    CASE WHEN v <= edge, O(log #edges) comparisons, codegen'd): a
    higher-order filter over the edge array runs interpreted per row
    and measured ~35x slower at 750k rows. NULL -> 0;
    NaN -> the number of non-NaN edges (Spark orders NaN above every
    number and NaN <= NaN); duplicate edges each count."""
    edges = sorted(map(float, grid), key=lambda q: (q != q, q))

    def search(lo: int, hi: int) -> str:  # answer lies in [lo, hi]
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN `{v}` <= {_sql_double(edges[mid])} "
            f"THEN {search(lo, mid)} ELSE {search(mid + 1, hi)} END"
        )

    return F.expr(f"CASE WHEN `{v}` IS NULL THEN 0 ELSE {search(0, len(edges))} END")


def ks_verdicts_over_bins(
    bins_df: DataFrame,
    baseline: dict,
    window_cols=("window",),
    alpha: float = 0.01,
) -> DataFrame:
    """Per-window KS drift verdicts as a STATELESS view over a
    bin-counter table — the KS sibling of drift_verdicts_over_counts:
    the stateful part is just the watermarked bin-count aggregation
    (streaming.stream_bin_counts); this view folds each window's bins
    into a map, evaluates the ECDF at every baseline grid point as a
    cumulative map sum, takes D as a greatest() over the grid, and
    applies the in-plan pass rule (``_ks_passed``). Entirely in-plan:
    no per-row Python, no driver-side stats.

    bins_df: (window_cols..., __bin, n) — a micro-batch sink, a
    composed incremental state, or any batch equivalent. Returns
    (window_cols..., d_statistic, n_cur, passed)."""
    wc = list(window_cols)
    per = (
        bins_df.groupBy(*wc)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("__bin", "n"))).alias("__m"),
            F.sum("n").alias("n_cur"),
        )
    )
    # ECDF at grid point i = (rows with bin <= i) / n_cur — a bounded
    # fold over the ~grid-sized map, per grid point
    ecdf = [
        f"CAST(aggregate(map_entries(__m), 0L, (a, x) -> a + IF(x.key <= {i}, x.value, 0L)) AS DOUBLE)"
        " / CAST(n_cur AS DOUBLE)"
        for i in range(len(baseline["ecdf"]))
    ]
    d = _max_abs_diff(ecdf, baseline["ecdf"])
    return per.select(
        *wc,
        d.alias("d_statistic"),
        F.col("n_cur").cast("long").alias("n_cur"),
        _ks_passed(d, int(baseline["n"]), alpha).alias("passed"),
    )


def ks_drift_verdicts_df(
    df: DataFrame, expr: str, baseline: dict, by=None, alpha: float = 0.01
) -> DataFrame:
    """Grid-ECDF KS drift VERDICTS fully in-plan — the KS sibling of
    drift_verdicts_over_counts' chi2 rule: D from ks_statistic_df's
    one-aggregation ECDF evaluation, pass/fail from ``_ks_passed``, so
    the verdict needs no driver-side p-value conversion and replays in
    plain SQL. Returns (by..., d_statistic, n_cur, passed)."""
    stat = ks_statistic_df(df, expr, baseline["grid"], baseline["ecdf"], by=by)
    return stat.withColumn("passed", _ks_passed(F.col("d_statistic"), int(baseline["n"]), alpha))


def make_categorical_baseline_df(df: DataFrame, column: str, group_by=()) -> DataFrame:
    """Baseline counts as a DATAFRAME (no driver collect): one row per
    (group..., category). The distributed sibling of
    make_categorical_baseline(_by) — feed it to chi2_statistic_df /
    drift_verdicts_over_counts, or persist it as the baseline-snapshot
    table a production deployment would keep in the warehouse."""
    gb = list(group_by)
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(*gb, column)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def drift_verdicts_over_counts(
    counts_df: DataFrame,
    column: str,
    baseline_df: DataFrame,
    group_by=(),
    window_cols=("window",),
    alpha: float = 0.01,
    max_dof: int = 128,
) -> DataFrame:
    """Per-(window, group) chi-square drift verdicts as a STATELESS view
    over a category-counter table — the streaming-drift shape: the
    stateful part is just the watermarked counts aggregation
    (streaming.stream_category_counts); this view joins those counters
    against the baseline counts and evaluates pass/fail entirely
    in-plan (statistic <= chi2_crit(dof, alpha), critical values
    broadcast as a tiny dof-indexed table — no per-row Python, no
    driver-side stats).

    counts_df: (window_cols..., group_by..., column, n) — a micro-batch
    sink, a materialized counter table, or any batch equivalent.
    Observed categories must be a subset of the baseline's per group
    (same contract as chi2_statistic_df).
    Returns (window_cols..., group_by..., statistic, dof, passed)."""
    from xsd2json_spark.engine.stats_math import chi2_crit

    gb = list(group_by)
    wc = list(window_cols)
    spark = counts_df.sparkSession
    b = baseline_df.select(*gb, F.col(column).alias("__cat"), F.col("n").alias("__b")).filter(
        F.col("__cat").isNotNull()
    )
    bt = b.groupBy(*gb).agg(F.sum("__b").alias("__bt")) if gb else b.agg(F.sum("__b").alias("__bt"))
    bb = b.join(bt, gb) if gb else b.crossJoin(bt)
    # ONE reference to the counter table: fold each (window, group)'s
    # category counts into a map, then expand along the broadcast
    # baseline spine (unobserved baseline categories read 0 from the
    # map). A join-back onto the counts would be a streaming-sink
    # self-join (conflicting attributes) and a second shuffle.
    per = (
        counts_df.select(*wc, *gb, F.col(column).alias("__cat"), F.col("n").alias("__o"))
        .groupBy(*wc, *gb)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("__cat", "__o"))).alias("__m"),
            F.sum("__o").alias("__n"),
        )
    )
    j = per.join(F.broadcast(bb), gb) if gb else per.crossJoin(F.broadcast(bb))
    o = F.coalesce(F.col("__m")[F.col("__cat")], F.lit(0))
    e = F.col("__n") * F.col("__b") / F.col("__bt")
    agg = (
        j.groupBy(*wc, *gb)
        .agg(
            F.sum((o - e) ** 2 / e).alias("statistic"),
            F.count(F.lit(1)).alias("n_cats"),
        )
        .withColumn("dof", F.greatest(F.col("n_cats") - 1, F.lit(1)).cast("int"))
        .drop("n_cats")
    )
    crit = spark.createDataFrame(
        [(d, chi2_crit(d, alpha)) for d in range(1, max_dof + 1)], "dof int, __crit double"
    )
    return (
        agg.join(F.broadcast(crit), "dof")
        .withColumn("passed", F.col("statistic") <= F.col("__crit"))
        .select(*wc, *gb, "statistic", "dof", "passed")
    )


# ---------------------------------------------------------------------------
# per-group drift (SURVEY §4.3: chi2/KS per (lang, ...) group vs a
# per-group baseline)
# ---------------------------------------------------------------------------


def make_categorical_baseline_by(df: DataFrame, column: str, group_by) -> dict:
    """Per-group categorical baseline: ONE aggregation over
    (group, category) — bounded by #groups x #categories."""
    gb = list(group_by)
    rows = df.groupBy(*gb, F.col(column).alias("__cat")).agg(F.count(F.lit(1)).alias("n")).collect()
    groups: dict = {}
    for r in rows:
        if r["__cat"] is None:
            continue
        key = group_key([r[g] for g in gb])
        groups.setdefault(key, {})[str(r["__cat"])] = r["n"]
    return {"kind": "categorical_by", "group_by": gb, "groups": groups}


def make_numeric_baseline_by(
    df: DataFrame, expr: str, group_by, grid_points: int = 49
) -> dict:
    """Per-group numeric baseline (value grid + ECDF per group), built
    with applyInPandas — one shuffle on the group key, each group's
    quantile grid computed inside its Arrow batch."""
    import numpy as np
    import pandas as pd

    gb = list(group_by)
    probs = [i / (grid_points + 1) for i in range(1, grid_points + 1)]

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pd.to_numeric(pdf["__v"], errors="coerce").dropna().to_numpy()
        key = group_key([pdf[g].iloc[0] for g in gb])
        if len(v) == 0:
            return pd.DataFrame({"key": [], "n": [], "grid": [], "ecdf": []})
        grid = np.quantile(v, probs)
        ecdf = [(v <= q).mean() for q in grid]
        return pd.DataFrame(
            {"key": [key], "n": [len(v)], "grid": [grid.tolist()], "ecdf": [ecdf]}
        )

    src = df.select(*gb, F.expr(expr).cast("double").alias("__v"))
    out = src.groupBy(*gb).applyInPandas(
        _per_group, schema="key string, n long, grid array<double>, ecdf array<double>"
    )
    groups = {
        r["key"]: {"n": r["n"], "grid": list(r["grid"]), "ecdf": list(r["ecdf"])}
        for r in out.collect()
    }
    return {"kind": "numeric_by", "group_by": gb, "groups": groups}


def chi2_drift_by(df: DataFrame, c: Drift, baseline: dict) -> "list[tuple]":
    """Per-group Pearson chi-square in ONE aggregation pass: groupBy
    (group, category).count(), statistic + p-value driver-side per group
    (O(#groups x #categories), no row collect).
    Returns [(group_key, stat, p), ...] — one row per group present in
    the data OR the baseline: a baseline group with no current rows
    (a vanished population, the classic drift signal) fails with p=0
    instead of silently producing no verdict."""
    gb = list(c.group_by)
    rows = (
        df.groupBy(*gb, _value_col(c).alias("__cat"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    observed: dict = {}
    for r in rows:
        if r["__cat"] is None:
            continue
        key = group_key([r[g] for g in gb])
        observed.setdefault(key, {})[str(r["__cat"])] = r["n"]
    out = []
    for key, obs in sorted(observed.items()):
        base_counts = baseline["groups"].get(key)
        if not base_counts:
            out.append((key, float("nan"), 0.0))  # unseen group = drift
            continue
        total = sum(base_counts.values())
        probs = {k: v / total for k, v in base_counts.items()}
        stat, dof = chi2_stat(obs, probs)
        out.append((key, stat, chi2_sf(stat, dof)))
    for key in sorted(set(baseline["groups"]) - set(observed)):
        out.append((key, float("nan"), 0.0))  # vanished group = drift
    return out


def ks_drift_by(df: DataFrame, c: Drift, baseline: dict) -> "list[tuple]":
    """Per-group two-sample KS via applyInPandas (SURVEY §4.3): each
    group's current ECDF is evaluated at ITS baseline grid inside one
    Arrow batch per group; p-values driver-side.
    Returns [(group_key, d_statistic, p), ...] — baseline groups with no
    current rows (vanished populations) emit a (key, nan, 0.0) fail row
    like chi2_drift_by."""
    import numpy as np
    import pandas as pd

    gb = list(c.group_by)
    grids = {k: (g["grid"], g["ecdf"], g["n"]) for k, g in baseline["groups"].items()}

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = group_key([pdf[g].iloc[0] for g in gb])
        v = pd.to_numeric(pdf["__v"], errors="coerce").dropna().to_numpy()
        if key not in grids or len(v) == 0:
            return pd.DataFrame({"key": [key], "d": [float("nan")], "n_cur": [len(v)]})
        grid, base_ecdf, _ = grids[key]
        d = max(abs((v <= q).mean() - e) for q, e in zip(grid, base_ecdf))
        return pd.DataFrame({"key": [key], "d": [float(d)], "n_cur": [len(v)]})

    src = df.select(*gb, (F.expr(c.expr) if c.expr else F.col(c.column)).cast("double").alias("__v"))
    rows = src.groupBy(*gb).applyInPandas(
        _per_group, schema="key string, d double, n_cur long"
    ).collect()
    out = []
    for r in sorted(rows, key=lambda r: r["key"]):
        key = r["key"]
        if key not in grids or r["n_cur"] == 0 or r["d"] != r["d"]:
            out.append((key, float("nan"), 0.0))  # unseen group / no data = drift
            continue
        n_base = grids[key][2]
        out.append((key, r["d"], ks_pvalue(r["d"], n_base, r["n_cur"])))
    seen = {r["key"] for r in rows}
    for key in sorted(set(grids) - seen):
        out.append((key, float("nan"), 0.0))  # vanished group = drift
    return out


def drift_verdict(spark: SparkSession, df: DataFrame, c: Drift, baselines: dict):
    """Global drift: returns ONE verdict row tuple (partition_key,
    constraint_id, violation_count, evaluated_count, passed). With
    c.group_by set, delegates to drift_verdicts_by (one row per group)."""
    if c.group_by:
        return drift_verdicts_by(spark, df, c, baselines)
    baseline: Optional[dict] = baselines.get(c.baseline)
    if baseline is None:
        raise KeyError(f"drift {c.id}: baseline snapshot {c.baseline!r} not provided")
    if c.test == "chi2":
        stat, p = chi2_drift(df, c, baseline)
    else:
        stat, p = ks_drift(df, c, baseline)
    passed = p >= c.alpha
    return ("ALL", c.id, 0 if passed else 1, None, passed)


def drift_verdicts_by(spark: SparkSession, df: DataFrame, c: Drift, baselines: dict) -> "list[tuple]":
    """Per-group drift verdicts: one (partition_key=group, ...) row per
    group present in the data or the baseline."""
    baseline: Optional[dict] = baselines.get(c.baseline)
    if baseline is None:
        raise KeyError(f"drift {c.id}: baseline snapshot {c.baseline!r} not provided")
    results = chi2_drift_by(df, c, baseline) if c.test == "chi2" else ks_drift_by(df, c, baseline)
    rows = []
    for key, _stat, p in results:
        passed = p >= c.alpha
        rows.append((key, c.id, 0 if passed else 1, None, passed))
    return rows
