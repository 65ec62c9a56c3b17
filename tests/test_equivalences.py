"""Property tests for the plan rewrites that must not change any output:
the stats sketch's guarded numeric cast, the one-parse KS probes and bin
index, and the pre-filtered violation rows. Each compares the shipped
form against the straightforward form it replaces, on small generated
frames."""

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xsd2json_spark import spec_from_dict
from xsd2json_spark.engine import EngineConfig, ValidationEngine
from xsd2json_spark.engine.drift import (
    bin_index_expr,
    ks_drift,
    ks_statistic_df,
    make_numeric_baseline,
)
from xsd2json_spark.engine.stats_math import ks_pvalue
from xsd2json_spark.engine.validate import _sketch_number
from xsd2json_spark.spec.constraints import SpecError

SETTINGS = dict(deadline=None, suppress_health_check=[HealthCheck.too_slow])

# ---------------------------------------------------------------------------
# guarded sketch cast == try_cast
# ---------------------------------------------------------------------------

CAST_EDGES = [
    "", " ", "\t", "1", " 1 ", " +inf ", "-inf", "inf", "+Infinity", "-Infinity", "INF",
    "Infinity", "infinity", "NaN", "nan", "-nan", "+nan", " NaN\n", "0x1p3", "0X1P3",
    "-0x1p-2", "1d", "1D", "1f", "2.5F", "1e5", "1E-5", ".5", "5.", "-.5e1", "+", "-", ".",
    "e5", "\x001", "1\x00", "\x1f2\x1f", " 1", "1 ", " 1", "１", "١",
    "1_000", "1,5", "0b1", "--1", "+-1", "in", "na", "i", "n", "N", "I", "abc", "import os",
    "# 1", "\n\n3.25\n", " " * 40 + "7", "\x00" * 3, "9" * 400, "1e400", "-1e400", "4.9e-324",
]

numeric_like = st.from_regex(
    r"[\x00-\x20]{0,3}[+\-]?([0-9]{0,4}\.?[0-9]{0,4}([eE][+\-]?[0-9]{1,3})?|inf|Infinity|NaN|nan"
    r"|0x[0-9a-f]{1,3}p[0-9])[dDfF]?[\x00-\x20]{0,3}",
    fullmatch=True,
)
cast_strings = st.one_of(
    st.text(max_size=12),
    st.text(alphabet="0123456789+-.eEiInNaAfFdDxXp \t\n\x00\x1f ", max_size=10),
    numeric_like,
    st.sampled_from(CAST_EDGES),
    st.floats().map(repr),
)


def _cast_mismatches(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    s = F.col("s")
    return df.filter(~_sketch_number(s, True).eqNullSafe(s.try_cast("double"))).collect()


def test_guarded_cast_edge_cases(spark):
    assert _cast_mismatches(spark, CAST_EDGES + [None]) == []


@settings(max_examples=25, **SETTINGS)
@given(st.lists(cast_strings, min_size=1, max_size=60))
def test_guarded_cast_equals_try_cast(spark, values):
    assert _cast_mismatches(spark, values) == []


# ---------------------------------------------------------------------------
# one-parse KS probes == the per-point avg Column form
# ---------------------------------------------------------------------------


def _old_ks_drift(df, c, baseline):
    """The per-grid-point avg((v <= q)::double) form ks_drift replaced."""
    grid, base_ecdf, n_base = baseline["grid"], baseline["ecdf"], baseline["n"]
    cur = df.select(F.col(c.column).cast("double").alias("v")).na.drop()
    exprs = [F.avg((F.col("v") <= F.lit(q)).cast("double")).alias(f"e{i}") for i, q in enumerate(grid)]
    row = cur.agg(*exprs, F.count(F.lit(1)).alias("n")).collect()[0]
    n_cur = row["n"] or 0
    if n_cur == 0:
        raise SpecError(f"drift {c.id}: no current values")
    d = max(abs(float(row[f"e{i}"]) - base_ecdf[i]) for i in range(len(grid)))
    return d, ks_pvalue(d, n_base, n_cur)


def _old_ks_statistic(df, grid, base_ecdf, by):
    v = F.col("x").cast("double")
    cur = df.filter(v.isNotNull())
    exprs = [F.avg((v <= F.lit(float(q))).cast("double")).alias(f"__e{i}") for i, q in enumerate(grid)]
    exprs.append(F.count(F.lit(1)).alias("n_cur"))
    agg = cur.groupBy(*by).agg(*exprs) if by else cur.agg(*exprs)
    diffs = [F.abs(F.col(f"__e{i}") - F.lit(float(e))) for i, e in enumerate(base_ecdf)]
    d = F.greatest(*diffs) if len(diffs) > 1 else diffs[0]
    return agg.select(*by, d.alias("d_statistic"), F.col("n_cur").cast("long").alias("n_cur"))


def _old_bin(v, grid):
    edges = F.array(*[F.lit(float(q)) for q in grid])
    return F.size(F.filter(edges, lambda e: e < v))


POINTS = [-3.0, -1.5, -0.0, 0.0, 0.25, 1.0, 2.0, 2.0, 7.5, 1e9, float("inf"), float("-inf")]
values_st = st.lists(
    st.one_of(st.none(), st.sampled_from(POINTS + [float("nan")]), st.floats(-10, 10)), max_size=40
)
grid_st = st.lists(st.one_of(st.sampled_from(POINTS), st.floats(-10, 10)), min_size=1, max_size=12)


def _frame(spark, values):
    return spark.createDataFrame([(i % 3, v) for i, v in enumerate(values)], "g int, x double")


def _drift_c():
    spec = spec_from_dict({"name": "ks", "constraints": [
        {"kind": "drift", "id": "ks", "column": "x", "test": "ks", "baseline": "b"}]})
    return spec.table_level()[0]


@settings(max_examples=8, **SETTINGS)
@given(values_st, grid_st, st.randoms(use_true_random=False))
def test_ks_probes_equal_avg_form(spark, values, grid, rnd):
    df = _frame(spark, values)
    ecdf = sorted(rnd.random() for _ in grid)
    baseline = {"kind": "numeric", "n": 50, "grid": grid, "ecdf": ecdf}
    c = _drift_c()
    try:
        want = _old_ks_drift(df, c, baseline)
    except SpecError:
        with pytest.raises(SpecError):
            ks_drift(df, c, baseline)
    else:
        assert ks_drift(df, c, baseline) == want  # D and p, bit for bit

    for by in ([], ["g"]):
        got = ks_statistic_df(df, "x", grid, ecdf, by=by).collect()
        old = _old_ks_statistic(df, grid, ecdf, by).collect()
        key = lambda r: tuple(r[:len(by)])  # noqa: E731
        assert sorted(map(tuple, got), key=key) == sorted(map(tuple, old), key=key)


@settings(max_examples=10, **SETTINGS)
@given(st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=60))
def test_numeric_baseline_ecdf_equals_avg_form(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    base = make_numeric_baseline(df, "x", grid_points=9)
    old = df.agg(*[F.avg((F.col("x") <= F.lit(q)).cast("double")) for q in base["grid"]]).collect()[0]
    assert base["ecdf"] == [float(e) for e in old]


@settings(max_examples=20, **SETTINGS)
@given(values_st, st.lists(st.one_of(st.sampled_from(POINTS + [float("nan")]), st.floats(-10, 10)),
                           max_size=12))
def test_bin_index_equals_lambda_filter(spark, values, grid):
    df = _frame(spark, values).withColumn("__v", F.col("x"))
    rows = df.select(bin_index_expr("__v", grid).alias("new"), _old_bin(F.col("__v"), grid).alias("old"))
    assert all(r["new"] == r["old"] for r in rows.collect())


def test_bin_index_edge_cases(spark):
    grid = [1.0, 2.0, 2.0, 3.0, float("nan")]
    df = spark.createDataFrame([(None,), (float("nan"),), (0.5,), (2.0,), (2.5,), (9.0,)], "__v double")
    got = [r[0] for r in df.select(bin_index_expr("__v", grid)).collect()]
    # NULL -> 0; NaN -> every non-NaN edge; duplicates each count
    assert got == [0, 4, 0, 1, 3, 4]


# ---------------------------------------------------------------------------
# pre-filtered violation rows == the array-then-filter form
# ---------------------------------------------------------------------------

VIOLATION_SPEC = {
    "name": "viol",
    "key_columns": ["k"],
    "constraints": [
        {"kind": "not_null", "id": "t_nn", "column": "t"},
        {"kind": "length", "id": "t_len", "column": "t", "min": 2, "max": 5},
        {"kind": "range", "id": "n_rng", "column": "n", "min": 0, "max": 10},
        {"kind": "all_of", "id": "all", "children": [
            {"kind": "pattern", "id": "a1", "column": "t", "patterns": ["[a-c]+"]},
            {"kind": "range", "id": "a2", "column": "n", "min": 1},
        ]},
        {"kind": "any_of", "id": "any", "children": [
            {"kind": "enum", "id": "b1", "column": "t", "values": ["ab", "abc"]},
            {"kind": "range", "id": "b2", "column": "n", "max": 3},
        ]},
    ],
}

rows_st = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 6)),
        st.one_of(st.none(), st.text(alphabet="abcz", max_size=7)),
        st.one_of(st.none(), st.integers(-3, 14)),
    ),
    max_size=30,
)


def _old_violation_rows(eng, df):
    """Every row gets the compacted id array; empty arrays filtered after."""
    keys = list(eng.spec.key_columns)
    failed = F.array_compact(F.array(*[F.when(~eng._pred(c), F.lit(c.id)) for c in eng.spec.row_level()]))
    return (
        df.select(*[F.col(k).cast("string").alias(k) for k in keys], failed.alias("__failed"))
        .filter(F.size("__failed") > 0)
        .select(*keys, F.explode("__failed").alias("constraint_id"))
        .withColumn("detail", F.lit(None).cast("string"))
    )


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


@settings(max_examples=15, **SETTINGS)
@given(rows_st)
def test_prefiltered_violation_rows_equal_old_rows(spark, rows):
    df = spark.createDataFrame(rows, "k int, t string, n int")
    spec = spec_from_dict(VIOLATION_SPEC)
    two = ValidationEngine(spark, spec)
    want = _multiset(_old_violation_rows(two, df))
    assert _multiset(two.row_violations(df)) == want
    fused = ValidationEngine(spark, spec, config=EngineConfig(fused=True)).run(df)
    assert _multiset(fused.violations) == want
    fused.unpersist()


def test_violation_rows_skip_null_conditions(spark):
    """A NULL condition neither keeps a row nor lists its id, as
    when(NULL, id) never did in the array form."""
    from xsd2json_spark.engine.validate import _violation_rows

    df = spark.createDataFrame([(1, None), (2, 5), (3, 50)], "k int, n int")
    fails = [(F.col("n") > 10, "big"), (F.col("n") < F.lit(None).cast("int"), "null_cmp"),
             (F.col("n").isNull(), "missing")]
    got = _violation_rows(df, ["k"], fails).collect()
    assert sorted(tuple(r) for r in got) == [("1", "missing", None), ("3", "big", None)]
