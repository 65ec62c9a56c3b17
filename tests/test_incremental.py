"""Incremental (snapshot-delta) validation: the composed verdicts must
equal a from-scratch run on the current snapshot, for adds, updates,
deletes, per-partition specs, and the empty delta."""

import pytest
from pyspark.sql import functions as F

from xsd2json_spark import spec_from_dict
from xsd2json_spark.engine import ValidationEngine
from xsd2json_spark.engine.incremental import (
    incremental_verdicts,
    snapshot_delta,
)

SPEC = {
    "name": "inc",
    "key_columns": ["doc_id"],
    "constraints": [
        {"kind": "not_null", "id": "t_nn", "column": "text"},
        {"kind": "length", "id": "t_len", "column": "text", "min": 5, "max": 100},
        {"kind": "unique", "id": "pk", "columns": ["doc_id"]},
    ],
}


def vmap(verdicts):
    return {
        r["constraint_id"]: (r["violation_count"], r["passed"])
        for r in verdicts.collect()
    }


@pytest.fixture()
def snapshots(spark):
    a = spark.createDataFrame(
        [(i, None if i % 5 == 0 else f"text number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    # B: delete >= 180, update % 7 (too-short text), add 500-509
    b = (
        a.filter("doc_id < 180")
        .withColumn("text", F.when(F.col("doc_id") % 7 == 0, F.lit("ab")).otherwise(F.col("text")))
        .unionByName(
            spark.createDataFrame(
                [(500 + i, "tiny" if i % 2 else "long enough text") for i in range(10)],
                "doc_id long, text string",
            )
        )
    )
    return a, b


def test_snapshot_delta_classifies_adds_updates_deletes(spark, snapshots):
    a, b = snapshots
    added, removed = snapshot_delta(a, b, ["doc_id"])
    add_ids = {r["doc_id"] for r in added.select("doc_id").collect()}
    rem_ids = {r["doc_id"] for r in removed.select("doc_id").collect()}
    # updated % 7 rows (with non-null original text) appear on BOTH sides
    updated = {i for i in range(180) if i % 7 == 0 and i % 5 != 0}
    assert updated <= add_ids and updated <= rem_ids
    assert {500 + i for i in range(10)} <= add_ids  # pure adds
    assert {i for i in range(180, 200)} <= rem_ids  # pure deletes
    # unchanged rows appear on neither side
    assert 1 not in add_ids and 1 not in rem_ids


def test_incremental_equals_full_recompute(spark, snapshots):
    a, b = snapshots
    spec = spec_from_dict(SPEC)
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev))
    full = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc == full
    assert inc["t_nn"][0] > 0 and inc["t_len"][0] > 0  # non-vacuous fixture


def test_incremental_empty_delta_is_identity(spark, snapshots):
    a, _ = snapshots
    spec = spec_from_dict(SPEC)
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = vmap(incremental_verdicts(spark, spec, a, a, prev))
    assert inc == vmap(prev)


def test_incremental_applies_max_fail_ratio(spark, snapshots):
    """A ratio-tolerant constraint composes to the same verdict as a
    from-scratch run: passed when violations stay within
    max_fail_ratio * evaluated, even though they are not zero."""
    a, b = snapshots
    d = dict(SPEC, constraints=[
        {"kind": "length", "id": "t_len", "column": "text", "min": 5, "max": 100, "max_fail_ratio": 0.2},
        {"kind": "not_null", "id": "t_nn", "column": "text", "max_fail_ratio": 0.01},
    ])
    spec = spec_from_dict(d)
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev))
    assert inc == vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc["t_len"][0] > 0 and inc["t_len"][1]  # tolerated
    assert inc["t_nn"][0] > 0 and not inc["t_nn"][1]  # over its ratio


def test_incremental_per_partition_spec(spark):
    """partition_by specs compose per (partition_key, constraint_id),
    including a partition that only exists in the new snapshot."""
    spec = spec_from_dict(
        {
            "name": "incp",
            "key_columns": ["doc_id"],
            "partition_by": ["grp"],
            "constraints": [{"kind": "not_null", "id": "t_nn", "column": "text"}],
        }
    )
    a = spark.createDataFrame(
        [(i, "g%d" % (i % 2), None if i % 4 == 0 else "x") for i in range(40)],
        "doc_id long, grp string, text string",
    )
    b = a.unionByName(
        spark.createDataFrame([(100, "g9", None), (101, "g9", "y")], "doc_id long, grp string, text string")
    )
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = {
        (r["partition_key"], r["constraint_id"]): r["violation_count"]
        for r in incremental_verdicts(spark, spec, a, b, prev).collect()
    }
    full = {
        (r["partition_key"], r["constraint_id"]): r["violation_count"]
        for r in ValidationEngine(spark, spec).run(b).verdicts.collect()
    }
    assert inc == full
    # the brand-new partition composed from zero (keys are to_json structs)
    assert inc[('{"grp":"g9"}', "t_nn")] == 1


def test_incremental_drained_partition_emits_no_row(spark):
    """A partition whose rows are ALL deleted in the new snapshot must
    vanish from the composed verdicts, exactly as it does in a
    from-scratch run (which has no rows to group for it)."""
    spec = spec_from_dict(
        {
            "name": "incd",
            "key_columns": ["doc_id"],
            "partition_by": ["grp"],
            "constraints": [{"kind": "not_null", "id": "t_nn", "column": "text"}],
        }
    )
    a = spark.createDataFrame(
        [(1, "keep", "x"), (2, "keep", None), (3, "gone", "y"), (4, "gone", None)],
        "doc_id long, grp string, text string",
    )
    b = a.filter(F.col("grp") == "keep")
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = {
        (r["partition_key"], r["constraint_id"]): r["violation_count"]
        for r in incremental_verdicts(spark, spec, a, b, prev).collect()
    }
    full = {
        (r["partition_key"], r["constraint_id"]): r["violation_count"]
        for r in ValidationEngine(spark, spec).run(b).verdicts.collect()
    }
    assert inc == full
    assert ('{"grp":"gone"}', "t_nn") not in inc


def test_snapshot_delta_sees_multiplicity_changes(spark):
    """Duplicate keys (nothing enforces uniqueness): a (key, payload)
    whose copy-count changes must surface the NET copies in
    added/removed, and the composed row counters must match a full
    recompute — existence anti-joins would miss the change entirely."""
    a = spark.createDataFrame(
        [(1, "dup"), (1, "dup"), (2, None), (2, None), (2, None), (3, "solo")],
        "doc_id long, text string",
    )
    # B: one more copy of (1,'dup'), one fewer of (2,NULL)
    b = spark.createDataFrame(
        [(1, "dup"), (1, "dup"), (1, "dup"), (2, None), (2, None), (3, "solo")],
        "doc_id long, text string",
    )
    added, removed = snapshot_delta(a, b, ["doc_id"])
    assert [tuple(r) for r in added.collect()] == [(1, "dup")]
    assert [tuple(r) for r in removed.collect()] == [(2, None)]
    spec = spec_from_dict(
        {
            "name": "incm",
            "key_columns": ["doc_id"],
            "constraints": [{"kind": "not_null", "id": "t_nn", "column": "text"}],
        }
    )
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev))
    full = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc == full
    assert inc["t_nn"] == (2, False)  # the deleted NULL copy composed out


def _counts_map(df, cols=("doc_id",)):
    return {tuple(r[c] for c in cols): r["n"] for r in df.collect()}


def test_unique_counts_compose_equals_recompute(spark):
    """The materialized (key, n) uniqueness state rolled forward over
    the delta must equal unique_key_counts recomputed from scratch on
    the new snapshot — including keys whose multiplicity changes, keys
    that vanish (n composes to 0 and is dropped), and NULL keys
    (excluded on both paths)."""
    from xsd2json_spark.engine.incremental import (
        compose_unique_counts,
        unique_key_counts,
    )

    a = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (3, "z"), (None, "n"), (None, "n")],
        "doc_id long, text string",
    )
    # B: key 1 gains a copy, key 2 leaves, key 4 arrives twice, a NULL stays
    b = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "x"), (3, "z"), (4, "w"), (4, "w"), (None, "n")],
        "doc_id long, text string",
    )
    state_a = unique_key_counts(a, ["doc_id"])
    added, removed = snapshot_delta(a, b, ["doc_id"])
    composed = compose_unique_counts(state_a, added, removed, ["doc_id"])
    assert _counts_map(composed) == _counts_map(unique_key_counts(b, ["doc_id"]))
    assert _counts_map(composed) == {(1,): 3, (3,): 1, (4,): 2}


def test_unique_violations_from_counts_matches_engine(spark):
    """Violation rows derived from the state table are byte-identical
    to ValidationEngine.unique_violations on the full snapshot."""
    from xsd2json_spark.engine.incremental import (
        unique_key_counts,
        unique_violations_from_counts,
    )
    from xsd2json_spark.spec.constraints import Unique

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "e"), (3, "f")],
        "doc_id long, text string",
    )
    c = Unique(id="pk", columns=["doc_id"])
    from_counts = unique_violations_from_counts(unique_key_counts(df, ["doc_id"]), c)
    spec = spec_from_dict(
        {"name": "u", "key_columns": ["doc_id"], "constraints": [
            {"kind": "unique", "id": "pk", "columns": ["doc_id"]}]}
    )
    eng = ValidationEngine(spark, spec)
    direct = eng.unique_violations(df, spec.constraints[0])
    assert sorted(map(tuple, from_counts.collect())) == sorted(map(tuple, direct.collect()))


def test_incremental_verdicts_with_unique_state(spark, snapshots):
    """incremental_verdicts(unique_state=...) composes the unique
    verdict from the state + delta and still equals a from-scratch run
    — for a snapshot WITH duplicates (fail) and after the duplicates
    are removed (pass again)."""
    from xsd2json_spark.engine.incremental import (
        compose_unique_counts,
        unique_key_counts,
    )

    a, b = snapshots
    # duplicate some keys in B so the composed unique check has work
    b_dup = b.unionByName(b.filter(F.col("doc_id") % 31 == 1))
    spec = spec_from_dict(SPEC)
    prev = ValidationEngine(spark, spec).run(a).verdicts
    state = {"pk": unique_key_counts(a, ["doc_id"])}
    inc = vmap(incremental_verdicts(spark, spec, a, b_dup, prev, unique_state=state))
    full = vmap(ValidationEngine(spark, spec).run(b_dup).verdicts)
    assert inc == full
    assert inc["pk"][0] > 0 and not inc["pk"][1]

    # roll the state forward and validate the NEXT snapshot (dups gone)
    added, removed = snapshot_delta(a, b_dup, ["doc_id"])
    state2 = {"pk": compose_unique_counts(state["pk"], added, removed, ["doc_id"])}
    prev2 = ValidationEngine(spark, spec).run(b_dup).verdicts
    inc2 = vmap(incremental_verdicts(spark, spec, b_dup, b, prev2, unique_state=state2))
    full2 = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc2 == full2
    assert inc2["pk"] == (0, True)


def test_fk_state_composes_and_matches_engine(spark):
    """FK verdict composed from the fact-side key-count state + delta
    equals a from-scratch run: dangling rows introduced by the delta
    are counted (per ROW, not per key), repaired rows compose out, and
    NULL FK values pass on both paths."""
    from xsd2json_spark.engine.incremental import key_counts

    dim = spark.createDataFrame([("r1",), ("r2",)], "repo string")
    a = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (3, "rX"), (4, "rX"), (5, None)],
        "doc_id long, repo string",
    )
    # B: one dangling row repaired, two new dangling rows (same key),
    # one new NULL (passes)
    b = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (3, "r1"), (4, "rX"), (5, None),
         (6, "rY"), (7, "rY"), (8, None)],
        "doc_id long, repo string",
    )
    spec = spec_from_dict(
        {"name": "fkinc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"],
             "ref_table": "repos_dim", "broadcast": True}]}
    )
    dims = {"repos_dim": dim}
    prev = ValidationEngine(spark, spec, dims=dims).run(a).verdicts
    state = {"fk": key_counts(a, ["repo"])}
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev, dims=dims, fk_state=state))
    full = vmap(ValidationEngine(spark, spec, dims=dims).run(b).verdicts)
    assert inc == full
    assert inc["fk"] == (3, False)  # rows 4, 6, 7


def test_fk_state_survives_dim_change(spark):
    """The FK state is fact-side only: a dim change between snapshots
    needs NO state rebuild — the current dim enters only at the
    verdict-time anti-join."""
    from xsd2json_spark.engine.incremental import key_counts

    a = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (3, "r2")], "doc_id long, repo string"
    )
    b = a.unionByName(
        spark.createDataFrame([(4, "r1")], "doc_id long, repo string")
    )
    spec = spec_from_dict(
        {"name": "fkdim", "key_columns": ["doc_id"], "constraints": [
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"],
             "ref_table": "repos_dim", "broadcast": True}]}
    )
    dim_a = spark.createDataFrame([("r1",), ("r2",)], "repo string")
    dim_b = spark.createDataFrame([("r1",)], "repo string")  # r2 retired
    prev = ValidationEngine(spark, spec, dims={"repos_dim": dim_a}).run(a).verdicts
    state = {"fk": key_counts(a, ["repo"])}
    inc = vmap(incremental_verdicts(
        spark, spec, a, b, prev, dims={"repos_dim": dim_b}, fk_state=state
    ))
    full = vmap(ValidationEngine(spark, spec, dims={"repos_dim": dim_b}).run(b).verdicts)
    assert inc == full
    assert inc["fk"] == (2, False)  # rows 2, 3 now dangle against dim_b


def test_cardinality_state_composes_with_null_groups(spark):
    """Cardinality verdict composed from a NULL-keeping group-count
    state equals a from-scratch run — including a NULL group key (which
    groupBy keeps and an equi-join composition would silently drop) and
    a group that drains to zero (no row, so a min bound never fires on
    a vanished group)."""
    from xsd2json_spark.engine.incremental import (
        cardinality_violations_from_counts,
        compose_key_counts,
        key_counts,
    )

    a = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g2"), (4, None), (5, None), (6, "g3")],
        "doc_id long, grp string",
    )
    # B: g1 grows past max, the NULL group gains a row, g3 drains away
    b = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (7, "g1"), (8, "g1"), (3, "g2"),
         (4, None), (5, None), (9, None)],
        "doc_id long, grp string",
    )
    spec = spec_from_dict(
        {"name": "cinc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "cardinality", "id": "card", "group_by": ["grp"],
             "min": 2, "max": 3}]}
    )
    prev = ValidationEngine(spark, spec).run(a).verdicts
    state = {"card": key_counts(a, ["grp"], drop_null_keys=False)}
    inc = vmap(incremental_verdicts(
        spark, spec, a, b, prev, cardinality_state=state
    ))
    full = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc == full
    assert inc["card"] == (2, False)  # g1 (4 > max), g2 (1 < min); NULL=3 ok

    # violation ROWS from the composed state are byte-identical to the
    # engine's from-scratch cardinality_violations on B
    added, removed = snapshot_delta(a, b, ["doc_id"])
    composed = compose_key_counts(
        state["card"], added, removed, ["grp"], drop_null_keys=False
    )
    from_counts = cardinality_violations_from_counts(composed, spec.constraints[0])
    direct = ValidationEngine(spark, spec).cardinality_violations(b, spec.constraints[0])
    assert sorted(map(tuple, from_counts.collect())) == sorted(map(tuple, direct.collect()))


def test_all_three_states_together(spark):
    """With unique + FK + cardinality states all supplied, the verdict
    table composes every key-shuffle table check and still equals a
    from-scratch run (quantile/drift absent; row-level rides the
    delta)."""
    from xsd2json_spark.engine.incremental import key_counts

    dim = spark.createDataFrame([("r1",), ("r2",)], "repo string")
    a = spark.createDataFrame(
        [(i, "r%d" % (1 + i % 2), "text number %d" % i) for i in range(50)],
        "doc_id long, repo string, text string",
    )
    b = (
        a.filter("doc_id < 45")
        .unionByName(spark.createDataFrame(
            [(100, "rZ", "dangling"), (100, "r1", "duplicate key"), (101, "r1", "ab")],
            "doc_id long, repo string, text string",
        ))
    )
    spec = spec_from_dict(
        {"name": "all3", "key_columns": ["doc_id"], "constraints": [
            {"kind": "length", "id": "t_len", "column": "text", "min": 5, "max": 100},
            {"kind": "unique", "id": "pk", "columns": ["doc_id"]},
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"],
             "ref_table": "repos_dim", "broadcast": True},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"],
             "min": 1, "max": 30}]}
    )
    dims = {"repos_dim": dim}
    prev = ValidationEngine(spark, spec, dims=dims).run(a).verdicts
    states = dict(
        unique_state={"pk": key_counts(a, ["doc_id"])},
        fk_state={"fk": key_counts(a, ["repo"])},
        cardinality_state={"card": key_counts(a, ["repo"], drop_null_keys=False)},
    )
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev, dims=dims, **states))
    full = vmap(ValidationEngine(spark, spec, dims=dims).run(b).verdicts)
    assert inc == full
    assert inc["pk"][0] > 0 and inc["fk"][0] > 0 and inc["t_len"][0] > 0


def test_drift_counts_compose_equals_recompute(spark):
    """Composed chi2 drift state == from-scratch category counts of the
    current snapshot, for adds, updates (category flips), and
    deletes — global and per-group shapes."""
    from xsd2json_spark.engine.incremental import (
        compose_drift_counts,
        drift_category_counts,
        snapshot_delta,
    )
    from xsd2json_spark.spec.constraints import Drift

    a = spark.createDataFrame(
        [(i, ["py", "go", "js"][i % 3], "s%d" % (i % 4)) for i in range(120)],
        "doc_id long, lang string, src string",
    )
    # B: drop >= 100, flip lang of %7 to 'rs', add new rows incl. a NULL lang
    b = (
        a.filter("doc_id < 100")
        .withColumn("lang", F.when(F.col("doc_id") % 7 == 0, F.lit("rs")).otherwise(F.col("lang")))
        .unionByName(spark.createDataFrame(
            [(200, "py", "s0"), (201, None, "s1")], "doc_id long, lang string, src string"))
    )
    added, removed = snapshot_delta(a, b, ["doc_id"])
    for c in (
        Drift(id="d", column="lang", test="chi2", baseline="base"),
        Drift(id="dg", column="lang", test="chi2", baseline="base", group_by=["src"]),
    ):
        composed = compose_drift_counts(drift_category_counts(a, c), added, removed, c)
        scratch = drift_category_counts(b, c)
        key = (lambda r: tuple(r)) 
        assert sorted(map(tuple, composed.collect())) == sorted(map(tuple, scratch.collect())), c.id


def test_incremental_drift_verdicts_match_full_run(spark):
    """incremental_verdicts with drift_state equals the from-scratch
    engine verdicts — drifted and undrifted scenarios, global and
    per-group (incl. the vanished-group failure)."""
    from xsd2json_spark.engine.drift import (
        make_categorical_baseline,
        make_categorical_baseline_by,
    )
    from xsd2json_spark.engine.incremental import drift_category_counts

    base_df = spark.createDataFrame(
        [(i, ["py", "go"][i % 2], "g%d" % (i % 2)) for i in range(400)],
        "doc_id long, lang string, grp string",
    )
    a = spark.createDataFrame(
        [(i, ["py", "go"][i % 2], "g%d" % (i % 2)) for i in range(300)],
        "doc_id long, lang string, grp string",
    )
    # B drifts hard: most rows become 'py'; group g1 vanishes entirely
    b = spark.createDataFrame(
        [(i, "py" if i % 10 else "go", "g0") for i in range(300)],
        "doc_id long, lang string, grp string",
    )
    spec = spec_from_dict({
        "name": "drift_inc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "not_null", "id": "nn", "column": "lang"},
            {"kind": "drift", "id": "dr", "column": "lang", "test": "chi2",
             "baseline": "base"},
            {"kind": "drift", "id": "drg", "column": "lang", "test": "chi2",
             "baseline": "base_by", "group_by": ["grp"]},
        ]})
    baselines = {
        "base": make_categorical_baseline(base_df, "lang"),
        "base_by": make_categorical_baseline_by(base_df, "lang", ["grp"]),
    }
    drift_cs = {c.id: c for c in spec.table_level()}
    state = {cid: drift_category_counts(a, c) for cid, c in drift_cs.items()
             if c.kind == "drift"}
    for cur in (a, b):  # undrifted (B==A shape) and drifted
        prev = ValidationEngine(spark, spec, baselines=baselines).run(a).verdicts
        inc = incremental_verdicts(
            spark, spec, a, cur, prev, drift_state=state, baselines=baselines)
        full = ValidationEngine(spark, spec, baselines=baselines).run(cur).verdicts
        imap = {(r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
                for r in inc.collect()}
        fmap = {(r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
                for r in full.collect()}
        assert imap == fmap
    # drifted run actually fails, incl. per-group rows for g0 (drift)
    # and g1 (vanished)
    assert not imap[("ALL", "dr")][1]
    assert any(k[1] == "drg" and not v[1] for k, v in imap.items())


def test_incremental_ks_drift_matches_full_run(spark):
    """KS drift from a composed bin state == the full-scan ks_drift
    verdict (identical statistic: both read the ECDF only at the
    baseline's quantile grid), for drifted and undrifted snapshots
    with adds, updates, and deletes."""
    from xsd2json_spark.engine.drift import make_numeric_baseline
    from xsd2json_spark.engine.incremental import drift_value_bins

    base_df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(500)], "doc_id long, x double"
    )
    a = spark.createDataFrame(
        [(i, float((i * 7) % 100)) for i in range(400)], "doc_id long, x double"
    )
    # B: delete a tail, shift a stripe of values upward (drift), add rows
    b = (
        a.filter("doc_id < 350")
        .withColumn("x", F.when(F.col("doc_id") % 2 == 0, F.col("x") + 400.0).otherwise(F.col("x")))
        .unionByName(spark.createDataFrame(
            [(900 + i, 480.0 + i) for i in range(30)], "doc_id long, x double"))
    )
    spec = spec_from_dict({
        "name": "ks_inc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "not_null", "id": "nn", "column": "x"},
            {"kind": "drift", "id": "ks", "column": "x", "test": "ks",
             "baseline": "base"},
        ]})
    baselines = {"base": make_numeric_baseline(base_df, "x")}
    ks_c = next(c for c in spec.table_level() if c.kind == "drift")
    state = {"ks": drift_value_bins(a, ks_c, baselines)}
    for cur in (a, b):
        prev = ValidationEngine(spark, spec, baselines=baselines).run(a).verdicts
        inc = incremental_verdicts(
            spark, spec, a, cur, prev, drift_state=state, baselines=baselines)
        full = ValidationEngine(spark, spec, baselines=baselines).run(cur).verdicts
        imap = vmap(inc)
        assert imap == vmap(full)
    assert not imap["ks"][1]  # the shifted snapshot drifts


def test_build_and_split_states_cover_all_kinds(spark):
    """build_states emits exactly the maintainable states (unique, FK,
    cardinality, chi2 drift, global KS drift — not quantile, not
    per-group KS), and split_states routes each to the right
    incremental_verdicts kwarg."""
    from xsd2json_spark.engine.drift import make_numeric_baseline
    from xsd2json_spark.engine.incremental import build_states, split_states

    df = spark.createDataFrame(
        [(i, "r%d" % (i % 3), float(i % 50), ["py", "go"][i % 2]) for i in range(100)],
        "doc_id long, repo string, x double, lang string",
    )
    spec = spec_from_dict({
        "name": "s", "key_columns": ["doc_id"], "constraints": [
            {"kind": "unique", "id": "pk", "columns": ["doc_id"]},
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"], "ref_table": "r"},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"], "min": 1},
            {"kind": "drift", "id": "chi", "column": "lang", "test": "chi2", "baseline": "b"},
            {"kind": "drift", "id": "ks", "column": "x", "test": "ks", "baseline": "b"},
            {"kind": "drift", "id": "ksg", "column": "x", "test": "ks", "baseline": "b",
             "group_by": ["repo"]},
            {"kind": "quantile", "id": "q", "column": "x", "p": 0.5, "min": 0},
        ]})
    baselines = {"b": make_numeric_baseline(df, "x")}
    states = build_states(df, spec, baselines=baselines)
    assert sorted(states) == ["card", "chi", "fk", "ks", "pk"]  # no q, no ksg
    kw = split_states(spec, states)
    assert sorted(kw["unique_state"]) == ["pk"]
    assert sorted(kw["fk_state"]) == ["fk"]
    assert sorted(kw["cardinality_state"]) == ["card"]
    assert sorted(kw["drift_state"]) == ["chi", "ks"]
    assert states["ks"].columns == ["__bin", "n"]
    assert states["chi"].columns == ["__cat", "n"]


def test_schema_delta_and_verdict(spark):
    """Schema evolution: adds/removes/retypes/nullability all surface;
    the gate passes additive evolution, fails removals and any change
    touching a spec-referenced column."""
    from xsd2json_spark.engine.incremental import schema_delta, schema_delta_verdict

    a = spark.createDataFrame([(1, "x", 1.0, "k")], "id long, s string, f double, extra string")
    b_add = spark.createDataFrame([(1, "x", 1.0, "k", True)],
                                  "id long, s string, f double, extra string, flag boolean")
    b_rm = spark.createDataFrame([(1, "x", 1.0)], "id long, s string, f double")
    b_retype = spark.createDataFrame([(1, "x", 1, "k")], "id long, s string, f int, extra string")

    assert schema_delta(a, a) == []
    assert schema_delta(a, b_add) == [
        {"change": "added", "column": "flag", "prev": None, "cur": "boolean"}]
    assert schema_delta(a, b_rm) == [
        {"change": "removed", "column": "extra", "prev": "string", "cur": None}]
    assert schema_delta(a, b_retype) == [
        {"change": "type_changed", "column": "f", "prev": "double", "cur": "int"}]

    spec = spec_from_dict({"name": "s", "key_columns": ["id"], "constraints": [
        {"kind": "not_null", "id": "nn", "column": "s"},
        {"kind": "range", "id": "r", "column": "f", "min": 0}]})
    v_add, ch = schema_delta_verdict(a, b_add, spec)
    assert v_add["passed"] and v_add["evaluated_count"] == 1 and len(ch) == 1
    v_rm, _ = schema_delta_verdict(a, b_rm, spec)
    assert not v_rm["passed"]  # removal not in the additive allow-list
    # an ALLOWED kind still fails when the column is spec-referenced
    b_retype_f = spark.createDataFrame([(1, "x", 1, "k")], "id long, s string, f int, extra string")
    v_ref, _ = schema_delta_verdict(a, b_retype_f, spec, allow=("added", "type_changed"))
    assert not v_ref["passed"]
    # ... but a non-referenced column's allowed change passes
    b_retype_extra = spark.createDataFrame([(1, "x", 1.0, 2)], "id long, s string, f double, extra int")
    v_ok, _ = schema_delta_verdict(a, b_retype_extra, spec, allow=("added", "type_changed"))
    assert v_ok["passed"]
