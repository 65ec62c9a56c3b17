"""ValidationEngine — evaluate a Spec over a DataFrame in as few passes
as Spark allows.

Plan shape (idiomatic, Catalyst-friendly):

- ROW-LEVEL constraints + the per-column stats sketch run in ONE
  aggregation pass: ``df.groupBy(partition_by).agg(*counters, *sketch)``.
  Each constraint contributes one ``sum((NOT pred) :: long)`` counter; the
  sketch contributes count / null_count / approx_count_distinct (HLL) /
  min / max / percentile_approx (all built-in partial+final aggregates,
  map-side combined, WholeStageCodegen'd). This generalizes the
  reference's accumulate-then-verdict pattern (json/3 merge -> get_json,
  xsd2json.pl:58-66, 2267-2284) — and like the reference's merges it is
  associative-commutative, so partial aggregation is safe.

- VIOLATION rows come from one additional scan that first keeps only
  rows failing SOME predicate (one OR of the negated predicates), then
  builds the array of failed constraint ids for those rows alone and
  explodes it — the array/cast work is proportional to the number of
  violations, not rows.

- TABLE-LEVEL constraints each get their natural distributed plan:
  unique     -> two-stage (salted) count per key, HAVING n > 1
  foreign_key-> left_anti join (broadcast when dim is small, else
                sort-merge with AQE skew handling)
  cardinality-> groupBy(group_key).count() with bound filter
  drift      -> see engine/drift.py (single-pass grid ECDF / category
                histogram vs persisted baseline snapshot)

Scale notes: no collect() in any data path (only of per-constraint
verdict rows, which are O(#constraints x #partitions)); every join side
that is provably small is broadcast; uniqueness uses spark_partition_id
as the salt so hot keys partial-aggregate locally before the shuffle.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from functools import reduce
from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from xsd2json_spark.engine.compile import compile_predicate
from xsd2json_spark.spec.constraints import (
    Cardinality,
    Drift,
    ForeignKey,
    FunctionalDependency,
    Quantile,
    Spec,
    Unique,
)

VERDICT_COLUMNS = ["partition_key", "constraint_id", "violation_count", "evaluated_count", "passed"]
VERDICT_SCHEMA = ("partition_key string, constraint_id string, violation_count long, "
                  "evaluated_count long, passed boolean")
STATS_SCHEMA = ("partition_key string, column string, count long, null_count long, null_rate double, "
                "distinct long, min string, max string, quantiles array<double>")

#: optimizer size estimate above which Quantile(approx=None) switches
#: from the exact sort-based F.percentile to the mergeable GK sketch
#: (256 MiB: a single executor comfortably sorts that; beyond it the
#: exact path's per-group full materialization stops being safe)
QUANTILE_EXACT_MAX_BYTES = 256 * 1024 * 1024

_log = logging.getLogger(__name__)

#: first characters of a string Spark's string->double cast can accept
#: (after it trims chars <= U+0020): sign, digit, '.', and the i / n of
#: inf / infinity / nan in either case
_NUMERIC_LEADS = tuple("0123456789+-.iInN")


def _sketch_number(c: Column, is_string: bool) -> Column:
    """``try_cast(c AS DOUBLE)`` for the sketch, minus the exception a
    failing string cast throws and catches per value (nearly every row
    of a text column): a string whose first char can start no number
    is NULL without the cast; one starting with a char <= U+0020 (or
    empty) still takes it, since the cast trims those first."""
    if not is_string:
        return c.try_cast("double")
    lead = F.substring(c, 1, 1)
    return F.when(lead.isin(*_NUMERIC_LEADS) | (lead <= F.lit(" ")), c.try_cast("double"))


def _sketch_inputs(c: Column, is_string: bool):
    """(value, null flag, 64-char prefix, number): the sketch's row
    inputs for one watched expression. min/max run over the PREFIX,
    not the full value: string min/max puts a var-length value in the
    agg buffer, which (a) forces SortAggregate and (b) copy-churns on
    long text — measured 20-40s vs 0.7s on 16M rows with KB-sized
    strings. Lexicographic order is prefix-monotone, so
    min(prefix(x)) == prefix(min(x)); the sketch loses nothing it
    would have shipped to the driver anyway."""
    return c, c.isNull(), F.substring(c.cast("string"), 1, 64), _sketch_number(c, is_string)


def _passed(violations: Column, evaluated: Column, max_fail_ratio: Column) -> Column:
    """The row-level verdict rule (Deequ compliance): tolerate up to
    max_fail_ratio * evaluated rows failing; a NULL ratio (the default)
    keeps the strict zero-violations rule."""
    return F.when(
        max_fail_ratio.isNotNull(),
        violations.cast("double") <= max_fail_ratio * evaluated.cast("double"),
    ).otherwise(violations == 0)


def _violation_rows(src: DataFrame, keys, fails) -> DataFrame:
    """(keys..., constraint_id, detail) rows from (fail condition,
    constraint id) pairs. Filtering on the OR of the conditions first
    builds the id array and casts the keys for failing rows only; a
    NULL condition keeps no row and lists no id, as when(NULL, id)."""
    failed = F.array_compact(F.array(*[F.when(f, F.lit(cid)) for f, cid in fails]))
    return (
        src.filter(reduce(Column.__or__, [f for f, _ in fails]))
        .select(*[F.col(k).cast("string").alias(k) for k in keys], F.explode(failed).alias("constraint_id"))
        .withColumn("detail", F.lit(None).cast("string"))
    )


def _resolve_quantile_approx(approx: Optional[bool], src: DataFrame) -> bool:
    """Three-valued Quantile.approx -> concrete plan choice. None =
    auto: exact only when Catalyst's sizeInBytes estimate for the
    (filtered) input is provably small; a missing/huge estimate picks
    the GK sketch, so UNKNOWN defaults to the scale-safe mergeable
    aggregate (the EMB_ARROW_THRESHOLD auto-dispatch precedent).

    Auto mode trades bit-for-bit cross-environment determinism for
    scale safety — the size estimate depends on source format, caching
    and stats, so the SAME spec can resolve differently elsewhere.
    Every auto resolution is logged (estimate + threshold + choice) so
    a statistic/verdict difference between two runs is attributable;
    specs that feed an oracle or a regression gate should pin
    approx=True/False explicitly."""
    if approx is not None:
        return approx
    try:
        # py4j maps the BigInt to a Python int; str() also covers a raw
        # JavaObject should that mapping ever change
        size = int(str(src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        _log.info("quantile auto-dispatch: size estimate unavailable -> GK sketch")
        return True
    use_approx = size > QUANTILE_EXACT_MAX_BYTES
    _log.info(
        "quantile auto-dispatch: sizeInBytes=%d threshold=%d -> %s",
        size, QUANTILE_EXACT_MAX_BYTES,
        "GK sketch (percentile_approx)" if use_approx else "exact percentile",
    )
    return use_approx


@dataclass
class EngineConfig:
    salt_partitions: int = 0  # 0 = rely on map-side combine; >0 = explicit two-stage
    broadcast_threshold_rows: int = 2_000_000  # dim row count below which FK dims broadcast
    approx_distinct: bool = True  # HLL vs exact distinct in the sketch
    quantiles: tuple = (0.25, 0.5, 0.75)
    quantile_accuracy: int = 10000
    exact: bool = False  # True = exact distinct (test/oracle parity mode)
    # uniqueness via 8-byte key hashes: shuffle xxhash64(key) instead of
    # the full key tuple (~10x fewer shuffle bytes on string keys), then
    # verify candidates against the real columns — result stays EXACT
    # (a hash collision only creates a candidate; the verify groupBy on
    # the true key discards it). The dominant cost at repo scale is this
    # shuffle, so this is the default.
    unique_via_hash: bool = True
    # Dup-hash sets at or below this row count are materialized eagerly
    # and BROADCAST into the candidate semi-join (see unique_violations:
    # AQE cannot see through the reducer-side agg+filter, so without the
    # hint the semi join sort-merges and shuffles the ENTIRE keyed
    # table). Duplicates are anomalies, so the set is normally tiny;
    # 5M hashes ~ 40 MB broadcast is the safety ceiling — above it the
    # plan falls back to the shuffled semi join.
    unique_dup_broadcast_limit: int = 5_000_000
    # TRUE single-pass mode: verdict counters + stats sketch ride the
    # violation scan as observed metrics (df.observe / CollectMetrics),
    # so the wide fact columns are decompressed ONCE per run instead of
    # twice. Restrictions: global specs only (no partition_by — observe
    # is a grand aggregate) and approx distinct (observe rejects
    # DISTINCT aggregates). run() falls back to the two-pass plan when
    # the spec needs either.
    # MEASURED CAVEAT (keep default False): at 64M rows / local[32] the
    # single pass is ~2x SLOWER end-to-end (139s vs 75s) — the
    # CollectMetrics node breaks whole-stage codegen around the scan,
    # and two codegen'd columnar scans beat one interpreted scan. Use
    # it when the scan is genuinely IO-bound (cold object storage),
    # not page-cache-hot local parquet.
    single_pass: bool = False
    # FUSED single-pass mode: one codegen'd scan projects a NARROW
    # derivative of the fact table — violation keys, one boolean fail
    # flag per row-level constraint, and per-watched-column sketch
    # inputs (null flag, 64-char prefix, null-guarded xxhash64 for the
    # HLL, double cast) — which is cached once; verdict counters, the
    # stats sketch, violation rows AND the key-only table-level checks
    # (unique / FK / cardinality) all derive from the cache. The wide
    # content column is decompressed and predicate-evaluated exactly
    # ONCE per run, and unlike the observe mode above the scan keeps
    # whole-stage codegen (the cache is a columnar InMemoryRelation).
    # Three-valued: None = auto, True = force, False = always two-pass.
    # MEASURED (BENCH/BYTES_PER_ROW.md, 16M rows, 82 B/row parquet):
    # fused is ~3x SLOWER than two-pass on NARROW content — the narrow
    # derivative (40-char commit keys + 64-char sketch prefixes) is
    # WIDER than short content, so the cache round-trip (663 B/row of
    # InMemoryRelation reads across 4 consumers) costs more than a
    # second codegen'd parquet scan. Fused pays off only when content
    # is KB-wide: BENCH/BYTES_PER_ROW_WIDE.md (same spec, content x16)
    # measures fused 4.0x FASTER than two-pass (124,947 vs 31,440
    # files/s) once the content column dominates row width — which the
    # engine cannot know before scanning — so AUTO RESOLVES TO
    # TWO-PASS and fused stays an explicit opt-in for wide-content
    # tables (real repo files, KB-MB blobs). Exact-distinct runs
    # (exact=True or approx_distinct=False — the oracle-parity
    # configs) always fall back to two-pass even when forced:
    # HLL-over-hash is statistically equivalent to HLL-over-value but
    # not bit-identical, and exact count_distinct would need the full
    # value in the narrow cache, defeating it.
    fused: Optional[bool] = None


@dataclass
class ValidationResult:
    verdicts: DataFrame  # partition_key, constraint_id, violation_count, evaluated_count, passed
    violations: DataFrame  # key_columns..., constraint_id, detail
    stats: DataFrame  # partition_key, column, count, null_count, null_rate, distinct, min, max, quantiles
    _cached: tuple = ()  # DataFrames persisted by the engine for this result

    def passed(self) -> bool:
        return self.verdicts.filter(~F.col("passed")).limit(1).count() == 0

    def unpersist(self) -> None:
        """Release caches held for this result (the tiny agg row and the
        violations union). Benchmarks MUST call this between runs —
        Spark's cache manager matches by plan equality, so a later
        identical run would silently reuse the cached result."""
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:
                pass


def _partition_key(spec: Spec):
    if spec.partition_by:
        return F.to_json(F.struct(*[F.col(c) for c in spec.partition_by]))
    return F.lit("ALL")


class ValidationEngine:
    def __init__(
        self,
        spark: SparkSession,
        spec: Spec,
        dims: Optional[Dict[str, DataFrame]] = None,
        baselines: Optional[dict] = None,
        config: Optional[EngineConfig] = None,
    ):
        self.spark = spark
        self.spec = spec
        self.dims = dims or {}
        self.baselines = baselines or {}
        self.config = config or EngineConfig()
        self._dim_counts: Dict[str, int] = {}
        # DataFrames persisted while BUILDING a result (e.g. the unique
        # dup-hash set); handed to ValidationResult._cached so the
        # caller's unpersist() releases them. Reset per run().
        self._extra_cached: list = []
        # plan-construction memos (see _pred / _row_counter_exprs /
        # _sketch_exprs): unresolved Column trees, never results
        self._pred_cache: dict = {}
        self._row_counter_cache = None
        self._sketch_cache: dict = {}

    # ------------------------------------------------------------------
    # row-level: ONE aggregation pass for verdict counters + stats sketch
    # ------------------------------------------------------------------

    def _pred(self, c) -> Column:
        """compile_predicate with a per-engine memo. A compiled predicate
        is an immutable UNRESOLVED Column tree, safe to re-bind in any
        plan over any frame, and building one costs dozens of py4j round
        trips — a run() compiles each constraint up to three times (agg
        counters, verdict pivot, violation rows), all driver wall-time
        inside the caller's measured window. Keyed by object identity
        with a strong ref to the constraint so the id cannot be
        recycled."""
        cache = self._pred_cache
        hit = cache.get(id(c))
        if hit is None:
            cache[id(c)] = hit = (c, compile_predicate(c))
        return hit[1]

    def _row_counter_exprs(self):
        """Memoized per engine: called by BOTH row_verdicts_and_stats and
        _verdicts_stats_from_agg (the latter only for the ids); the
        Column aggregates are reusable unresolved trees (see _pred)."""
        cached = self._row_counter_cache
        if cached is None:
            exprs, ids = [], []
            for i, c in enumerate(self.spec.row_level()):
                pred = self._pred(c)
                exprs.append(F.sum((~pred).cast("long")).alias(f"__viol_{i}"))
                ids.append(c.id)
            cached = self._row_counter_cache = (exprs, ids)
        return list(cached[0]), list(cached[1])

    def _watched(self, df: DataFrame):
        """(Column, resolves to a binary-collated string on ``df``) per
        watched expression; the flag picks the numeric cast form."""
        cols = [F.expr(w) if not w.isidentifier() else F.col(w) for w in self.spec.watched_columns]
        if not cols:
            return []
        return list(zip(cols, [f.dataType == StringType() for f in df.select(*cols).schema.fields]))

    def _sketch_aggs(self, inputs, exact: bool):
        """The stats sketch's aggregates over (distinct input, null flag,
        prefix, number) Columns per watched expression. Aliases are keyed
        by POSITIONAL INDEX, not the expression text: a watched
        expression may contain dots/spaces/quotes that would make a
        text-derived alias unparseable as a column reference."""
        cfg = self.config
        exprs = []
        for i, (value, null, prefix, number) in enumerate(inputs):
            exprs += [
                F.count(F.lit(1)).alias(f"__st_{i}__count"),
                F.sum(null.cast("long")).alias(f"__st_{i}__null_count"),
                (F.count_distinct(value) if exact else F.approx_count_distinct(value)).alias(
                    f"__st_{i}__distinct"
                ),
                F.min(prefix).alias(f"__st_{i}__min"),
                F.max(prefix).alias(f"__st_{i}__max"),
                F.percentile_approx(number, list(cfg.quantiles), cfg.quantile_accuracy).alias(
                    f"__st_{i}__quantiles"
                ),
            ]
        return exprs

    def _sketch_exprs(self, df: DataFrame, force_approx: bool = False):
        cfg = self.config
        exact = (cfg.exact or not cfg.approx_distinct) and not force_approx
        watched = self._watched(df)
        # the cast form follows the input's types, so the memo does too
        key = (exact, tuple(s for _, s in watched))
        if key not in self._sketch_cache:
            self._sketch_cache[key] = self._sketch_aggs([_sketch_inputs(c, s) for c, s in watched], exact)
        return list(self._sketch_cache[key])

    def _agg_pass(self, src: DataFrame, exprs) -> DataFrame:
        """The single wide aggregation of ``exprs`` (counters + sketch)
        plus the row total: one row per partition_key. A global run (no
        partition_by) uses a grand aggregate so even an EMPTY input
        yields one verdict row per constraint (vacuous pass)."""
        exprs = [*exprs, F.count(F.lit(1)).alias("__total")]
        if self.spec.partition_by:
            return src.groupBy(_partition_key(self.spec).alias("partition_key")).agg(*exprs)
        return src.groupBy().agg(*exprs).select(F.lit("ALL").alias("partition_key"), "*")

    def row_verdicts_and_stats(self, df: DataFrame) -> "tuple[DataFrame, DataFrame]":
        counter_exprs, _ = self._row_counter_exprs()
        agg = self._agg_pass(df, counter_exprs + self._sketch_exprs(df)).cache()  # tiny
        self._cached_agg = agg
        return self._verdicts_stats_from_agg(agg)

    def _verdicts_stats_from_agg(self, agg: DataFrame) -> "tuple[DataFrame, DataFrame]":
        """Shared tail of the agg pass: pivot the one-row-per-partition
        counter/sketch frame into verdict and stats tables. Used by both
        the two-pass plan and the fused narrow-cache plan (whose agg
        carries identical __viol_i / __st_i__* / __total aliases)."""
        _, ids = self._row_counter_exprs()

        if ids:
            # Column API (not a selectExpr string): constraint ids land as
            # literals, so quotes/commas/backticks in an id cannot alter
            # or break the expression.
            row_cs = self.spec.row_level()
            pairs = F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(cid).alias("constraint_id"),
                            F.col(f"__viol_{i}").alias("violation_count"),
                            F.lit(row_cs[i].max_fail_ratio).cast("double").alias("__mfr"),
                        )
                        for i, cid in enumerate(ids)
                    ]
                )
            )
            stacked = agg.select(
                "partition_key",
                F.col("__total").alias("evaluated_count"),
                pairs,
            )
            vc = F.coalesce("violation_count", F.lit(0))
            passed = _passed(vc, F.col("evaluated_count"), F.col("__mfr"))
            verdicts = stacked.select(
                "partition_key",
                "constraint_id",
                vc.alias("violation_count"),
                "evaluated_count",
                passed.alias("passed"),
            )
        else:
            verdicts = self.spark.createDataFrame([], VERDICT_SCHEMA)

        stats_rows = []
        for i, col in enumerate(self.spec.watched_columns):
            stats_rows.append(
                agg.select(
                    "partition_key",
                    F.lit(col).alias("column"),
                    F.col(f"__st_{i}__count").alias("count"),
                    F.col(f"__st_{i}__null_count").alias("null_count"),
                    # try_divide: empty partition -> NULL, not an ANSI error
                    F.try_divide(F.col(f"__st_{i}__null_count"), F.col(f"__st_{i}__count")).alias("null_rate"),
                    F.col(f"__st_{i}__distinct").cast("long").alias("distinct"),
                    F.col(f"__st_{i}__min").alias("min"),
                    F.col(f"__st_{i}__max").alias("max"),
                    F.col(f"__st_{i}__quantiles").alias("quantiles"),
                )
            )
        if stats_rows:
            stats = stats_rows[0]
            for s in stats_rows[1:]:
                stats = stats.unionByName(s)
        else:
            stats = self.spark.createDataFrame([], STATS_SCHEMA)
        return verdicts, stats

    # ------------------------------------------------------------------
    # violation rows: one scan, all row-level predicates at once
    # ------------------------------------------------------------------

    def row_violations(self, df: DataFrame) -> DataFrame:
        keys = list(self.spec.key_columns) or df.columns[:1]
        row_cs = self.spec.row_level()
        if not row_cs:
            return self._empty_violations(keys)
        return _violation_rows(df, keys, [(~self._pred(c), c.id) for c in row_cs])

    def _empty_violations(self, keys) -> DataFrame:
        fields = ", ".join([f"`{k}` string" for k in keys] + ["constraint_id string", "detail string"])
        return self.spark.createDataFrame([], schema=fields)

    # ------------------------------------------------------------------
    # table-level constraints
    # ------------------------------------------------------------------

    def unique_violations(self, df: DataFrame, c: Unique) -> DataFrame:
        """Duplicate keys. Two-stage salted aggregation: stage 1 counts
        per (key, spark_partition_id-salt) — a pure map-side combine that
        defuses hot keys before the shuffle — stage 2 sums per key.
        With salt_partitions=0 we still get Spark's builtin partial
        aggregation; the explicit form is for huge key cardinality where
        the hash-agg table would spill."""
        cols = list(c.columns)
        keyed = df.select(*cols).na.drop(subset=cols)
        if self.config.unique_via_hash:
            h = F.xxhash64(*[F.col(x) for x in cols])
            dup_hashes = (
                keyed.select(h.alias("__h"))
                .groupBy("__h")
                .agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") > 1)
                .select("__h")
                .persist()
            )
            # Materialize the dup set NOW. AQE's runtime stat for the
            # semi join's build side is the hash shuffle's MAP output
            # (~11 B/row over the whole table); it cannot know the
            # reducer-side agg+filter collapses that to the (anomaly-
            # sized) duplicate set, so the lazy plan sort-merges and
            # shuffles the ENTIRE keyed table — measured 72 B/row, the
            # single largest byte mover in the north-star job
            # (BENCH/BYTES_PER_ROW.md). One eager count + an explicit
            # broadcast turns the candidate filter into a map-side semi
            # join: the fact table never shuffles. Above the broadcast
            # ceiling (a pathologically dup-heavy table) we keep the
            # shuffled semi join rather than risk executor memory.
            n_dup = dup_hashes.count()
            self._extra_cached.append(dup_hashes)
            right = (
                F.broadcast(dup_hashes)
                if n_dup <= self.config.unique_dup_broadcast_limit
                else dup_hashes
            )
            candidates = keyed.withColumn("__h", h).join(right, "__h", "left_semi").drop("__h")
            counts = candidates.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
            return counts.filter(F.col("n") > 1).select(
                *cols,
                F.lit(c.id).alias("constraint_id"),
                F.concat(F.lit("duplicates="), F.col("n").cast("string")).alias("detail"),
            )
        if self.config.salt_partitions > 0:
            stage1 = keyed.groupBy(
                *cols, F.pmod(F.spark_partition_id(), F.lit(self.config.salt_partitions)).alias("__salt")
            ).agg(F.count(F.lit(1)).alias("__c"))
            counts = stage1.groupBy(*cols).agg(F.sum("__c").alias("n"))
        else:
            counts = keyed.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
        return counts.filter(F.col("n") > 1).select(
            *cols,
            F.lit(c.id).alias("constraint_id"),
            F.concat(F.lit("duplicates="), F.col("n").cast("string")).alias("detail"),
        )

    def fk_violations(self, df: DataFrame, c: ForeignKey) -> DataFrame:
        dim = self.dims.get(c.ref_table)
        if dim is None:
            raise KeyError(f"foreign_key {c.id}: dimension table {c.ref_table!r} not provided")
        ref = dim.select(*[F.col(rc).alias(f"__ref_{i}") for i, rc in enumerate(c.ref_columns)]).dropDuplicates()
        do_broadcast = c.broadcast
        if do_broadcast is None:
            if c.ref_table not in self._dim_counts:
                self._dim_counts[c.ref_table] = dim.count()
            do_broadcast = self._dim_counts[c.ref_table] <= self.config.broadcast_threshold_rows
        if do_broadcast:
            ref = F.broadcast(ref)
        cond = None
        for i, fc in enumerate(c.columns):
            clause = F.col(fc) == F.col(f"__ref_{i}")
            cond = clause if cond is None else (cond & clause)
        # NULL FK values pass (dangling-$ref-only semantics, xsd2json.pl:983-986)
        fact = df
        for fc in c.columns:
            fact = fact.filter(F.col(fc).isNotNull())
        viol = fact.join(ref, on=cond, how="left_anti")
        keys = list(self.spec.key_columns) or list(c.columns)
        keys = [k for k in keys if k in viol.columns] or list(c.columns)
        return viol.select(
            *keys,
            F.lit(c.id).alias("constraint_id"),
            F.to_json(F.struct(*[F.col(fc) for fc in c.columns])).alias("detail"),
        )

    def fd_violations(self, df: DataFrame, c: FunctionalDependency) -> DataFrame:
        """determinants -> dependent violations: one row per determinant
        group holding more than one distinct non-NULL dependent value.
        Plan: distinct (determinants, dependent) pairs FIRST (a hash
        aggregate with map-side combine — a hot determinant ships at
        most |distinct dependents| rows per map task, not its row
        count), then a pair-cardinality-sized groupBy on the
        determinants counts values and takes the evidence min/max.
        Measured marginally faster than the single count_distinct agg
        (no Expand, and the evidence SortAggregate runs over deduped
        pairs instead of every row) with identical output. Evidence
        detail carries the value count plus the lexicographic min/max
        64-char prefixes of the conflicting values (prefix min/max for
        the same agg-buffer reason as the stats sketch) —
        deterministic, so the whole row is oracle-replayable."""
        dep = F.expr(c.dependent) if not c.dependent.isidentifier() else F.col(c.dependent)
        # One determinant-keyed exchange feeds BOTH aggregations: hash
        # partitioning on a subset of the distinct's grouping keys
        # satisfies its clustering requirement, so the explicit
        # repartition on the determinants lets the (determinants, dep)
        # dedup AND the per-determinant evidence agg run back-to-back
        # with no second exchange (measured 2.0 s -> 1.0 s on 6M rows /
        # 800k pairs; the old shape's map-side pre-dedup cost more in
        # partial-aggregation CPU than its smaller shuffle saved). The
        # trade: all rows cross the wire once and a pathologically hot
        # determinant lands on one partition — on a network-bound
        # cluster with heavy per-pair duplication, exchange on
        # (determinants, dep) first (the pre-round-6 shape) ships
        # ~dup-ratio fewer bytes and spreads hot determinants.
        pairs = (
            df.filter(dep.isNotNull())  # NULL dependents pass
            .select(*c.determinants, dep.alias("__dep"))
            .repartition(*[F.col(d) for d in c.determinants])
            .distinct()
        )
        prefix = F.substring(F.col("__dep").cast("string"), 1, 64)
        groups = (
            pairs.groupBy(*c.determinants)
            .agg(
                F.count(F.lit(1)).alias("__nvals"),
                F.min(prefix).alias("__lo"),
                F.max(prefix).alias("__hi"),
            )
            .filter(F.col("__nvals") > 1)
        )
        return groups.select(
            *c.determinants,
            F.lit(c.id).alias("constraint_id"),
            F.concat(
                F.lit("n_values="), F.col("__nvals").cast("string"),
                F.lit(" range="), F.col("__lo"), F.lit(".."), F.col("__hi"),
            ).alias("detail"),
        )

    def cardinality_violations(self, df: DataFrame, c: Cardinality) -> DataFrame:
        counts = df.groupBy(*c.group_by).agg(F.count(F.lit(1)).alias("n"))
        cond = F.lit(False)
        if c.min is not None:
            cond = cond | (F.col("n") < c.min)
        if c.max is not None:
            cond = cond | (F.col("n") > c.max)
        return counts.filter(cond).select(
            *c.group_by,
            F.lit(c.id).alias("constraint_id"),
            F.concat(F.lit("count="), F.col("n").cast("string")).alias("detail"),
        )

    def quantile_violations(self, df: DataFrame, c: Quantile) -> DataFrame:
        """Out-of-bounds p-th percentile, one violation row per
        offending group (or one global row). approx=None (the default)
        auto-dispatches on the optimizer's size estimate
        (_resolve_quantile_approx): exact F.percentile — a sort-based
        agg whose linear interpolation matches DuckDB's quantile_cont
        (oracle-able) — only when the input is estimated small;
        percentile_approx (GK sketch, mergeable, memory-bounded)
        otherwise and whenever the estimate is unavailable, so the
        100 TB path never lands on a non-mergeable sort by accident."""
        value = (F.expr(c.expr) if c.expr else F.col(c.column)).cast("double")
        src = df.filter(value.isNotNull())
        q = (
            F.percentile_approx(value, F.lit(c.p), F.lit(c.accuracy))
            if _resolve_quantile_approx(c.approx, src)
            else F.percentile(value, F.lit(c.p))
        ).alias("__q")
        gb = list(c.group_by)
        agg = src.groupBy(*gb).agg(q) if gb else src.agg(q)
        cond = F.lit(False)
        if c.min is not None:
            cond = cond | (F.col("__q") < F.lit(float(c.min)))
        if c.max is not None:
            cond = cond | (F.col("__q") > F.lit(float(c.max)))
        # decimal(38,6) pins the textual statistic to fixed-point: a raw
        # double-to-string cast goes scientific above 1e7 in Spark
        # ('1.0E7') but not in DuckDB ('10000000.0'), which would break
        # the oracle's string compare on large-valued columns
        return agg.filter(cond).select(
            *gb,
            F.lit(c.id).alias("constraint_id"),
            F.concat(
                F.lit(f"q{c.p}="),
                F.round(F.col("__q"), 6).cast("decimal(38,6)").cast("string"),
            ).alias("detail"),
        )

    # ------------------------------------------------------------------
    # full run
    # ------------------------------------------------------------------

    def run(self, df: DataFrame) -> ValidationResult:
        """Lazy where possible: table-level verdict counts are DERIVED
        from the (persisted) violations union with one groupBy, instead
        of one eager .count() job per constraint — at scale each extra
        action is another full scan. Eager exceptions: drift (its
        statistic is a driver-side formula over tiny aggregates) and
        the unique dup-hash set (counted so it can be broadcast — see
        unique_violations).

        With config.single_pass (global specs with row-level
        constraints), the verdict counters + sketch instead ride the
        violation scan as observed metrics — ONE decompression of the
        wide fact columns per run instead of two. With config.fused
        (the default auto mode, whenever the run allows approx
        distinct), the same one-decompression property is achieved
        WITHOUT giving up whole-stage codegen: see _run_fused."""
        self._extra_cached = []
        if self.config.single_pass and not self.spec.partition_by and self.spec.row_level():
            return self._run_single_pass(df)
        if self._resolve_fused():
            return self._run_fused(df)
        verdicts, stats = self.row_verdicts_and_stats(df)
        keys = list(self.spec.key_columns) or df.columns[:1]
        return self._finish(
            verdicts, stats, self.row_violations(df), df, df, keys,
            [getattr(self, "_cached_agg", None)],
        )

    def _table_checks(self, keyed_src: DataFrame, raw_df: DataFrame, keys):
        """Every table-level constraint's plan: (violation frames
        conformed to ``keys``, their constraint ids, drift verdict rows).
        ``keyed_src`` is the frame the key-only checks (unique / FK /
        cardinality) read — the raw fact table in two-pass mode, the
        narrow cache in fused mode (identical results: those checks only
        touch columns the narrow projection passes through verbatim).
        Quantile, FD and drift read ``raw_df`` always: they need the
        actual values of arbitrary columns/expressions, and their scans
        are column-pruned so they never touch the wide content column
        unless the constraint itself names it."""
        from xsd2json_spark.engine.drift import drift_verdict

        viols, ids, drift_rows = [], [], []
        for c in self.spec.table_level():
            if isinstance(c, Unique):
                v = self.unique_violations(keyed_src, c)
            elif isinstance(c, ForeignKey):
                v = self.fk_violations(keyed_src, c)
            elif isinstance(c, Cardinality):
                v = self.cardinality_violations(keyed_src, c)
            elif isinstance(c, Quantile):
                v = self.quantile_violations(raw_df, c)
            elif isinstance(c, FunctionalDependency):
                v = self.fd_violations(raw_df, c)
            elif isinstance(c, Drift):
                dv = drift_verdict(self.spark, raw_df, c, self.baselines)
                drift_rows.extend(dv if isinstance(dv, list) else [dv])
                continue
            else:  # pragma: no cover
                continue
            ids.append(c.id)
            viols.append(self._conform_violations(v, keys))
        return viols, ids, drift_rows

    def _finish(
        self,
        verdicts: DataFrame,
        stats: DataFrame,
        row_viol: DataFrame,
        keyed_src: DataFrame,
        raw_df: DataFrame,
        keys,
        cached,
    ) -> ValidationResult:
        """Shared table-level pass + result assembly."""
        table_viol, table_ids, drift_rows = self._table_checks(keyed_src, raw_df, keys)
        violations = reduce(DataFrame.unionByName, table_viol, row_viol)
        if table_ids:
            violations = violations.persist()  # computed once, reused by verdicts + consumers
            cached.append(violations)
            ids_df = self.spark.createDataFrame([(i,) for i in table_ids], "constraint_id string")
            counts = (
                violations.filter(F.col("constraint_id").isin(table_ids))
                .groupBy("constraint_id")
                .agg(F.count(F.lit(1)).alias("__n"))
            )
            tv = (
                ids_df.join(F.broadcast(counts), "constraint_id", "left")
                .select(
                    F.lit("ALL").alias("partition_key"),
                    "constraint_id",
                    F.coalesce("__n", F.lit(0)).alias("violation_count"),
                    F.lit(None).cast("long").alias("evaluated_count"),
                    (F.coalesce("__n", F.lit(0)) == 0).alias("passed"),
                )
            )
            verdicts = verdicts.unionByName(tv)
        if drift_rows:
            verdicts = verdicts.unionByName(self.spark.createDataFrame(drift_rows, VERDICT_SCHEMA))

        return ValidationResult(
            verdicts=verdicts,
            violations=violations,
            stats=stats,
            _cached=tuple(d for d in [*cached, *self._extra_cached] if d is not None),
        )

    def _resolve_fused(self) -> bool:
        """Three-valued EngineConfig.fused -> plan choice. Fused needs
        (a) at least one row-level constraint (otherwise there is no
        wide scan to fuse) and (b) approx distinct (the narrow cache
        carries xxhash64(value), statistically equivalent for the HLL
        but not bit-identical to hashing the value itself — so the
        oracle-parity exact configs stay on the two-pass plan and keep
        bit-stable stats)."""
        if self.config.fused is not True:
            # auto (None) resolves to two-pass: on narrow content the
            # cache round-trip LOSES to a second codegen'd scan
            # (measured 3x, BENCH/BYTES_PER_ROW.md) and row width is
            # unknowable before the scan — wide-content callers opt in.
            return False
        if not self.spec.row_level():
            return False
        if self.config.exact or not self.config.approx_distinct:
            _log.info("fused: exact-distinct run needs full values; using two-pass plan")
            return False
        return True

    def _run_fused(self, df: DataFrame) -> ValidationResult:
        """ONE decompression of the fact table per run, codegen intact.

        The scan projects a narrow derivative (~100-300 B/row vs KB-size
        content): passthrough key/partition/table-check columns, one
        nullable boolean per row-level constraint (``~pred`` — nullable
        so NULL-comparison semantics match the two-pass counters
        exactly), and per watched column the four sketch inputs. That
        derivative is cached (columnar, MEMORY_AND_DISK) and feeds
        - the verdict/stats aggregation (identical aliases, shared
          assembly with the two-pass plan),
        - the violation explode (flags already computed), and
        - unique / FK / cardinality, whose columns pass through raw.
        At repo scale this turns 2 full reads of ~KB/row content into
        1 read + a ~10x-smaller cache round-trip; the predicate/regex/
        hash kernels also run once instead of twice."""
        from pyspark import StorageLevel

        row_cs = self.spec.row_level()
        keys = list(self.spec.key_columns) or df.columns[:1]

        passthrough = [*keys, *self.spec.partition_by]
        for c in self.spec.table_level():
            if isinstance(c, (Unique, ForeignKey)):
                passthrough += c.columns
            elif isinstance(c, Cardinality):
                passthrough += c.group_by

        cols = [F.col(n) for n in dict.fromkeys(passthrough)]  # deduplicated, in order
        for i, c in enumerate(row_cs):
            cols.append((~self._pred(c)).alias(f"__fail_{i}"))
        sketch = []
        for i, (wc, is_string) in enumerate(self._watched(df)):
            _, null, prefix, number = _sketch_inputs(wc, is_string)
            cols += [
                null.alias(f"__w_{i}_null"),
                prefix.alias(f"__w_{i}_prefix"),
                # null-guarded: xxhash64(NULL) is a seed constant, not
                # NULL — unguarded it would count nulls as a distinct
                F.when(wc.isNotNull(), F.xxhash64(wc)).alias(f"__w_{i}_hash"),
                number.alias(f"__w_{i}_num"),
            ]
            sketch.append([F.col(f"__w_{i}_{x}") for x in ("hash", "null", "prefix", "num")])
        narrow = df.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)

        exprs = [
            F.sum(F.col(f"__fail_{i}").cast("long")).alias(f"__viol_{i}")
            for i in range(len(row_cs))
        ]
        agg = self._agg_pass(narrow, exprs + self._sketch_aggs(sketch, exact=False)).cache()  # tiny
        self._cached_agg = agg
        verdicts, stats = self._verdicts_stats_from_agg(agg)

        # _resolve_fused guarantees at least one row-level constraint
        row_viol = _violation_rows(
            narrow, keys, [(F.col(f"__fail_{i}"), c.id) for i, c in enumerate(row_cs)]
        )
        return self._finish(verdicts, stats, row_viol, narrow, df, keys, [agg, narrow])

    def _run_single_pass(self, df: DataFrame) -> ValidationResult:
        """TRUE single-pass: df.observe attaches every verdict counter
        and sketch aggregate to the violation scan (CollectMetrics), so
        the one job that computes violation rows ALSO yields the
        verdicts/stats — the fact table's wide columns are read and
        decompressed exactly once. Table-level constraints still run
        their own (column-pruned, key-only) plans inside the same
        action via the violations union. Eager by construction: the
        metrics only exist after the action, so run() executes it."""
        from pyspark.sql import Observation

        counter_exprs, ids = self._row_counter_exprs()
        sketch_exprs = self._sketch_exprs(df, force_approx=True)  # observe rejects DISTINCT aggs
        obs = Observation()
        observed = df.observe(obs, *counter_exprs, *sketch_exprs, F.count(F.lit(1)).alias("__total"))

        keys = list(self.spec.key_columns) or df.columns[:1]
        table_viol, table_ids, drift_rows = self._table_checks(df, df, keys)
        violations = reduce(DataFrame.unionByName, table_viol, self.row_violations(observed)).persist()
        # THE action: materializes violation rows into the cache and
        # fires the observed metrics. It must be a GLOBAL aggregate —
        # a grouped aggregate's partial stage emits ZERO rows on a
        # violation-free run, and AQE's empty-relation propagation then
        # replaces the whole subtree INCLUDING the CollectMetrics node,
        # so the Observation never completes (measured: obs.get throws
        # on any clean table). A global agg's partial stage always
        # emits its one row, so the observed scan is never elided.
        violations.count()
        metrics = dict(obs.get)
        # per-constraint counts now read the populated cache (no rescan)
        counts = {
            r["constraint_id"]: r["n"]
            for r in violations.groupBy("constraint_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }

        total = metrics.get("__total", 0) or 0
        vrows = []
        row_cs = self.spec.row_level()
        for i, cid in enumerate(ids):
            n = metrics.get(f"__viol_{i}") or 0
            mfr = row_cs[i].max_fail_ratio
            ok = (n <= mfr * total) if mfr is not None else n == 0
            vrows.append(("ALL", cid, int(n), int(total), bool(ok)))
        for cid in table_ids:
            n = counts.get(cid, 0)
            vrows.append(("ALL", cid, int(n), None, n == 0))
        vrows.extend(drift_rows)
        verdicts = self.spark.createDataFrame(vrows, VERDICT_SCHEMA)

        srows = []
        for i, col in enumerate(self.spec.watched_columns):
            cnt = metrics.get(f"__st_{i}__count") or 0
            nulls = metrics.get(f"__st_{i}__null_count") or 0
            q = metrics.get(f"__st_{i}__quantiles")
            srows.append(
                ("ALL", col, int(cnt), int(nulls),
                 (nulls / cnt) if cnt else None,
                 int(metrics.get(f"__st_{i}__distinct") or 0),
                 metrics.get(f"__st_{i}__min"), metrics.get(f"__st_{i}__max"),
                 [float(x) for x in q] if q is not None else None)
            )
        stats = self.spark.createDataFrame(srows, STATS_SCHEMA)
        return ValidationResult(
            verdicts=verdicts, violations=violations, stats=stats,
            _cached=tuple([violations, *self._extra_cached]),
        )

    def _conform_violations(self, v: DataFrame, keys) -> DataFrame:
        cols = []
        for k in keys:
            cols.append(F.col(k).cast("string").alias(k) if k in v.columns else F.lit(None).cast("string").alias(k))
        cols += [F.col("constraint_id"), F.col("detail")]
        return v.select(*cols)
