"""Scale-safe global ordinals: row_number / NTILE / running aggregates
over a TOTAL order, with every window partitioned.

The naive form — ``row_number() OVER (ORDER BY k)`` with no PARTITION BY
— is the canonical 100 TB scale-killer: Spark plans it as
``Exchange SinglePartition`` + Sort + Window, i.e. ONE task sorts and
numbers the whole table.  This module is the reusable
decomposition (the same one ``o_global_rownum`` proved against its
naive-form oracle, suite/round4.py):

 1. **Range-bucket** rows by the leading sort key.  Cut points come
    from one ``approx_percentile`` + COUNT aggregate — the count
    scales the bucket exchange to the data (a sampled scan — exactly
    what Spark's own
    ``RangePartitioner``/``repartitionByRange`` does internally, but
    with the boundaries held as *literals* so the bucket id is a pure
    deterministic function of the value, never of a sampled shuffle;
    rel_err only moves bucket BALANCE, never a result, so the default
    stays loose — tightening it 10x costs ~3x sketch time for nothing).
    A value that carries ≥1/n of the mass shows up as a *repeated*
    quantile; the bucket id ``#{bounds < v} + #{bounds <= v}`` gives
    every boundary value its own singleton odd bucket, so a hot value
    can be further **sub-split by the secondary sort key** without
    breaking global monotonicity (see ``tools/bench_skew.py`` for the
    measured zipfian behaviour).
 2. **One directory aggregate** (``_dir_agg``): per-(group, bucket,
    sub) counts and exact sums, map-side-combined over a column-pruned
    scan, collected to the driver in ONE bounded job (≤``2·n_buckets+1``
    cells per group — the same cost class as ``repartitionByRange``'s
    sampling).
 3. **One driver-side fold** (``_prefixes``) turns the directory into
    per-cell exclusive prefixes, and **one renderer** (``_lookup``)
    writes each as a literal lookup map keyed by ``bucket·2^16+sub``.
 4. Each ordinal is then ``cell prefix + intra-cell window`` where the
    window is ``PARTITION BY (group, bucket, sub)`` (``_attach``) —
    bounded partitions, no single-partition WINDOW anywhere in the plan
    (tests/test_ordinals.py asserts this on the physical plan), and no
    directory join or broadcast build on the critical path.

``global_ordinals``, ``grouped_ordinals`` and ``multi_ordinals`` are
front ends of that one pipeline; ``bucketize`` exposes steps 1-2 and
``Bucketing.prefix`` step 3 to prefix-max consumers like the skyline.
Only ``grouped_ordinals`` over a directory too large to inline (or a
group key a literal cannot render) falls back to a persisted,
broadcast-joined directory (``materialize_directory``).

Exactness rules (registry.py docstring): running sums are only offered
for DECIMAL / integral inputs, where per-bucket partial sums are
associative-exact; a float running sum would change grouping order and
drift ulps against a sequential oracle.  Running max/min are
order-insensitive and allowed for any orderable type.

Correctness is boundary-placement-invariant: ANY monotone cut points
give the same ordinals (the quantile call only balances the buckets),
so the sampled boundaries never make a result nondeterministic.

Reference parity: the reference ranks/qcuts in pandas on one node
(e.g. arbitrage_scanner.py's frame-wide orderings); this operator is
the distributed form the suite's rank-family queries ride on.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as SQLT

_B = "_gob"  # primary bucket column (monotone in the leading sort key)
_S = "_gosub"  # sub-bucket within a hot singleton bucket
BUCKET_KEYS = [_B, _S]  # join/partition keys a Bucketing consumer uses
_RESERVED = "_go"  # internal column-name prefix (validated at entry)


def materialize_directory(tiny: DataFrame) -> DataFrame:
    """Persist a bounded directory aggregate so every downstream branch
    (exclusive-prefix self-join, grand-total re-aggregate, broadcast
    build) reads ONE materialization instead of re-scanning the fact.

    The directory consumers reference the same subtree several times;
    without this, each branch replans its own scan+shuffle of the input
    (AQE exchange reuse does not fire across them — column pruning puts
    a different Project under each copy).  MEMORY_AND_DISK keeps
    lineage, so a lost block recomputes instead of failing the job, and
    the frame is ≤ a few hundred rows — the uncollected cache entry is
    negligible and subject to normal LRU eviction.  Spark cache
    semantics apply: like any ``.cache()``, a caller that rewrites the
    underlying files mid-session must REFRESH / re-create the session.
    """
    from pyspark import StorageLevel

    return tiny.persist(StorageLevel.MEMORY_AND_DISK)


def _parse_order(order: Sequence[str]) -> list[tuple[str, bool]]:
    """``["-rev", "key"]`` → ``[("rev", False), ("key", True)]``."""
    out = []
    for o in order:
        if o.startswith("-"):
            out.append((o[1:], False))
        else:
            out.append((o, True))
    return out


def _sort_cols(parsed: list[tuple[str, bool]]) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in parsed]


_REJECT_TYPES = ("string", "binary", "array", "struct", "map", "variant")


def _as_double(name: str, dtype: str) -> Column:
    """Column form of ``_as_double_sql``."""
    return F.expr(_as_double_sql(name, dtype))


def _check_reserved(columns, outputs=(), reserved_exact=frozenset()):
    """Reject input/output names that collide with the operator's
    internal ``_go*`` columns (a user column named ``_good_flag`` would
    otherwise be silently dropped by the cleanup projection)."""
    bad = sorted(
        {c for c in columns if c.startswith(_RESERVED) or c in reserved_exact}
        | {
            o
            for o in outputs
            if o and (o.startswith(_RESERVED) or o in reserved_exact)
        }
    )
    if bad:
        raise ValueError(
            f"global ordinals: column/output name(s) {bad} collide with "
            f"the reserved '{_RESERVED}' internal prefix — rename them "
            "before calling"
        )


_ROWS_PER_TASK = 65536

# ---------------------------------------------------------------------------
# ANALYZE-style statistics cache.
#
# The only extra driver actions any ordinal operator runs are its two
# bounded sampling jobs (the quantile+count sketch and, under skew, the
# hot-value secondary-cut pass).  Both produce BUCKET BOUNDARIES, and
# correctness is boundary-placement-invariant (module docstring): any
# monotone cut points yield the same ordinals — sampling only balances
# the buckets.  That makes the sampled results safe to memoize the same
# way an engine memoizes ANALYZE TABLE statistics: a stale entry can
# skew a bucket, never a result.  Keyed by the CANONICALIZED analyzed
# plan of the sampled frame (Catalyst's own plan identity — expression
# IDs normalized, so the same construction over the same SOURCE inputs
# maps to one key; LocalRelation/createDataFrame plans are exempted
# below because their canonical form omits the data) plus the sampling
# parameters.  Assumes inputs are immutable
# within a session, exactly like ``DataFrame.cache``; ``clear_stats_cache``
# empties it, and the poisoning test (tests/test_ordinals.py) proves
# bit-exact results under a deliberately wrong cache entry.  At 100 TB this is the difference
# between one sampling scan per query and one per table lifetime.
_STATS_CACHE: dict[str, tuple] = {}
_STATS_CACHE_MAX = 256


def clear_stats_cache() -> None:
    _STATS_CACHE.clear()


def _memo_action(df: DataFrame, tag: str, compute, stable_key: str | None = None):
    """Run ``compute()`` (a bounded driver action over ``df``) once per
    (canonical plan, tag); replay the collected result afterwards.

    ``stable_key`` replaces the canonical-plan component of the cache
    key with a caller-supplied string. Checkpointed inputs
    (``localCheckpoint`` → LogicalRDD) canonicalize to a FRESH RDD id
    on every execution, so their sketches miss the cache each run even
    though the data is identical; a caller that can name the dataset
    stably (query name + sf_dir) opts in here. Same safety contract as
    the cache itself: a wrong entry can only unbalance buckets, never
    change a result (tests/test_ordinals.py poisoning test)."""
    import hashlib

    if stable_key is not None:
        canon = "stable\x01" + stable_key
    else:
        try:
            canon = df._jdf.queryExecution().analyzed().canonicalized().toString()
        except Exception:  # unexpected plan state: just run the job
            return compute()
        if "LocalRelation" in canon:
            # createDataFrame plans don't render their data in the
            # canonical string — two different in-memory datasets with the
            # same schema would collide and silently share boundaries/row
            # counts. In-memory inputs are tiny by definition, so skip the
            # cache rather than fingerprint the data.
            return compute()
    key = hashlib.sha256((tag + "\x00" + canon).encode()).hexdigest()
    if key in _STATS_CACHE:
        return _STATS_CACHE[key][0]
    out = compute()
    if len(_STATS_CACHE) >= _STATS_CACHE_MAX:
        _STATS_CACHE.pop(next(iter(_STATS_CACHE)))
    _STATS_CACHE[key] = (out,)
    return out


def memoized_count(df: DataFrame, tag: str) -> int:
    """Public face of the statistics cache for suite queries that need
    a table's row count as a plan literal (e.g. SemDeDup's corpus-
    scaled K): one bounded driver count per (canonical plan, tag) per
    session, replayed afterwards. Inherits the cache's documented
    semantics — LocalRelation inputs bypass it, ``clear_stats_cache``
    empties it — without coupling callers to the
    private ``_memo_action`` helper (round-8 ADVICE)."""
    return int(_memo_action(df, tag, df.count))


def _auto_parallelism(spark, n_rows: int) -> int:
    """Scale the bucket exchange to the DATA: ~64k rows per sort task,
    capped at the session shuffle parallelism.  A 15k-row post-agg
    frame no longer pays a 200-task sort wave (the round-6 local
    constant), while a 100 TB frame still saturates the configured cap;
    the explicit repartition also keeps AQE from coalescing the
    small-bytes exchange into serialized per-bucket sorts.  Floor 2:
    ``repartition(1)`` would plan as the very ``Exchange
    SinglePartition`` this operator exists to avoid (the plan audit
    rejects it on sight, and a 2-task hash exchange costs nothing)."""
    conf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(2, min(conf, (int(n_rows) + _ROWS_PER_TASK - 1) // _ROWS_PER_TASK))


def _sketch(
    keyed: DataFrame,
    cols: Sequence[str],
    probs: list[float],
    rel_err: float,
    stable_key: str | None = None,
) -> tuple[int, list[list[float]]]:
    """Cut points for every dimension AND the total row count in ONE
    sampled aggregate job.  ``approx_percentile`` is the same
    Greenwald-Khanna summary ``approxQuantile`` wraps, but as an
    aggregate expression it shares the scan with COUNT — the count then
    scales the bucket exchange to the data (``_auto_parallelism``)
    with no extra driver action.  Memoized per (plan, params) — see
    the statistics-cache note above."""
    acc = max(1, int(round(1.0 / rel_err)))

    def compute():
        parr = F.array(*[F.lit(p) for p in probs])
        row = keyed.agg(
            F.count(F.lit(1)).alias("_gon"),
            *[
                F.percentile_approx(c, parr, acc).alias(f"_goq{i}")
                for i, c in enumerate(cols)
            ],
        ).first()
        raws: list[list[float]] = []
        for i in range(len(cols)):
            q = row[f"_goq{i}"]
            raws.append([] if q is None else [x for x in q if x is not None])
        return int(row["_gon"]), raws

    tag = f"sketch|{list(cols)!r}|{len(probs)}|{acc}"
    return _memo_action(keyed, tag, compute, stable_key=stable_key)


def _sql_double(v: float) -> str:
    """Shortest round-trip double literal in Spark SQL text (the D
    suffix pins DOUBLE — a bare ``5.0`` parses as DECIMAL)."""
    import math

    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _count_tree_sql(v_sql: str, cuts: list[float], strict: bool) -> str:
    """#{cuts < v} (strict) or #{cuts <= v} as a balanced comparison
    tree, generated as ONE SQL string: ~log2(n) comparisons per row
    (the array-filter form costs 2n per row — measurably the dominant
    term on a 64-bucket spec at 40M rows), and one ``expr()`` call on
    the driver (building the same tree from py4j Column ops costs
    thousands of JVM round-trips — seconds of pure driver chatter,
    round-7's dominant local overhead)."""

    def go(lo: int, hi: int) -> str:
        if lo >= hi:
            return str(lo)
        m = (lo + hi) // 2
        op = "<=" if strict else "<"
        return (
            f"(CASE WHEN {v_sql} {op} {_sql_double(cuts[m])} "
            f"THEN {go(lo, m)} ELSE {go(m + 1, hi)} END)"
        )

    return go(0, len(cuts))


def _le_count_sql(v_sql: str, cuts: list[float]) -> str:
    return _count_tree_sql(v_sql, cuts, strict=False)


def _bucket_sql(v_sql: str, bounds: list[float]) -> str:
    """Monotone bucket id, as SQL text: strict + non-strict boundary
    counts.

    Interior values get even ids, each distinct boundary value gets its
    own odd id (a singleton bucket) — which is what lets a hot value be
    sub-split later.  NULL maps to -1, matching ASC NULLS FIRST (and,
    negated, DESC NULLS LAST).
    """
    if not bounds:
        return "0"
    tree = (
        f"({_count_tree_sql(v_sql, bounds, True)} + "
        f"{_count_tree_sql(v_sql, bounds, False)})"
    )
    return f"(CASE WHEN {v_sql} IS NULL THEN -1 ELSE {tree} END)"


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _as_double_sql(name: str, dtype: str) -> str:
    """Monotone double image of an orderable scalar column, SQL text.

    Numerics cast directly; DATE has no double cast in Spark, so it
    routes through ``unix_date`` (days since epoch — monotone);
    timestamps cast to epoch seconds (TIMESTAMP_NTZ via the session-TZ
    timestamp cast, monotone for any fixed zone)."""
    q = _ident(name)
    if dtype == "date":
        return f"CAST(unix_date({q}) AS DOUBLE)"
    if dtype.startswith("timestamp"):
        return f"CAST(CAST({q} AS TIMESTAMP) AS DOUBLE)"
    return f"CAST({q} AS DOUBLE)"



def _subsample(raw: list[float], n_buckets: int, eff: int) -> list[float]:
    """Every ~(n/eff)-th quantile of the full sketch: the cut points
    for ``eff`` balanced buckets.  Correctness is boundary-placement-
    invariant, so shrinking the bucket count for a small frame only
    trims plan size/codegen — never a result."""
    if eff >= n_buckets or not raw:
        return raw
    return [
        raw[min(len(raw) - 1, max(0, round(i * n_buckets / eff) - 1))]
        for i in range(1, eff)
    ]


def _hot_values(raw: list[float]) -> list[float]:
    """Repeated adjacent quantiles ⇒ that exact value holds ≥1/n of
    the rows."""
    hot: list[float] = []
    seen: set[float] = set()
    for i, q in enumerate(raw):
        if i + 1 < len(raw) and raw[i + 1] == q and q not in seen:
            hot.append(q)
            seen.add(q)
    return hot


def _sub_col(v1: str, c2: str, c2t: str, hot_cuts) -> Column:
    """Sub-bucket id: each hot leading value ``hv`` of ``hot_cuts``
    (``[(hv, secondary cut points)]``) splits by its secondary-key
    cuts; every other row is zero.

    NULL secondary values sort NULLS FIRST under asc / NULLS LAST under
    desc in the intra-bucket window; sub-bucket -1 matches BOTH (the
    directory order negates sub ids for desc), mirroring the leading
    key's -1 NULL bucket.

    The all-rows-zero sub-bucket must NOT be a foldable literal:
    Catalyst folds `lit(0)` out of the window/aggregate partition
    requirements while the explicit repartition keeps it, so the
    "shared exchange" breaks — Spark inserts a redundant full
    re-exchange of the fact before the window plus re-exchanges of
    every directory-aggregate branch (measured: +1 fact shuffle and
    +3 directory shuffles per call in the no-skew case).  `hash(v)%1`
    is a deterministic zero that stays an attribute."""
    branches = []
    for hv, cuts in hot_cuts:
        cuts = sorted({x for x in cuts if x is not None})
        if cuts:
            sid = (
                f"(CASE WHEN {_ident(c2)} IS NULL THEN -1 "
                f"ELSE {_le_count_sql(_as_double_sql(c2, c2t), cuts)} END)"
            )
            branches.append(f"WHEN {v1} = {_sql_double(hv)} THEN {sid}")
    if not branches:
        return F.expr(f"(hash({v1}) % 1)")
    return F.expr("CASE " + " ".join(branches) + " ELSE 0 END")


def _bucket_cols(
    df: DataFrame,
    parsed: list[tuple[str, bool]],
    *,
    n_buckets: int,
    rel_err: float,
    skew_split: bool,
    rows_per_bucket: int = _ROWS_PER_TASK,
    stats_key: str | None = None,
) -> tuple[Column, Column, int]:
    """(bucket, sub-bucket) expressions + total row count for a parsed
    order spec.

    An operator-internal localCheckpoint of small frames was measured
    here in round 7 and REVERTED: at the sizes where it could help
    (<262k rows) the materialization costs as much as the recompute it
    saves; consumers whose upstream is an expensive aggregate already
    checkpoint at the call site (a_abc_classification, dq_skew_report).

    One sampled aggregate pass (quantiles + count, ``_sketch``).  The
    EFFECTIVE bucket count scales to the measured rows (~one bucket
    per ``rows_per_bucket``, capped at ``n_buckets``): a 15k-row
    post-agg frame gets one bucket and a trivially small plan, a
    100 TB frame keeps all ``n_buckets``.  Only when a hot value
    exists at that granularity does ONE extra grouped
    ``percentile_approx`` job compute every hot value's secondary cut
    points (a per-value filter+quantile loop would cost a driver job
    per hot value — integer-valued keys easily have dozens)."""
    c1, asc1 = parsed[0]
    dtypes = dict(df.dtypes)
    c1t = dtypes.get(c1, "")
    if c1t.startswith(_REJECT_TYPES):
        raise TypeError(
            f"bucketize: leading sort column {c1} has type {c1t}, which "
            "does not cast monotonically to double — prepend a numeric "
            "monotone prefix instead (e.g. conv(substring(hex, 1, 4), "
            "16, 10); see o_global_ntile)"
        )
    v1 = _as_double_sql(c1, c1t)
    # Fold the parsed order spec into the caller's stable key: the sketch
    # runs over the RENAMED _goval column, so its memo tag alone is
    # order-column-blind — two grouped_ordinals calls sharing one
    # stats_key but ordering by different columns would silently share
    # sketch boundaries (round-11 ADVICE). The derived v1 SQL captures
    # both the column and its monotone cast; asc is captured too since
    # hot-value sub-splits depend on direction.
    if stats_key is not None:
        stats_key = f"{stats_key}|order:{v1}|asc:{asc1}"
    probs = [i / n_buckets for i in range(1, n_buckets)]
    keyed = df.withColumn("_goval", F.expr(v1))
    n_rows, (raw,) = _sketch(keyed, ["_goval"], probs, rel_err, stable_key=stats_key)
    # floor 2: a single bucket would constant-fold the bucket keys and
    # re-plan the exchange as SinglePartition — the exact shape this
    # operator exists to avoid
    eff = min(n_buckets, max(2, (n_rows + rows_per_bucket - 1) // rows_per_bucket))
    raw = _subsample(raw, n_buckets, eff)
    hot = _hot_values(raw)
    b = F.expr(_bucket_sql(v1, sorted(set(raw))))
    c2, c2t, sub_rows = None, "", []
    if skew_split and hot and len(parsed) > 1:
        c2 = parsed[1][0]
        c2t = dtypes.get(c2, "")
        if not c2t.startswith(_REJECT_TYPES):
            kmax = 2 + max(sum(1 for q in raw if q == v) for v in hot)

            def compute_sub():
                sprobs = F.array(*[F.lit(i / kmax) for i in range(1, kmax)])
                return [
                    (r["_goval"], list(r["_gosb"] or []))
                    for r in keyed.filter(F.col("_goval").isin(hot))
                    .groupBy("_goval")
                    .agg(
                        F.percentile_approx(
                            F.expr(_as_double_sql(c2, c2t)), sprobs, 1000
                        ).alias("_gosb")
                    )
                    .collect()
                ]

            sub_rows = _memo_action(
                keyed,
                f"hotsub|{c2}|{kmax}|{sorted(hot)!r}",
                compute_sub,
                stable_key=stats_key,
            )
    return b, _sub_col(v1, c2, c2t, sub_rows), n_rows


def _dir_agg(pre: DataFrame, group_cols: Sequence[str], aggs: dict) -> DataFrame:
    """THE directory aggregate: per-(group…, bucket, sub) row count
    ``_gocnt`` plus ``aggs`` ({name: aggregate}), taken from the
    PRE-exchange frame so it partial-aggregates map-side on the scan
    partitions (a tiny shuffle, column-pruned scan)."""
    return pre.groupBy(*group_cols, _B, _S).agg(
        F.count(F.lit(1)).alias("_gocnt"), *[e.alias(n) for n, e in aggs.items()]
    )


def _in_order(cells: list, parsed: list[tuple[str, bool]]) -> list:
    """Directory cells ``(bucket, sub, …)`` in GLOBAL sort order: bucket
    ids follow the leading key's direction, sub ids the secondary's."""
    asc1 = parsed[0][1]
    asc2 = parsed[1][1] if len(parsed) > 1 else True
    return sorted(
        cells, key=lambda c: (c[0] if asc1 else -c[0], c[1] if asc2 else -c[1])
    )


def _prefixes(cells: list, measure, fmt, combine=operator.add):
    """THE driver-side fold: over ``cells`` in global order, each cell's
    exclusive prefix of ``measure(cell)`` under ``combine`` (NULL values
    skipped; ``None`` until the first value) as ``[(cell key,
    fmt(prefix))]``, plus ``fmt`` of the fold over every cell."""
    acc, pairs = None, []
    for c in cells:
        pairs.append((c[0] * 65536 + c[1], fmt(acc)))
        v = measure(c)
        if v is not None:
            acc = v if acc is None else combine(acc, v)
    return pairs, fmt(acc)


def _map_sql(pairs) -> str:
    return "map(" + ",".join(f"{k},{v}" for k, v in pairs) + ")"


def _lookup(pairs, keys: Sequence[str], empty_sql: str) -> Column:
    """THE literal-map renderer: ``element_at(map(k1, v1, …), key)``,
    one ``element_at`` per key in ``keys`` for nested maps, as ONE SQL
    string (a create_map of 2·|directory| F.lit calls costs ~1s of py4j
    chatter on a 379-row directory).  ``empty_sql`` stands in for an
    empty directory."""
    if not pairs:
        return F.expr(empty_sql)
    sql = _map_sql(pairs)
    for k in keys:
        sql = f"element_at({sql}, {k})"
    return F.expr(sql)


def _sql_value(v, tsql: str) -> str:
    """Exact SQL literal of a directory value (the string form
    round-trips DECIMAL and integral values exactly)."""
    return f"CAST(NULL AS {tsql})" if v is None else f"CAST('{v}' AS {tsql})"


def _widen(f: SQLT.StructField) -> SQLT.DataType:
    """Prefix sums of per-bucket sums need headroom: widen decimals to
    precision 38, integrals to long; everything else keeps its type."""
    t = f.dataType
    if isinstance(t, SQLT.DecimalType):
        return SQLT.DecimalType(38, t.scale)
    if isinstance(t, (SQLT.ByteType, SQLT.ShortType, SQLT.IntegerType, SQLT.LongType)):
        return SQLT.LongType()
    return t


@dataclass
class Bucketing:
    """A range-bucketed frame plus its driver-side bucket directory."""

    df: DataFrame  # input + _gob/_gosub columns
    parsed: list[tuple[str, bool]]  # (col, asc) order spec
    # bucket directory in GLOBAL sort order: [(gob, gosub, row_count,
    # {agg_name: value})]
    directory: list[tuple[int, int, int, dict]]
    agg_fields: list[SQLT.StructField]  # schema of the extra aggregates

    @property
    def total_count(self) -> int:
        return sum(r[2] for r in self.directory)

    def prefix(self, name: str, combine) -> Column:
        """Per-cell fold under ``combine`` of the aggregate ``name`` over
        every STRICTLY earlier cell (NULL for the first), as one
        literal-map lookup on ``BUCKET_KEYS`` — e.g. ``combine=max``
        gives the skyline's cross-bucket dominance carry."""
        t = {f.name: f for f in self.agg_fields}[name].dataType
        tsql = t.simpleString().upper()
        pairs, _ = _prefixes(
            self.directory, lambda c: c[3][name], lambda v: _sql_value(v, tsql), combine
        )
        return _lookup(pairs, [f"{_B} * 65536 + {_S}"], f"CAST(NULL AS {tsql})")


def bucketize(
    df: DataFrame,
    order: Sequence[str],
    *,
    aggs: dict[str, Column] | None = None,
    n_buckets: int = 64,
    rel_err: float = 1e-2,
    skew_split: bool = True,
    rows_per_bucket: int = _ROWS_PER_TASK,
) -> Bucketing:
    """Range-bucket ``df`` by the leading column of ``order``.

    ``aggs`` are extra per-bucket aggregate expressions (exact sums,
    maxima) whose per-bucket values land in the driver directory for
    prefix-offset computation.  Two bounded driver actions run here:
    the quantile sample and the ≤``2·n_buckets+1``-row directory
    collect — the same class of driver work as ``repartitionByRange``'s
    internal sampling, and the price of removing every
    single-partition window from the downstream plan.
    """
    parsed = _parse_order(order)
    # agg names live only in the driver directory (never in an output
    # frame), so internal `_go*` names are fine — only _B/_S collide.
    _check_reserved(df.columns)
    aggs = aggs or {}
    if {_B, _S, "_gocnt"} & set(aggs):
        # _gocnt is the directory's internal row counter: an agg under
        # that name would shadow it in the Row lookup below and corrupt
        # offsets/totals silently
        raise ValueError(f"bucketize: agg name may not be {_B}/{_S}/_gocnt")
    bexpr, sexpr, _ = _bucket_cols(
        df, parsed, n_buckets=n_buckets, rel_err=rel_err,
        skew_split=skew_split, rows_per_bucket=rows_per_bucket,
    )
    bucketed = df.withColumn(_B, bexpr).withColumn(_S, sexpr)
    bdir = _dir_agg(bucketed, [], aggs)
    directory = _in_order(
        [(r[_B], r[_S], r["_gocnt"], {n: r[n] for n in aggs}) for r in bdir.collect()],
        parsed,
    )
    agg_fields = [f for f in bdir.schema.fields if f.name in aggs]
    return Bucketing(df=bucketed, parsed=parsed, directory=directory, agg_fields=agg_fields)


def ntile_expr(rn: Column, total: int, n: int) -> Column:
    """Standard NTILE from a global row number: the first ``total % n``
    tiles take ``total//n + 1`` rows.  Integer arithmetic only (the
    doubles stay exact far beyond 2^40 rows, but DIV avoids the
    question entirely)."""
    if total <= 0:
        return F.lit(None).cast("int")
    q, r = divmod(total, n)
    if q == 0:
        return rn.cast("int")
    cut = (q + 1) * r
    lo = F.floor((rn - 1) / F.lit(q + 1)).cast("int") + 1
    hi = F.lit(r) + F.floor((rn - 1 - cut) / F.lit(q)).cast("int") + 1
    return F.when(rn <= cut, lo).otherwise(hi)


def _idiv(a: Column, b: Column) -> Column:
    """Exact floor division of non-negative longs without DIV-parsing:
    (a - a mod b) is an exact multiple of b, and IEEE division of two
    exact longs with an integer quotient is exact below 2^53."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def ntile_expr_col(rn: Column, total: Column, n: int) -> Column:
    """Standard NTILE with the grand total as a COLUMN (in-plan form of
    ``ntile_expr``): first total%n tiles take total//n + 1 rows. The
    divide-by-zero branch of q==0 is unreachable (rn <= cut covers every
    row) and CASE WHEN evaluates lazily, so no guard is needed."""
    q = _idiv(total, F.lit(n))
    r = F.pmod(total, F.lit(n))
    cut = (q + 1) * r
    lo = _idiv(rn - 1, q + 1) + 1
    hi = r + _idiv(rn - 1 - cut, q) + 1
    return F.when(rn <= cut, lo).otherwise(hi).cast("int")


def _earlier_cond(parsed: list[tuple[str, bool]]) -> Column:
    """b's bucket strictly precedes a's bucket in the GLOBAL order."""
    asc1 = parsed[0][1]
    asc2 = parsed[1][1] if len(parsed) > 1 else True
    ab, bb = F.col(f"a.{_B}"), F.col(f"b.{_B}")
    as_, bs = F.col(f"a.{_S}"), F.col(f"b.{_S}")
    first = (bb < ab) if asc1 else (bb > ab)
    second = (bs < as_) if asc2 else (bs > as_)
    return first | ((bb == ab) & second)


def _exact_sum_cols(df: DataFrame, pairs) -> list[str]:
    """Value columns of running/grand sums, type-checked: only DECIMAL
    and integral sums are associative-exact under per-bucket
    regrouping (module docstring's exactness rule)."""
    dtypes = dict(df.dtypes)
    for vc, _ in pairs:
        t = dtypes[vc]
        if not (t.startswith("decimal") or t in ("int", "bigint", "smallint", "tinyint")):
            raise TypeError(
                f"running/grand sum over non-exact type {t} ({vc}): "
                "per-bucket regrouping would drift ulps vs a sequential "
                "oracle — cast to DECIMAL first"
            )
    return sorted({vc for vc, _ in pairs})


def _running_sum(off: Column, vc: str, w) -> Column:
    """``off`` + the intra-cell running sum of ``vc``, with naive-window
    NULL parity: SUM ... ROWS UNBOUNDED PRECEDING is NULL only while
    EVERY preceding value is NULL — the offset stays NULL until some
    earlier cell held a value and coalesces JOINTLY with the intra-cell
    running sum, not per-term."""
    run = F.sum(vc).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return F.when(off.isNull() & run.isNull(), F.lit(None)).otherwise(
        F.coalesce(off, F.lit(0)) + F.coalesce(run, F.lit(0))
    )


def _attach(
    out: DataFrame,
    parsed: list[tuple[str, bool]],
    cells: dict,
    sum_fields: dict | None = None,
    *,
    group: str | None = None,
    g_dtype: str = "",
    keys: tuple[str, str] = (_B, _S),
    rn_tmp: str = "_gorn",
    row_number: str | None = None,
    ntile: tuple[int, str] | None = None,
    cumsum: Sequence[tuple[str, str]] = (),
    count_out: str | None = None,
    totals: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """The shared tail of every literal-map ordinal.

    ``cells`` is the collected directory, ``{group value: [(bucket, sub,
    count, {"_gosum_<col>": sum})]}`` (the single group ``None`` when
    ungrouped); ``out`` is the frame already repartitioned on ``(group,
    *keys)``.  Each measure folds per group (``_prefixes``), renders as
    one literal-map lookup (``_lookup``) — nested ``group → cell`` when
    grouped — and lands as ``cell prefix + intra-cell window``; the
    per-group grand values are plain literals when ungrouped and a flat
    ``group → value`` map otherwise.  Every window is partitioned by
    ``(group, *keys)``: bounded partitions, no joins.  The bucket keys
    (and ``rn_tmp``, the row number an NTILE-only call needs) are
    dropped."""
    b, s = keys
    ckey = f"{b} * 65536 + {s}"
    if group is None:

        def at_cell(per: dict, empty: str) -> Column:
            return _lookup(per[None], [ckey], empty)

        def at_group(per: dict, empty: str) -> Column:
            return F.expr(per[None])

    else:
        if g_dtype == "string":

            def g_sql(v) -> str:
                return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"

            g_expr = _ident(group)
        else:

            def g_sql(v) -> str:
                return f"{int(v)}L"

            g_expr = f"CAST({_ident(group)} AS BIGINT)"

        def at_cell(per: dict, empty: str) -> Column:
            pairs = [(g_sql(g), _map_sql(inner)) for g, inner in per.items()]
            return _lookup(pairs, [g_expr, ckey], empty)

        def at_group(per: dict, empty: str) -> Column:
            return _lookup([(g_sql(g), v) for g, v in per.items()], [g_expr], empty)

    ordered = {g: _in_order(cs, parsed) for g, cs in cells.items()}

    def fold(measure, fmt):
        folded = {g: _prefixes(cs, measure, fmt) for g, cs in ordered.items()}
        return (
            {g: f[0] for g, f in folded.items()},
            {g: f[1] for g, f in folded.items()},
        )

    w = Window.partitionBy(*([group] if group else []), b, s).orderBy(
        *_sort_cols(parsed)
    )
    offs, counts = fold(lambda c: c[2], lambda v: f"{v or 0}L")
    rn_name = row_number or (rn_tmp if ntile else None)
    if rn_name:
        out = out.withColumn(
            rn_name, at_cell(offs, "CAST(0 AS BIGINT)") + F.row_number().over(w)
        )
    if ntile:
        n, tname = ntile
        rn = F.col(rn_name)
        out = out.withColumn(
            tname,
            ntile_expr(rn, sum(c[2] for c in cells[None]), n)
            if group is None
            else ntile_expr_col(rn, at_group(counts, "CAST(NULL AS BIGINT)"), n),
        )
    for vc, oname in cumsum:
        tsql = _widen(sum_fields[f"_gosum_{vc}"]).simpleString().upper()
        sums, _ = fold(lambda c: c[3][f"_gosum_{vc}"], lambda v: _sql_value(v, tsql))
        out = out.withColumn(
            oname, _running_sum(at_cell(sums, f"CAST(NULL AS {tsql})"), vc, w)
        )
    if count_out:
        out = out.withColumn(count_out, at_group(counts, "CAST(NULL AS BIGINT)"))
    for vc, oname in totals:
        tsql = _widen(sum_fields[f"_gosum_{vc}"]).simpleString().upper()
        _, tots = fold(lambda c: c[3][f"_gosum_{vc}"], lambda v: _sql_value(v, tsql))
        out = out.withColumn(oname, at_group(tots, f"CAST(NULL AS {tsql})"))
    drop = [b, s]
    if ntile and not row_number:
        drop.append(rn_tmp)
    return out.drop(*drop)


def global_ordinals(
    df: DataFrame,
    order: Sequence[str],
    spark=None,
    *,
    row_number: str | None = None,
    ntile: tuple[int, str] | None = None,
    cumsum: Sequence[tuple[str, str]] = (),
    total_count: str | None = None,
    totals: Sequence[tuple[str, str]] = (),
    n_buckets: int = 64,
    rel_err: float = 1e-2,
    skew_split: bool = True,
    parallelism: int | None = None,
    rows_per_bucket: int = _ROWS_PER_TASK,
) -> DataFrame:
    """Attach globally-ordered measures, every window partitioned.

    - ``order``: sort spec, ``"-col"`` for DESC; the leading column
      drives the range bucketing and must cast monotonically to double
      (numeric / date / timestamp — dates route through ``unix_date``).
    - ``row_number``: output column for the global 1-based row number.
    - ``ntile=(n, out)``: global NTILE(n) on the same order.
    - ``cumsum=[(value_col, out), ...]``: inclusive running sum; the
      value column must be DECIMAL or integral (exactness rule above).
      NULL semantics match the naive running window: the output is NULL
      only while ALL values so far (this bucket's prefix AND every
      earlier bucket) are NULL.
    - ``total_count`` / ``totals=[(value_col, out), ...]``: grand count
      / grand sums attached as literals (no ``OVER ()`` window).
    - ``parallelism``: pin the bucket-exchange task count; default
      scales to the measured row count (``_auto_parallelism``).

    The main plan is a single pipeline — scan → project(map lookups) →
    one hash exchange → per-bucket sort+window — with NO directory
    joins, broadcast builds, or extra query stages on the critical path
    (measured ~2× faster than the in-plan triangular-join form at
    sf0.1; the same two-bounded-driver-jobs economics as
    repartitionByRange).
    """
    if spark is None:
        spark = df.sparkSession
    cumsum = list(cumsum)
    totals = list(totals)
    _check_reserved(
        df.columns,
        [row_number, total_count, ntile[1] if ntile else None]
        + [o for _, o in cumsum + totals],
    )
    sum_cols = _exact_sum_cols(df, cumsum + totals)
    bk = bucketize(
        df,
        order,
        aggs={f"_gosum_{vc}": F.sum(vc) for vc in sum_cols},
        n_buckets=n_buckets,
        rel_err=rel_err,
        skew_split=skew_split,
        rows_per_bucket=rows_per_bucket,
    )
    # Pin the bucket exchange, scaled to the data: AQE would coalesce
    # this small-bytes shuffle to a couple of partitions and serialize
    # the per-bucket sorts, while the session default (200) makes a
    # 15k-row post-agg frame pay a 200-task sort wave.  total_count is
    # the directory's EXACT row count — no second sizing pass.
    n_part = parallelism or _auto_parallelism(spark, bk.total_count)
    return _attach(
        bk.df.repartition(n_part, _B, _S),
        bk.parsed,
        {None: bk.directory},
        {f.name: f for f in bk.agg_fields},
        row_number=row_number,
        ntile=ntile,
        cumsum=cumsum,
        count_out=total_count,
        totals=totals,
    )


def multi_ordinals(
    df: DataFrame,
    specs: Sequence[dict],
    spark=None,
    *,
    n_buckets: int = 64,
    rel_err: float = 1e-2,
    skew_split: bool = True,
    parallelism: int | None = None,
    rows_per_bucket: int = _ROWS_PER_TASK,
) -> DataFrame:
    """Several independent global orderings over the SAME frame in one
    sampling pass — the multi-dimension scoring shape (RFM is the
    canonical case: three NTILE(5)s over three orders).

    ``specs``: list of ``{"order": [...], "row_number": name?,
    "ntile": (n, name)?}``.  Compared to chaining ``global_ordinals``
    k times (k sampling + k sub-split + k directory jobs, each
    recomputing a longer chain), this runs THREE bounded driver jobs
    total: one stacked quantile+count aggregate, one stacked
    percentile_approx over every dimension's hot values, and one
    exploded (dim, bucket) directory count.  Each dimension's directory
    then runs through the shared literal-map tail (``_attach``): k
    partitioned windows over one projection, no joins — same shape as
    k ``global_ordinals`` calls, none of the chained re-sampling.
    """
    if spark is None:
        spark = df.sparkSession
    parsed_all = [_parse_order(s["order"]) for s in specs]
    k = len(specs)
    internal = {"_gd", "_gval", "_gsv", "_gsb"} | {
        f"_g{p}{i}" for i in range(k) for p in ("v", "b", "s", "rn")
    }
    _check_reserved(
        df.columns,
        [s.get("row_number") for s in specs]
        + [s["ntile"][1] for s in specs if s.get("ntile")],
        reserved_exact=internal,
    )
    dtypes = dict(df.dtypes)
    for p in parsed_all:
        c1t = dtypes.get(p[0][0], "")
        if c1t.startswith(_REJECT_TYPES):
            raise TypeError(f"multi_ordinals: non-numeric leading column {p[0][0]}")
    leads = [p[0][0] for p in parsed_all]
    probs = [i / n_buckets for i in range(1, n_buckets)]
    keyed = df.select(
        "*",
        *[
            _as_double(c, dtypes.get(c, "")).alias(f"_gv{i}")
            for i, c in enumerate(leads)
        ],
    )
    # job 1: every dimension's cut points + the row count in ONE
    # sampled aggregate pass (scales the window exchanges to the data)
    n_rows, raws = _sketch(keyed, [f"_gv{i}" for i in range(k)], probs, rel_err)
    # floor 2: a single bucket would constant-fold the bucket keys and
    # re-plan the exchange as SinglePartition — the exact shape this
    # operator exists to avoid
    eff = min(n_buckets, max(2, (n_rows + rows_per_bucket - 1) // rows_per_bucket))
    raws = [_subsample(raw, n_buckets, eff) for raw in raws]
    hots = [_hot_values(raw) for raw in raws]

    # job 2 (only if any hot): stacked per-(dim, value) secondary cuts
    hot_cuts: dict[int, list] = {i: [] for i in range(k)}
    if skew_split:
        stack = []
        kmax = 2
        for i, (parsed, hot) in enumerate(zip(parsed_all, hots)):
            if not hot or len(parsed) < 2:
                continue
            c2 = parsed[1][0]
            if dtypes.get(c2, "").startswith(_REJECT_TYPES):
                continue
            kmax = max(
                kmax, 2 + max(sum(1 for q in raws[i] if q == v) for v in hot)
            )
            stack.append(
                keyed.filter(F.col(f"_gv{i}").isin(hot)).select(
                    F.lit(i).alias("_gd"),
                    F.col(f"_gv{i}").alias("_gval"),
                    _as_double(c2, dtypes.get(c2, "")).alias("_gsv"),
                )
            )
        if stack:
            frame = stack[0]
            for s in stack[1:]:
                frame = frame.unionByName(s)

            def compute_stacked():
                sprobs = F.array(*[F.lit(i / kmax) for i in range(1, kmax)])
                return [
                    (r["_gd"], r["_gval"], list(r["_gsb"] or []))
                    for r in frame.groupBy("_gd", "_gval")
                    .agg(F.percentile_approx("_gsv", sprobs, 1000).alias("_gsb"))
                    .collect()
                ]

            for gd, gval, gsb in _memo_action(
                frame, f"hotstack|{kmax}", compute_stacked
            ):
                hot_cuts[gd].append((gval, gsb))

    # bucket expressions per dimension (SQL text — one expr() call per
    # column instead of thousands of py4j Column-op round-trips)
    bcols, scols = [], []
    for i, parsed in enumerate(parsed_all):
        v1 = _as_double_sql(leads[i], dtypes.get(leads[i], ""))
        bcols.append(F.expr(_bucket_sql(v1, sorted(set(raws[i])))).alias(f"_gb{i}"))
        c2 = parsed[1][0] if len(parsed) > 1 else None
        sub = _sub_col(v1, c2, dtypes.get(c2, ""), hot_cuts[i])
        scols.append(sub.alias(f"_gs{i}"))
    bucketed = df.select("*", *bcols, *scols)

    # job 3: one directory aggregate over every dimension's exploded cells
    stacked = bucketed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_gd"),
                        F.col(f"_gb{i}").alias(_B),
                        F.col(f"_gs{i}").alias(_S),
                    )
                    for i in range(k)
                ]
            )
        ).alias("z")
    ).select("z.*")
    rows = _dir_agg(stacked, ["_gd"], {}).collect()

    # pin each dimension's window exchange, data-scaled (same
    # AQE-coalesce rationale as global_ordinals)
    n_part = parallelism or _auto_parallelism(spark, n_rows)
    out = bucketed
    for i, spec in enumerate(specs):
        keys = (f"_gb{i}", f"_gs{i}")
        cells = [(r[_B], r[_S], r["_gocnt"], {}) for r in rows if r["_gd"] == i]
        out = _attach(
            out.repartition(n_part, *keys),
            parsed_all[i],
            {None: cells},
            keys=keys,
            rn_tmp=f"_grn{i}",
            row_number=spec.get("row_number"),
            ntile=spec.get("ntile"),
        )
    return out


# Largest directory (cells over all groups) grouped_ordinals inlines as
# literal maps; above it the persisted-directory join design runs.
_LITERAL_CELLS = 4096


def grouped_ordinals(
    df: DataFrame,
    group_cols: Sequence[str],
    order: Sequence[str],
    *,
    row_number: str | None = None,
    group_count: str | None = None,
    ntile: tuple[int, str] | None = None,
    cumsum: Sequence[tuple[str, str]] = (),
    group_totals: Sequence[tuple[str, str]] = (),
    n_buckets: int = 64,
    rel_err: float = 1e-2,
    skew_split: bool = True,
    parallelism: int | None = None,
    rows_per_bucket: int = _ROWS_PER_TASK,
    stats_key: str | None = None,
) -> DataFrame:
    """Per-group ordinals — ``ROW_NUMBER()/NTILE/SUM() OVER (PARTITION
    BY group ORDER BY …)`` — when the partition key has LOW CARDINALITY
    over a FACT-scale frame, the shape where the plain window puts a
    100 TB group on one task (3 return flags over lineitem, 4 languages
    over a corpus, 256-char length bands over documents).

    Rows bucket by the leading ORDER column, never by the group value —
    so groups can be ANY equality-comparable type (strings included),
    and every window partition ``(group, bucket, sub)`` is bounded by
    the BUCKET size regardless of how skewed the groups are:

      1. one (memoized) sampled sketch of the order column buckets
         every row monotonically; the frame repartitions ONCE on
         ``(group…, bucket, sub)``;
      2. the per-cell directory — count plus any exact sums — is a
         grouped aggregate with map-side partial aggregation (a tiny
         shuffle of ≤tasks·cells rows);
      3. a single string/integral group column's directory of
         ≤``_LITERAL_CELLS`` cells folds on the driver into nested
         literal maps (``_attach``); otherwise the directory is
         persisted once and per-cell exclusive prefixes come from one
         broadcast triangular join over it, per-group grand totals
         from its re-aggregate;
      4. each ordinal is ``cell_offset + intra-cell window`` with the
         window partitioned by ``(group…, bucket, sub)``.

    Outputs mirror ``global_ordinals``: ``row_number``, ``ntile=(n,
    out)`` (per-group NTILE), ``cumsum=[(val, out)…]`` (per-group
    running sums, DECIMAL/integral only — same exactness rule),
    ``group_count`` / ``group_totals`` (per-group grand count / sums).
    Group columns must be non-NULL (the directory joins use plain
    equality; the naive form gives NULL its own partition — no suite
    consumer has NULL groups, validated by documentation like the
    naive form's own NULL-partition caveat).

    ``stats_key``: stable memo identity for the bucket sketch when
    ``df`` is checkpointed (LogicalRDD plans canonicalize to a fresh
    RDD id per execution, so the sketch misses the cache every run).
    Pass a string that names the dataset (query name + sf_dir);
    boundary staleness is harmless by the cache's contract.

    Reference parity: the reference's per-sport/per-bet-type frame
    ops are pandas groupby-rank one-liners (arbitrage_scanner.py); this
    is the shape that survives when one group is most of the corpus.
    """
    group_cols = list(group_cols)
    cumsum = list(cumsum)
    group_totals = list(group_totals)
    if not group_cols:
        raise ValueError("grouped_ordinals: empty group_cols — use global_ordinals")
    _check_reserved(
        df.columns,
        [row_number, group_count, ntile[1] if ntile else None]
        + [o for _, o in cumsum + group_totals],
    )
    dtypes = dict(df.dtypes)
    sum_cols = _exact_sum_cols(df, cumsum + group_totals)
    parsed = _parse_order(order)
    bexpr, sexpr, n_rows = _bucket_cols(
        df, parsed, n_buckets=n_buckets, rel_err=rel_err,
        skew_split=skew_split, rows_per_bucket=rows_per_bucket,
        stats_key=stats_key,
    )
    spark = df.sparkSession
    n_part = parallelism or _auto_parallelism(spark, n_rows)
    pre = df.withColumn(_B, bexpr).withColumn(_S, sexpr)
    bucketed = pre.repartition(n_part, *group_cols, _B, _S)
    aggs = {f"_gosum_{vc}": F.sum(vc) for vc in sum_cols}

    # LITERAL PATH — single group column of string/integral type (every
    # suite consumer but one): the main plan becomes scan →
    # project(nested map lookups) → one hash exchange → per-cell
    # sort+window.  The cap guards against misuse on high-cardinality
    # groups (this operator is for FEW huge groups), bounded BEFORE
    # pulling rows: persist+count materializes the aggregate once
    # executor-side (spillable), the count is exact and tiny, and the
    # conditional collect reads the cached blocks — no second fact scan,
    # and no CollectLimitExec incremental job waves (the known
    # limit().collect() trap).
    gc = group_cols[0]
    if len(group_cols) == 1 and dtypes[gc] in (
        "string", "int", "bigint", "smallint", "tinyint",
    ):
        dir_df = _dir_agg(pre, group_cols, aggs).persist()
        try:
            rows = dir_df.collect() if dir_df.count() <= _LITERAL_CELLS else None
        finally:
            dir_df.unpersist()
        if rows is not None and all(r[gc] is not None for r in rows):
            cells: dict = {}
            for r in rows:
                cells.setdefault(r[gc], []).append(
                    (r[_B], r[_S], r["_gocnt"], {n: r[n] for n in aggs})
                )
            return _attach(
                bucketed,
                parsed,
                cells,
                {f.name: f for f in dir_df.schema.fields},
                group=gc,
                g_dtype=dtypes[gc],
                row_number=row_number,
                ntile=ntile,
                cumsum=cumsum,
                count_out=group_count,
                totals=group_totals,
            )

    # JOIN PATH — the directory, persisted once for every downstream
    # branch (see materialize_directory), broadcast-joined back
    counts = materialize_directory(_dir_agg(pre, group_cols, aggs))
    a, b = counts.alias("a"), counts.alias("b")
    same_group = F.lit(True)
    for g in group_cols:
        same_group = same_group & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    offs = (
        a.join(F.broadcast(b), same_group & _earlier_cond(parsed), "left")
        .groupBy(
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
            F.col(f"a.{_B}").alias(_B),
            F.col(f"a.{_S}").alias(_S),
        )
        .agg(
            F.coalesce(F.sum(F.col("b._gocnt")), F.lit(0)).alias("_gooff"),
            *[
                F.sum(F.col(f"b._gosum_{vc}")).alias(f"_gooffs_{vc}")
                for vc, _ in cumsum
            ],
        )
    )
    out = bucketed.join(F.broadcast(offs), group_cols + [_B, _S])
    need_tot = group_count or group_totals or ntile
    if need_tot:
        tot = counts.groupBy(*group_cols).agg(
            F.sum("_gocnt").alias("_gotot"),
            *[F.sum(f"_gosum_{vc}").alias(f"_gotots_{vc}") for vc, _ in group_totals],
        )
        out = out.join(F.broadcast(tot), group_cols)

    w = Window.partitionBy(*group_cols, _B, _S).orderBy(*_sort_cols(parsed))
    rn_name = row_number or ("_gorn" if ntile else None)
    if rn_name:
        out = out.withColumn(rn_name, F.col("_gooff") + F.row_number().over(w))
    if ntile:
        n, tname = ntile
        out = out.withColumn(
            tname, ntile_expr_col(F.col(rn_name), F.col("_gotot"), n)
        )
    for vc, oname in cumsum:
        out = out.withColumn(oname, _running_sum(F.col(f"_gooffs_{vc}"), vc, w))
    if group_count:
        out = out.withColumn(group_count, F.col("_gotot"))
    for vc, oname in group_totals:
        out = out.withColumn(oname, F.col(f"_gotots_{vc}"))
    drop = [_B, _S] + [c for c in out.columns if c.startswith(("_goo", "_gotot"))]
    if ntile and not row_number:
        drop.append("_gorn")
    return out.drop(*drop)
