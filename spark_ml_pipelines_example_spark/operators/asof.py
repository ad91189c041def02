"""As-of join (backward) as a union + merge-scan window.

Spark has no native ASOF JOIN (SURVEY §2.2 `q_join_asof_event`, §4.4). The
scalable formulation:

1. tag probe rows (side=1) and reference rows (side=0);
2. union them on the shared (key, ts) spine;
3. one window pass per key, ordered by (ts, side, unique-id): running
   ``last(ref_payload, ignorenulls=True)`` assigns every probe row the most
   recent reference at-or-before it (refs sort before probes at equal ts,
   so ties match "<=" semantics);
4. keep the probe rows.

Cost: ONE shuffle on the key + a sort within partitions — linear in input,
no per-row subqueries, no broadcast-nested-loop. This is the plan shape an
as-of join must have to survive 100 TB; a correlated-probe formulation
(what the DuckDB oracle uses) is quadratic.

Alternative for few, coarse keys with dense timestamps: bucketize ts and
equi-join on (key, bucket) — not needed here since the window pass is
already single-shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_PAYLOAD = "__asof_payload"
_BUCKET = "__asof_bucket"


def bucket_of(ts_col: str, bucket_width_us: int):
    """Exact integer floor-div time bucket (see asof_join_bucketed).

    Epoch µs are positive in the fixtures, but the pmod identity keeps
    pre-1970 timestamps correct too; cast through TIMESTAMP is a no-op
    shift under the pinned-UTC session, so the bucket is monotone in ts
    for both TIMESTAMP and TIMESTAMP_NTZ."""
    e = F.unix_micros(F.col(ts_col).cast("timestamp"))
    wid = F.lit(int(bucket_width_us))
    return ((e - (((e % wid) + wid) % wid)) / wid).cast("long")


def _pair_type(refs: DataFrame, ts: str, payload: str):
    """struct<ts_ref, val> carrying a matched ref's timestamp alongside
    its payload, so gap tests stay exact µs timestamp arithmetic."""
    import pyspark.sql.types as T

    return T.StructType(
        [
            T.StructField("ts_ref", refs.schema[ts].dataType),
            T.StructField("val", refs.schema[payload].dataType),
        ]
    )


def _pair_expr(ts: str, payload: str):
    return F.struct(F.col(ts).alias("ts_ref"), F.col(payload).alias("val"))


def _union_spine(
    probes: DataFrame,
    refs: DataFrame,
    on: str,
    ts: str,
    carry_name: str,
    carry_type,
    carry_expr,
    *,
    ref_ts_col: str | None = None,
) -> DataFrame:
    """The shared merge-scan spine every as-of variant walks (VERDICT r7
    task #4 — previously rebuilt inline by all six entry points): tag
    probe rows side=1 / ref rows side=0 and union them on the (key, ts)
    columns. Probe columns the refs lack are null-cast to the probe's
    dtype on the ref side; ``carry_name`` holds ``carry_expr`` on the
    ref side and a typed NULL on the probe side (the typed NULL keeps
    double/decimal/string carries untruncated). ``ref_ts_col`` names the
    ref frame's timestamp column when it differs from the probe's
    (asof_join_topk pre-renames to __ref_ts)."""
    probe_cols = probes.columns
    probe_types = dict(probes.dtypes)
    ref_ts = ref_ts_col or ts
    # Fail loud on column collisions: withColumn would silently
    # OVERWRITE a probe column named like a spine internal and corrupt
    # the merge-scan (side tags / carries / stitch columns would alias
    # user data). The set is the UNION of every as-of variant's
    # internals — uniform across the family by contract, so a probe that
    # works with one variant works with all of them (the plain variants
    # reject e.g. __asof_bucket even though only the bucketed ones use
    # it; a spurious-but-loud rejection beats a silent drop).
    reserved = {
        _SIDE, _BUCKET, carry_name,
        "__m", "__b", "__f", "__bl", "__fl", "__cb", "__cf",
        "__c", "__local", "__carry", "__seq",
        # ADVICE r8 #1: the top-k variants rename the ref side to
        # (__ref_ts, __ref_id) and reference both after the join-back —
        # a probe carrying either name must fail HERE with the crafted
        # error, not later with an ambiguous-reference
        # AnalysisException.
        "__ref_ts", "__ref_id",
    }
    clash = sorted(reserved & set(probe_cols))
    if clash:
        raise ValueError(
            f"as-of probe frame uses reserved spine column name(s) {clash}; "
            "rename them before the join"
        )
    p = probes.withColumn(_SIDE, F.lit(1)).withColumn(
        carry_name, F.lit(None).cast(carry_type)
    )
    r = refs.select(
        *[
            F.col(on) if c == on
            else F.col(ref_ts).alias(c) if c == ts
            else F.lit(None).cast(probe_types.get(c, "string")).alias(c)
            for c in probe_cols
        ],
        F.lit(0).alias(_SIDE),
        carry_expr.alias(carry_name),
    )
    return p.unionByName(r)


def _spine_order(ts: str, carry_name: str, backward: bool = True):
    """Merge-scan order: refs sort before probes at equal ts (so ties
    match '<='/'>=' semantics) and among same-ts refs the largest carry
    wins. Forward scans are the same pass in reverse time order."""
    lead = F.col(ts) if backward else F.col(ts).desc()
    return [lead, F.col(_SIDE), F.col(carry_name)]


def _gap_within_tolerance(ts: str, tolerance_expr: str, backward: bool, m: str = "__m"):
    """Match-at-most-tolerance-away predicate on the struct-carried ref
    timestamp (exact µs interval arithmetic)."""
    return (
        F.col(f"{m}.ts_ref") >= F.col(ts) - F.expr(tolerance_expr)
        if backward
        else F.col(f"{m}.ts_ref") <= F.col(ts) + F.expr(tolerance_expr)
    )


def asof_join(
    probes: DataFrame,
    refs: DataFrame,
    on: str,
    ts: str,
    payload: str,
    alias: str = "asof_value",
) -> DataFrame:
    """For each probe row, attach `alias` = refs.`payload` of the latest ref
    row with ref.ts <= probe.ts and equal `on` key (null when none).

    Ties: refs at exactly probe.ts match; among same-ts refs the largest
    `payload` wins (deterministic, for any orderable payload type — the
    sentinel null on the probe side takes the payload column's own dtype,
    so double/decimal/string payloads survive untruncated).
    """
    payload_type = refs.schema[payload].dataType
    unioned = _union_spine(probes, refs, on, ts, _PAYLOAD, payload_type, F.col(payload))
    w = (
        W.partitionBy(on)
        .orderBy(*_spine_order(ts, _PAYLOAD))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        unioned.withColumn(alias, F.last(_PAYLOAD, ignorenulls=True).over(w))
        .filter(F.col(_SIDE) == 1)
        .drop(_SIDE, _PAYLOAD)
    )


def asof_join_gap(
    probes: DataFrame,
    refs: DataFrame,
    on: str,
    ts: str,
    payload: str,
    alias: str = "asof_value",
    *,
    direction: str = "backward",
    tolerance_expr: str | None = None,
) -> DataFrame:
    """As-of join with pandas-``merge_asof`` semantics extensions: a
    ``direction`` ('backward' = latest ref at-or-before the probe,
    'forward' = earliest ref at-or-after) and an optional ``tolerance``
    (a SQL INTERVAL expression, e.g. ``"INTERVAL 1 HOUR"``) — a match
    farther than the tolerance from the probe becomes null.

    Same single-shuffle merge-scan shape as :func:`asof_join` (one
    window pass per key — the 100 TB plan), generalized by carrying the
    matched ref's timestamp in a struct so the gap test is EXACT
    timestamp arithmetic (µs precision; no epoch-second truncation).
    'forward' is the same scan run in reverse time order: scanning
    descending, ``last(ref, ignorenulls)`` at the probe row is the
    smallest ref ts >= probe ts. Tie rule matches :func:`asof_join`:
    refs at exactly probe.ts match, and among same-ts refs the largest
    payload wins (struct ordering ends on the payload).

    SKEW CAVEAT: the window shuffles on the key alone, and AQE's
    skew-split never rewrites a Window's Exchange — a hot key puts its
    whole union in one task. When q_dq_join_key_skew flags a dominant
    key, use :func:`asof_join_bucketed` (same semantics, (key, time
    bucket) partitioning + KB-scale carry-in)."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    backward = direction == "backward"
    unioned = _union_spine(
        probes, refs, on, ts, _PAYLOAD, _pair_type(refs, ts, payload),
        _pair_expr(ts, payload),
    )
    w = (
        W.partitionBy(on)
        .orderBy(*_spine_order(ts, _PAYLOAD, backward))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = (
        unioned.withColumn("__m", F.last(_PAYLOAD, ignorenulls=True).over(w))
        .filter(F.col(_SIDE) == 1)
        .drop(_SIDE, _PAYLOAD)
    )
    if tolerance_expr is not None:
        matched = matched.withColumn(
            "__m",
            F.when(_gap_within_tolerance(ts, tolerance_expr, backward), F.col("__m")),
        )
    return matched.withColumn(alias, F.col("__m.val")).drop("__m")


def asof_join_bucketed(
    probes: DataFrame,
    refs: DataFrame,
    on: str,
    ts: str,
    payload: str,
    alias: str = "asof_value",
    *,
    direction: str = "backward",
    tolerance_expr: str | None = None,
    bucket_width_us: int = 86_400_000_000,
) -> DataFrame:
    """Skew-resistant as-of join: :func:`asof_join_gap` semantics
    (direction + tolerance, identical tie rules), but partitioned on
    (key, time bucket) instead of the key alone.

    WHY (VERDICT r6 task #4): ``asof_join_gap`` shuffles on the key, so
    a hot key at 100 TB lands its ENTIRE union on one window partition —
    and AQE's skew-split only rewrites SortMergeJoin/ShuffledHashJoin
    reads, never a Window's Exchange (a window partition cannot be split
    without breaking frame semantics). The fix mirrors the two-phase
    binned global ranks (operators/globalrank.py): make the partition
    key finer, then stitch bucket-local answers with a KB-scale summary.

    1. **Local pass** — tag + union exactly as :func:`asof_join_gap`,
       bucket every row by ``floor(epoch_us(ts) / bucket_width_us)``
       (monotone in ts: UTC session, exact integer floor-div), ONE
       window per (key, bucket): a hot key now spreads across
       |time range| / width partitions.
    2. **Carry-in** — a probe early in its bucket may need a ref from an
       earlier bucket (backward) / later bucket (forward). Per (key,
       bucket, ref_ts) the tie rule collapses to MAX(payload); per (key,
       bucket) the boundary candidate is then an unambiguous struct
       MAX (backward: latest ref) or MIN (forward: earliest ref, its
       payload already tie-resolved). The spine of ALL (key, bucket)
       pairs present in the union (so probe-only buckets still get a
       row) carries a running MAX over strictly-preceding buckets
       (backward) / MIN over strictly-following (forward) — a window
       over the aggregated spine, thousands of rows, not the fact table.
    3. **Stitch** — join the carry back on (key, bucket) — the big side
       is ALREADY hash-partitioned on exactly those keys by the local
       window, so the stitch adds no fact-table exchange (the spine side
       is broadcast-or-tiny) — and ``coalesce(local, carry)``.

    Cost at 100 TB: the same single fact-table shuffle as the unbucketed
    plan, just on a finer key; everything else is KB–MB-scale. Choose
    ``bucket_width_us`` ≳ the tolerance (default 1 day) so carried
    matches are rarely discarded by the gap test.

    Use when ``q_dq_join_key_skew`` (queries/quality.py) reports a
    dominant key share: its docstring wires the audit verdict to this
    remedy. Parity with asof_join_gap is property-tested on randomized
    corpora in both directions (tests/test_round7.py)."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    backward = direction == "backward"
    unioned = _union_spine(
        probes, refs, on, ts, _PAYLOAD, _pair_type(refs, ts, payload),
        _pair_expr(ts, payload),
    ).withColumn(_BUCKET, bucket_of(ts, bucket_width_us))

    w_local = (
        W.partitionBy(on, _BUCKET)
        .orderBy(*_spine_order(ts, _PAYLOAD, backward))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = unioned.withColumn("__local", F.last(_PAYLOAD, ignorenulls=True).over(w_local))

    # Spine: every (key, bucket) in the union; per-bucket boundary ref
    # with the tie rule pre-collapsed (max payload per exact ref ts).
    per_ts = (
        unioned.filter(F.col(_SIDE) == 0)
        .groupBy(on, _BUCKET, F.col(_PAYLOAD)["ts_ref"].alias("__ts_ref"))
        .agg(F.max(F.col(_PAYLOAD)["val"]).alias("__val"))
        .select(
            on,
            _BUCKET,
            F.struct(
                F.col("__ts_ref").alias("ts_ref"), F.col("__val").alias("val")
            ).alias("__cand"),
        )
    )
    boundary = per_ts.groupBy(on, _BUCKET).agg(
        (F.max("__cand") if backward else F.min("__cand")).alias("__bref")
    )
    spine = (
        unioned.select(on, _BUCKET)
        .distinct()
        .join(boundary, [on, _BUCKET], "left")
    )
    w_carry = (
        W.partitionBy(on)
        .orderBy(_BUCKET)
        .rowsBetween(W.unboundedPreceding, -1)
        if backward
        else W.partitionBy(on)
        .orderBy(_BUCKET)
        .rowsBetween(1, W.unboundedFollowing)
    )
    carry = spine.withColumn(
        "__carry",
        (F.max("__bref") if backward else F.min("__bref")).over(w_carry),
    ).select(on, _BUCKET, "__carry")

    matched = (
        local.join(carry, [on, _BUCKET], "left")
        .filter(F.col(_SIDE) == 1)
        .withColumn("__m", F.coalesce(F.col("__local"), F.col("__carry")))
        .drop(_SIDE, _PAYLOAD, _BUCKET, "__local", "__carry")
    )
    if tolerance_expr is not None:
        matched = matched.withColumn(
            "__m",
            F.when(_gap_within_tolerance(ts, tolerance_expr, backward), F.col("__m")),
        )
    return matched.withColumn(alias, F.col("__m.val")).drop("__m")


def asof_join_topk(
    probes: DataFrame,
    refs: DataFrame,
    on: str,
    ts: str,
    ref_id: str,
    k: int,
    rank_alias: str = "asof_rank",
) -> DataFrame:
    """k-nearest as-of join: for each probe row, the k LATEST ref rows
    with ref.ts <= probe.ts and equal `on` key — rank 1 = most recent
    (ties at equal ts broken by larger `ref_id`, the same rule as
    asof_join's top-1). Probes with no match are dropped (inner
    semantics); probes with 1..k-1 matches keep what exists.

    Scale shape — the correlated form ("for each probe, ORDER BY ts DESC
    LIMIT k") is a per-probe sort; this is three linear passes instead:

    1. number the refs per key: ``seq = row_number() over (key, ts, id)``
       — one exchange on the key;
    2. merge-scan the union spine (the asof_join idiom): a running
       ``last(seq, ignorenulls)`` hands every probe the seq of the latest
       at-or-before ref, i.e. the COUNT c of matching refs — one exchange;
    3. explode ``sequence(greatest(1, c-k+1), c)`` (≤ k rows per probe)
       and equi-join back to the numbered refs on (key, seq) — a plain
       co-partitioned hash join whose output is bounded by k·|probes|.

    No per-probe sort, no broadcast-nested-loop, every exchange linear in
    input. rank = c - seq + 1.

    SKEW CAVEAT (same as asof_join_gap): passes 1-2 window on the key
    alone, so a hot key lands its whole union in one task and AQE cannot
    split a Window's Exchange. When q_dq_join_key_skew flags a dominant
    key, apply the asof_join_bucketed two-phase pattern ((key, time
    bucket) windows + a KB-scale carry spine of the last k refs per
    bucket) before running this at scale.
    """
    probe_cols = probes.columns
    seq_w = W.partitionBy(on).orderBy(F.col("__ref_ts"), F.col("__ref_id"))
    refs_seq = refs.select(
        F.col(on), F.col(ts).alias("__ref_ts"), F.col(ref_id).alias("__ref_id")
    ).withColumn("__seq", F.row_number().over(seq_w))

    spine_w = (
        W.partitionBy(on)
        .orderBy(*_spine_order(ts, "__seq"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    with_c = (
        _union_spine(
            probes, refs_seq, on, ts, "__seq", "int", F.col("__seq"),
            ref_ts_col="__ref_ts",
        )
        .withColumn("__c", F.last("__seq", ignorenulls=True).over(spine_w))
        .filter((F.col(_SIDE) == 1) & F.col("__c").isNotNull())
        .drop(_SIDE, "__seq")
    )
    exploded = with_c.select(
        *probe_cols,
        "__c",
        F.explode(
            F.sequence(F.greatest(F.lit(1), F.col("__c") - (k - 1)), F.col("__c"))
        ).alias("__seq"),
    )
    return (
        exploded.join(refs_seq, [on, "__seq"])
        .select(
            *probe_cols,
            (F.col("__c") - F.col("__seq") + 1).alias(rank_alias),
            F.col("__ref_id"),
            F.col("__ref_ts"),
        )
    )


def asof_join_nearest(
    probes: DataFrame,
    refs: DataFrame,
    on: str,
    ts: str,
    payload: str,
    alias: str = "asof_value",
    *,
    tolerance_expr: str | None = None,
) -> DataFrame:
    """pandas ``merge_asof(direction='nearest')``: each probe matched to
    the ref with the smallest |gap| in either direction; EQUAL gaps
    resolve backward (the prior ref wins), matching pandas. Within a
    direction the tie rules are exactly :func:`asof_join_gap`'s.

    Scale shape: the union spine is built ONCE and scanned by TWO window
    passes over the SAME key partitioning — ascending for the backward
    candidate, descending for the forward one — so Catalyst plans one
    Exchange and two in-partition Sorts (sorts are linear-ish and local;
    the shuffle is the scarce resource). The winner is picked per row by
    exact µs interval comparison of the two struct-carried ref
    timestamps. The tolerance (when given) bounds BOTH directions."""
    unioned = _union_spine(
        probes, refs, on, ts, _PAYLOAD, _pair_type(refs, ts, payload),
        _pair_expr(ts, payload),
    )
    frame = (W.unboundedPreceding, W.currentRow)
    w_b = (
        W.partitionBy(on)
        .orderBy(*_spine_order(ts, _PAYLOAD, backward=True))
        .rowsBetween(*frame)
    )
    w_f = (
        W.partitionBy(on)
        .orderBy(*_spine_order(ts, _PAYLOAD, backward=False))
        .rowsBetween(*frame)
    )
    both = (
        unioned.withColumn("__b", F.last(_PAYLOAD, ignorenulls=True).over(w_b))
        .withColumn("__f", F.last(_PAYLOAD, ignorenulls=True).over(w_f))
        .filter(F.col(_SIDE) == 1)
        .drop(_SIDE, _PAYLOAD)
    )
    return _nearest_winner(both, ts, tolerance_expr, alias)


def _nearest_winner(
    both: DataFrame, ts: str, tolerance_expr: str | None, alias: str
) -> DataFrame:
    """Pick each probe's nearest match from its backward (``__b``) and
    forward (``__f``) candidate structs: smallest |gap| by exact µs
    interval comparison, EQUAL gaps resolve backward (pandas' rule); a
    tolerance, when given, bounds BOTH directions. Shared by the
    key-partitioned and bucketed nearest variants."""
    b, f = F.col("__b"), F.col("__f")
    if tolerance_expr is not None:
        tol = F.expr(tolerance_expr)
        b = F.when(F.col("__b.ts_ref") >= F.col(ts) - tol, F.col("__b"))
        f = F.when(F.col("__f.ts_ref") <= F.col(ts) + tol, F.col("__f"))
    gap_b = F.col(ts) - b["ts_ref"]  # >= 0 by construction
    gap_f = f["ts_ref"] - F.col(ts)
    winner = (
        F.when(b.isNull(), f)
        .when(f.isNull(), b)
        .when(gap_b <= gap_f, b)  # equal gap -> backward, pandas rule
        .otherwise(f)
    )
    return (
        both.withColumn(alias, winner["val"])
        .drop("__b", "__f")
    )


def asof_join_nearest_bucketed(
    probes: DataFrame,
    refs: DataFrame,
    on: str,
    ts: str,
    payload: str,
    alias: str = "asof_value",
    *,
    tolerance_expr: str | None = None,
    bucket_width_us: int = 86_400_000_000,
) -> DataFrame:
    """Skew-resistant nearest-direction as-of join: identical semantics
    to :func:`asof_join_nearest` (min |gap| either side, equal gaps
    resolve backward, tolerance bounds both directions), but every
    fact-scale pass partitions on (key, time bucket) — completing the
    2×4 as-of matrix (backward/forward/nearest/top-k × plain/bucketed)
    so every direction has a hot-key remedy.

    Composition = :func:`asof_join_bucketed` run in BOTH directions over
    ONE union spine and ONE carry-spine frame:

    1. **local pass** — two (key, bucket) windows over the same union
       (ascending backward scan, descending forward scan): Catalyst
       plans one Exchange on (key, bucket) and two in-partition sorts,
       so a hot key spreads over |time range| / width tasks exactly as
       in the top-1 bucketed plan.
    2. **dual carry** — the per-(key, bucket) boundary frame carries the
       tie-collapsed latest ref (struct MAX, backward carry-in over
       strictly-earlier buckets) AND earliest ref (struct MIN, forward
       carry-in over strictly-later buckets) in one KB-scale spine; one
       window each direction over the aggregated spine, never the fact.
    3. **stitch + winner** — coalesce(local, carry) per direction on the
       already-(key, bucket)-partitioned big side, then the SAME
       :func:`_nearest_winner` µs-gap pick as the unbucketed plan.

    Parity with asof_join_nearest is property-tested on randomized
    corpora, hot key included (tests/test_round8.py). MEASURED TRADE
    (BASELINE.md, "Nearest pair under the same hot key"): the dual
    carry is still a SCALAR per (key, bucket), so unlike the k-nearest
    ARRAY carry this variant is ~1.4× FASTER than the unbucketed plan
    already at the 10×/30× half-corpus hot key while bounding the hot
    task at hot_rows/|buckets| — q_dq_join_key_skew routes hot-key
    deployments here with no constant to pay."""
    unioned = _union_spine(
        probes, refs, on, ts, _PAYLOAD, _pair_type(refs, ts, payload),
        _pair_expr(ts, payload),
    ).withColumn(_BUCKET, bucket_of(ts, bucket_width_us))
    frame = (W.unboundedPreceding, W.currentRow)
    w_b = (
        W.partitionBy(on, _BUCKET)
        .orderBy(*_spine_order(ts, _PAYLOAD, backward=True))
        .rowsBetween(*frame)
    )
    w_f = (
        W.partitionBy(on, _BUCKET)
        .orderBy(*_spine_order(ts, _PAYLOAD, backward=False))
        .rowsBetween(*frame)
    )
    local = unioned.withColumn(
        "__bl", F.last(_PAYLOAD, ignorenulls=True).over(w_b)
    ).withColumn("__fl", F.last(_PAYLOAD, ignorenulls=True).over(w_f))

    # Dual-direction boundary spine: tie rule pre-collapsed per exact ref
    # ts (max payload), then per bucket the latest (MAX struct, feeds the
    # backward carry) and earliest (MIN struct, feeds the forward carry)
    # candidate — one aggregate, both directions.
    per_ts = (
        unioned.filter(F.col(_SIDE) == 0)
        .groupBy(on, _BUCKET, F.col(_PAYLOAD)["ts_ref"].alias("__ts_ref"))
        .agg(F.max(F.col(_PAYLOAD)["val"]).alias("__val"))
        .select(
            on,
            _BUCKET,
            F.struct(
                F.col("__ts_ref").alias("ts_ref"), F.col("__val").alias("val")
            ).alias("__cand"),
        )
    )
    boundary = per_ts.groupBy(on, _BUCKET).agg(
        F.max("__cand").alias("__bb"), F.min("__cand").alias("__fb")
    )
    spine = (
        unioned.select(on, _BUCKET)
        .distinct()
        .join(boundary, [on, _BUCKET], "left")
    )
    w_cb = W.partitionBy(on).orderBy(_BUCKET).rowsBetween(W.unboundedPreceding, -1)
    w_cf = W.partitionBy(on).orderBy(_BUCKET).rowsBetween(1, W.unboundedFollowing)
    carry = (
        spine.withColumn("__cb", F.max("__bb").over(w_cb))
        .withColumn("__cf", F.min("__fb").over(w_cf))
        .select(on, _BUCKET, "__cb", "__cf")
    )

    both = (
        local.join(carry, [on, _BUCKET], "left")
        .filter(F.col(_SIDE) == 1)
        .withColumn("__b", F.coalesce(F.col("__bl"), F.col("__cb")))
        .withColumn("__f", F.coalesce(F.col("__fl"), F.col("__cf")))
        .drop(_SIDE, _PAYLOAD, _BUCKET, "__bl", "__fl", "__cb", "__cf")
    )
    return _nearest_winner(both, ts, tolerance_expr, alias)


def asof_join_topk_bucketed(
    probes: DataFrame,
    refs: DataFrame,
    on: str,
    ts: str,
    ref_id: str,
    k: int,
    rank_alias: str = "asof_rank",
    bucket_width_us: int = 86_400_000_000,
) -> DataFrame:
    """Skew-resistant k-nearest as-of join: :func:`asof_join_topk`
    semantics (k latest refs at-or-before each probe, identical tie
    rules), but every fact-scale pass is partitioned on (key, time
    bucket) instead of the key alone — the same hot-key defense as
    :func:`asof_join_bucketed`, generalized from a scalar boundary carry
    to an ARRAY carry:

    1. **local pass** — refs numbered per (key, bucket); the union spine
       hands each probe its in-bucket match count ``c_b``. One window per
       (key, bucket): a hot key spreads over |time range|/width tasks.
    2. **bucket tails** — each bucket's last min(k, n_b) refs (filtered
       by seq BEFORE any collect, so the array is bounded by k) become
       one spine row per (key, bucket).
    3. **array carry** — a running collect over STRICTLY-earlier spine
       rows, flattened, sorted desc, sliced to k: the k most recent refs
       from all earlier buckets. The spine is |keys|x|buckets| rows with
       <= k-element arrays — KB-scale, never the fact table.
    4. **assembly** — a probe takes its last min(c_b, k) in-bucket refs
       (explode + equi-join on (key, bucket, seq), exactly the unbucketed
       plan's shape) and, when c_b < k, tops up from the carry head
       (earlier-bucket refs are STRICTLY older than every in-bucket
       match, so ranks concatenate without comparisons).

    Parity with asof_join_topk is property-tested on randomized corpora
    (tests/test_round7.py).

    MEASURED TRADE (BASELINE.md, "k-nearest pair under the same hot
    key"): this plan pays a ~2.3-2.8x constant over the unbucketed
    k-nearest at fixture scale (6 scans / 11 exchanges vs 2 / 4 — the
    ref numbering, tails, and final resolve each re-derive the bucketed
    ref frame) while bounding the hot task at hot_rows/|buckets|
    instead of hot_rows.
    Use it ONLY when q_dq_join_key_skew reports a key hot enough that
    the unbucketed variant's single unsplittable window task dominates
    the stage (at 10x/30x fixture scale no task is near that regime, so
    the constant dominates and the unbucketed plan wins)."""
    probe_cols = probes.columns
    rseq_w = W.partitionBy(on, _BUCKET).orderBy(F.col("__ref_ts"), F.col("__ref_id"))
    refs_b = (
        refs.select(
            F.col(on), F.col(ts).alias("__ref_ts"), F.col(ref_id).alias("__ref_id")
        )
        .withColumn(_BUCKET, bucket_of("__ref_ts", bucket_width_us))
        .withColumn("__seq", F.row_number().over(rseq_w))
    )
    n_b = F.max("__seq").over(W.partitionBy(on, _BUCKET))
    tails = (
        refs_b.withColumn("__n_b", n_b)
        .filter(F.col("__seq") > F.col("__n_b") - k)  # <= k rows per bucket
        .groupBy(on, _BUCKET)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__ref_ts").alias("ts_ref"),
                        F.col("__ref_id").alias("val"),
                    )
                )
            ).alias("__tail")
        )
    )

    unioned = _union_spine(
        probes, refs_b, on, ts, "__seq", "int", F.col("__seq"),
        ref_ts_col="__ref_ts",
    ).withColumn(_BUCKET, bucket_of(ts, bucket_width_us))
    spine_w = (
        W.partitionBy(on, _BUCKET)
        .orderBy(*_spine_order(ts, "__seq"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    with_c = (
        unioned.withColumn("__c", F.last("__seq", ignorenulls=True).over(spine_w))
        .filter(F.col(_SIDE) == 1)
        .drop(_SIDE, "__seq")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
    )

    # Carry: every non-empty bucket contributes >= 1 ref more recent than
    # ALL refs in earlier buckets, so the k most recent refs from earlier
    # buckets live in at most the LAST k NON-EMPTY buckets — the running
    # collect is bounded to a (-k, -1) ROWS frame over the non-empty
    # spine (O(k^2) per row), NOT an unbounded accumulation (O(|buckets|
    # * k) per row, measured 3x slower at the 10x hot-key probe). Probes
    # in ref-less buckets pick up the nearest earlier non-empty bucket's
    # carry-OUT via one last(ignorenulls) pass over the full spine.
    ne_w = W.partitionBy(on).orderBy(_BUCKET).rowsBetween(-k, -1)
    ne = tails.withColumn(
        "__carry_in",
        F.slice(
            F.reverse(F.sort_array(F.flatten(F.collect_list("__tail").over(ne_w)))),
            1,
            k,
        ),
    ).withColumn(
        "__carry_out",
        F.slice(
            F.reverse(F.sort_array(F.concat(F.col("__tail"), F.col("__carry_in")))),
            1,
            k,
        ),
    )
    full = (
        unioned.select(on, _BUCKET)
        .distinct()
        .join(ne.select(on, _BUCKET, "__carry_in", "__carry_out"), [on, _BUCKET], "left")
    )
    prev_w = (
        W.partitionBy(on).orderBy(_BUCKET).rowsBetween(W.unboundedPreceding, -1)
    )
    carry = full.withColumn(
        "__carry",
        F.coalesce(
            F.col("__carry_in"),
            F.last("__carry_out", ignorenulls=True).over(prev_w),
        ),
    ).select(on, _BUCKET, "__carry")

    # Assembly in ONE pass over the probe frame (the fact-scale union
    # window is the expensive stage — a two-branch local/carry union
    # would compute it twice): each probe builds a <= k-element match-
    # descriptor array (in-bucket seq slots first, then carry structs),
    # explodes ONCE, and a single left equi-join on (key, bucket, seq)
    # resolves the in-bucket slots (carry slots already carry their ref).
    import pyspark.sql.types as T

    pair_type = _pair_type(refs, ts, ref_id)
    c = F.col("__c")
    local_seqs = F.when(
        c > 0, F.sequence(F.greatest(F.lit(1), c - (k - 1)), c)
    ).otherwise(F.expr("array()").cast("array<int>"))
    local_descs = F.transform(
        local_seqs,
        lambda s: F.struct(
            (c - s + 1).cast("int").alias("rank"),
            s.cast("int").alias("seq"),
            F.lit(None).cast(pair_type).alias("m"),
        ),
    )
    carry_arr = F.when(
        c < k, F.slice(F.coalesce(F.col("__carry"), F.expr("array()").cast(
            T.ArrayType(pair_type).simpleString())), 1, k)
    ).otherwise(F.expr("array()").cast(T.ArrayType(pair_type).simpleString()))
    carry_descs = F.transform(
        F.slice(carry_arr, 1, F.greatest(F.lit(k) - c, F.lit(0))),
        lambda m, i: F.struct(
            (c + i + 1).cast("int").alias("rank"),
            F.lit(None).cast("int").alias("seq"),
            m.alias("m"),
        ),
    )
    exploded = (
        with_c.join(carry, [on, _BUCKET], "left")
        .select(
            *probe_cols,
            _BUCKET,
            F.explode(F.concat(local_descs, carry_descs)).alias("__d"),
        )
        .select(*probe_cols, _BUCKET, "__d.rank", "__d.seq", "__d.m")
    )
    resolved = exploded.join(
        refs_b.select(on, _BUCKET, F.col("__seq").alias("seq"), "__ref_ts", "__ref_id"),
        [on, _BUCKET, "seq"],
        "left",
    )
    return (
        resolved.filter(F.col("__ref_id").isNotNull() | F.col("m").isNotNull())
        .select(
            *probe_cols,
            F.col("rank").alias(rank_alias),
            F.coalesce(F.col("m.val"), F.col("__ref_id")).alias("__ref_id"),
            F.coalesce(F.col("m.ts_ref"), F.col("__ref_ts")).alias("__ref_ts"),
        )
    )
