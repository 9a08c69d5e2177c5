"""Distributed EXACT order statistics without a per-group single-reducer
buffer (SURVEY.md §2 A7/A8 at corpus grain).

``F.percentile`` / ``F.median`` are exact but their aggregation buffer
gathers every value of a group onto one task — the right trade at
per-key grain (groups of ~60 rows), a scale wall at corpus grain
(3 groups x 10^11 rows at 100 TB; measured 15x wall at 10x data on the
sf1 fixture). ``approx_percentile`` is the sketch path when error is
acceptable; this module is the EXACT corpus-grain path.

One selection engine, ``_hist_rank_select``, serves every entry point
(``exact_group_quantiles``, ``exact_group_rank_values``,
``exact_weighted_quantiles`` and ``functions.ranks.with_global_ntiles_cuts``):
ITERATIVE HISTOGRAM SELECTION — the classic distributed selection
algorithm (bisection on value range with per-bucket counts):

  1. one map-combinable pass per group: count, finite min/max, and the
     rows (and weight) of each value block — n_groups rows to the
     driver (guarded, see ``_MAX_GROUPS``). Values sort in Spark's
     order, -Inf < finite < +Inf < NaN, so every non-finite block holds
     one value: a target that falls in one resolves on the driver with
     no scan, and finite targets bisect over the finite rows only;
  2. per refinement pass, ONE map-combinable aggregation computes, for
     every unresolved (group, value-interval), a B-bucket histogram of
     (count, weight, exact min, exact max) — n_intervals x B scalars to
     the driver, never rows. The driver walks each histogram's
     cumulative counts (weights, for weighted quantiles) to locate the
     bucket holding each target;
  3. a bucket whose min == max IS the answer (ties collapse); a bucket
     with <= ``_COLLECT_LIMIT`` rows is fetched and finished exactly on
     the driver; anything larger refines over [bucket_min, bucket_max]
     (each pass cuts the candidate value range by ~B, so doubles
     converge in <= ~6 passes; 1 pass + 1 bounded fetch is typical).

No sampling job, no shuffle of rows and no ``localCheckpoint`` pins:
2-4 scans of the narrow input with tiny aggregation traffic — at 100 TB
the bytes that cross the network are "n_intervals x B scalars per
pass". Results are EXACTLY the values at the requested ranks of the
sorted multiset, verified caller-by-caller against the DuckDB oracle.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.stats import f32

# Histogram buckets per (group, interval) per refinement pass. Partial
# aggregation state per map task is bounded by n_intervals x B cells of
# (count, min, max); driver traffic per pass is the same. 4096 splits a
# 10^11-row group under _COLLECT_LIMIT in two passes.
_HIST_BUCKETS = 4096
# A candidate interval at or under this row count is fetched to the
# driver (Arrow toPandas — a few MB) and finished exactly (sorted
# pick); larger intervals refine through another histogram pass.
_COLLECT_LIMIT = 131072
# Total fetched rows per invocation; intervals past the budget refine
# instead, so driver memory stays bounded whatever the target count.
_FETCH_BUDGET = 4_000_000
# Driver-collect cardinality guard (VERDICT r12 #5): pass 1 collects
# one row per group, so a high-cardinality group column would build a
# driver-sized result. Every declared caller is low-cardinality
# (priorities, event types, sources); anything past this bound is a
# misuse of corpus-grain machinery, not a workload.
_MAX_GROUPS = 100_000
# Bisection on IEEE doubles cuts the representable range by ~B per
# pass, and non-finite values never enter an interval (pass-1 value
# blocks), so 20 passes is unreachable — a hard stop against an
# undiscovered degeneracy, not a tunable.
_MAX_HIST_PASSES = 20
# Pass-1 value blocks in Spark's ascending order; all but "fin" hold a
# single value.
_BLOCKS = ("ninf", "fin", "pinf", "nan")


def _check_group_guard(n_groups: int, where: str) -> None:
    if n_groups > _MAX_GROUPS:
        raise ValueError(
            f"{where}: {n_groups} distinct groups exceeds the driver-collect "
            f"guard ({_MAX_GROUPS}). This operator computes corpus-grain "
            "order statistics for LOW-cardinality groups; for entity-grain "
            "keys use a per-key aggregate (F.percentile) instead."
        )


def _interval_case(intervals: dict, value_expr) -> object:
    """WHEN-chain mapping each row to ``iid * B + bucket`` (long) for
    the interval containing it, NULL outside every interval — a pure
    codegen expression, so the histogram/fetch passes carry no join,
    no broadcast and no driver-built DataFrame (each of those costs a
    visible fraction of a small job's wall)."""
    B = _HIST_BUCKETS
    expr = None
    for iid, (g, lo, hi, _ab, _t) in intervals.items():
        cond = F.col("g").eqNullSafe(F.lit(g)) & F.col("v").between(
            F.lit(lo), F.lit(hi)
        )
        cell = F.lit(iid * B) + F.least(
            F.floor((F.col("v") - F.lit(lo)) / (F.lit(hi) - F.lit(lo)) * B),
            F.lit(B - 1),
        ).cast("long") if value_expr else F.lit(iid).cast("long")
        expr = F.when(cond, cell) if expr is None else expr.when(cond, cell)
    return expr


def _walk(cells: list, below, targets: list, eps: float):
    """Yield ``(cell, below_cell, picked)`` for each cell that picks a
    target: ``cells`` are ``(count, measure, lo, hi)`` in ascending
    value order, cumulated from ``below``; a sorted target t goes to
    the first cell whose cumulative measure reaches ``t - eps``. A
    target still unreached after the last cell (float rounding of
    fractional weights) goes to the last cell."""
    ti = 0
    cum = below
    for i, cell in enumerate(cells):
        last = i == len(cells) - 1
        picked = []
        while ti < len(targets) and (last or targets[ti] - eps <= cum + cell[1]):
            picked.append(targets[ti])
            ti += 1
        if picked:
            yield cell, cum, picked
        cum += cell[1]


def _hist_rank_select(
    src: DataFrame,
    groups: dict,
    weight: str | None = None,
    eps: float = 0.0,
) -> dict:
    """Exact values at requested cumulative targets per group via
    iterative histogram selection (module docstring).

    ``src``: columns ``g`` (any atomic type; NULL groups need no
    entry), ``v`` (double, non-NULL) and, with ``weight``, that weight
    column (double, positive, finite). ``groups``: {g: (cells,
    targets)} — ``cells`` the group's level-0 cells ``(count, measure,
    lo, hi)`` in ascending value order (``_blocks`` of its pass-1 row),
    ``targets`` the cumulative measures to select: 1-indexed ranks in
    [1, n_g] without a weight, cumulative weights with one. A target t
    selects the smallest value whose cumulative measure reaches
    ``t - eps`` (``eps`` is 0 for counts and integral weights).

    Returns {(g, t): (value, below, eq)} where ``value`` is the exact
    double at t, ``below`` the group's measure strictly below it and
    ``eq`` the measure equal to it (every row of one value lands in one
    bucket, so both are exact whichever step resolves the target).
    """
    B = _HIST_BUCKETS
    w = [weight] if weight else []
    measure = F.sum(weight) if weight else F.count("*")

    # interval state: iid -> [g, lo, hi, below, targets]
    pending: dict[int, list] = {}
    resolved: dict = {}
    to_fetch: dict[int, list] = {}
    fetch_rows = 0
    next_iid = 0

    def _settle(g, cell, below, targets) -> None:
        """Route a cell's targets: resolved / fetch / refine."""
        nonlocal next_iid, fetch_rows
        count, m, lo, hi = cell
        if not lo < hi:
            # one value (NaN block included: NaN < NaN is false)
            for t in targets:
                resolved[(g, t)] = (lo, below, m)
            return
        iv = [g, lo, hi, below, targets]
        if count <= _COLLECT_LIMIT and fetch_rows + count <= _FETCH_BUDGET:
            fetch_rows += count
            to_fetch[next_iid] = iv
        else:
            pending[next_iid] = iv
        next_iid += 1

    for g, (cells, targets) in groups.items():
        if targets:
            cells = [c for c in cells if c[0]]
            for cell, below, picked in _walk(cells, 0, sorted(targets), eps):
                _settle(g, cell, below, picked)

    passes = 0
    while pending:
        passes += 1
        if passes > _MAX_HIST_PASSES:
            raise RuntimeError(
                "histogram selection failed to converge "
                f"({_MAX_HIST_PASSES} passes over finite values)"
            )
        current, pending = pending, {}
        cells = (
            src.select(_interval_case(current, True).alias("_cell"), "v", *w)
            .where(F.col("_cell").isNotNull())
            .groupBy("_cell")
            .agg(
                F.count("*").alias("_c"),
                measure.alias("_m"),
                F.min("v").alias("_mn"),
                F.max("v").alias("_mx"),
            )
            .toPandas()
        )
        per_iv: dict[int, list] = defaultdict(list)
        for cell, c, m, mnb, mxb in zip(
            cells["_cell"], cells["_c"], cells["_m"], cells["_mn"], cells["_mx"]
        ):
            per_iv[int(cell) // B].append(
                (int(cell) % B, (int(c), m.item(), float(mnb), float(mxb)))
            )
        for iid, (g, _lo, _hi, below, targets) in current.items():
            iv_cells = [c for _b, c in sorted(per_iv[iid])]
            for cell, cell_below, picked in _walk(iv_cells, below, targets, eps):
                _settle(g, cell, cell_below, picked)

    if to_fetch:
        pdf = (
            src.select(_interval_case(to_fetch, False).alias("_iid"), "v", *w)
            .where(F.col("_iid").isNotNull())
            .toPandas()
        )
        for iid, part in pdf.groupby("_iid"):
            g, _lo, _hi, below, targets = to_fetch[iid]
            # measure per distinct value: equal values share their
            # cumulative measure (RANGE-frame semantics)
            vals, inv = np.unique(part["v"].to_numpy(), return_inverse=True)
            m = np.bincount(inv, weights=part[weight].to_numpy() if weight else None)
            cum = below + np.cumsum(m)
            for t in targets:
                i = min(int(np.searchsorted(cum, t - eps)), len(vals) - 1)
                resolved[(g, t)] = (float(vals[i]), (cum[i] - m[i]).item(), m[i].item())
    return resolved


def _value_stats(src: DataFrame, weight: str | None = None, extra=()) -> list:
    """Pass 1, per group ``g``: ``n`` (non-NULL values), finite ``mn``
    / ``mx``, rows ``c_<block>`` per value block and, with ``weight``,
    its weight ``m_<block>`` — the only unconditional driver traffic,
    one map-combinable aggregation (plus the caller's ``extra``)."""
    v = F.col("v")
    fin = ~F.isnan(v) & (F.abs(v) != math.inf)
    conds = {"ninf": v == -math.inf, "fin": fin, "pinf": v == math.inf, "nan": F.isnan(v)}
    aggs = [
        F.count("v").alias("n"),
        F.min(F.when(fin, v)).alias("mn"),
        F.max(F.when(fin, v)).alias("mx"),
    ]
    for b in _BLOCKS:
        aggs.append(F.count(F.when(conds[b], 1)).alias(f"c_{b}"))
        if weight:
            aggs.append(F.sum(F.when(conds[b], F.col(weight))).alias(f"m_{b}"))
    return src.groupBy("g").agg(*aggs, *extra).collect()


def _blocks(r, weighted: bool = False) -> list:
    """A pass-1 row as ``_hist_rank_select`` level-0 cells."""
    bounds = {
        "ninf": (-math.inf, -math.inf),
        "fin": (r["mn"], r["mx"]),
        "pinf": (math.inf, math.inf),
        "nan": (math.nan, math.nan),
    }
    return [
        (r[f"c_{b}"], float(r[f"m_{b}"] or 0.0) if weighted else r[f"c_{b}"], *bounds[b])
        for b in _BLOCKS
    ]


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group quantiles (plus ``n``), distributed.

    Output: one row per group — ``<group_col>, n, p<q*100>...`` with
    float32-cast quantile values (hash-stable across engines). NULL
    values are excluded, matching SQL ``quantile_cont`` /
    ``F.percentile``; a NULL group yields no output row (join
    semantics of the original form). Group column may be any atomic
    type. Linear interpolation at rank q*(n-1), exactly
    pandas/DuckDB ``quantile_cont``: (1-frac)*v_lo + frac*v_hi.
    """
    spark = df.sparkSession
    g_type = df.schema[group_col].dataType.simpleString()
    src = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    stats = _value_stats(src)
    _check_group_guard(len(stats), "exact_group_quantiles")

    rank_sets: dict = {}
    picks: dict = {}  # g -> list of (q, lo_rank, hi_rank, frac)
    for r in stats:
        g, n = r["g"], r["n"]
        if g is None:
            continue  # NULL group: dropped, as in the join form
        ranks = set()
        gp = []
        for q in qs:
            rk = q * (n - 1)
            lo, hi = math.floor(rk), math.ceil(rk)
            frac = rk - lo
            ranks.add(lo + 1)
            ranks.add(hi + 1)
            gp.append((q, lo + 1, hi + 1, frac))
        rank_sets[g] = (_blocks(r), ranks)
        picks[g] = (n, gp)

    sel = _hist_rank_select(src, rank_sets)
    rows = []
    for g, (n, gp) in picks.items():
        out = [g, n]
        for q, lo, hi, frac in gp:
            v_lo = sel[(g, lo)][0]
            if hi == lo:
                out.append(1.0 * v_lo)
            else:
                v_hi = sel[(g, hi)][0]
                # same two-term IEEE sum as the old agg form
                out.append((1.0 - frac) * v_lo + frac * v_hi)
        rows.append(tuple(out))
    p_names = [f"p{int(round(q * 100))}" for q in qs]
    schema = f"g {g_type}, n long, " + ", ".join(f"{p} double" for p in p_names)
    return spark.createDataFrame(rows, schema).select(
        F.col("g").alias(group_col), "n", *[f32(F.col(p)).alias(p) for p in p_names]
    )


def exact_group_rank_values(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ranks_of_n,
) -> DataFrame:
    """Exact per-group ORDER-STATISTIC values, distributed — the
    explicit-rank sibling of ``exact_group_quantiles`` (no
    interpolation): ``ranks_of_n(n)`` maps a group's non-NULL count to
    ``{label: 1-indexed rank}``; the output carries, per group, the
    value at each labeled rank under the ascending value order. The
    value at a rank of a sorted multiset is deterministic regardless of
    tie order, so no tiebreak column is needed even when values repeat.
    A rank outside [1, n] (or None) yields NULL for that label — the
    same corner semantics as a SQL ``max(CASE WHEN rn = k ...)`` whose
    k exceeds n (conformal's k > n corner). A NULL group yields a row
    with ``n`` and all labels NULL (left-join semantics of the
    original form).

    Output: one row per group — ``<group_col>, n, <label>...`` with
    raw double values (callers cast at their own f32 boundary). Label
    order follows the first group's dict; every group must yield the
    same label set.
    """
    spark = df.sparkSession
    g_type = df.schema[group_col].dataType.simpleString()
    src = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    stats = _value_stats(src)
    _check_group_guard(len(stats), "exact_group_rank_values")

    labels = None
    rank_sets: dict = {}
    grmaps: dict = {}
    for r in stats:
        g, n = r["g"], r["n"]
        rmap = ranks_of_n(n)
        if labels is None:
            labels = list(rmap)
        elif list(rmap) != labels:
            raise ValueError(f"inconsistent rank labels: {list(rmap)} vs {labels}")
        grmaps[g] = (n, rmap)
        if g is None:
            continue  # no selection; row still emitted with NULL labels
        ranks = {
            int(rank)
            for rank in rmap.values()
            if rank is not None and 1 <= int(rank) <= n
        }
        rank_sets[g] = (_blocks(r), ranks)

    sel = _hist_rank_select(src, rank_sets)
    rows = []
    for g, (n, rmap) in grmaps.items():
        out = [g, n]
        for label in labels or []:
            rank = rmap[label]
            if g is None or rank is None or not (1 <= int(rank) <= n):
                out.append(None)
            else:
                out.append(sel[(g, int(rank))][0])
        rows.append(tuple(out))
    schema = f"g {g_type}, n long" + "".join(f", {lbl} double" for lbl in (labels or []))
    return spark.createDataFrame(rows, schema).select(
        F.col("g").alias(group_col), "n", *(labels or [])
    )


def exact_group_rank_value(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rank_of_n,
    out_col: str = "v_at_rank",
) -> DataFrame:
    """Single-rank convenience wrapper over ``exact_group_rank_values``:
    output ``<group_col>, n, <out_col>``."""
    return exact_group_rank_values(
        df, group_col, value_col, lambda n: {out_col: rank_of_n(n)}
    )


def exact_weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Exact WEIGHTED quantiles, distributed — quantile q is the
    smallest value whose cumulative weight reaches ``q * total_weight``
    (the lower weighted quantile — the definition both engines can
    state identically, so results hash-match; with integer-valued
    weights every cumulative sum is exact in doubles regardless of
    summation order). Equal values share their cumulative weight
    (RANGE-frame semantics); values sort -Inf < finite < +Inf < NaN.

    Pass 1 plus one ``_hist_rank_select`` over a single group, walking
    cumulative weight instead of counts. Rows with a NULL value or a
    NULL / non-positive weight are skipped; a NaN or infinite weight
    raises ``ValueError``.

    Output: ``q (double), wq (float32 value), total_weight (double)``.
    """
    spark = df.sparkSession
    src = (
        df.select(
            F.lit(0).alias("g"),
            F.col(value_col).cast("double").alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .where(F.col("v").isNotNull() & F.col("w").isNotNull() & (F.col("w") > 0))
    )
    w = F.col("w")
    stats = _value_stats(
        src,
        "w",
        (
            F.sum("w").alias("tw"),
            F.max(F.abs(w - F.round(w))).alias("frac"),
            F.count(F.when(F.isnan(w) | (F.abs(w) == math.inf), 1)).alias("bad_w"),
        ),
    )
    out_schema = "q double, wq float, total_weight double"
    if not stats:
        return spark.createDataFrame([], out_schema)
    st = stats[0]
    if st["bad_w"]:
        raise ValueError(
            f"exact_weighted_quantiles: weight column {weight_col!r} holds "
            f"{st['bad_w']} NaN or infinite weight(s)"
        )
    total_w = float(st["tw"])
    # Selection tolerance (ADVICE r6-r8). Integer-valued weights make
    # every cumulative sum exact in doubles (up to 2^53): eps = 0,
    # exact selection. Fractional weights: bucket and fetch sums round
    # differently from the q * total_w targets, so a cumulative weight
    # can land a few ulps below a target it reaches. Each side carries
    # at most n additions, each off by <= ulp(total_w): eps = 2 n ulp —
    # orders of magnitude below any legitimate weight gap, which a flat
    # fraction of total_w would not be.
    eps = (
        0.0
        if float(st["frac"]) == 0.0
        else 2.0 * st["n"] * math.ulp(max(total_w, 1.0))
    )
    targets = {float(q) * total_w for q in qs}
    sel = _hist_rank_select(src, {0: (_blocks(st, weighted=True), targets)}, "w", eps)
    rows = [(float(q), sel[(0, float(q) * total_w)][0], total_w) for q in qs]
    return spark.createDataFrame(rows, out_schema).select(
        "q", f32(F.col("wq")).alias("wq"), "total_weight"
    )


def group_prefix_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """EXCLUSIVE per-group running sum of an INTEGER-valued column in
    ``order_col`` order, distributed — the prefix-sum sibling of
    ``exact_group_rank_values`` for corpus-grain cumulative layouts
    (sequence packing, offset assignment) keyed by a low-cardinality
    group: a ``Window.partitionBy(group)`` cumsum funnels each group
    through one task; this range-partitions (group, order), sends
    per-(partition, group) SUMS to the driver (n_partitions x n_groups
    integers — exact, order-independent), broadcasts the prefix
    offsets back, and finishes with one window bounded by PARTITION
    size. Integer sums make every partial exact, so the result is
    bit-identical to the single-task form.

    Output: the input columns plus ``<out_col>`` (long). ``order_col``
    must be unique within each group (a doc/event id), so the layout
    is total and engine-portable.
    """
    spark = df.sparkSession
    g_type = df.schema[group_col].dataType.simpleString()
    nparts = max(spark.sparkContext.defaultParallelism, 2)
    s = (
        # pin the input so the range sampler and the shuffle don't each
        # re-run the caller's upstream; lazy: the sampling job itself
        # materializes the blocks
        df.localCheckpoint(eager=False)
        .repartitionByRange(nparts, group_col, order_col)
        .localCheckpoint(eager=False)
        .withColumn("_pid", F.spark_partition_id())
    )

    # Pass 1: per-(partition, group) sums — the only driver traffic.
    cells = s.groupBy("_pid", group_col).agg(
        F.sum(F.col(value_col).cast("long")).alias("_sw")
    ).collect()
    per_g: dict = defaultdict(list)
    for r in cells:
        per_g[r[group_col]].append((r["_pid"], int(r["_sw"] or 0)))
    offs = []
    for g, gcells in per_g.items():
        gcells.sort()  # pid order == ascending (g, order) range order
        off = 0
        for pid, sw in gcells:
            offs.append((pid, g, off))
            off += sw
    odf = F.broadcast(
        spark.createDataFrame(offs, f"_pid int, {group_col} {g_type}, _off long")
    )

    # Pass 2: local exclusive cumsum within each (partition, group)
    # cell — bounded by partition size — plus the broadcast offset.
    w = W.partitionBy("_pid", group_col).orderBy(order_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    local = F.sum(F.col(value_col).cast("long")).over(w) - F.col(value_col)
    return (
        s.join(odf, ["_pid", group_col])
        .withColumn(out_col, F.col("_off") + local)
        .drop("_pid", "_off")
    )
