"""Exact order statistics per group by iterative histogram refinement.

``F.percentile`` is exact but buffers EVERY value of a group inside one
ObjectHashAggregate buffer — with few groups (e.g. 3 return flags) the
final merge task holds the whole column in memory, which cannot survive
a 100 TB scan. This module answers the same questions with the classic
distributed-selection plan and no data shuffle at all. One private
kernel, :func:`_select`, finds for every (group, target) pair the
smallest value whose cumulative weight, in value order, reaches the
target:

- :func:`group_percentiles` — unit weights, targets are the two rank
  neighbours of ``pos = p·(n−1)``, interpolated driver-side exactly as
  Spark ``percentile`` / DuckDB ``quantile_cont`` do;
- :func:`weighted_median` — BIGINT-cast weights, target
  ``(total + 1) // 2``, i.e. the smallest value with
  ``2·cum >= total``.

The kernel's passes, each one collected to the driver:

1. a first histogram: with approximate global ``bounds`` (e.g. from a
   parquet footer) a probe-free ``groupBy(group, bucket)``, otherwise
   one stats aggregate per group (count, weight, min, max);
2. refinement passes: every target's candidate interval becomes a row
   of a broadcast probe table, and one map-side-combinable
   ``groupBy(probe, bucket)`` records each bucket's row count, weight
   and ACTUAL min/max value; the driver narrows each target to the
   bucket where its cumulative weight crosses. Intervals that hold one
   distinct value resolve at once, so value skew cannot stall it;
3. one filtered fetch of the ≤ ``HIST_FETCH_CAP`` rows left in each
   interval, picked exactly on the driver.

Boundary exactness: the bucket index is monotone in the value, so
bucket value-ranges are disjoint and ordered, and the next pass's
membership test (``v BETWEEN bucket_min AND bucket_max``) selects
EXACTLY the rows counted in that bucket. Probe bounds and the bucket
offset ``v - lo`` stay in the value column's own type (integers widen
to BIGINT) and are cast to double only after the subtraction, so
BIGINT values above 2^53 and wide decimals never collapse into a
zero-width interval. A BIGINT interval spanning 2^63 or more overflows
that subtraction and fails with Spark's overflow error.

Null contract (both functions): rows whose value or weight is null are
dropped before any total; groups left with no rows produce no output
row. A negative weight raises ``ValueError``. Null group keys form a
group of their own, as in ``GROUP BY``.

Designed for low-cardinality groups: the probe table is broadcast and
each pass collects at most probes × ``HIST_BUCKETS`` tiny rows.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

HIST_BUCKETS = 8192  # histogram resolution per refinement pass
HIST_FETCH_CAP = 65_536  # interval size below which rows are fetched exactly
_MAX_PASSES = 8  # refinement passes; 2 resolve a 10^12-row group


class FetchCapExceeded(RuntimeError):
    """An interval still holds more than ``HIST_FETCH_CAP`` rows after
    ``_MAX_PASSES`` refinement passes, so fetching it would be an
    unbounded collect."""


def group_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: Sequence[float],
    names: Sequence[str] | None = None,
    count_name: str = "n_rows",
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Exact interpolated percentiles per group: one driver-assembled
    row per group with ``count_name`` (the non-null value count the
    ranks are defined over) and one double column per percentile.

    Same rank arithmetic and interpolation as Spark ``percentile`` /
    DuckDB ``quantile_cont``: ``pos = p·(n−1)``, value = ``v_lo +
    frac·(v_hi − v_lo)`` on the float-converted rank neighbours.

    ``bounds=(lo, hi)`` — APPROXIMATE global value bounds — replaces
    the stats aggregate with the first histogram. Values outside them
    clamp into the edge buckets (whose recorded min/max are the actual
    extremes), so wrong bounds cost balance, never rows.
    """
    if names is None:
        names = [f"p{int(p * 100)}" for p in percentiles]
    g, v = group_col, value_col

    def ranks(n: int) -> list[tuple[int, int, float]]:
        # 1-based rank neighbours and interpolation fraction per p
        out = []
        for p in percentiles:
            pos = float(p) * float(n - 1)
            out.append(
                (math.floor(pos) + 1, math.ceil(pos) + 1, pos - math.floor(pos))
            )
        return out

    rows = df.select(g, v, F.lit(1).cast("long").alias("__w")).where(
        F.col(v).isNotNull()
    )
    totals, found = _select(
        rows,
        g,
        v,
        lambda n: {r for lo, hi, _ in ranks(n) for r in (lo, hi)},
        bounds,
    )
    out_rows = []
    for gv in sorted(totals, key=str):
        row: list = [gv, totals[gv]]
        for lo, hi, frac in ranks(totals[gv]):
            vlo, vhi = float(found[gv, lo]), float(found[gv, hi])
            row.append(vlo + frac * (vhi - vlo))
        out_rows.append(tuple(row))
    schema = StructType(
        [
            StructField(g, df.schema[g].dataType),
            StructField(count_name, LongType(), False),
        ]
        + [StructField(name, DoubleType()) for name in names]
    )
    return df.sparkSession.createDataFrame(out_rows, schema)


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    count_name: str = "total_weight",
    out_name: str = "weighted_median",
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value v
    whose cumulative BIGINT-cast weight (ordered by value) reaches
    half the group's total — ``2·cum(v) >= total``, the SQL twin's
    ``MIN(v) WHERE 2*cum >= total``.

    One driver-assembled row per group: ``count_name`` is the total
    weight, ``out_name`` keeps the value column's own type. A group
    whose total weight is zero has no weighted median and no row.
    """
    g, v = group_col, value_col
    rows = df.select(g, v, F.col(weight_col).cast("long").alias("__w")).where(
        F.col(v).isNotNull() & F.col("__w").isNotNull()
    )
    totals, found = _select(
        rows, g, v, lambda tot: {(tot + 1) // 2} if tot > 0 else set()
    )
    schema = StructType(
        [
            StructField(g, df.schema[g].dataType),
            StructField(count_name, LongType(), False),
            StructField(out_name, df.schema[v].dataType),
        ]
    )
    return df.sparkSession.createDataFrame(
        [
            (gv, totals[gv], found[gv, (totals[gv] + 1) // 2])
            for gv in sorted(totals, key=str)
            if totals[gv] > 0
        ],
        schema,
    )


def _select(
    rows: DataFrame,
    g: str,
    v: str,
    targets_for: Callable[[int], Iterable[int]],
    bounds: tuple[float, float] | None = None,
) -> tuple[dict, dict]:
    """The refinement kernel over ``rows = (g, v, __w)`` with nulls
    already dropped. ``targets_for(total_weight)`` names each group's
    target cumulative weights. Returns ``({group: total_weight},
    {(group, target): value})`` with values in the column's own type.
    """
    spark = rows.sparkSession
    buckets = HIST_BUCKETS
    v_type = rows.schema[v].dataType
    probe_type = LongType() if isinstance(v_type, IntegralType) else v_type
    aggs = [
        F.count("*").alias("__c"),
        F.sum("__w").alias("__wc"),
        F.min(v).alias("__bmin"),
        F.max(v).alias("__bmax"),
    ]

    # 1. first histogram (bounds mode) or one stats "bucket" per group
    if bounds is not None and bounds[1] > bounds[0]:
        width = (bounds[1] - bounds[0]) / buckets
        b0 = F.greatest(
            F.lit(0),
            F.least(
                F.floor((F.col(v).cast("double") - F.lit(bounds[0])) / F.lit(width)),
                F.lit(buckets - 1),
            ),
        ).cast("long")
    else:
        b0 = F.lit(0).cast("long")
    by_group: dict = {}
    for r in _collect(
        rows.groupBy(g, b0.alias("__b")).agg(*aggs, F.min("__w").alias("__wmin"))
    ):
        by_group.setdefault(r[g], []).append(r)
    if any(r["__wmin"] < 0 for bl in by_group.values() for r in bl):
        raise ValueError(f"negative weight in {v!r} selection")

    totals: dict = {}
    state: dict = {}  # (group, target) -> [lo, hi, weight_below, rows_in]
    for gv, bl in by_group.items():
        bl.sort(key=lambda r: r["__b"])
        totals[gv] = sum(r["__wc"] for r in bl)
        for t in targets_for(totals[gv]):
            state[gv, t] = _narrow(bl, 0, t)

    def probed(intervals: dict) -> DataFrame:
        # rows inside each (group, lo, hi, below) interval, tagged with
        # the interval's index as __probe
        probes = spark.createDataFrame(
            [
                (i, gv, lo, hi, float(hi - lo) / buckets)
                for i, (gv, lo, hi, _) in enumerate(intervals)
            ],
            StructType(
                [
                    StructField("__probe", LongType(), False),
                    StructField("__pg", rows.schema[g].dataType),
                    StructField("__plo", probe_type, False),
                    StructField("__phi", probe_type, False),
                    StructField("__bw", DoubleType(), False),
                ]
            ),
        )
        return rows.join(
            F.broadcast(probes), rows[g].eqNullSafe(probes["__pg"])
        ).where(F.col(v).between(F.col("__plo"), F.col("__phi")))

    # 2. refinement: equal intervals share one probe
    found: dict = {}
    for pass_no in range(_MAX_PASSES + 1):
        wide: dict = {}  # (group, lo, hi, below) -> [(group, target)]
        narrow: dict = {}
        for key, st in state.items():
            if key in found:
                continue
            if st[0] == st[1]:  # single-valued interval: done
                found[key] = st[0]
                continue
            big = st[3] > HIST_FETCH_CAP
            (wide if big else narrow).setdefault((key[0], *st[:3]), []).append(key)
        if not wide:
            break
        if pass_no == _MAX_PASSES:
            (gv, lo, hi, _), keys = next(iter(wide.items()))
            raise FetchCapExceeded(
                f"group {gv!r}: {state[keys[0]][3]} rows in [{lo}, {hi}] "
                f"after {_MAX_PASSES} passes (HIST_FETCH_CAP={HIST_FETCH_CAP})"
            )
        bucket = F.least(
            F.floor((F.col(v) - F.col("__plo")).cast("double") / F.col("__bw")),
            F.lit(buckets - 1),
        ).cast("long")
        by_probe: dict = {}
        for r in _collect(
            probed(wide).groupBy("__probe", bucket.alias("__b")).agg(*aggs)
        ):
            by_probe.setdefault(r["__probe"], []).append(r)
        for i, keys in enumerate(wide.values()):
            bl = sorted(by_probe.get(i, []), key=lambda r: r["__b"])
            for key in keys:
                state[key] = _narrow(bl, state[key][2], key[1])

    # 3. exact fetch of every interval left (each ≤ HIST_FETCH_CAP rows):
    # sorted by (probe, value), the running weight is monotone, so each
    # target is the first row whose running weight reaches it
    if narrow:
        got = (
            probed(narrow)
            .select("__probe", v, "__w")
            .toArrow()
            .sort_by([("__probe", "ascending"), (v, "ascending")])
        )
        probe = got["__probe"].to_numpy()
        cum = np.cumsum(got["__w"].to_numpy())
        for i, keys in enumerate(narrow.values()):
            start = np.searchsorted(probe, i)
            before = cum[start - 1] if start else 0
            for key in keys:
                hit = np.searchsorted(cum, before + key[1] - state[key][2])
                found[key] = got[v][int(hit)].as_py()
    return totals, found


def _collect(df: DataFrame) -> list[dict]:
    # Arrow batches reach Python several times faster than pickled Rows
    # (0.3 s vs 1.2 s for 150k rows on 4 cores)
    return df.toArrow().to_pylist()


def _narrow(buckets: list, below: int, target: int) -> list:
    """The new ``[lo, hi, weight_below, rows_in]`` state for the
    bucket (sorted by index) where the cumulative weight, starting
    from ``below``, first reaches ``target``."""
    cum = below
    for b in buckets:
        if cum + b["__wc"] >= target:
            return [b["__bmin"], b["__bmax"], cum, b["__c"]]
        cum += b["__wc"]
    raise AssertionError(f"target {target} above total weight {cum}")
