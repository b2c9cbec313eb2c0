"""Differential tests for the histogram-refinement order statistics.

``group_percentiles`` must be value-identical to Spark's exact
``percentile`` (and therefore DuckDB ``quantile_cont``), and
``weighted_median`` to a local reference, on every input its signature
accepts: ties, skewed and single-row groups, null values, null weights,
null group keys, and BIGINT/DECIMAL values that doubles cannot tell
apart. Small ``HIST_FETCH_CAP``/``HIST_BUCKETS`` settings force the
refinement passes, not just the direct fetch.
"""

from __future__ import annotations

import math
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.operators import order_stats
from etl_pipeline_project_auraverse_spark.operators.order_stats import (
    group_percentiles,
    weighted_median,
)

PS = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
NAMES = [f"q{i}" for i in range(len(PS))]


def _reference(spark, df, ps=PS, names=NAMES):
    return {
        r["g"]: [r[n] for n in names]
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", p).alias(n) for p, n in zip(ps, names)])
        .collect()
    }


def _assert_close(got, want):
    assert got.keys() == want.keys()
    for g in want:
        for a, b in zip(got[g], want[g]):
            assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9), (g, got[g], want[g])


def _percentile_case(case):
    rng = random.Random(42)
    if case == "uniform":
        return [(f"g{i % 4}", rng.uniform(0, 1000)) for i in range(2000)], "double"
    if case == "ties":
        return [(f"g{i % 3}", float(rng.randint(0, 9))) for i in range(1500)], "double"
    if case == "skewed":
        rows = [("hot", rng.gauss(100, 15)) for _ in range(3000)]
        return rows + [("cold", float(i)) for i in range(7)], "double"
    if case == "singletons":  # n=1 groups exercise lo==hi ranks at every p
        return [(f"s{i}", float(i * 10)) for i in range(5)], "double"
    if case == "ties_nulls":  # ties, nulls, a single-row, an all-null
        # and a null-key group, over BIGINT values
        return [
            ("a", 1), ("a", 1), ("a", 2), ("a", 5), ("a", 5), ("a", 9),
            ("b", 3), ("b", None), ("b", 4),
            ("c", 7),
            ("d", None),
            (None, 11), (None, 12),
        ], "long"
    if case == "off_grid":  # p90 interpolates between distinct neighbours
        return [("g", v) for v in [0, 1, 1, 2, 10, 100, 1000]], "long"
    assert case == "empty"
    return [], "long"


@pytest.mark.parametrize(
    "case",
    ["uniform", "ties", "skewed", "singletons", "ties_nulls", "off_grid", "empty"],
)
def test_matches_spark_exact_percentile(spark, case):
    rows, v_type = _percentile_case(case)
    df = spark.createDataFrame(rows, f"g string, v {v_type}").repartition(8)
    out = group_percentiles(df, "g", "v", PS, NAMES)
    assert [f.name for f in out.schema.fields] == ["g", "n_rows", *NAMES]
    got = {r["g"]: [r[n] for n in NAMES] for r in out.collect()}
    nonnull = df.where(F.col("v").isNotNull())
    _assert_close(got, _reference(spark, nonnull))
    counts = {r["g"]: r["n_rows"] for r in out.collect()}
    assert counts == {r["g"]: r["c"] for r in nonnull.groupBy("g").agg(F.count("*").alias("c")).collect()}


def test_counts_ignore_nulls(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)], "g string, v double"
    )
    out = {
        r["g"]: (r["n_rows"], r["p50"])
        for r in group_percentiles(df, "g", "v", [0.5], ["p50"]).collect()
    }
    # group b has no non-null values -> no output row, like F.percentile+HAVING
    assert out == {"a": (2, 2.0)}


def test_fused_path_empty_and_all_null_groups(spark):
    """Inputs under ``HIST_FETCH_CAP`` skip refinement and go straight to
    the exact fetch: an all-null group still yields no row there, and an
    empty input still yields an empty frame with the full schema."""
    df = spark.createDataFrame(
        [("a", None), ("b", 5.0)], "g string, v double"
    )
    out = {
        r["g"]: (r["n_rows"], r["p50"])
        for r in group_percentiles(df, "g", "v", [0.5], ["p50"]).collect()
    }
    assert out == {"b": (1, 5.0)}
    empty = group_percentiles(
        df.where(F.col("v").isNull() & F.col("v").isNotNull()),
        "g", "v", [0.5], ["p50"],
    )
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == ["g", "n_rows", "p50"]


def test_plan_has_no_single_group_aggregation(spark):
    """The point of the operator: no ObjectHashAggregate percentile
    buffer anywhere in the plan."""
    df = spark.createDataFrame([("a", 1.0)] * 10, "g string, v double")
    plan = (
        group_percentiles(df, "g", "v", [0.5], ["p50"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "percentile" not in plan.lower()


# ---------------------------------------------------------------------------
# Values a double cannot separate: BIGINT near 2^62 and DECIMAL(38,2)
# above 2^53. Probe bounds and bucket offsets stay in the column's own
# type, so refinement still narrows; checked against pure-Python
# int/Decimal references with the operators' own rank arithmetic.
# ---------------------------------------------------------------------------
def _wide_rows(v_type):
    rng = random.Random(5)
    if v_type == "bigint":
        base, step = 2**62, 1
    else:
        base, step = Decimal(2**53), Decimal("0.01")
    return [
        (f"g{i % 2}", base + step * rng.randrange(5000), rng.randint(1, 4))
        for i in range(400)
    ]


def _percentiles_reference(rows, ps):
    by_g: dict = {}
    for g, v, _ in rows:
        by_g.setdefault(g, []).append(v)
    out = {}
    for g, vs in by_g.items():
        vs.sort()
        vals = []
        for p in ps:
            pos = float(p) * float(len(vs) - 1)
            lo, hi = vs[math.floor(pos)], vs[math.ceil(pos)]
            frac = pos - math.floor(pos)
            vals.append(float(lo) + frac * (float(hi) - float(lo)))
        out[g] = (len(vs), vals)
    return out


@pytest.mark.parametrize("v_type", ["bigint", "decimal(38,2)"])
def test_wide_types_exact(spark, v_type, monkeypatch):
    monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", 8)
    monkeypatch.setattr(order_stats, "HIST_BUCKETS", 16)
    rows = _wide_rows(v_type)
    df = spark.createDataFrame(rows, f"g string, v {v_type}, w bigint")
    got = {
        r["g"]: (r["n_rows"], [r[n] for n in NAMES])
        for r in group_percentiles(df, "g", "v", PS, NAMES).collect()
    }
    assert got == _percentiles_reference(rows, PS)
    wm = weighted_median(df, "g", "v", "w")
    assert wm.schema["weighted_median"].dataType == df.schema["v"].dataType
    got_wm = {r["g"]: (r["total_weight"], r["weighted_median"]) for r in wm.collect()}
    assert got_wm == _wmed_reference(rows)


# ---------------------------------------------------------------------------
# weighted_median: differential vs a local reference implementation.
# ---------------------------------------------------------------------------
def _wmed_reference(rows):
    """Lower weighted median per group: smallest v with 2*cum >= total,
    over the rows whose value and weight are both non-null."""
    by_g: dict = {}
    for g, v, w in rows:
        if v is not None and w is not None:
            by_g.setdefault(g, []).append((v, int(w)))
    out = {}
    for g, pairs in by_g.items():
        pairs.sort()
        tot = sum(w for _, w in pairs)
        cum = 0
        for v, w in pairs:
            cum += w
            if 2 * cum >= tot:
                out[g] = (tot, v)
                break
    return out


def _wmed_case(case):
    rng = random.Random(7)
    if case == "uniform":
        return [
            (f"g{i % 3}", rng.uniform(0, 100), rng.randint(1, 9))
            for i in range(1500)
        ]
    if case == "ties":  # many repeated values, crossing lands on a tie run
        return [
            (f"g{i % 2}", float(rng.randint(0, 5)), rng.randint(1, 4))
            for i in range(800)
        ]
    if case == "odd_even":  # one group odd total weight, one even
        return [("odd", 1.0, 1), ("odd", 2.0, 1), ("odd", 3.0, 1),
                ("even", 1.0, 2), ("even", 5.0, 2)]
    return [("solo", 42.5, 3)]


# rows the null contract drops: a null value, a null weight, a group
# with nothing else, and a null group key (kept, as in GROUP BY)
_NULL_ROWS = [
    ("g0", None, 5), ("g0", 0.5, None), ("odd", 99.0, None),
    ("nullonly", None, 1), ("nullonly", 2.0, None),
    (None, 3.0, 2), (None, 1.0, 1),
]


@pytest.mark.parametrize("case", ["uniform", "ties", "odd_even", "one_row"])
def test_weighted_median_matches_reference(spark, case):
    rows = _wmed_case(case) + _NULL_ROWS
    df = spark.createDataFrame(rows, "g string, v double, w long")
    got = {
        r["g"]: (r["total_weight"], r["weighted_median"])
        for r in weighted_median(df, "g", "v", "w").collect()
    }
    assert got == _wmed_reference(rows)
    assert "nullonly" not in got


def test_weighted_median_property(spark):
    """Property check across generated shapes: duplicate-heavy values,
    weight-1 degeneration to the plain lower median, negative values,
    and zero weights."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows_strategy = st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-50, max_value=50).map(float),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=120,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=rows_strategy)
    def check(rows):
        df = spark.createDataFrame(rows, "g string, v double, w long")
        got = {
            r["g"]: (r["total_weight"], r["weighted_median"])
            for r in weighted_median(df, "g", "v", "w").collect()
        }
        # zero-total groups have no weighted median and no row
        want = {g: tw for g, tw in _wmed_reference(rows).items() if tw[0] > 0}
        assert got == want

    check()


@pytest.mark.parametrize("case", ["uniform", "ties", "odd_even", "one_row"])
@pytest.mark.parametrize("fetch_cap", [None, 8])
def test_weighted_median_hist_matches_reference(
    spark, case, fetch_cap, monkeypatch
):
    if fetch_cap is not None:
        monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", fetch_cap)
    rows = _wmed_case(case)
    df = spark.createDataFrame(rows, "g string, v double, w long")
    got = {
        r["g"]: (r["total_weight"], r["weighted_median"])
        for r in weighted_median(df, "g", "v", "w").collect()
    }
    assert got == _wmed_reference(rows)


def test_weighted_median_hist_empty_and_schema(spark):
    df = spark.createDataFrame([("a", 1.0, 1)], "g string, v double, w long")
    empty = weighted_median(
        df.where(F.col("v").isNull() & F.col("v").isNotNull()), "g", "v", "w"
    )
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == [
        "g", "total_weight", "weighted_median",
    ]


def test_negative_weight_raises(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 2), ("a", 2.0, -1)], "g string, v double, w long"
    )
    with pytest.raises(ValueError, match="negative weight"):
        weighted_median(df, "g", "v", "w")


def test_interval_above_fetch_cap_raises(spark, monkeypatch):
    """Two buckets per pass split geometric values one at a time, so
    eight passes cannot shrink 40 distinct values to the cap of 0: the
    kernel refuses the unbounded fetch instead of collecting it."""
    monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", 0)
    monkeypatch.setattr(order_stats, "HIST_BUCKETS", 2)
    df = spark.createDataFrame(
        [("g", float(2**k)) for k in range(40)], "g string, v double"
    )
    with pytest.raises(order_stats.FetchCapExceeded):
        group_percentiles(df, "g", "v", [0.5])


# ---------------------------------------------------------------------------
# The refinement passes themselves: forced tiny caps, footer-style
# bounds (right, loose and wrong), and the pathological single-value
# group that exercises the zero-width-interval early exit.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "case", ["uniform", "ties", "skewed", "singletons", "constant"]
)
def test_hist_percentiles_match_spark_exact(spark, case, monkeypatch):
    monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", 20)
    monkeypatch.setattr(order_stats, "HIST_BUCKETS", 16)
    if case == "constant":  # one value repeated — zero-width intervals
        rows = [("c", 42.0)] * 100 + [("d", -1.0)] * 3
    else:
        rows, _ = _percentile_case(case)
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    got = {
        r["g"]: [r[n] for n in NAMES]
        for r in group_percentiles(df, "g", "v", PS, NAMES).collect()
    }
    _assert_close(got, _reference(spark, df))


def test_hist_percentiles_bounds_mode(spark):
    """Global-bounds mode (footer-style [lo, hi]) skips the stats job
    but must return identical values — with loose bounds, and with
    WRONG bounds too (too narrow / entirely off the data): out-of-range
    values clamp into the edge buckets instead of being filtered, so a
    stale or mis-resolved footer can never silently drop rows."""
    rng = random.Random(11)
    rows = [(f"g{i % 3}", rng.uniform(-50, 50)) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    want = _reference(spark, df)
    for bounds in [
        (-50.0, 50.0),  # exact
        (-1000.0, 1000.0),  # loose
        (-10.0, 10.0),  # too narrow: most rows clamp to edge buckets
        (200.0, 300.0),  # entirely off: ALL rows clamp to bucket 0
    ]:
        got = {
            r["g"]: [r[n] for n in NAMES]
            for r in group_percentiles(
                df, "g", "v", PS, NAMES, bounds=bounds
            ).collect()
        }
        _assert_close(got, want)


def test_hist_percentiles_refinement_loop(spark, monkeypatch):
    """Force multi-pass refinement (tiny fetch cap + coarse buckets) so
    the narrowing loop itself is exercised, not just the direct fetch."""
    monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", 20)
    monkeypatch.setattr(order_stats, "HIST_BUCKETS", 16)
    rng = random.Random(13)
    rows = [(f"g{i % 2}", rng.uniform(0, 1.0)) for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    got = {
        r["g"]: [r[n] for n in NAMES]
        for r in group_percentiles(df, "g", "v", PS, NAMES).collect()
    }
    _assert_close(got, _reference(spark, df))


def test_mad_query_fallback_path_identical(spark, sf_dir, monkeypatch):
    """q_mad_outlier_prices' skew fallback (fence candidate region too
    heavy to fetch) must produce the exact same rows as the fused
    fast path."""
    from etl_pipeline_project_auraverse_spark.queries.robust import (
        q_mad_outlier_prices,
    )

    fast = sorted(map(tuple, q_mad_outlier_prices(spark, sf_dir).collect()))
    monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", 0)  # force the fallback
    slow = sorted(map(tuple, q_mad_outlier_prices(spark, sf_dir).collect()))
    assert fast == slow


def test_hist_percentiles_ignore_nulls(spark):
    """Null values are excluded from counts and ranks, same as
    F.percentile / quantile_cont."""
    rng = random.Random(17)
    rows = [
        ("g0", rng.uniform(0, 100) if i % 5 else None) for i in range(1000)
    ] + [("allnull", None)] * 10
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    got = {
        r["g"]: [r["n_rows"], *[r[n] for n in NAMES]]
        for r in group_percentiles(df, "g", "v", PS, NAMES).collect()
    }
    want = _reference(spark, df.where("v is not null"))
    assert set(got) == {"g0"}  # the all-null group produces no row
    assert got["g0"][0] == 800
    for a, b in zip(got["g0"][1:], want["g0"]):
        assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# Driver-side helpers feeding this machinery (queries/_util.py): the
# F.round twin and the parquet-footer bounds fetch (r9 advice items).
# ---------------------------------------------------------------------------


def test_round_half_up_matches_spark_f_round(spark):
    """Spark's F.round on doubles goes through BigDecimal(
    Double.toString(x)) — the SHORTEST decimal repr — so 2.675 (whose
    exact binary expansion is 2.67499…) rounds UP to 2.68. The driver
    twin must agree on exactly these repr-tie values."""
    from etl_pipeline_project_auraverse_spark.queries._util import round_half_up

    vals = [2.675, 2.665, 1.005, 0.125, -2.675, 1.2349999, 3.14159, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["v"]: r["r"]
        for r in df.select("v", F.round("v", 2).alias("r")).collect()
    }
    for v in vals:
        assert got[v] == round_half_up(v, 2), (v, got[v], round_half_up(v, 2))
    assert round_half_up(2.675, 2) == 2.68  # Decimal(x) would give 2.67


def test_parquet_column_bounds_nested_leaf_resolution(tmp_path):
    """Nested/repeated columns expand to multiple physical leaves, so
    the arrow top-level field index diverges from the leaf chunk index;
    the footer fetch must resolve by path_in_schema or it silently
    reads another column's min/max."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_pipeline_project_auraverse_spark.queries._util import (
        parquet_column_bounds,
    )

    t = pa.table(
        {
            "meta": pa.array([{"a": i, "b": -i} for i in range(5)]),
            "tags": pa.array([[100 + i, 200 + i] for i in range(5)]),
            "price": pa.array([10.0, 5.0, 20.0, 7.5, 12.0]),
        }
    )
    pq.write_table(t, tmp_path / "tbl.parquet")
    # field index of "price" is 2 but its leaf chunk index is 3 — the
    # old field-index lookup returned the tags leaf's (100..204) stats
    assert parquet_column_bounds(str(tmp_path), "tbl", "price") == (5.0, 20.0)
    assert parquet_column_bounds(str(tmp_path), "tbl", "nope") is None
