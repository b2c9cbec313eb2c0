"""Metric and workload names, and seeded inputs."""

import json
import os

from perfbench import datagen, query_wl, run, stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_name_rule():
    for good in ("op_p50_s", "spark.job_busy_s", "etl-upload", "9lives"):
        assert stats.valid_name(good)
    for bad in ("", "_lead", ".dot", "has space", "slash/name", "x" * 65, "ü"):
        assert not stats.valid_name(bad)


def test_every_emitted_name_is_valid():
    names = list(run.WORKLOADS) + list(run.E2E_UNITS) + list(run.LAYER_UNITS)
    assert all(stats.valid_name(n) for n in names)
    assert len(set(names)) == len(names)


def test_benchmark_file_matches_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["name"] for m in spec["per_layer"]] == list(run.LAYER_UNITS)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.E2E_UNITS[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.LAYER_UNITS[m["name"]]
    for group in ("workloads", "end_to_end", "per_layer"):
        assert all(stats.valid_name(x["name"]) for x in spec[group])


def test_same_seed_same_tables(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    tables = datagen.make_tables(7)
    datagen.write_tables(tables, str(a))
    datagen.write_tables(datagen.make_tables(7), str(b))
    for t in datagen.TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
    assert not datagen.make_tables(8)["lineitem"].equals(tables["lineitem"])


def test_same_seed_same_documents():
    def bodies(seed):
        sched = datagen.upload_schedule(seed, 2, 6) + [datagen.bulk_schedule(seed, 2)]
        return [(d.filename, d.body, d.expect_rows) for c in sched for d in c]

    assert bodies(3) == bodies(3)
    assert bodies(3) != bodies(4)


def test_upload_mix_does_not_depend_on_the_seed():
    def kinds(seed):
        return [[d.kind for d in c] for c in datagen.upload_schedule(seed, 2, 8)]

    assert kinds(1) == kinds(99)
    assert {k for c in kinds(1) for k in c} == {"flat_json", "nested_users", "csv", "log_text"}


def test_bulk_documents_are_large():
    for d in datagen.bulk_schedule(5, 4):
        assert 5000 <= d.records <= 50000
        assert d.body.count(b"\n") >= d.records


def test_same_seed_same_query_order():
    names = [f"q{i}" for i in range(17)]

    def first(seed, k):
        it = query_wl.pass_orders(names, seed)
        return [next(it) for _ in range(k)]

    assert first(5, 3) == first(5, 3)
    assert first(5, 3) != first(6, 3)
    assert all(sorted(p) == sorted(names) for p in first(5, 3))
