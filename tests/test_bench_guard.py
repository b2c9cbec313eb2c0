"""Round-15 bench-harness additions (r14 verdict asks #2 and #7).

- The >2x-vs-prior-artifact guard: per-query headline timings compare
  against the newest committed BENCH_r*.json; suspicious entries get
  extra min-of-N samples and, if still slow, a name on the PRECEDING
  stdout line (never the driver-parsed final line — pinned by
  test_bench_line.py, which still passes untouched).
- cold_reset: returns the engine to a cold-index state (memo frames
  unpersisted, memo dicts emptied, clearers run) so the bench's
  cold-vs-warm stat measures a genuine first-touch build.
"""

from __future__ import annotations

import bench


def test_prior_headline_reads_newest_artifact() -> None:
    prior = bench._prior_headline()
    # the newest git-tracked BENCH_r<N>.json carries a parsed 50-query
    # block
    assert len(prior) == 50
    assert all(isinstance(v, float) for v in prior.values())
    assert prior["q01_pricing_summary"] > 0


def test_vs_prev_guard_policy() -> None:
    # flag at >2x with up to 3 extra samples: enough to clear a
    # scheduler blip, bounded enough not to stretch the window
    assert bench.VS_PREV_FACTOR == 2.0
    assert 1 <= bench.VS_PREV_EXTRA_RUNS <= 3


def test_cold_reset_clears_memo_dicts_and_clearers() -> None:
    from etl_pipeline_project_auraverse_spark import cache

    d: dict = {"k": "v"}
    if all(x is not d for x in cache._MEMO_DICTS):
        cache._MEMO_DICTS.append(d)
    cleared = []
    cache.register_memo_clearer(lambda: cleared.append(True))

    class _FakeConf:
        def get(self, *a):  # no warehouse dir: rmtree branch no-ops
            raise KeyError

    class _FakeSC:
        applicationId = "test-app"

    class _FakeSpark:
        conf = _FakeConf()
        sparkContext = _FakeSC()

    cache.cold_reset(_FakeSpark())
    assert d == {}
    assert cleared == [True]
    cache._MEMO_DICTS.remove(d)
    cache._MEMO_CLEARERS.pop()
