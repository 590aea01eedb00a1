"""The shared timing core (tools/timing.py) and bench.py's query lists,
checked without a Spark session."""

from __future__ import annotations

import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The FROZEN headline (round 1): its total is the cross-round series, so
# neither the names nor their order may change.
FROZEN_HEADLINE = [
    "a1_daily_market_summary", "a2_hourly_ohlc", "a3_rolling_zscore",
    "a3e_rolling_zscore_dense", "a4_sales_velocity", "a5_market_concentration",
    "a6_market_index", "a7_sector_trends", "a8_distinct_items",
    "j2_dim_enrichment", "o1_latest_daily_summaries", "p11_format_gold",
    "pj_json_kpis", "w_sessionize", "x_pivot_event_counts", "x_sector_rollup",
    "x_multiway_star_join", "x_topk_orders", "x_price_iqr_outliers",
    "dd_exact", "dd_ngram_jaccard", "dd_minhash_lsh", "dd_simhash",
    "dd_simhash_banded", "dd_embed_neardup", "ann_topk_bruteforce",
    "ann_topk_lsh", "ann_topk_ivf", "ts_token_stats", "ts_quality_score",
    "ts_language_id", "ts_language_id_ngram", "ts_fingerprint",
    "tp_clean_corpus", "tp_train_sample",
]


def _fake_runner(samples):
    it = iter(samples)
    calls = []

    def run(*args):
        calls.append(args)
        return next(it)

    return run, calls


def test_median3_discards_first_run_and_takes_median_of_rest():
    from tools import timing

    # with the cold first run (9.0) counted the median would be 2.5
    run, calls = _fake_runner([9.0, 1.0, 3.0, 2.0])
    median, times = timing.median3(run)
    assert median == 2.0
    assert times == [9.0, 1.0, 3.0, 2.0]
    assert len(calls) == 4


def test_canary_discards_first_run_and_takes_median_of_rest():
    from tools import timing

    run, calls = _fake_runner([0.1, 5.0, 0.7, 0.5])
    assert timing.canary(None, "/nonexistent", run=run) == 0.7
    assert len(calls) == 4
    # each call gets the canary frame's builder, never a built frame
    assert all(len(c) == 1 and callable(c[0]) for c in calls)


def test_growth_loop_reports_ratio_and_truncates_on_budget():
    from tools import timing

    base = {"a": 2.0, "b": 0.0}
    rec, truncated = timing.growth(["a", "b"], base.get, lambda q: 10.0)
    assert not truncated
    assert rec["a"] == {"base_sec": 2.0, "scaled_sec": 10.0, "growth": 5.0}
    assert rec["b"]["growth"] is None
    rec, truncated = timing.growth(["a", "b"], base.get, lambda q: 1.0, budget=-1)
    assert truncated and rec == {}


def test_bench_lists_resolve_and_headline_is_frozen():
    import bench
    from azeroth_data_platform_spark import harness

    assert bench.HEADLINE == FROZEN_HEADLINE
    for name in (*bench.HEADLINE, *bench.EXTRAS, *bench.SCALING_SUBSET):
        assert name in harness.ALL_QUERIES, name
    bench.check_names(harness.ALL_QUERIES)
    renamed = {n: f for n, f in harness.ALL_QUERIES.items() if n != "a8_distinct_items"}
    with pytest.raises(KeyError, match="a8_distinct_items"):
        bench.check_names(renamed)


@pytest.mark.parametrize(
    "module",
    sorted(os.path.basename(p)[:-3] for p in glob.glob(os.path.join(REPO, "tools", "*.py"))),
)
def test_tool_module_imports(module):
    importlib.import_module(f"tools.{module}")
