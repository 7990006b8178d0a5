"""Tests of the benchmark's own logic (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from perfbench import oracle, stats
from perfbench.trace import Span, Tracer, self_times
from perfbench.workloads import (CORPUS_TEXT, GRID, OLAP_MIX, TOP_K,
                                 RecsysWorkload, cell_error, op_order,
                                 result_error, rows_only_count)


# -- percentile rule --------------------------------------------------------

@pytest.mark.parametrize("n, pct", [
    (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
    (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_latency_summary_states_count_and_tail():
    lat = [float(i) for i in range(1, 101)]
    s = stats.latency_summary(lat)
    assert s["n"] == 100 and s["p50"] == pytest.approx(50.5)
    assert (s["tail_pct"], s["tail"]) == (90.0, 90.0)
    assert "tail" not in stats.latency_summary(lat[:19])


def test_hd_median_is_a_median():
    assert stats.hd_median([5.0]) == 5.0
    assert stats.hd_median([3.0, 1.0, 2.0]) == pytest.approx(2.0)
    skewed = [1.0, 2.0, 3.0, 10.0]
    assert stats.median(skewed) < stats.hd_median(skewed) < 10.0
    # weights sum to one: a constant sample is its own median
    assert stats.hd_median([0.25] * 7) == pytest.approx(0.25)


def test_slower_or_failed_ops_only_make_latency_worse():
    ok = [1.0, 1.0, 1.0, 2.0, 2.0]
    assert stats.hd_median(ok + [30.0, 30.0]) > stats.hd_median(ok)


# -- span self time ---------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    spans = [Span("op", 0.0, 10.0, None, 0),
             Span("a", 1.0, 3.0, 0, 0),
             Span("a", 2.0, 5.0, 0, 0),     # overlaps the first child
             Span("b", 8.0, 12.0, 0, 0),    # runs past its parent's end
             Span("c", 8.5, 9.0, 3, 0)]     # grandchild: only b loses it
    st = self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["a"] == pytest.approx(2.0 + 3.0)
    assert st["b"] == pytest.approx(4.0 - 0.5)
    assert st["c"] == pytest.approx(0.5)


def test_tracer_nests_and_records_nothing_when_off():
    t = Tracer(True)
    with t.span("op"):
        with t.span("child"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("op", None), ("child", 0)]
    assert t.spans[0].start <= t.spans[1].start <= t.spans[1].end <= t.spans[0].end
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


# -- seeded op order --------------------------------------------------------

@pytest.mark.parametrize("names", [OLAP_MIX, CORPUS_TEXT, tuple(GRID)])
def test_same_seed_same_order(names):
    assert op_order(names, 7, 3) == op_order(names, 7, 3)
    assert sorted(op_order(names, 7, 3)) == sorted(names)
    assert any(op_order(names, 7, p) != op_order(names, 8, p) for p in range(4))


def test_recsys_pass_starts_with_ingest_then_whole_grid():
    wl = RecsysWorkload(engine=None, seed=5)
    ops = wl.pass_ops(2)
    assert ops == RecsysWorkload(engine=None, seed=5).pass_ops(2)
    assert ops[0] == "ingest" and sorted(ops[1:]) == sorted(GRID)


# -- the checker rejects perturbed results ----------------------------------

def _frame():
    return pd.DataFrame({"k": [3, 1, 2], "name": ["c", "a", "b"],
                         "v": [0.5, 1.25, 2.0]})


def test_result_check_accepts_reordered_equal_frame():
    want = oracle.canon(_frame())
    assert result_error(_frame().iloc[::-1], want) is None


@pytest.mark.parametrize("col, row, value", [
    ("v", 1, 1.2500001), ("name", 2, "x"), ("k", 0, 4)])
def test_result_check_rejects_one_changed_cell(col, row, value):
    want = oracle.canon(_frame())
    bad = _frame()
    bad.loc[row, col] = value
    assert result_error(bad, want) is not None


def test_result_check_rejects_dtype_and_row_count_changes():
    want = oracle.canon(_frame())
    assert result_error(_frame().astype({"k": float}), want) is not None
    assert result_error(_frame().iloc[:2], want) is not None
    assert result_error(_frame(), 3) is None
    assert result_error(_frame(), rows_only_count("q64_neardup_corpus", 0.01) + 1)


def test_ranking_metrics_by_hand():
    # hits at ranks 2 and 3 of [1, 2, 3] against truth {2, 3, 9}, k = 2
    m = oracle.ranking_metrics({0: [1, 2, 3]}, {0: [2, 3, 9]}, k=2)
    assert m["map"] == pytest.approx((1 / 2 + 2 / 3) / 3)
    assert m["precision_at_k"] == pytest.approx(1 / 2)
    assert m["ndcg_at_k"] == pytest.approx(
        (1 / math.log2(3)) / (1 + 1 / math.log2(3)))
    assert m["n_users"] == 1


def _cell():
    recs = pd.DataFrame({"user": [0, 1, 2],
                         "pred_items": [list(range(u, u + TOP_K))
                                        for u in range(3)]})
    truth = {0: [0, 7, 10_000], 1: [3], 2: [600, 1]}
    preds = pd.DataFrame({"count": [1.0, 4.0, 2.0],
                          "prediction": [0.5, 1.5, 0.25]})
    lists = dict(zip(recs["user"], recs["pred_items"]))
    ref = oracle.ranking_metrics(lists, truth, TOP_K)
    metrics = {k: round(v, 6) if k != "n_users" else v for k, v in ref.items()}
    metrics["rmse"] = oracle.rmse(preds["count"].to_numpy(),
                                  preds["prediction"].to_numpy())
    return metrics, recs, truth, preds


def test_cell_check_accepts_engine_metrics():
    assert cell_error(*_cell()) is None


@pytest.mark.parametrize("key, delta", [
    ("map", 1e-4), ("precision_at_k", -1e-4), ("ndcg_at_k", 1e-3),
    ("rmse", 1e-3)])
def test_cell_check_rejects_one_changed_metric(key, delta):
    metrics, recs, truth, preds = _cell()
    metrics[key] += delta
    assert cell_error(metrics, recs, truth, preds) is not None


def test_cell_check_rejects_short_or_repeated_recommendations():
    metrics, recs, truth, preds = _cell()
    recs.at[1, "pred_items"] = [5] * TOP_K
    assert cell_error(metrics, recs, truth, preds) is not None
