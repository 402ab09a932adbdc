"""sf0.001 runs of every workload through the real program: a clean
run is correct and reports every metric; a deliberately corrupted
result is caught by the correctness check."""

import argparse
import json
import os

import pytest

import run
import workloads

NAMES = ("olap_read", "mvcc_mixed", "llm_pipeline")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(name, tmp_path, trace=0):
    args = argparse.Namespace(workload=name, seed=3, seconds=0.5, trace=trace)
    return run.run(args, str(tmp_path / "work"), data_dir=run.PROBE_DATA,
                   spans_dir=str(tmp_path / "spans"))


@pytest.mark.parametrize("name", NAMES)
def test_clean_run_is_correct(name, tmp_path):
    result, lines, correct = _run(name, tmp_path)
    assert correct, lines
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("name", NAMES)
def test_corrupted_result_is_caught(name, tmp_path, monkeypatch):
    make = workloads.WORKLOADS[name]

    def corrupting(*args):
        w = make(*args)
        w.corrupt_next = True
        return w

    monkeypatch.setitem(workloads.WORKLOADS, name, corrupting)
    result, lines, correct = _run(name, tmp_path)
    assert not correct
    assert result["failed"] >= 1
    assert any(line.startswith("FAILED") for line in lines)


@pytest.mark.parametrize("name", ("olap_read", "mvcc_mixed"))
def test_traced_run_reports_every_layer_metric(name, tmp_path):
    result, lines, correct = _run(name, tmp_path, trace=1)
    assert correct, lines  # includes: per op, summed self times <= wall time
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = {m["name"] for m in json.load(fh)["per_layer"]}
    assert set(result["metrics"]) == per_layer
    assert any(line.startswith("trace coverage") for line in lines)
    if name == "mvcc_mixed":
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["table.commit_s"] > 0 and m["matview.refresh_s"] > 0
        assert 0 < m["table.snapshot_hit_ratio"] < 1
        assert m["llm.dedup.self_s"] == 0
        # the latest read after txid time travel misses: the LRU overflowed
        with open(tmp_path / "spans" / f"{name}-seed3.jsonl") as fh:
            spans = [json.loads(line) for line in fh]
        roots = {s["op"]: s["name"] for s in spans if s["parent"] is None}
        assert any(roots[s["op"]] == "read_latest_after_txids" and not s["hit"]
                   and roots.get(s["op"] - 1) == "table_scan_txid"
                   for s in spans if s["name"] == "table.Collection.table_scan")
