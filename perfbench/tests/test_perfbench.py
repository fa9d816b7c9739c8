"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per workload (about a minute each); the
others need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import inputs, run, trace
from perfbench.workloads import DedupMinhash, KGBatch, new_tally, run_op

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
EVENT_LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- event-log parser ------------------------------------------------------------

def test_parse_event_log_attributes_stages_to_job_labels():
    ev = trace.parse_event_log(EVENT_LOG)
    a, b = ev["layer.a#0"], ev["layer.b#0"]
    assert (a["jobs"], a["tasks"], a["tasks_failed"]) == (1, 2, 0)
    assert (b["jobs"], b["tasks"], b["tasks_failed"]) == (2, 3, 1)
    assert a["executor_s"] == pytest.approx(0.3)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert b["spill_mb"] == pytest.approx(1.5)
    assert b["gc_s"] == pytest.approx(0.05)
    assert b["output_mb"] == pytest.approx(1.0)
    # stage 1 is listed by both labels' jobs: it belongs to the first
    assert ev["layer.b#0"]["executor_s"] == pytest.approx(0.6)
    assert ev[""]["jobs"] == 1  # unlabelled job


def test_layer_self_time_is_prefix_difference():
    times = {"x": [1.0, 1.2], "y": [3.0, 3.6]}
    assert trace._self(times, ["x", "y"]) == pytest.approx({"x": 1.1, "y": 2.2})


# --- output checks count in the error rate ---------------------------------------

class _Replay:
    """A workload whose operation returns a fixed output, checked by the real
    workload's check."""

    def __init__(self, wl, out):
        self.wl, self.out, self.name = wl, out, wl.name

    def op(self, i):
        return self.out

    def check(self, out):
        return self.wl.check(out)

    def items_per_op(self):
        return 1


def _write_oracle_kg(wl: KGBatch, out: str) -> None:
    """Write the KG a correct engine produces for the replicated input."""
    rep = wl.cfg["rep"]
    edges = pd.concat([wl.kg["edges"].assign(conv_id=wl.kg["edges"]["conv_id"] + f"_r{k}")
                       for k in range(rep)], ignore_index=True)
    nodes = wl.kg["nodes"].assign(mention_count=wl.kg["nodes"]["mention_count"] * rep)
    for name, df in (("kg_edges", edges), ("kg_edge_stats", inputs.edge_stats(edges)),
                     ("kg_nodes", nodes)):
        os.makedirs(os.path.join(out, name))
        df.to_parquet(os.path.join(out, name, "part-0.parquet"), index=False)


def test_corrupted_kg_output_counts_as_failed(tmp_path):
    wl = KGBatch(str(tmp_path), seed=5, size="tiny", files=2)
    wl.generate()
    good = str(tmp_path / "good")
    _write_oracle_kg(wl, good)
    m = run.measure(_Replay(wl, good), seconds=0)
    assert (len(m["times"]), m["failed"]) == (1, 0)

    bad = str(tmp_path / "bad")
    _write_oracle_kg(wl, bad)
    nodes_path = os.path.join(bad, "kg_nodes", "part-0.parquet")
    nodes = pd.read_parquet(nodes_path)
    nodes.loc[0, "mention_count"] += 1
    nodes.to_parquet(nodes_path, index=False)
    replay = _Replay(wl, bad)
    m = run.measure(replay, seconds=0)
    assert m["failed"] == 1 and m["notes"][0]["bad"] == "kg_nodes"
    assert run.summarize(replay, m)["success_rate"] == 0

    # a check that raises (here: no output at all) is one failed, timed op
    m = run.measure(_Replay(wl, str(tmp_path / "missing")), seconds=0)
    assert (len(m["times"]), m["failed"]) == (1, 1) and "error" in m["notes"][0]


def test_operation_that_raises_counts_as_failed():
    def boom():
        raise RuntimeError("engine failed")

    m = new_tally()
    run_op(m, 0, boom, lambda out: (True, {}))
    run_op(m, 1, lambda: "out", lambda out: (True, {}))
    assert (m["attempted"], m["failed"]) == (2, 1) and "error" in m["notes"][0]


def test_dedup_pair_below_threshold_counts_as_failed(tmp_path):
    wl = DedupMinhash(str(tmp_path), seed=5, size="tiny", files=2)
    wl.generate()
    p = wl.planted
    found = [{"id_a": a, "id_b": b, "jaccard": j}
             for a, b, j in p[p["jaccard"] >= wl.THRESHOLD].itertuples(index=False)]
    assert wl.check(found)[0]
    unrelated = {"id_a": 0, "id_b": len(wl.docs) - 1, "jaccard": 1.0}
    m = run.measure(_Replay(wl, found + [unrelated]), seconds=0)
    assert m["failed"] == 1


# --- inputs are a function of the seed ----------------------------------------------

def test_inputs_repeat_per_seed(tmp_path):
    a = inputs.near_dup_corpus(50, seed=3)
    b = inputs.near_dup_corpus(50, seed=3)
    assert a[0].equals(b[0]) and a[1].equals(b[1])
    k1 = inputs.kg_inputs(str(tmp_path / "1"), 300, seed=3, rep=1, files=1)
    k2 = inputs.kg_inputs(str(tmp_path / "2"), 300, seed=3, rep=1, files=1)
    assert k1["turns"] == 300 and k1["edges"].equals(k2["edges"])


# --- smoke: every workload prints every named metric with its unit --------------------

def _run(workload: str, traced: int, cwd) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(traced), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,traced", [
    ("kg_batch", 0), ("dedup_minhash", 0), ("kg_batch", 1), ("dedup_minhash", 1),
])
def test_smoke_prints_every_metric_with_unit(workload, traced, tmp_path):
    res = _run(workload, traced, tmp_path)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()["per_layer" if traced else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    assert not os.listdir(tmp_path / ".perfbench_work")


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "kg_batch",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and '"metrics"' not in p.stdout
