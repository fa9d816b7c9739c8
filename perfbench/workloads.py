"""The benchmark workloads: seeded inputs, one timed operation, and the
untimed output check run after every operation.

A workload's life in one run: `generate()` (pure Python: the package's
fixture generator and pandas oracle; it overlaps the Spark session start),
`prepare(spark)` (Spark-side inputs), then `op(i)` / `check(out)` pairs for
the warm-up and the measured window. The per-layer probes of a traced run
are in trace.py.

`WORKLOADS` are the timed workloads. `COMPANIONS` are only run inside
another workload's traced run (see trace.COMPANION_OF); their outputs are
checked there, and a failed check counts like a failed operation.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import pandas as pd

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import minhash_dedup
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import ResumableKGRun
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
    broadcast_alias_keys,
    build_kg,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import (
    link_questions,
    neighborhood,
    retrieve_evidence,
)

from . import inputs
from .inputs import EDGE_KEY

KG_OUTPUTS = ("kg_edges", "kg_edge_stats", "kg_nodes")
EDGE_COLS = ["conv_id", "turn_idx", "subj_cui", "pred", "obj_cui",
             "subj_surface", "obj_surface", "confidence"]

# Input sizes per workload. "full" is what BENCHMARK.json describes; "tiny"
# is for the benchmark's own smoke tests.
SIZES = {
    "kg_batch": {"full": {"turns": 5000, "rep": 4}, "tiny": {"turns": 500, "rep": 2}},
    "kg_checkpointed": {"full": {"turns": 4000, "buckets": 32, "group_size": 8, "crash_after": 2},
                        "tiny": {"turns": 500, "buckets": 4, "group_size": 2, "crash_after": 1}},
    "kg_query": {"full": {"turns": 5000, "batch": 16, "batches": 5},
                 "tiny": {"turns": 500, "batch": 4, "batches": 5}},
    "dedup_minhash": {"full": {"n_base": 8000}, "tiny": {"n_base": 200}},
}


def new_tally() -> dict:
    """Operation times, attempted and failed operations, and notes on the
    first operation and on every failure."""
    return {"times": [], "attempted": 0, "failed": 0, "notes": []}


def check_output(tally: dict, i, check, out) -> bool:
    """Check one output into `tally`; a check that raises is a failure."""
    try:
        ok, info = check(out)
    except Exception as e:  # a check that raises is a failed operation
        ok, info = False, _error(e)
    _record(tally, i, ok, info)
    return ok


def run_op(tally: dict, i, op, check, timing=contextlib.nullcontext) -> float:
    """Run `op()` inside `timing()`, then check its output outside the
    timing. An operation or check that raises is a failed operation. Records
    the outcome in `tally` and returns the operation's seconds."""
    t0 = time.perf_counter()
    try:
        with timing():
            out = op()
    except Exception as e:  # an operation that raises is a failed operation
        _record(tally, i, False, _error(e))
        return time.perf_counter() - t0
    dt = time.perf_counter() - t0
    check_output(tally, i, check, out)
    return dt


def _error(e: Exception) -> dict:
    return {"error": f"{type(e).__name__}: {e}"[:300]}


def _record(tally: dict, i, ok: bool, info: dict) -> None:
    tally["attempted"] += 1
    tally["failed"] += not ok
    if not ok or tally["attempted"] == 1:
        tally["notes"].append({"op": i, "ok": ok, **info})


class Workload:
    name = ""
    item = ""           # what items_per_s counts
    # Untimed operations before the measured window, enough for a fresh
    # JVM's per-operation time to stop falling (JIT of the driver-side
    # planning code dominates that curve at these input sizes).
    warmup_ops = 0

    def __init__(self, work_dir: str, seed: int, size: str, files: int):
        self.work = work_dir
        self.seed = seed
        self.size = size
        self.cfg = SIZES[self.name][size]
        self.files = files  # parquet parts per written input
        self.spark = None

    def generate(self) -> None:
        """Pure-Python input generation + oracle (no Spark)."""

    def prepare(self, spark) -> None:
        """Bind to `spark` and build any Spark-side inputs."""
        self.spark = spark

    def op(self, i: int):
        raise NotImplementedError

    def check(self, out) -> tuple[bool, dict]:
        raise NotImplementedError

    def items_per_op(self) -> int:
        raise NotImplementedError

    def sizes(self) -> dict:
        return {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# --- KG construction -----------------------------------------------------------

class _KGBase(Workload):
    item = "turns"

    def generate(self) -> None:
        self.kg = inputs.kg_inputs(self.work, self.cfg["turns"], self.seed,
                                   self.cfg.get("rep", 1), self.files)

    def _aliases(self):
        return self.spark.read.parquet(self.path("aliases.parquet"))

    def transcripts(self):
        return self.spark.read.parquet(self.path("input"))

    def check_kg(self, out_dir: str, rep: int, exact_n_convs: bool) -> tuple[bool, dict]:
        """Compare a written KG with the oracle KG of the base table scaled by
        `rep` copies. Returns (ok, info); info counts approximate n_convs
        values that differ from the exact ones when `exact_n_convs` is off."""
        kg, info = self.kg, {}
        edges = pd.read_parquet(os.path.join(out_dir, "kg_edges"), columns=EDGE_COLS)
        if rep > 1:
            edges["conv_id"] = edges["conv_id"].str.replace(r"_r\d+$", "", regex=True)
        got = edges.value_counts(EDGE_COLS, sort=False)
        want = kg["edges"].value_counts(EDGE_COLS, sort=False) * rep
        if len(edges) != rep * len(kg["edges"]) or not got.sort_index().equals(want.sort_index()):
            return False, {"bad": "kg_edges"}

        stats = pd.read_parquet(os.path.join(out_dir, "kg_edge_stats"))
        m = kg["edge_stats"].merge(stats, on=EDGE_KEY, how="outer", suffixes=("", "_got"),
                                   indicator=True)
        if (m["_merge"] != "both").any() or len(stats) != len(kg["edge_stats"]):
            return False, {"bad": "kg_edge_stats rows"}
        if ((m["n_evidence_got"] != rep * m["n_evidence"]).any()
                or ((m["avg_confidence_got"] - m["avg_confidence"]).abs() > 1e-6).any()):
            return False, {"bad": "kg_edge_stats values"}
        conv_diff = int((m["n_convs_got"] != rep * m["n_convs"]).sum())
        if exact_n_convs and conv_diff:
            return False, {"bad": "kg_edge_stats n_convs"}
        if not exact_n_convs:
            info["n_convs_approx_diff"] = conv_diff

        nodes = pd.read_parquet(os.path.join(out_dir, "kg_nodes")).sort_values("cui")
        want_n = kg["nodes"]
        if (len(nodes) != len(want_n)
                or nodes["cui"].tolist() != want_n["cui"].tolist()
                or [list(s) for s in nodes["surfaces"]] != [list(s) for s in want_n["surfaces"]]
                or (nodes["mention_count"].to_numpy() != rep * want_n["mention_count"].to_numpy()).any()):
            return False, {"bad": "kg_nodes"}
        return True, info


class KGBatch(_KGBase):
    """One cold build_kg (plan, alias index, compute) plus a parquet write of
    the three KG tables, over the fixture table replicated `rep` times."""

    name = "kg_batch"
    warmup_ops = 4

    def sizes(self) -> dict:
        return {"base_turns": self.kg["turns"], "replication": self.cfg["rep"],
                "turns": self.items_per_op(), "aliases": len(self.kg["aliases"])}

    def items_per_op(self) -> int:
        return self.kg["turns"] * self.cfg["rep"]

    def build(self):
        return build_kg(self.spark, self.transcripts(), self._aliases())

    def op(self, i: int):
        out = self.path("out")
        kg = self.build()
        try:
            for name in KG_OUTPUTS:
                getattr(kg, name).write.mode("overwrite").parquet(os.path.join(out, name))
        finally:
            kg.unpersist()
        return out

    def check(self, out) -> tuple[bool, dict]:
        return self.check_kg(out, self.cfg["rep"], exact_n_convs=True)


class KGCheckpointed(_KGBase):
    """ResumableKGRun: crash after `crash_after` bucket groups, resume, then
    finalize, into a fresh directory."""

    name = "kg_checkpointed"

    def sizes(self) -> dict:
        c = self.cfg
        return {"turns": self.kg["turns"], "buckets": c["buckets"],
                "groups": -(-c["buckets"] // c["group_size"]), "crash_after_groups": c["crash_after"]}

    def runner(self, out: str) -> ResumableKGRun:
        shutil.rmtree(out, ignore_errors=True)
        return ResumableKGRun(self.spark, out, buckets=self.cfg["buckets"],
                              group_size=self.cfg["group_size"])

    def check(self, out) -> tuple[bool, dict]:
        # finalize() counts n_convs with approx_count_distinct: its exact
        # columns are compared exactly, the n_convs difference is reported
        return self.check_kg(out, 1, exact_n_convs=False)


# --- query side ----------------------------------------------------------------

class KGQuery(_KGBase):
    """Closed loop, one client: a seeded batch of questions through
    link_questions -> retrieve_evidence -> neighborhood(hops=2), collected."""

    name = "kg_query"
    item = "questions"
    K_EVIDENCE = 10
    K_NEIGHBORS = 50

    def generate(self) -> None:
        super().generate()
        al = self.kg["aliases"]
        self.batches = []
        for b in range(self.cfg["batches"]):
            q = inputs.question_batch(al, self.seed, b, self.cfg["batch"])
            self.batches.append((q, inputs.oracle_question_links(q, al)))
        stats = self.kg["edge_stats"]
        self.edges = {(s, p, o): n for s, p, o, n in
                      stats[EDGE_KEY + ["n_evidence"]].itertuples(index=False)}
        self.incident: dict[str, set] = {}
        for e in self.edges:
            self.incident.setdefault(e[0], set()).add(e)
            self.incident.setdefault(e[2], set()).add(e)

    def prepare(self, spark) -> None:
        """Build the KG once and read its edge stats back from parquet."""
        super().prepare(spark)
        kg = build_kg(spark, self.transcripts(), self._aliases())
        kg.kg_edge_stats.write.mode("overwrite").parquet(self.path("kg_edge_stats"))
        kg.unpersist()
        self.aliases = self._aliases()
        self.keys_bc = broadcast_alias_keys(spark, self.aliases)
        self.edge_stats = spark.read.parquet(self.path("kg_edge_stats"))

    def sizes(self) -> dict:
        return {"turns": self.kg["turns"], "kg_edges": len(self.edges),
                "questions_per_batch": self.cfg["batch"], "batches": self.cfg["batches"]}

    def items_per_op(self) -> int:
        return self.cfg["batch"]

    def op(self, i: int, span=None):
        span = span or (lambda name: contextlib.nullcontext())
        b = i % len(self.batches)
        q = self.spark.createDataFrame(self.batches[b][0])
        with span("query.link"):
            ql = link_questions(self.spark, q, self.aliases, self.keys_bc)
            links = ql.collect()
        with span("query.retrieve"):
            ev = retrieve_evidence(ql, self.edge_stats, k=self.K_EVIDENCE).collect()
        with span("query.neighborhood"):
            nb = neighborhood(self.edge_stats, ql.selectExpr("cui AS seed_cui"), hops=2,
                              k=self.K_NEIGHBORS).collect()
        return b, links, ev, nb

    def _reach(self, seed: str) -> dict:
        hop1 = self.incident.get(seed, set())
        frontier = {c for s, _, o in hop1 for c in (s, o)} - {seed}
        hops = {e: 2 for c in frontier for e in self.incident.get(c, ())}
        hops.update({e: 1 for e in hop1})
        return hops

    def check(self, out) -> tuple[bool, dict]:
        b, links, ev, nb = out
        want_links = self.batches[b][1]
        got_links: dict[int, set] = {}
        for r in links:
            got_links.setdefault(int(r["question_id"]), set()).add(r["cui"])
        if any(got_links.get(q, set()) != c for q, c in want_links.items()):
            return False, {"bad": "question links"}

        per_q: dict[int, list] = {}
        for r in ev:
            e = (r["subj_cui"], r["pred"], r["obj_cui"])
            cuis = want_links.get(int(r["question_id"]), set())
            if self.edges.get(e) != r["n_evidence"] or not ({e[0], e[2]} & cuis):
                return False, {"bad": "evidence edge"}
            per_q.setdefault(int(r["question_id"]), []).append(r["rank"])
        for q, cuis in want_links.items():
            reachable = set().union(*(self.incident.get(c, set()) for c in cuis)) if cuis else set()
            if sorted(per_q.get(q, [])) != list(range(1, min(self.K_EVIDENCE, len(reachable)) + 1)):
                return False, {"bad": "evidence ranks"}

        per_seed: dict[str, list] = {}
        reach: dict[str, dict] = {}
        for r in nb:
            s = r["seed_cui"]
            hops = reach.setdefault(s, self._reach(s))
            e = (r["subj_cui"], r["pred"], r["obj_cui"])
            if hops.get(e) != r["hop"] or self.edges.get(e) != r["n_evidence"]:
                return False, {"bad": "neighborhood edge"}
            per_seed.setdefault(s, []).append(r["rank"])
        for s in set().union(*want_links.values()):
            n = min(self.K_NEIGHBORS, len(reach.get(s) or self._reach(s)))
            if sorted(per_seed.get(s, [])) != list(range(1, n + 1)):
                return False, {"bad": "neighborhood ranks"}
        return True, {}


# --- near-duplicate detection ------------------------------------------------

class DedupMinhash(Workload):
    """One minhash_dedup(family='xxhash64') over a seeded corpus with planted
    near-duplicate copies at known Jaccard."""

    name = "dedup_minhash"
    item = "docs"
    warmup_ops = 6
    THRESHOLD = 0.7
    RECALL_J = 0.9       # planted pairs at or above this Jaccard ...
    MIN_RECALL = 0.9     # ... must be found at least this often

    def generate(self) -> None:
        self.docs, self.planted = inputs.near_dup_corpus(self.cfg["n_base"], self.seed)
        inputs.write_docs(self.docs, self.path("docs"), self.files)
        self.sh = [inputs.shingles(t) for t in self.docs["text"]]

    def sizes(self) -> dict:
        return {"docs": len(self.docs), "planted_pairs": len(self.planted),
                "planted_identical": int((self.planted["jaccard"] == 1.0).sum())}

    def items_per_op(self) -> int:
        return len(self.docs)

    def corpus(self):
        return self.spark.read.parquet(self.path("docs"))

    def op(self, i: int):
        return minhash_dedup(self.corpus(), family="xxhash64", threshold=self.THRESHOLD).collect()

    def check(self, out) -> tuple[bool, dict]:
        found = set()
        for r in out:
            a, b = int(r["id_a"]), int(r["id_b"])
            j = inputs.jaccard(self.sh[a], self.sh[b])
            if a >= b or j < self.THRESHOLD or abs(j - r["jaccard"]) > 1e-6:
                return False, {"bad": "pair below threshold"}
            found.add((a, b))
        p = self.planted
        hit = [(a, b) in found for a, b in zip(p["id_a"], p["id_b"])]
        p = p.assign(hit=hit)
        if not p.loc[p["jaccard"] == 1.0, "hit"].all():
            return False, {"bad": "identical copy missed"}
        strong = p.loc[p["jaccard"] >= self.RECALL_J, "hit"]
        recall = float(strong.mean()) if len(strong) else 1.0
        if recall < self.MIN_RECALL:
            return False, {"bad": "recall", "recall": recall}
        return True, {"pairs": len(found), "planted_recall": round(recall, 4)}


WORKLOADS = {w.name: w for w in (KGBatch, DedupMinhash)}
COMPANIONS = {w.name: w for w in (KGCheckpointed, KGQuery)}
