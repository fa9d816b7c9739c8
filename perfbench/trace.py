"""Traced run: spans, Spark job labels, the event-log parser and the
per-layer probes.

Spans are recorded from the benchmark's own files around calls into the
package's public functions; nothing inside the package changes. Every span
also labels the Spark jobs it starts (`setJobDescription`), and the event
log (`spark.eventLog.enabled`, written under the run's work directory) is
parsed after the session stops to attribute executor time, shuffle bytes,
spill, GC and failed tasks to those labels.

A layer's self time comes from noop-sink prefixes: prefix k runs the
pipeline up to layer k into `format("noop")`, and the layer's self time is
prefix k minus prefix k-1 (median over interleaved repetitions).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

from knowledge_graph_integration_rag_biomedical_qna_spark.core.config import ARROW_BATCH
from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import AliasIndex
from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
    extract_unified_batches,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    with_shingles,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
    extract_collapsed_df,
    mention_stats_view,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
    candidate_table,
    resolution_table,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.turn_assembly import (
    assemble_turns,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
    broadcast_alias_keys,
    build_kg,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.session import default_parallelism

from .workloads import COMPANIONS, check_output, new_tally, run_op

MB = 1024 * 1024
PREFIX_REPS = 2
AUX = "aux"  # label of untimed helper jobs (counts); excluded from layers

_S, _N, _MB, _R = "s", "count", "MB", "ratio"
UNITS = {
    "sources.scan_s": _S, "sources.rows": _N, "write.self_s": _S, "write.mb": _MB,
    "turn_assembly.self_s": _S, "turn_assembly.rows_out": _N,
    "turn_assembly.dropped": _N, "turn_assembly.shuffle_mb": _MB,
    "extraction.self_s": _S, "extraction.rows_out": _N, "extraction.triples": _N,
    "extraction.executor_s": _S, "extraction.boundary_s": _S,
    "vectorized.kernel_s": _S,
    "pipeline.plan_s": _S, "pipeline.py4j_calls": _N, "pipeline.alias_index_s": _S,
    "pipeline.mention_stats_s": _S, "pipeline.cache_mb": _MB,
    "linking.self_s": _S, "linking.surfaces": _N, "linking.linked": _N,
    "linking.link_yield": _R,
    "canonicalize.edges_s": _S, "canonicalize.nodes_s": _S,
    "canonicalize.edges_out": _N, "canonicalize.edge_stats_out": _N,
    "canonicalize.nodes_out": _N, "canonicalize.triple_yield": _R,
    "canonicalize.shuffle_mb": _MB,
    "checkpoint.group_s": _S, "checkpoint.groups": _N, "checkpoint.resume_skipped": _N,
    "checkpoint.finalize_s": _S, "checkpoint.jobs_per_group": _N, "checkpoint.write_mb": _MB,
    "query.link_s": _S, "query.retrieve_s": _S, "query.neighborhood_s": _S,
    "query.jobs_per_op": _N, "query.links_per_question": _R,
    "dedup.shingles_s": _S, "dedup.signatures_s": _S, "dedup.banding_s": _S,
    "dedup.verify_s": _S, "dedup.candidates": _N, "dedup.pairs": _N,
    "dedup.verify_yield": _R, "dedup.shuffle_mb": _MB,
    "spark.jobs": _N, "spark.tasks_failed": _N, "spark.spill_mb": _MB, "spark.gc_s": _S,
    "spark.peak_rss_mb": _MB,
    "trace.op_p50_s": _S, "trace.overhead_s": _S,
}


# --- spans and labels ------------------------------------------------------

class Tracer:
    """In-memory spans; each span labels the Spark jobs started inside it."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def label(self, name: str) -> None:
        self.spark.sparkContext.setJobDescription(name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.label(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "parent": parent,
                               "start": t0, "end": time.perf_counter()})
            self._stack.pop()
            self.label(parent or AUX)

    def last(self) -> float:
        """Duration of the most recently closed span."""
        return self.spans[-1]["end"] - self.spans[-1]["start"]

    def timed(self, name: str, fn) -> float:
        with self.span(name):
            fn()
        return self.last()

    def count(self, df) -> int:
        self.label(AUX)
        return df.count()


@contextlib.contextmanager
def count_py4j(spark):
    """Count the py4j commands Python sends to the JVM inside the block."""
    client = spark.sparkContext._gateway._gateway_client
    box = [0]
    send = client.send_command

    def counting(*a, **k):
        box[0] += 1
        return send(*a, **k)

    client.send_command = counting
    try:
        yield box
    finally:
        del client.send_command


# --- event log -----------------------------------------------------------------

FIELDS = ("jobs", "tasks", "tasks_failed", "executor_s", "gc_s", "spill_mb",
          "shuffle_write_mb", "output_mb")


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job label: jobs, tasks, failed tasks, executor run time, GC time,
    spilled MB, shuffle-written MB and output MB. A stage belongs to the
    label of the first job that lists it."""
    stage_label: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get("spark.job.description") or ""
                out[label]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerTaskEnd":
                s = out[stage_label.get(ev["Stage ID"], "")]
                tm = ev.get("Task Metrics") or {}
                s["tasks"] += 1
                s["tasks_failed"] += ev.get("Task End Reason", {}).get("Reason") != "Success"
                s["executor_s"] += tm.get("Executor Run Time", 0) / 1000
                s["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                s["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0)) / MB
                s["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / MB
                s["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    return dict(out)


def event_log_file(log_dir: str) -> str:
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    return os.path.join(log_dir, name)


# --- memory ------------------------------------------------------------------

def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process exited
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` (Python workers of the Spark JVM)."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    todo, out = list(children[pid]), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children[p])
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus that of its largest Python worker."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(jvm) + max(map(_vm_hwm_kb, descendants(jvm)), default=0)) / 1024


# --- per-layer probes ----------------------------------------------------------

def noop(df) -> None:
    """Run `df` to completion into the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def _prefix_reps(tr: Tracer, prefixes: list) -> dict[str, list[float]]:
    """Run each (name, fn) prefix PREFIX_REPS times, interleaved; labels are
    `<name>#<rep>` so the event log splits them per repetition."""
    times: dict[str, list[float]] = defaultdict(list)
    for rep in range(PREFIX_REPS):
        for name, fn in prefixes:
            times[name].append(tr.timed(f"{name}#{rep}", fn))
    return times


def _self(times: dict, order: list[str]) -> dict[str, float]:
    """Median per-repetition difference of consecutive prefixes."""
    out = {}
    prev = None
    for name in order:
        cur = times[name]
        out[name] = statistics.median(
            [c - p for c, p in zip(cur, times[prev])] if prev else cur)
        prev = name
    return out


def _ev_self(ev: dict, order: list[str], field: str) -> dict[str, float]:
    """The same differencing for an event-log field of the prefix labels."""
    return _self({n: [ev.get(f"{n}#{r}", {}).get(field, 0) for r in range(PREFIX_REPS)]
                  for n in order}, order)


KG_ORDER = ["sources", "turn_assembly", "extraction", "mention_stats", "linking",
            "edges", "nodes", "write"]


def probe_kg_batch(wl, tr: Tracer, tally: dict) -> tuple[dict, callable, dict]:
    spark = wl.spark

    def aliases():
        return wl._aliases()

    def resolution(ms, al):
        return resolution_table(candidate_table(
            ms.select("alias_key", "surface"), al,
            score_partitions=default_parallelism(spark) // 16 or 1))

    def extraction():
        return extract_collapsed_df(assemble_turns(wl.transcripts()),
                                    broadcast_alias_keys(spark, aliases()))

    def full_kg(read_nodes: bool):
        kg = wl.build()
        try:
            noop(kg.kg_edge_stats)
            if read_nodes:
                noop(kg.kg_nodes)
        finally:
            kg.unpersist()

    prefixes = [
        ("sources", lambda: noop(wl.transcripts())),
        ("turn_assembly", lambda: noop(assemble_turns(wl.transcripts()))),
        ("extraction", lambda: noop(extraction())),
        ("mention_stats", lambda: noop(mention_stats_view(extraction()))),
        ("linking", lambda: noop(resolution(mention_stats_view(extraction()), aliases()))),
        ("edges", lambda: full_kg(False)),
        ("nodes", lambda: full_kg(True)),
        ("write", lambda: wl.op(0)),
    ]
    times = _prefix_reps(tr, prefixes)
    st = _self(times, KG_ORDER)

    plan, alias = [], []
    for _ in range(PREFIX_REPS):
        with tr.span("pipeline.alias_index"):
            keys = broadcast_alias_keys(spark, aliases())
        alias.append(tr.last())
        with tr.span("pipeline.plan"):
            kg = build_kg(spark, wl.transcripts(), aliases(), alias_index=keys)
        plan.append(tr.last())
        kg.unpersist()
    with count_py4j(spark) as calls, tr.span("pipeline.cold_plan"):
        kg = build_kg(spark, wl.transcripts(), aliases())

    # engine-side counts (untimed), off one persisted build_kg
    rows = tr.count(wl.transcripts())
    turns = tr.count(kg.turns)
    unified = tr.count(kg.unified)
    triples = tr.count(kg.raw_triples)
    surfaces = tr.count(kg.mention_stats)
    linked = tr.count(kg.resolution)
    edges_out = tr.count(kg.kg_edges)
    counts = {
        "sources.rows": rows, "turn_assembly.rows_out": turns,
        "turn_assembly.dropped": rows - turns, "extraction.rows_out": unified,
        "extraction.triples": triples, "linking.surfaces": surfaces,
        "linking.linked": linked, "linking.link_yield": linked / max(surfaces, 1),
        "canonicalize.edges_out": edges_out,
        "canonicalize.edge_stats_out": tr.count(kg.kg_edge_stats),
        "canonicalize.nodes_out": tr.count(kg.kg_nodes),
        "canonicalize.triple_yield": edges_out / max(triples, 1),
        "pipeline.cache_mb": sum(
            (i.memSize() + i.diskSize()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ) / MB,
        "pipeline.py4j_calls": calls[0],
    }
    kg.unpersist()

    # single-thread in-process kernel over the same assembled turns
    tr.label(AUX)
    table = assemble_turns(wl.transcripts()).select("conv_id", "turn_idx", "text").toArrow()
    index = AliasIndex(frozenset(wl.kg["aliases"]["alias_key"]))
    kernel = []
    for _ in range(PREFIX_REPS):
        t0 = time.perf_counter()
        for b in table.to_batches(max_chunksize=ARROW_BATCH * 32):
            for _rb in extract_unified_batches(b.column(0), b.column(1), b.column(2), index):
                pass
        kernel.append(time.perf_counter() - t0)
    kernel_s = statistics.median(kernel)

    metrics = {
        **counts,
        "sources.scan_s": st["sources"],
        "turn_assembly.self_s": st["turn_assembly"],
        "extraction.self_s": st["extraction"],
        "pipeline.mention_stats_s": st["mention_stats"],
        "linking.self_s": st["linking"],
        "canonicalize.edges_s": st["edges"],
        "canonicalize.nodes_s": st["nodes"],
        "write.self_s": st["write"],
        "vectorized.kernel_s": kernel_s,
        "pipeline.plan_s": statistics.median(plan),
        "pipeline.alias_index_s": statistics.median(alias),
    }
    layers_sum = sum(st.values())

    def from_log(ev: dict) -> dict:
        ex = _ev_self(ev, KG_ORDER, "executor_s")
        sh = _ev_self(ev, KG_ORDER, "shuffle_write_mb")
        out = _ev_self(ev, KG_ORDER, "output_mb")
        return {
            "extraction.executor_s": ex["extraction"],
            "extraction.boundary_s": ex["extraction"] - kernel_s,
            "turn_assembly.shuffle_mb": sh["turn_assembly"],
            "canonicalize.shuffle_mb": sh["edges"] + sh["nodes"],
            "write.mb": out["write"],
        }

    return metrics, from_log, {"kg_layers_sum_s": layers_sum,
                               "kg_prefix_s": {k: statistics.median(v) for k, v in times.items()}}


def probe_checkpoint(wl, tr: Tracer, tally: dict) -> tuple[dict, callable, dict]:
    out = wl.path("trace_ckpt")
    run = wl.runner(out)
    t_al = wl.transcripts(), wl._aliases()
    with tr.span("checkpoint.run"):
        first = run.run(*t_al, max_groups=wl.cfg["crash_after"])
        skipped = len(first["buckets_done"])
        second = run.run(*t_al)
    run_s = tr.last()
    finalize_s = tr.timed("checkpoint.finalize", run.finalize)
    check_output(tally, wl.name, wl.check, out)
    groups = first["groups_processed"] + second["groups_processed"]
    metrics = {"checkpoint.group_s": run_s / groups, "checkpoint.groups": groups,
               "checkpoint.resume_skipped": skipped, "checkpoint.finalize_s": finalize_s}

    def from_log(ev: dict) -> dict:
        r, f = ev.get("checkpoint.run", {}), ev.get("checkpoint.finalize", {})
        return {"checkpoint.jobs_per_group": r.get("jobs", 0) / groups,
                "checkpoint.write_mb": r.get("output_mb", 0) + f.get("output_mb", 0)}

    return metrics, from_log, {}


def probe_query(wl, tr: Tracer, tally: dict) -> tuple[dict, callable, dict]:
    spans: dict[str, list] = defaultdict(list)
    links, ops = 0, wl.cfg["batches"] - 1
    tr.label(AUX)
    wl.op(-1)  # warm-up (the last batch): the query path may not have run in this session yet
    for i in range(ops):
        n0 = len(tr.spans)
        out = wl.op(i, span=tr.span)
        links += len(out[1])
        for s in tr.spans[n0:]:
            spans[s["name"]].append(s["end"] - s["start"])
        check_output(tally, f"{wl.name}{i}", wl.check, out)
    metrics = {f"{k}_s": statistics.median(v) for k, v in spans.items()}
    metrics["query.links_per_question"] = links / (ops * wl.items_per_op())

    def from_log(ev: dict) -> dict:
        jobs = sum(v["jobs"] for k, v in ev.items() if k.startswith("query."))
        return {"query.jobs_per_op": jobs / ops}

    return metrics, from_log, {}


DEDUP_ORDER = ["sources", "shingles", "signatures", "banding", "verify"]


def probe_dedup(wl, tr: Tracer, tally: dict) -> tuple[dict, callable, dict]:
    from pyspark.sql import functions as F

    def shingles():
        return with_shingles(wl.corpus()).withColumn("shingle", F.xxhash64("shingle"))

    def sigs():
        return minhash_signatures(shingles(), family="xxhash64")

    prefixes = [
        ("sources", lambda: noop(wl.corpus())),
        ("shingles", lambda: noop(shingles())),
        ("signatures", lambda: noop(sigs())),
        ("banding", lambda: noop(lsh_candidate_pairs(sigs()))),
        ("verify", lambda: noop(minhash_dedup(wl.corpus(), family="xxhash64",
                                              threshold=wl.THRESHOLD))),
    ]
    st = _self(_prefix_reps(tr, prefixes), DEDUP_ORDER)
    cands = tr.count(lsh_candidate_pairs(sigs()))
    pairs = tr.count(minhash_dedup(wl.corpus(), family="xxhash64", threshold=wl.THRESHOLD))
    metrics = {"sources.scan_s": st["sources"], "sources.rows": tr.count(wl.corpus()),
               "dedup.shingles_s": st["shingles"], "dedup.signatures_s": st["signatures"],
               "dedup.banding_s": st["banding"], "dedup.verify_s": st["verify"],
               "dedup.candidates": cands, "dedup.pairs": pairs,
               "dedup.verify_yield": pairs / max(cands, 1)}

    def from_log(ev: dict) -> dict:
        return {"dedup.shuffle_mb": statistics.median(
            ev.get(f"verify#{r}", {}).get("shuffle_write_mb", 0) for r in range(PREFIX_REPS))}

    return metrics, from_log, {}


PROBES = {
    "kg_batch": probe_kg_batch,
    "kg_checkpointed": probe_checkpoint,
    "kg_query": probe_query,
    "dedup_minhash": probe_dedup,
}
# Companion workloads probed inside a timed workload's traced run, so that
# the two timed workloads together trace every layer.
COMPANION_OF = {"kg_batch": ("kg_checkpointed",), "dedup_minhash": ("kg_query",)}
TRACED_PAIRS = 2


def traced_run(spark, wl, spans_path: str) -> tuple[dict, dict, dict]:
    """The traced half of a `--trace 1` run, in a session started with the
    event log on. Times TRACED_PAIRS pairs of one untraced and one labelled
    operation of `wl`, in ABBA order so that warm-up drift cancels in the
    median per-pair difference (`trace.overhead_s`); both halves run with
    the event log on, so that figure is the cost of spans and job labels.
    Then runs the layer
    probes of `wl` and of its companions (generated and prepared here),
    stops the session and parses its event log.

    Returns (tally, per-layer metrics, detail). The tally holds the untraced
    times; every operation and probe output checked here counts in it."""
    tr = Tracer(spark)
    tally = new_tally()
    log_dir = spark.conf.get("spark.eventLog.dir").removeprefix("file://")
    traced, diffs = [], []
    detail = {}
    try:
        for k in range(TRACED_PAIRS):
            pair = {}
            for mode in (("untraced", "traced") if k % 2 == 0 else ("traced", "untraced")):
                timing = (lambda: tr.span("op")) if mode == "traced" else unlabelled(tr)
                pair[mode] = run_op(tally, f"{mode}{k}", lambda: wl.op(k), wl.check, timing)
            tally["times"].append(pair["untraced"])
            traced.append(pair["traced"])
            diffs.append(pair["traced"] - pair["untraced"])
        metrics = dict.fromkeys(UNITS, 0)
        finishers = []
        companions = [COMPANIONS[c](wl.path(c), wl.seed, wl.size, wl.files)
                      for c in COMPANION_OF.get(wl.name, ())]
        for w in (wl, *companions):
            if w is not wl:
                with tr.span(f"setup.{w.name}"):
                    w.generate()
                    w.prepare(spark)
                detail[f"{w.name}_sizes"] = w.sizes()
            got, from_log, extra = PROBES[w.name](w, tr, tally)
            metrics.update(got)
            finishers.append(from_log)
            detail.update(extra)
        metrics["spark.peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        spark.stop()
    ev = parse_event_log(event_log_file(log_dir))
    for from_log in finishers:
        metrics.update(from_log(ev))
    labelled = [v for k, v in ev.items() if k and k != AUX]
    metrics.update({
        "spark.jobs": sum(v["jobs"] for v in labelled),
        "spark.tasks_failed": sum(v["tasks_failed"] for v in labelled),
        "spark.spill_mb": sum(v["spill_mb"] for v in labelled),
        "spark.gc_s": sum(v["gc_s"] for v in labelled),
        "trace.op_p50_s": statistics.median(traced),
        "trace.overhead_s": statistics.median(diffs),
    })
    detail.update(traced_op_s=traced, overhead_pair_s=diffs, spans=len(tr.spans))
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as fh:
        json.dump(tr.spans, fh)
    detail["spans_file"] = os.path.relpath(spans_path)
    return tally, metrics, detail


def unlabelled(tr: Tracer):
    """Timing context of an untraced operation: no span, no job label."""
    def timing():
        tr.label(None)
        return contextlib.nullcontext()
    return timing
