"""KG-construction benchmark: one seeded workload per run, at local[nproc].

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up starts the Spark session (through the
package's `session.get_spark`) while the seeded inputs and the pandas oracle
are generated, then prepares Spark-side inputs and runs warm-up operations.
The measured window runs operations back to back (a closed loop, one
client) until their summed time reaches `--seconds`; every operation's output
is checked against the oracle outside the timed region.

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` it carries the per-layer metrics of a separate traced run (see
perfbench/trace.py), which times a few operations instead of `--seconds`.
The line before it is a detail record for the reader: input sizes, sample
counts, the host load probe, and per-check notes. All scratch files live
under `.perfbench_work/` in the working directory and are removed at exit.

The Spark JVM runs with the package's own session settings (driver heap
included); the benchmark only adds the settings that keep its files inside
the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Fails fast (and prints no result) where the package is absent.
from knowledge_graph_integration_rag_biomedical_qna_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

from perfbench import trace as tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, new_tally, run_op  # noqa: E402

TAIL_PCT = 75  # op_tail_s is the nearest-rank p75 of the run's operations


def host_probe(n: int = 3_000_000) -> float:
    """Busy-loop seconds: a reading of how loaded the shared host is. It is
    only reported; no sample is dropped or re-run because of it."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str, event_log: str | None) -> dict:
    """Keep every file Spark and the JVM write inside `work`."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work}"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + event_log})
    return conf


def start_session(work: str, cores: int, event_log: str | None = None):
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=session_conf(work, event_log))


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM and
    its Python workers have exited."""
    gateway = SparkContext._gateway
    workers = tracing.descendants(gateway.proc.pid)
    if spark is not None:
        spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while any(map(tracing.alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.1)


def nearest_rank(sorted_vals: list, pct: float) -> float:
    return sorted_vals[max(0, math.ceil(pct / 100 * len(sorted_vals)) - 1)]


def measure(wl, seconds: float, ops: int = 1) -> dict:
    """Closed loop until the summed operation time reaches `seconds` and at
    least `ops` operations ran. Each output is checked after its timing."""
    m = new_tally()
    i = 0
    while len(m["times"]) < ops or sum(m["times"]) < seconds:
        m["times"].append(run_op(m, i, lambda: wl.op(i), wl.check))
        i += 1
    return m


def summarize(wl, m: dict) -> dict:
    t = sorted(m["times"])
    n = len(t)
    return {
        "op_p50_s": statistics.median(t),
        "op_tail_s": nearest_rank(t, TAIL_PCT),
        "items_per_s": wl.items_per_op() * n / sum(t),
        "success_rate": 1 - m["failed"] / m["attempted"],
    }


UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
         "items_per_s": "items/s", "success_rate": "fraction"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    cores = nproc()
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None  # pick up the TMPDIR set above

    detail = {"workload": args.workload, "seed": args.seed, "nproc": cores,
              "trace": args.trace, "host_probe_before_s": host_probe()}
    wl = WORKLOADS[args.workload](work, args.seed, args.size, files=2 * cores)
    spark = None
    try:
        with ThreadPoolExecutor(1) as pool:
            gen = pool.submit(wl.generate)
            t0 = time.perf_counter()
            spark = start_session(work, cores,
                                  os.path.join(work, "eventlog") if args.trace else None)
            detail["session_start_s"] = time.perf_counter() - t0
            gen.result()
            detail["generate_wait_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(spark)
        detail["prepare_s"] = time.perf_counter() - t0
        warm = measure(wl, 0, ops=wl.warmup_ops)  # checked like any operation
        setup_s = time.perf_counter() - T_START
        detail.update(sizes=wl.sizes(), warmup_s=warm["times"], warmup_notes=warm["notes"])

        if args.trace:
            m, metrics, extra = tracing.traced_run(
                spark, wl, os.path.join(os.getcwd(), ".perfbench_out",
                                        f"{args.workload}-s{args.seed}-spans.json"))
            spark = None  # stopped by traced_run, which needs the final event log
            detail.update(extra)
            units = tracing.UNITS
        else:
            m = measure(wl, args.seconds)
            units = UNITS
        m["failed"] += warm["failed"]
        m["attempted"] += warm["attempted"]
        if not args.trace:
            metrics = {**summarize(wl, m), "setup_s": setup_s}
            # for the reader only: with the heap growing on demand it spreads
            # too widely between runs for a bound (see spark.peak_rss_mb)
            detail["peak_rss_mb"] = tracing.peak_rss_mb(spark)
    finally:
        if SparkContext._gateway is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    t = sorted(m["times"])
    detail.update({
        "op_s": m["times"], "ops": len(t), "error_rate": m["failed"] / m["attempted"],
        "op_tail_pct": TAIL_PCT,
        "ops_beyond_tail": sum(x > nearest_rank(t, TAIL_PCT) for x in t),
        f"{wl.item}_per_s": wl.items_per_op() * len(t) / sum(t),
        "notes": m["notes"][:20],
        "host_probe_after_s": host_probe(),
    })
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
