"""Physical-plan shape tests: the properties that make the pipeline viable at
100 TB are asserted on the plans themselves, not just the outputs.

- the KG outputs read the linked extraction: no join, one Arrow pass
- kg_nodes must be a map-side partial aggregate with no join
- stage [1] must shuffle exactly once (repartition satisfies the window)
- parquet scans must receive pushed filters / pruned columns
- minhash_dedup must scan, shingle and shuffle the corpus once, from a plan
  built in a few hundred py4j round trips
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import minhash_dedup
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.turn_assembly import (
    assemble_turns,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import build_kg


@pytest.fixture(scope="module")
def kg(spark, fixture_dir):
    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    return build_kg(spark, transcripts, aliases, persist=False)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kg_plans_link_in_extraction_pass(kg):
    """Linking happens inside the extraction's mapInArrow: the outputs run
    no join (broadcast or sort-merge) and no pandas-UDF scoring stage, and
    the assembly repartition is the only exchange below the cached
    extraction."""
    for name in ("kg_edges", "kg_edge_stats", "kg_nodes"):
        plan = _plan(getattr(kg, name))
        assert "Join" not in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert plan.count("MapInArrow") == 1, (name, plan)
    unified = _plan(kg.unified)
    assert unified.count("Exchange") == 1, unified
    assert "Exchange hashpartitioning(conv_id" in unified, unified


def test_kg_nodes_partial_aggregate_no_join(kg):
    """build_kg's kg_nodes aggregates the collapsed, already-linked stat rows
    of the extraction: its plan must show the map-side-combined (partial)
    aggregate and no join."""
    nodes_plan = _plan(kg.kg_nodes)
    assert "partial_count" in nodes_plan or "partial" in nodes_plan, nodes_plan
    # the cui rides the extraction rows: no join feeds the node aggregate
    assert "Join" not in nodes_plan, nodes_plan


def test_turn_assembly_single_shuffle(spark, fixture_dir):
    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    plan = _plan(assemble_turns(transcripts))
    assert plan.count("Exchange") == 1, plan


def test_scan_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_orderkey") == 42)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.mark.parametrize("family", ["md5", "xxhash64"])
def test_minhash_dedup_one_scan_one_id_exchange(spark, family):
    """The signature aggregate has one consumer: the executed (final AQE)
    plan reads the corpus once and shuffles it by id once. A second
    FileScan means a twin aggregate re-scans and re-shingles the corpus."""
    df = minhash_dedup(spark.read.parquet(DOCS), family=family)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1, final
    # exchange NODES only: a ReusedExchange line repeats the reused
    # exchange's description after its own name
    id_exchanges = re.findall(r"^[\s:|+-]*Exchange hashpartitioning\(id#", final, re.M)
    assert len(id_exchanges) == 1, final


@pytest.mark.parametrize("family", ["md5", "xxhash64"])
def test_minhash_dedup_plan_construction_budget(spark, family):
    """Building (not running) minhash_dedup sends at most 400 py4j commands
    to the JVM: the plan is assembled from SQL strings, not one Column
    object per node."""
    docs = spark.read.parquet(DOCS)
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counting(*a, **k):
        calls[0] += 1
        return send(*a, **k)

    client.send_command = counting
    try:
        minhash_dedup(docs, family=family)
    finally:
        del client.send_command
    assert calls[0] <= 400, calls[0]


def test_kg_query_cli_smoke(spark, fixture_dir, tmp_path, capsys, monkeypatch):
    """tools/kg_query.py end-to-end: build a small KG to disk, then drive both
    CLI subcommands in-process (get_spark reuses the live session)."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import kg_query

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import build_kg

    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    aliases_path = f"{fixture_dir}/concept_aliases.parquet"
    aliases = spark.read.parquet(aliases_path)
    kg = build_kg(spark, transcripts, aliases)
    out = str(tmp_path / "kg_out")
    kg.kg_edge_stats.write.parquet(os.path.join(out, "kg_edge_stats"))

    # pick a real CUI from the graph as the seed
    seed = kg.kg_edge_stats.select("subj_cui").first()[0]
    rc = kg_query.main(["neighbors", "--kg", out, "--hops", "2", "-k", "5", seed])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines and all(r["seed_cui"] == seed for r in lines)
    assert [r["rank"] for r in lines] == list(range(1, len(lines) + 1))

    # ask: use a surface string that links (any alias from the dictionary)
    alias = aliases.select("alias").first()[0]
    rc = kg_query.main(
        ["ask", "--kg", out, "--aliases", aliases_path, "-k", "3",
         f"what about {alias}?"]
    )
    assert rc == 0
    out_lines = capsys.readouterr().out.strip()
    # a question whose entity has no edges may legitimately return nothing;
    # the contract is exit 0 + valid JSON lines
    for l in out_lines.splitlines():
        if l:
            json.loads(l)


def test_t_wide_widens_single_file_scan(spark):
    """_t_wide must widen a deficient (single-file) scan to the session's
    parallelism and leave the row set untouched; it must be identity-shaped
    on inputs that already have enough partitions."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import _t, _t_wide

    sf = "/root/testdata/sf0.01"
    narrow = _t(spark, sf, "documents")
    wide = _t_wide(spark, sf, "documents")
    assert narrow.rdd.getNumPartitions() == 1
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert wide.count() == narrow.count()


def test_driver_gate_order_contract():
    """The driver's correctness gate stamps the FIRST 50 registry entries;
    the order is curated so the queries with the STALEST last driver stamp
    sit inside the gate. r6 rotation: the 14 queries last stamped r2/r3
    moved inside the cap, displacing 14 queries stamped green in three
    consecutive rounds (r3+r4+r5). Pin that: any registry edit that pushes a
    rotated-in stale query past slot 50 fails here, not in the next round's
    CORRECTNESS file."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import REGISTRY

    top50 = list(REGISTRY)[:50]
    rotated_in_r6 = {
        "a2_argmax_per_group", "a5_deterministic_sample",
        "a6_dedup_first_seen", "a7_canonical_grouping", "asof_prev_click",
        "t1_topk_per_group", "p2_delta_threshold_filter",
        "p4_percentile_filter", "f_scalar_functions", "u3_anti_join_resume",
        "j2_keyed_lookup_join", "q13_order_histogram",
        "q19_disjunctive_predicates", "grouping_sets_agg",
    }
    missing = rotated_in_r6 - set(top50)
    assert not missing, f"stale-stamped queries fell out of the 50-slot gate: {missing}"
    # the flagship stays slot 1 (r6 perf done-criterion hash-checks it)
    assert top50[0] == "kg_pipeline_full"
    # displaced queries keep their oracles below the cap (judge-swept)
    below = list(REGISTRY)[50:]
    for name in ("kg_turn_assembly_synth", "kg_mention_detect_synth",
                 "kg_neighborhood", "q2_min_subquery", "approx_sketches"):
        assert name in below and REGISTRY[name][1] is not None
    # every registry entry must have an oracle (zero rows-only since r4)
    for name in REGISTRY:
        assert REGISTRY[name][1] is not None, f"{name} without an oracle"
