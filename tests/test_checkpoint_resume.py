"""Kill-and-resume test (SURVEY.md §5): run the checkpointed materialization,
abort after m of n bucket groups, resume, and require the final tables to be
identical to a single-shot run and to one build_kg over the same input. Also
checks lineage metrics coverage and the lost-marker failure model."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import (
    ResumableKGRun,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import build_kg

KG_TABLES = ("kg_edges", "kg_nodes", "kg_edge_stats")

@pytest.fixture(scope="module")
def inputs(spark, fixture_dir):
    return (
        spark.read.parquet(f"{fixture_dir}/transcripts.parquet"),
        spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet"),
    )


def _table(df) -> pd.DataFrame:
    """A KG table as a row-order-free pandas frame: surfaces arrays become
    tuples, rows sort on every column."""
    pdf = df.toPandas()
    if "surfaces" in pdf:
        pdf["surfaces"] = pdf["surfaces"].map(tuple)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _written(spark, out_dir) -> dict[str, pd.DataFrame]:
    return {
        name: _table(spark.read.parquet(f"{out_dir}/{name}").drop("bucket"))
        for name in KG_TABLES
    }


@pytest.fixture(scope="module")
def resumed_run(spark, inputs, tmp_path_factory) -> str:
    """Output dir of a run crashed after 2 of 4 bucket groups, resumed, then
    finalized."""
    transcripts, aliases = inputs
    out = str(tmp_path_factory.mktemp("ckpt") / "resumed")
    s1 = ResumableKGRun(spark, out, buckets=8, group_size=2).run(
        transcripts, aliases, max_groups=2
    )
    assert s1["groups_processed"] == 2 and not s1["complete"]
    assert len(s1["buckets_done"]) == 4
    # resume: picks up exactly the remaining buckets
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    s2 = run.run(transcripts, aliases)
    assert s2["groups_processed"] == 2 and s2["complete"]
    run.finalize()
    return out


def test_resumed_run_equals_build_kg(spark, inputs, resumed_run):
    """The runner composes the KG through build_kg: after a crash and a
    resume, every column of kg_edges, kg_nodes (surfaces included) and
    kg_edge_stats (exact n_convs included) equals one build_kg."""
    transcripts, aliases = inputs
    kg = build_kg(spark, transcripts, aliases)
    try:
        want = {name: _table(getattr(kg, name)) for name in KG_TABLES}
    finally:
        kg.unpersist()
    got = _written(spark, resumed_run)
    assert len(want["kg_edges"]) > 0 and len(want["kg_nodes"]) > 0
    for name, w in want.items():
        pd.testing.assert_frame_equal(got[name][list(w.columns)], w, check_exact=True, obj=name)


def test_lost_marker_reprocesses_one_group(spark, inputs, resumed_run, tmp_path):
    """Crash after a group's data and lineage writes but before its done
    marker: the rerun processes exactly that group, and its overwrites leave
    the tables and the lineage unchanged (no double counting)."""
    transcripts, aliases = inputs
    out = str(tmp_path / "lost_marker")
    shutil.copytree(resumed_run, out)

    def lineage():
        lin = spark.read.parquet(f"{out}/lineage").toPandas()
        return len(lin), int(lin["edges"].sum())

    before, lineage_before = _written(spark, out), lineage()
    markers = sorted(f for f in os.listdir(f"{out}/_done") if f.endswith(".json"))
    assert len(markers) == 4, markers
    os.remove(f"{out}/_done/{markers[1]}")

    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    s = run.run(transcripts, aliases)
    assert s["groups_processed"] == 1 and s["complete"], s
    run.finalize()
    after = _written(spark, out)
    for name in ("kg_edges", "kg_nodes"):
        pd.testing.assert_frame_equal(after[name], before[name], check_exact=True, obj=name)
    assert lineage() == lineage_before


def test_resume_produces_identical_tables(spark, inputs, resumed_run, tmp_path):
    transcripts, aliases = inputs
    single = str(tmp_path / "single")

    # single-shot run
    run1 = ResumableKGRun(spark, single, buckets=8, group_size=2)
    s = run1.run(transcripts, aliases)
    assert s["complete"]
    run1.finalize()

    want, got = _written(spark, single), _written(spark, resumed_run)
    for name, w in want.items():
        pd.testing.assert_frame_equal(got[name], w, check_exact=True, obj=name)

    # rerun on a complete output is a no-op
    s3 = ResumableKGRun(spark, resumed_run, buckets=8, group_size=2).run(transcripts, aliases)
    assert s3["groups_processed"] == 0 and s3["complete"]


def test_lineage_metrics(spark, inputs, tmp_path):
    transcripts, aliases = inputs
    out = str(tmp_path / "lineage_run")
    run = ResumableKGRun(spark, out, buckets=4, group_size=4)
    run.run(transcripts, aliases)
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    assert sorted(lineage["bucket"].unique()) == [0, 1, 2, 3]
    assert (lineage["turns_in"] > 0).all()
    assert lineage["edges"].sum() > 0
    # triple-count conservation: lineage edge counts == materialized edges
    edges = spark.read.parquet(f"{out}/kg_edges")
    assert int(lineage["edges"].sum()) == edges.count()


def test_legacy_root_lineage_migrates_cleanly(spark, inputs, tmp_path):
    """r4 advice: lineage was a plain append (root part-files) through r3 and
    is commit_group-partitioned since r4 — resuming a pre-upgrade out_dir
    mixed both layouts in one path and broke partition discovery. The run()
    entry must move root-level files under commit_group=legacy so old rows
    keep reading alongside new ones."""
    import os

    transcripts, aliases = inputs
    out = str(tmp_path / "legacy_dir")
    lineage = os.path.join(out, "lineage")
    os.makedirs(lineage, exist_ok=True)
    # simulate a pre-upgrade append: one root-level parquet data file with
    # the lineage row schema minus the partition column
    legacy_rows = pd.DataFrame(
        {
            "bucket": pd.array([0], dtype="int32"),
            "turns_in": pd.array([7], dtype="int64"),
            "mentions": pd.array([3], dtype="int64"),
            "raw_triples": pd.array([1], dtype="int64"),
            "edges": pd.array([1], dtype="int64"),
            "wall_sec": [0.5],
            "committed_at": pd.array(
                [pd.Timestamp("2026-01-01")], dtype="datetime64[us]"
            ),
        }
    )
    legacy_rows.to_parquet(os.path.join(lineage, "part-00000-legacy.parquet"))

    run = ResumableKGRun(spark, out, buckets=4, group_size=2)
    s = run.run(transcripts, aliases)
    assert s["complete"]
    # partition discovery must succeed and see BOTH generations
    got = spark.read.parquet(lineage)
    groups = {r["commit_group"] for r in got.select("commit_group").distinct().collect()}
    assert "legacy" in groups and len(groups) >= 2, groups
    assert got.filter("commit_group = 'legacy'").count() == 1
    # idempotent: a second run() must not disturb the migrated layout
    run.run(transcripts, aliases)
    assert spark.read.parquet(lineage).filter("commit_group = 'legacy'").count() == 1
