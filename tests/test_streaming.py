"""Structured Streaming ingest test: file-source micro-batches produce the
same evidence-level edges as the batch pipeline, with duplicate turns dropped
by the watermark+dropDuplicates stage, and a replayed epoch changes nothing."""

from __future__ import annotations

import os
import time

import pandas as pd

from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
    broadcast_alias_keys,
    build_kg,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.streaming.ingest import (
    start_kg_stream,
)

TRIPLE_KEY = ["conv_id", "turn_idx", "subj_cui", "pred", "obj_cui"]


EDGE_COLS = TRIPLE_KEY + ["subj_surface", "obj_surface", "confidence"]


def _stream_edges(spark, out) -> pd.DataFrame:
    return (
        spark.read.parquet(f"{out}/kg_edges_stream")
        .toPandas()
        .sort_values(EDGE_COLS + ["epoch"])
        .reset_index(drop=True)
    )


def _data_epochs(q) -> list[int]:
    return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]


def test_stream_matches_batch(spark, fixture_dir, tables, tmp_path):
    # nine files at 4 per trigger: three data micro-batches, with duplicates
    # of the first 50 turns arriving again in the second one (at-least-once
    # delivery); mtimes pin the order the file source picks them up in
    src = tmp_path / "stream_src"
    src.mkdir()
    t = tables["transcripts"]
    n_parts = 8
    bounds = [len(t) * k // n_parts for k in range(n_parts + 1)]
    parts = [t.iloc[a:b] for a, b in zip(bounds, bounds[1:])]
    parts.insert(4, t.iloc[:50])
    base = time.time() - len(parts)
    for k, part in enumerate(parts):
        f = src / f"part-{k:02d}.parquet"
        part.to_parquet(f, index=False)
        os.utime(f, (base + k, base + k))

    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    keys_bc = broadcast_alias_keys(spark, aliases)
    out = str(tmp_path / "stream_out")

    def run_stream():
        # watermark wider than the fixture's ts span: no turn is late, so the
        # micro-batch split cannot change the edge set
        q = start_kg_stream(spark, str(src), out, aliases, keys_bc,
                            trigger_available_now=True, watermark="3650 days")
        q.awaitTermination(timeout=300)
        return q

    epochs = _data_epochs(run_stream())
    assert len(epochs) >= 3, epochs
    got = _stream_edges(spark, out)

    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    want = (
        build_kg(spark, transcripts, aliases, persist=False)
        .kg_edges.toPandas()
        .sort_values(EDGE_COLS)
        .reset_index(drop=True)
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        got[EDGE_COLS].sort_values(EDGE_COLS).reset_index(drop=True), want, check_exact=True
    )

    # epoch replay: the last data epoch N wrote its edges, but its commit
    # (and everything after it) is lost; the restart re-runs N, whose
    # per-epoch overwrite must leave the table unchanged row for row
    last = max(epochs)
    chk = os.path.join(out, "_chk")
    for log in ("commits", "offsets"):
        for f in os.listdir(os.path.join(chk, log)):
            n = int(f.lstrip(".").split(".")[0])
            if n > last or (log == "commits" and n == last):
                os.remove(os.path.join(chk, log, f))
    assert last in _data_epochs(run_stream())
    pd.testing.assert_frame_equal(_stream_edges(spark, out), got, check_exact=True)


def test_stateful_conversation_progress(spark, tables, tmp_path):
    """applyInPandasWithState: per-conversation turn counters accumulate
    across micro-batches and match the batch ground truth."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.streaming.stateful import (
        conversation_progress,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
        TRANSCRIPTS_SCHEMA,
    )

    src = tmp_path / "state_src"
    src.mkdir()
    t = tables["transcripts"]
    half = len(t) // 2
    t.iloc[:half].to_parquet(src / "p0.parquet", index=False)
    t.iloc[half:].to_parquet(src / "p1.parquet", index=False)

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        conversation_progress(stream)
        .writeStream.format("memory")
        .queryName("conv_progress")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    got = spark.sql(
        """SELECT conv_id, max(n_turns) AS n_turns, max(max_turn_idx) AS max_turn_idx
           FROM conv_progress GROUP BY conv_id"""
    ).toPandas().set_index("conv_id")
    want = t.groupby("conv_id").agg(n_turns=("turn_idx", "size"), max_turn_idx=("turn_idx", "max"))
    assert len(got) == len(want)
    for conv_id, row in want.iterrows():
        assert got.loc[conv_id, "n_turns"] == row["n_turns"], conv_id
        assert got.loc[conv_id, "max_turn_idx"] == row["max_turn_idx"], conv_id


def test_streaming_windowed_counts_match_batch(spark, tables, tmp_path):
    """Watermarked tumbling-window aggregate over the turn stream matches the
    batch groupBy on the same data (append mode, availableNow drain)."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
        TRANSCRIPTS_SCHEMA,
    )
    from pyspark.sql import functions as F

    src = tmp_path / "win_src"
    src.mkdir()
    t = tables["transcripts"]
    t.iloc[: len(t) // 2].to_parquet(src / "p0.parquet", index=False)
    t.iloc[len(t) // 2 :].to_parquet(src / "p1.parquet", index=False)

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk_win"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    got = spark.sql(
        "SELECT w.start AS ws, role, n FROM win_counts"
    ).toPandas()
    batch = spark.createDataFrame(t)
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
        .toPandas()
    )
    # append mode emits only watermark-closed windows; every emitted row must
    # match the batch result exactly, and most windows should have closed
    got_map = {(r["ws"], r["role"]): r["n"] for _, r in got.iterrows()}
    want_map = {(r["ws"], r["role"]): r["n"] for _, r in want.iterrows()}
    assert got_map, "no windows closed"
    for k, v in got_map.items():
        assert want_map.get(k) == v, k
    assert len(got_map) >= len(want_map) * 0.5
