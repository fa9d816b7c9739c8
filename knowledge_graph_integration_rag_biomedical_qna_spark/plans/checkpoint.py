"""Stage [7] — checkpointed, resumable materialization with lineage + metrics.

Reference analog: per-query checkpoint files + resume-by-skip
(provence/provence.py:113-167, rag2-retriever/cot_generation.py:32-78). In the
engine that becomes:

- the conversation space is hashed into CHECKPOINT_BUCKETS buckets
  (`pmod(xxhash64(conv_id), B)`) — the unit of commit and of resume;
- buckets are processed in groups; each group is one plans.pipeline.build_kg
  call (the only composition of stages [1]-[6]) over its conversations, and
  its kg_edges and node partials land under `bucket=N` partition dirs,
  followed by an atomic done marker (the Iceberg analog is a snapshot commit
  per group);
- resume = skip buckets whose markers exist (LEFT ANTI semantics, P8/U3);
- kg_nodes is finalized from per-bucket partials, a groupBy(bucket, cui) over
  the group's linked mention rows, so the two-phase node aggregate and the
  checkpoint granularity are the same mechanism; kg_edge_stats is
  operators.canonicalize.aggregate_edges over all edges, as in build_kg;
- a `lineage` table records (bucket, turns_in, mentions, triples, edges,
  wall_sec) per bucket — per-partition lineage + triple-count metrics.

Failure model: a crash mid-group leaves no marker; rerun reprocesses exactly
those buckets (writes replace the bucket partition — idempotent).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.config import CHECKPOINT_BUCKETS
from ..operators.canonicalize import aggregate_edges
from .pipeline import broadcast_alias_keys, build_kg

_BUCKET = "bucket"


def bucket_of(col: str = "conv_id", buckets: int = CHECKPOINT_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def _marker_path(out_dir: str, bucket_group: tuple[int, ...]) -> str:
    return os.path.join(out_dir, "_done", f"group-{min(bucket_group)}-{max(bucket_group)}.json")


def _done_buckets(out_dir: str) -> set[int]:
    done: set[int] = set()
    d = os.path.join(out_dir, "_done")
    if not os.path.isdir(d):
        return done
    for f in os.listdir(d):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                done.update(json.load(fh)["buckets"])
    return done


def _migrate_legacy_lineage(out_dir: str) -> None:
    """One-time upgrade guard (r4 advice): lineage was a plain append through
    r3 (root-level part-files), and is commit_group-partitioned since r4.
    Resuming a pre-upgrade out_dir would mix root part-files with
    commit_group= subdirectories in one path, which breaks Spark partition
    discovery for every future lineage read. Move any root-level data files
    under commit_group=legacy/ before the first new-format write; their rows
    keep reading alongside new ones (the partition column reads 'legacy').
    Idempotent; no-op on fresh or already-migrated dirs."""
    lineage = os.path.join(out_dir, "lineage")
    if not os.path.isdir(lineage):
        return
    stray = [
        f
        for f in os.listdir(lineage)
        if os.path.isfile(os.path.join(lineage, f)) and not f.startswith(("_", "."))
    ]
    if not stray:
        return
    legacy = os.path.join(lineage, "commit_group=legacy")
    os.makedirs(legacy, exist_ok=True)
    for f in stray:
        os.replace(os.path.join(lineage, f), os.path.join(legacy, f))
    # root _SUCCESS markers are metadata, harmless to partition discovery


class ResumableKGRun:
    """Checkpointed KG materialization over a transcripts table."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        buckets: int = CHECKPOINT_BUCKETS,
        group_size: int = 8,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.buckets = buckets
        self.group_size = group_size

    def run(
        self,
        transcripts: DataFrame,
        aliases: DataFrame,
        max_groups: int | None = None,
    ) -> dict:
        """Process all not-yet-done bucket groups; `max_groups` simulates a
        crash after N group commits (used by the kill-and-resume test).
        Returns summary metrics. Call `finalize()` after all groups are done.
        """
        os.makedirs(os.path.join(self.out_dir, "_done"), exist_ok=True)
        _migrate_legacy_lineage(self.out_dir)
        done = _done_buckets(self.out_dir)
        keys_bc = broadcast_alias_keys(self.spark, aliases)

        all_buckets = [b for b in range(self.buckets) if b not in done]
        groups = [
            tuple(all_buckets[i : i + self.group_size])
            for i in range(0, len(all_buckets), self.group_size)
        ]
        if max_groups is not None:
            groups = groups[:max_groups]

        bucketed = transcripts.withColumn(_BUCKET, bucket_of("conv_id", self.buckets))
        processed = []
        for grp in groups:
            t0 = time.time()
            part = bucketed.filter(F.col(_BUCKET).isin(list(grp)))
            # uncollapsed cache: every 'm' row keeps its conv_id, so nodes
            # and lineage can be split by bucket
            kg = build_kg(self.spark, part, aliases, alias_index=keys_bc, persist_mentions=True)
            edges = kg.kg_edges.withColumn(_BUCKET, bucket_of("conv_id", self.buckets))
            node_partial = (
                kg.unified.filter("kind = 'm' AND cui IS NOT NULL")
                .withColumn(_BUCKET, bucket_of("conv_id", self.buckets))
                .groupBy(_BUCKET, "cui")
                .agg(
                    F.collect_set("surface").alias("surfaces_partial"),
                    F.count(F.lit(1)).alias("cnt_partial"),
                )
            )

            edges.write.mode("overwrite").partitionBy(_BUCKET).option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(os.path.join(self.out_dir, "kg_edges"))
            node_partial.write.mode("overwrite").partitionBy(_BUCKET).option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(os.path.join(self.out_dir, "node_partials"))

            # lineage metrics for this group, one row per bucket
            lineage = (
                kg.turns.groupBy(_BUCKET)
                .agg(F.count(F.lit(1)).alias("turns_in"))
                .join(
                    kg.mentions.withColumn(_BUCKET, bucket_of("conv_id", self.buckets))
                    .groupBy(_BUCKET).agg(F.count(F.lit(1)).alias("mentions")),
                    _BUCKET, "left",
                )
                .join(
                    kg.raw_triples.withColumn(_BUCKET, bucket_of("conv_id", self.buckets))
                    .groupBy(_BUCKET).agg(F.count(F.lit(1)).alias("raw_triples")),
                    _BUCKET, "left",
                )
                .join(edges.groupBy(_BUCKET).agg(F.count(F.lit(1)).alias("edges")), _BUCKET, "left")
                .na.fill(0, ["mentions", "raw_triples", "edges"])
                .withColumn("wall_sec", F.lit(round(time.time() - t0, 3)))
                .withColumn("committed_at", F.current_timestamp())
            )
            # group-keyed dynamic partition overwrite, NOT append: a crash
            # between this write and the done marker leaves the group
            # unmarked, and the rerun must REPLACE its lineage rows instead
            # of double-counting them (r4 review — the module's idempotency
            # claim now covers the lineage table too)
            lineage.withColumn(
                "commit_group", F.lit(f"{min(grp)}-{max(grp)}")
            ).write.mode("overwrite").partitionBy("commit_group").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(os.path.join(self.out_dir, "lineage"))

            # atomic done marker AFTER data + lineage are on disk
            marker = _marker_path(self.out_dir, grp)
            tmp = marker + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"buckets": list(grp), "wall_sec": round(time.time() - t0, 3)}, fh)
            os.replace(tmp, marker)
            kg.unpersist()
            processed.append(grp)

        return {
            "groups_processed": len(processed),
            "buckets_done": sorted(_done_buckets(self.out_dir)),
            "complete": len(_done_buckets(self.out_dir)) == self.buckets,
        }

    def finalize(self) -> None:
        """Merge the bucket node partials -> kg_nodes; aggregate_edges over
        every bucket's edges -> kg_edge_stats (exact n_convs)."""
        partials = self.spark.read.parquet(os.path.join(self.out_dir, "node_partials"))
        nodes = (
            partials.groupBy("cui")
            .agg(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("surfaces_partial")))).alias("surfaces"),
                F.sum("cnt_partial").alias("mention_count"),
            )
        )
        nodes.write.mode("overwrite").parquet(os.path.join(self.out_dir, "kg_nodes"))
        edges = self.spark.read.parquet(os.path.join(self.out_dir, "kg_edges"))
        aggregate_edges(edges).write.mode("overwrite").parquet(os.path.join(self.out_dir, "kg_edge_stats"))
