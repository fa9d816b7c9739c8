"""Stage [6] — canonicalization into CUI nodes and deduplicated edges.

North-rule requirement: hot-entity skew handled explicitly. A handful of
aliases appear in >30% of turns (fixtures plant this; at 10^12 turns a hot CUI
would receive billions of rows). Neither aggregate ships those rows to one
reducer: both are map-side partial aggregates (SURVEY.md §4 item 1) whose
shuffled payload is per-task partials, not occurrences:

  kg_nodes       groupBy(cui) over the linked mention rows: each task's
                 partial collect_set(surface) + count meets the others in a
                 vocab-sized final merge (the collapsed extraction already
                 hands it per-task stat rows)
  kg_edge_stats  groupBy(subj_cui, pred, obj_cui): counters only

collect_set is safe to split because surface vocabulary per CUI is small and
set-union is associative/commutative; counts sum. The checkpointed runner
(plans.checkpoint) runs the node aggregate as the same two phases on disk:
per-bucket partials, merged at finalize. The reference's analog of this whole
stage is the pmid-keyed dict collapse (empty_abstract_filter.py:199-215).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_nodes(unified: DataFrame) -> DataFrame:
    """kg_nodes from a linked extraction (operators.extraction): one
    groupBy(cui) over its mention rows — collapsed 's' rows (vocab-sized per
    task) or per-occurrence 'm' rows, which give the same counts and
    surface sets; the map-side partial aggregate absorbs hot-CUI skew, so no
    salting is needed. Used by plans.pipeline.build_kg."""
    from .extraction import MENTION_COUNT_SQL

    return (
        unified.filter("kind IN ('m', 's') AND cui IS NOT NULL")
        .groupBy("cui")
        .agg(
            F.expr("array_sort(collect_set(surface)) AS surfaces"),
            F.expr(f"CAST(sum({MENTION_COUNT_SQL}) AS BIGINT) AS mention_count"),
        )
    )


def aggregate_edges(resolved_triples: DataFrame, exact_distinct: bool = True) -> DataFrame:
    """kg_edge_stats(subj_cui, pred, obj_cui, n_evidence, avg_confidence,
    n_convs) — the deduplicated graph view over evidence-level edges.
    groupBy keys are (cui, pred, cui): hot pairs exist, but the payload is
    counters only (map-side partial agg absorbs the skew).

    n_convs is an exact distinct by default so the table is oracle-checkable;
    pass exact_distinct=False for the HLL sketch when a hot edge's distinct
    conversation set itself is too large to shuffle (the 10^12-turn setting)."""
    n_convs_sql = (
        "count(DISTINCT conv_id)" if exact_distinct
        else "approx_count_distinct(conv_id)"
    )
    return resolved_triples.groupBy("subj_cui", "pred", "obj_cui").agg(
        F.expr("count(1) AS n_evidence"),
        F.expr("round(avg(confidence), 6) AS avg_confidence"),
        F.expr(f"{n_convs_sql} AS n_convs"),
    )
