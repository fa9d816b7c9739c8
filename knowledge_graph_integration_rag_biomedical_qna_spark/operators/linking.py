"""Stages [4]+[5] as Spark operators — entity-link candidate generation and
scoring.

No KG table is built with these: plans.pipeline.build_kg (and so the
checkpointed runner and the streaming path, which call it) links each
distinct (alias_key, surface) in-task through core.linking.resolve against
the broadcast dictionary (operators.extraction). The Spark tables here serve
the question linker (plans.query, which needs the link score), back
build_kg's lazy `candidates`/`resolution` views, time the linking layer in
the benchmark trace (perfbench/trace.py), and are the reference the in-pass
linker is tested against (tests/test_pipeline_parity.py).

Dataflow (reference shape: retrieve -> rerank -> threshold,
rag2-retriever/main.py:119-167 + rerank.py:37-75 + context_pruning.py:36-51):

1. distinct (alias_key, surface) pairs  — dedup-by-query analog (A6,
   context_pruning.py:79-85): identical surfaces are scored ONCE, however many
   billions of mentions repeat them. This keeps the scoring cost proportional
   to vocabulary, not corpus.
2. broadcast equi-join against the concept_aliases table (J5) — the alias
   table is the small dimension; no shuffle.
3. vectorized pandas-UDF blend score (M1-M3 analog, deterministic).
4. per-surface top-k window with pinned tie-breaks (T1), top-1 + floor
   acceptance (A2 + the 0.5 cosine floor).

The output `resolution` table is tiny (<= distinct surfaces).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.config import LINK_ACCEPT_FLOOR, TOP_K_CANDIDATES
from ..core.linking import link_score


@F.pandas_udf(T.DoubleType())
def _link_score_udf(surface: pd.Series, alias: pd.Series, prior: pd.Series) -> pd.Series:
    return pd.Series(
        [link_score(s, a, float(p)) for s, a, p in zip(surface, alias, prior)],
        dtype="float64",
    )


def candidate_table(
    mentions_or_triples_surfaces: DataFrame,
    aliases: DataFrame,
    score_partitions: int | None = None,
) -> DataFrame:
    """(alias_key, surface) x broadcast aliases -> scored, ranked candidates.

    Input must have columns (alias_key, surface); output adds
    (cui, prior, score, rank) with rank 1..k, deterministic order.

    `score_partitions`: coalesce the distinct-surface table before the
    pandas-UDF scoring stage. The table is vocabulary-sized — far smaller
    than the session's transcript parallelism — so running it at full width
    mostly pays per-task scheduling + Python-worker spin-up (measured 35% of
    the stage at local[32] with a 9-surface vocabulary). build_kg passes
    parallelism/16, which still gives a UMLS-scale vocabulary (~16M surfaces)
    tens-to-hundreds of score tasks on a real cluster.

    Join strategy is left to Catalyst/AQE (no forced broadcast hint): a
    normal dictionary auto-broadcasts under the session threshold, while a
    >20M-alias dictionary — the regime broadcast_alias_keys spills to a
    side-file for — must NOT be forced through the driver as a broadcast
    table (r4 review: the hint reintroduced the very materialization the
    spill path exists to avoid); AQE picks surfaces-side broadcast or a
    shuffle join on alias_key as sizes dictate."""
    surfaces = mentions_or_triples_surfaces.select("alias_key", "surface").distinct()
    if score_partitions is not None:
        surfaces = surfaces.coalesce(max(1, score_partitions))
    cands = surfaces.join(aliases, "alias_key", "inner").withColumn(
        "score", _link_score_udf(F.col("surface"), F.col("alias"), F.col("prior"))
    )
    # SQL-string window (r6 plan-construction diet): one parse round trip;
    # DESC/ASC defaults (NULLS LAST / NULLS FIRST) match .desc()/.asc()
    return cands.selectExpr(
        "alias_key", "surface", "cui", "prior", "score",
        "row_number() OVER (PARTITION BY alias_key, surface "
        "ORDER BY score DESC, prior DESC, cui ASC) AS rank",
    ).filter(f"rank <= {int(TOP_K_CANDIDATES)}")


def resolution_table(candidates: DataFrame) -> DataFrame:
    """Accepted top-1 links: (alias_key, surface, cui, score)."""
    return candidates.filter(f"rank = 1 AND score >= {LINK_ACCEPT_FLOOR!r}").select(
        "alias_key", "surface", "cui", "score"
    )
