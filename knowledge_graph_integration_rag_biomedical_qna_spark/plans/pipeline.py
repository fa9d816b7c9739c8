"""The KG-construction plan: transcripts -> kg_nodes + kg_edges.

Shuffle budget of the whole plan (the thing that decides 100 TB viability):

  1 shuffle   stage [1] repartition(conv_id) for the turn window   [data-sized;
              0 on a bucketed input, assume_clustered=True]
  0 shuffles  stages [2]-[5] one mapInArrow pass: extraction, the per-task
              mention collapse AND linking (each distinct (alias_key, surface)
              resolved once per task against the broadcast dictionary) —
              the persisted stage boundary every output reads
  0 joins     kg_edges is a filter + projection of the linked triple rows
  2 shuffles  kg_edge_stats groupBy(subj_cui, pred, obj_cui)      [counter
              payload, map-side combine absorbs hot edges; the exact
              count(DISTINCT conv_id) adds the second, edge-sized one]
  1 tiny      kg_nodes groupBy(cui) over the collapsed stat rows  [<= |vocab|
              rows per task]

The assembly repartition is the only exchange between the scan and the cache;
after it nothing transcript-sized is shuffled or read twice. The Spark linking
operators (operators.linking) build only the lazy `candidates`/`resolution`
views here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..core.patterns import AliasIndex
from ..operators.canonicalize import aggregate_edges, aggregate_nodes
from ..operators.extraction import (
    edges_view,
    extract_all_df,
    extract_collapsed_df,
    mention_stats_view,
    mentions_view,
    triples_view,
)
from ..operators.linking import candidate_table, resolution_table
from ..operators.turn_assembly import assemble_turns
from ..session import default_parallelism


@dataclass
class KGResult:
    turns: DataFrame
    unified: DataFrame       # the linked extraction: persisted when build_kg persists
    raw_triples: DataFrame   # every extracted triple, linked or not
    kg_edges: DataFrame      # evidence-level CUI-resolved triples (provenance kept)
    kg_edge_stats: DataFrame  # deduplicated graph edges with counters
    kg_nodes: DataFrame
    # name -> thunk for the views no KG output reads (mentions, mention_stats,
    # candidates, resolution): each plan is built on first access, uncached —
    # plan construction itself costs driver time, see build_kg docstring
    _views: dict = field(default_factory=dict, repr=False)
    _built: dict = field(default_factory=dict, repr=False)

    def _view(self, name: str) -> DataFrame:
        if name not in self._built:
            self._built[name] = self._views[name]()
        return self._built[name]

    mentions = property(lambda self: self._view("mentions"))
    mention_stats = property(lambda self: self._view("mention_stats"))
    candidates = property(lambda self: self._view("candidates"))
    resolution = property(lambda self: self._view("resolution"))

    def unpersist(self) -> None:
        for df in (self.unified, *self._built.values()):
            try:
                df.unpersist()
            except Exception:
                pass


class _ClosureBroadcast:
    """Broadcast stand-in for SparkContext-less environments (Spark Connect):
    the value rides each task closure instead of the broadcast bus. Same
    `.value` interface."""

    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value


# per-python-worker cache for file-backed dictionaries: (path, mtime) -> index
_FILE_INDEX_CACHE: dict = {}

# the dictionary columns an alias index ships: the match keys plus each key's
# link candidates
ALIAS_INDEX_COLS = ["alias_key", "cui", "alias", "prior"]


class FileBackedAliasIndex:
    """Escape hatch for dictionaries too large to route through the driver:
    the distinct (alias_key, cui, alias, prior) rows are written to a parquet
    side-file by Spark executors (never collected), and each PYTHON WORKER
    lazily builds the AliasIndex — keys and link candidates — from that file
    on first `.value` access, caching it per (path, mtime). Pickles as just
    the path, so task closures stay tiny. Same `.value` interface as a
    broadcast."""

    __slots__ = ("path",)

    def __init__(self, path: str):
        self.path = path

    @property
    def value(self):
        import os

        key = (self.path, os.stat(self.path).st_mtime_ns)
        hit = _FILE_INDEX_CACHE.get(key)
        if hit is None:
            import pyarrow.parquet as pq

            # path may be a single file or a multi-part parquet directory
            # (pyarrow reads both); parts are read in one dataset scan
            tbl = pq.read_table(self.path, columns=ALIAS_INDEX_COLS)
            hit = AliasIndex.from_alias_rows(
                zip(*(tbl.column(c).to_pylist() for c in ALIAS_INDEX_COLS))
            )
            _FILE_INDEX_CACHE.clear()
            _FILE_INDEX_CACHE[key] = hit
        return hit


def _ship(spark: SparkSession, rows):
    """Broadcast the AliasIndex built from collected dictionary rows."""
    idx = AliasIndex.from_alias_rows(rows)
    try:
        return spark.sparkContext.broadcast(idx)
    except Exception:  # Spark Connect: no SparkContext on the client
        return _ClosureBroadcast(idx)


# above this many distinct dictionary rows, stop collecting the dictionary to
# the driver
MAX_BROADCAST_KEYS = 20_000_000


def broadcast_alias_keys(
    spark: SparkSession,
    aliases: DataFrame,
    max_broadcast_keys: int = MAX_BROADCAST_KEYS,
    spill_dir: str | None = None,
):
    """Ship the alias dictionary to executors once as a first-token-indexed
    AliasIndex (matcher probes two sets per token instead of joining n-grams)
    that also carries each key's (cui, alias, prior) link candidates, so the
    extraction pass links its own mentions. At UMLS scale (~16M alias rows)
    this is a few hundred MB — broadcast territory. Beyond
    `max_broadcast_keys` distinct dictionary rows, the driver never
    materializes the dictionary: the rows are spilled to a parquet side-file
    (executor-written) and workers build the index themselves
    (FileBackedAliasIndex) — the one driver-side collect in the hot path is
    gone exactly when it would hurt. On a real cluster pass `spill_dir` on
    SHARED storage (HDFS/S3 fuse mount); the default tempdir is correct only
    for local mode."""
    proj = aliases.select(*ALIAS_INDEX_COLS)
    # LocalRelation fast path (r6): a dictionary built from driver-resident
    # literals (VALUES / parallelized local data the optimizer folded) never
    # needs the cluster — collect() executes driver-side with zero Spark
    # jobs, where the distinct-probe below costs a full 32-partition shuffle
    # job (~0.45 s of task scheduling for a 10-row table, measured). The
    # rows already live in driver memory, so collecting them is not a new
    # driver-size risk. Classic-only probe; any failure falls through to
    # the job-based probe.
    try:
        opt = proj._jdf.queryExecution().optimizedPlan()
        is_local = opt.getClass().getSimpleName() == "LocalRelation"
    except Exception:  # Spark Connect or plan-access change
        is_local = False
    if is_local:
        return _ship(spark, proj.collect())

    distinct = proj.distinct()
    # size probe: one limit(1M+1)+collect detects-and-fetches dictionaries up
    # to 1M rows (~tens of MB — harmless) in a single job, which is the
    # overwhelmingly common case. Only when the probe overflows does a
    # distributed count() decide broadcast-vs-spill, so the driver never
    # receives max_broadcast_keys(=20M) rows just to notice there are too
    # many of them (r2 advice).
    probe_cap = min(max_broadcast_keys, 1_000_000)
    probe = distinct.limit(probe_cap + 1).collect()
    if len(probe) <= probe_cap:
        return _ship(spark, probe)
    n_rows = distinct.count()
    if n_rows > max_broadcast_keys:
        import os
        import tempfile

        from pyspark.sql import functions as F

        base = spill_dir or os.path.join(tempfile.gettempdir(), "kg_alias_spill")
        os.makedirs(base, exist_ok=True)
        # content-addressed spill dir: (count, order-insensitive row digest)
        # — rerunning with the same dictionary reuses the existing spill
        # instead of accreting uuid dirs forever
        # bit_xor: order-insensitive and can't overflow (ANSI mode)
        cols = ", ".join(ALIAS_INDEX_COLS)
        digest = distinct.agg(F.expr(f"bit_xor(xxhash64({cols}))")).first()[0] or 0
        out_dir = os.path.join(base, f"aliases-{n_rows}-{digest & (1 << 64) - 1:016x}")
        if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
            # multi-part write (no coalesce(1) single-task funnel); the
            # reader scans the directory as one dataset
            distinct.write.mode("overwrite").parquet(out_dir)
        return FileBackedAliasIndex(out_dir)
    return _ship(spark, distinct.collect())


def build_kg(
    spark: SparkSession,
    transcripts: DataFrame,
    aliases: DataFrame,
    persist: bool = True,
    assume_clustered: bool = False,
    collapse_mention_cache: bool = True,
    alias_index=None,
    persist_mentions: bool = False,
) -> KGResult:
    """Compose stages [1]-[6]: turn assembly, then ONE mapInArrow pass that
    extracts mentions and triples and links them (`unified`), then three
    outputs read off it — kg_edges (filter + projection of the linked
    triples), kg_edge_stats (aggregate_edges) and kg_nodes (one
    groupBy(cui)). No linking stage and no join run for the outputs.

    `persist=True` caches `unified` only: without a cache Catalyst
    re-executes the Arrow extraction once per consuming subtree (no
    cross-branch CSE). For jobs too large to cache, use
    plans.checkpoint.ResumableKGRun, which materializes stage boundaries to
    storage instead (the reference's JSON stage files, done right).

    Lazy, uncached views — their plans are built on first access, and no KG
    output reads them: `.mentions` (per-occurrence token spans),
    `.mention_stats` (vocab-sized (alias_key, surface, n_mentions)),
    `.candidates` (the Spark top-k candidate table, operators.linking) and
    `.resolution` (its accepted top-1 links — the reference the in-pass
    linker is tested against).

    `assume_clustered=True` declares the input already bucketed by conv_id
    (sources.io.write_bucketed): stage [1] skips its repartition and the
    whole pipeline runs with ZERO data-sized exchanges (plan-tested in
    tests/test_bucketing.py) — the right storage layout at 100 TB, where
    one bucketed write amortizes the shuffle across every downstream job.

    `collapse_mention_cache=True` (default, r5): the extraction pass emits
    per-occurrence mention rows already collapsed to per-task partial
    (alias_key, surface, n, cui) stats — they were ~92% of the cached unified
    rows but are only ever re-read as vocab-sized aggregates, so the
    collapse removes most of the Arrow->JVM transfer and the cache build.
    kg_edges/kg_nodes/mention_stats are bit-identical either way
    (parity-tested); `.mentions` then runs a LAZY uncached second extraction
    pass — consumers of token spans pay for it only if they read it. Pass
    False to cache the uncollapsed extraction that `.mentions` shares; it
    links through the same kernel step and feeds the same edge and node
    formulas.

    `persist_mentions=True` (r6, for consumers reading BOTH edges and token
    spans): forces the single-pass UNCOLLAPSED persisted cache — edges,
    nodes, mention_stats and `.mentions` all derive from ONE cached
    extraction, so reading both views runs extraction exactly once. The
    trade is the ~12x larger cache the collapse exists to avoid.

    `alias_index`: a prebuilt broadcast_alias_keys() result (its value must
    carry the link candidates). A long-lived deployment ships the dictionary
    once, not once per job — steady-state callers (bench, repeated builds
    against one dictionary) hoist it; the default builds it here.

    Driver-side plan-construction cost (r6): one warm build_kg call is ~470
    py4j round-trips / ~0.45 s with a hoisted alias_index (~0.9 s cold incl.
    the dictionary probe+broadcast). At steady state amortize it by reusing
    the returned plan (see bench.py).
    """
    if persist_mentions:
        # both views off ONE cached extraction pass — see docstring
        collapse_mention_cache = False
        persist = True

    turns = assemble_turns(transcripts, assume_clustered=assume_clustered)
    keys_bc = alias_index if alias_index is not None else broadcast_alias_keys(spark, aliases)
    extract = extract_collapsed_df if collapse_mention_cache else extract_all_df
    unified = extract(turns, keys_bc)
    if persist:
        unified = unified.persist()
    kg_edges = edges_view(unified)

    kg = KGResult(
        turns=turns,
        unified=unified,
        raw_triples=triples_view(unified),
        kg_edges=kg_edges,
        kg_edge_stats=aggregate_edges(kg_edges),
        kg_nodes=aggregate_nodes(unified),
    )
    kg._views.update(
        # the collapsed cache holds no per-occurrence rows: a second pass
        mentions=lambda: mentions_view(
            extract_all_df(turns, keys_bc) if collapse_mention_cache else unified
        ),
        mention_stats=lambda: mention_stats_view(unified),
        candidates=lambda: candidate_table(
            kg.mention_stats.select("alias_key", "surface"), aliases,
            score_partitions=default_parallelism(spark) // 16 or 1,
        ),
        resolution=lambda: resolution_table(kg.candidates),
    )
    return kg
