"""Seeded benchmark inputs and their pandas-oracle expectations.

Everything here is a function of the seed: the same seed gives the same
transcripts, question batches and near-duplicate corpus. The package under
test only ever receives the generated tables.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd

from knowledge_graph_integration_rag_biomedical_qna_spark.core.linking import resolve
from knowledge_graph_integration_rag_biomedical_qna_spark.fixtures.gen import (
    gen_aliases,
    gen_concepts,
    gen_transcripts,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.pipeline import (
    _alias_index,
    oracle_mentions,
    oracle_nodes,
    oracle_triples,
    oracle_turns,
)

EDGE_KEY = ["subj_cui", "pred", "obj_cui"]


# --- transcripts + KG oracle -------------------------------------------------

def kg_inputs(out_dir: str, n_turns: int, seed: int, rep: int, files: int) -> dict:
    """Fixture transcripts/aliases for `seed` from the package's generator,
    cut to exactly `n_turns` turns (whole conversations, the last one
    truncated) so every seed does the same amount of work, plus the oracle KG
    of that base table: evidence edges, edge stats and nodes.

    Writes `aliases.parquet` and `input/` (the base table replicated `rep`
    times with conv_id suffix `_r<k>`, in `files` parquet parts) under
    `out_dir`."""
    rng = np.random.default_rng(seed)
    al = gen_aliases(rng, gen_concepts(rng))
    tr = gen_transcripts(rng, al, n_conv=max(1, n_turns // 8))
    if len(tr) < n_turns:
        raise ValueError(f"seed {seed} generated {len(tr)} < {n_turns} turns")
    tr = tr.iloc[:n_turns].reset_index(drop=True)
    turns = oracle_turns(tr)
    edges = oracle_triples(turns, al)
    nodes = oracle_nodes(oracle_mentions(turns, al), al)

    os.makedirs(os.path.join(out_dir, "input"), exist_ok=True)
    al.to_parquet(os.path.join(out_dir, "aliases.parquet"), index=False)
    big = pd.concat([tr.assign(conv_id=tr["conv_id"] + f"_r{k}") for k in range(rep)]
                    if rep > 1 else [tr], ignore_index=True)
    for i, part in enumerate(np.array_split(np.arange(len(big)), files)):
        big.iloc[part].to_parquet(os.path.join(out_dir, "input", f"part-{i:03d}.parquet"),
                                  index=False)
    return {
        "aliases": al,
        "turns": len(tr),
        "edges": edges,
        "edge_stats": edge_stats(edges),
        "nodes": nodes,
    }


def edge_stats(edges: pd.DataFrame) -> pd.DataFrame:
    """The kg_edge_stats semantics of operators.canonicalize.aggregate_edges
    (exact distinct conversations) over oracle evidence edges."""
    g = edges.groupby(EDGE_KEY, sort=True)
    return pd.DataFrame({
        "n_evidence": g.size(),
        "avg_confidence": g["confidence"].mean().round(6),
        "n_convs": g["conv_id"].nunique(),
    }).reset_index()


# --- question batches ----------------------------------------------------------

_TEMPLATES = (
    "what is known about {a}?",
    "does {a} interact with {b}?",
    "how is {a} related to {b} in this cohort?",
    "summarize the evidence for {a}.",
)


def question_batch(aliases: pd.DataFrame, seed: int, batch: int, size: int = 16) -> pd.DataFrame:
    """One seeded batch of `size` questions mixing hot aliases (the
    generator's five planted-hot surfaces), ambiguous aliases (one key, 2+
    CUIs), ordinary aliases and unknown words that link to nothing."""
    rng = np.random.default_rng([seed, batch])
    surfaces = aliases["alias"].unique().tolist()
    hot = surfaces[:5]
    per_key = aliases.groupby("alias_key")["cui"].nunique()
    amb_keys = set(per_key[per_key > 1].index)
    ambiguous = sorted(set(aliases.loc[aliases["alias_key"].isin(amb_keys), "alias"]))

    def pick(pool):
        return pool[int(rng.integers(0, len(pool)))]

    def term():
        r = rng.random()
        if r < 0.35:
            return pick(hot)
        if r < 0.6:
            return pick(ambiguous)
        if r < 0.85:
            return pick(surfaces)
        return "qz" + "".join(rng.choice(list("bdfgklmnprstvz"), 6))

    rows = []
    for q in range(size):
        tpl = _TEMPLATES[int(rng.integers(0, len(_TEMPLATES)))]
        rows.append({"question_id": batch * size + q, "text": tpl.format(a=term(), b=term())})
    df = pd.DataFrame(rows)
    df["question_id"] = df["question_id"].astype("int64")
    return df


def oracle_question_links(questions: pd.DataFrame, aliases: pd.DataFrame) -> dict[int, set[str]]:
    """question_id -> the CUIs the pandas oracle links for that question."""
    as_turns = pd.DataFrame({
        "conv_id": questions["question_id"].astype(str),
        "turn_idx": 0,
        "text": questions["text"],
    })
    idx = _alias_index(aliases)
    links: dict[int, set[str]] = {int(q): set() for q in questions["question_id"]}
    for conv, surface, key in oracle_mentions(as_turns, aliases)[
        ["conv_id", "surface", "alias_key"]
    ].itertuples(index=False):
        r = resolve(surface, idx.get(key, []))
        if r is not None:
            links[int(conv)].add(r[0])
    return links


# --- near-duplicate corpus --------------------------------------------------

_SYL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "we", "xo", "ze",
        "bra", "dri", "fla", "gro", "ple", "stu", "tri", "vo"]


def near_dup_corpus(n_base: int, seed: int, dup_share: float = 0.2) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(docs(doc_id, text), planted(id_a, id_b, jaccard)).

    Base documents draw 30-90 words Zipf-style from a seeded 4,000-word
    vocabulary, so unrelated documents share almost no 3-word shingles.
    Exactly `dup_share` of them get a copy with 0-8 random word
    substitutions; the planted pair's exact 3-shingle Jaccard is recorded."""
    rng = np.random.default_rng([seed, 7919])
    vocab = np.array(sorted(
        {"".join(rng.choice(_SYL, int(rng.integers(2, 5)))) for _ in range(6000)})[:4000])
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** 0.9)
    cdf /= cdf[-1]
    copied = set(rng.choice(n_base, int(round(dup_share * n_base)), replace=False).tolist())
    texts, planted = [], []
    for d in range(n_base):
        draws = rng.random(int(rng.integers(30, 91)))
        words = vocab[np.minimum(np.searchsorted(cdf, draws, side="right"), len(vocab) - 1)].tolist()
        texts.append(words)
        if d in copied:
            copy = list(words)
            for pos in rng.choice(len(copy), int(rng.integers(0, 9)), replace=False):
                copy[pos] = vocab[int(rng.integers(0, len(vocab)))]
            planted.append((len(texts) - 1, len(texts)))
            texts.append(copy)
    docs = pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype="int64"),
        "text": [" ".join(w) for w in texts],
    })
    pairs = pd.DataFrame(planted, columns=["id_a", "id_b"])
    sh = [shingles(t) for t in docs["text"]]
    pairs["jaccard"] = [jaccard(sh[a], sh[b]) for a, b in planted]
    return docs, pairs


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingles(text: str, n: int = 3) -> frozenset:
    """Word n-gram set with operators.dedup.with_shingles semantics."""
    norm = _WS.sub(" ", text.lower().strip(" "))
    toks = norm.split(" ")
    if len(toks) < n:
        return frozenset([norm])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return round(inter / (len(a) + len(b) - inter), 6)


def write_docs(docs: pd.DataFrame, path: str, files: int) -> None:
    """Write the corpus as `files` parquet parts (multi-file input)."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(docs)), files)):
        docs.iloc[part].to_parquet(os.path.join(path, f"part-{i:03d}.parquet"), index=False)
