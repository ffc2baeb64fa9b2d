"""Seeded benchmark inputs, generated in the driver and landed as parquet.

The engine only ever sees the parquet tables.  The seed picks the page
ids (and so the page contents), the batch split of a crawl, and the
planted duplicates of the dedup corpus; the alias dictionary is a
seed-independent release asset.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from graphgen_spark import synth
from graphgen_spark.textkit import clean_str

_ID_STRIDE = 10_000_000
_BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


def page_ids(seed: int, n: int) -> list[int]:
    """``n`` distinct page ids from the seed's id range, in a seeded
    order (consecutive slices of it are the batches of a crawl)."""
    base = (seed % 1_000_003) * _ID_STRIDE
    ids = list(range(base, base + n))
    random.Random(seed).shuffle(ids)
    return ids


def pages(ids: list[int], n_entities: int) -> list[tuple]:
    """(page_id, url, lang, text, html) per id, via the corpus grammar."""
    return [(pid, *synth.gen_page(pid, n_entities)) for pid in ids]


def write_pages(path: str, rows: list[tuple]) -> None:
    table = pa.table({
        "url": [r[1] for r in rows],
        "warc_ts": pa.array(
            [_BASE_TS + timedelta(seconds=r[0] % (86400 * 365))
             for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r[4].encode("utf-8") for r in rows], pa.binary()),
        "text": [r[3] for r in rows],
        "lang": [r[2] for r in rows],
    })
    pq.write_table(table, path)


def alias_dictionary(n_entities: int) -> list[tuple]:
    """(alias_norm, canonical_id, canonical_name) rows: every alias of
    entities 0..n-1, an alias shared by several entities owned by the
    minimum (id, name) — the rule of ``synth.alias_dictionary_df``."""
    best: dict[str, tuple[int, str]] = {}
    for eid in range(n_entities):
        canon = synth.canonical_name(eid).upper()
        for alias in synth.aliases_of(eid):
            key = clean_str(alias.upper())
            cur = best.get(key)
            if cur is None or (eid, canon) < cur:
                best[key] = (eid, canon)
    return [(a, e, c) for a, (e, c) in best.items()]


def write_dictionary(path: str, rows: list[tuple]) -> None:
    pq.write_table(pa.table({
        "alias_norm": [r[0] for r in rows],
        "canonical_id": pa.array([r[1] for r in rows], pa.int64()),
        "canonical_name": [r[2] for r in rows],
    }), path)


# ---------------------------------------------------------- dedup corpus

_LANGS = ["en", "en", "en", "de", "fr", "zh", "es"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
              "qua", "ben", "dor", "fil", "gam", "hes", "jor", "lin"]
EMBED_DIM = 64


def dedup_corpus(seed: int, n_docs: int, planted_share: float = 0.2):
    """Docs + matching embeddings with planted duplicate clusters.

    Returns (docs, vectors, clusters): docs are (doc_id, text, lang);
    vectors is an (n_docs, 64) float64 array aligned with docs;
    clusters lists the doc ids of each planted cluster.  About
    ``planted_share`` of the docs are planted copies.  Cluster sizes
    are skewed (a few large, many pairs), and each copy is an exact
    copy of its cluster root or a near copy of the previous member, so
    grouping needs the transitive closure, not just verified pairs.
    Some docs are too short or too repetitive for curation."""
    rng = np.random.default_rng(seed)
    vocab = [a + b + c for a in _SYLLABLES for b in _SYLLABLES
             for c in _SYLLABLES[:8]]
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf_p /= zipf_p.sum()

    def words(k):
        return [vocab[i] for i in rng.choice(len(vocab), size=k, p=zipf_p)]

    base_id = (seed % 1_000_003) * _ID_STRIDE
    texts, langs, vecs, clusters = [], [], [], []
    n_planted = int(n_docs * planted_share)
    while len(texts) < n_docs - n_planted:
        r = rng.random()
        if r < 0.05:
            toks = words(int(rng.integers(8, 28)))  # fails the length gate
        elif r < 0.08:
            toks = words(6) * 8  # fails the repetition gate
        else:
            toks = words(int(rng.integers(60, 160)))
        texts.append(toks)
        langs.append(_LANGS[int(rng.integers(len(_LANGS)))])
        vecs.append(rng.standard_normal(EMBED_DIM))
    n_base = len(texts)
    while len(texts) < n_docs:
        size = min(int(rng.zipf(1.8)) + 1, 12, n_docs - len(texts) + 1)
        root = int(rng.integers(n_base))
        members = [root]
        for _ in range(size - 1):
            prev = members[-1]
            toks = list(texts[prev])
            vec = vecs[prev].copy()
            if rng.random() < 0.3:
                toks, vec = list(texts[root]), vecs[root].copy()
            else:
                for pos in rng.choice(len(toks), size=3, replace=False):
                    toks[pos] = words(1)[0]
                vec += rng.standard_normal(EMBED_DIM) * 1e-4
            members.append(len(texts))
            texts.append(toks)
            langs.append(langs[root])
            vecs.append(vec)
        clusters.append([base_id + m for m in members])
    order = rng.permutation(n_docs)  # planted copies are not adjacent
    pos = {int(old): new for new, old in enumerate(order)}
    docs = [(base_id + new, " ".join(texts[old]), langs[old])
            for new, old in enumerate(order)]
    vectors = np.stack([vecs[old] for old in order])
    clusters = [[base_id + pos[m - base_id] for m in c] for c in clusters]
    return docs, vectors, clusters


def write_dedup(doc_path: str, emb_path: str, docs, vectors) -> None:
    ids = pa.array([d[0] for d in docs], pa.int64())
    pq.write_table(pa.table({
        "doc_id": ids, "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
    }), doc_path)
    pq.write_table(pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vectors), pa.list_(pa.float64())),
    }), emb_path)


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1 << 20)
