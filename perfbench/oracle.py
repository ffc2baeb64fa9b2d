"""Driver-side expected outputs, computed outside every timed region.

- KG: a replay of the per-chunk kernels (split_text -> mock_llm_response
  -> parse_extraction_response) over the generated page text, linked
  through a pure-Python union-find over the alias dictionary (the rule
  ``synth.materialize_alias_labels_parquet`` implements), gives the
  expected triples multiset.
- Dedup: the repo's DuckDB oracles over the same generated docs, plus a
  numpy cosine recomputation for the embedding pairs.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from graphgen_spark.extraction import (
    mock_llm_response,
    parse_extraction_response,
)
from graphgen_spark.splitter import split_text
from graphgen_spark.textkit import count_tokens, detect_main_language, md5_hex


def union_find_labels(dictionary: list[tuple]) -> dict[str, str]:
    """alias_norm -> canonical key: components of the alias<->canonical
    bipartite graph, each represented by its smallest canonical name."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for alias, _eid, canon in dictionary:
        ra, rc = find(("A", alias)), find(("C", canon))
        if ra != rc:
            parent[ra] = rc
    rep: dict = {}
    for _alias, _eid, canon in dictionary:
        root = find(("C", canon))
        if root not in rep or canon < rep[root]:
            rep[root] = canon
    return {alias: rep[find(("A", alias))] for alias, _e, _c in dictionary}


def replay_triples(pages, labels: dict[str, str], chunk_size: int,
                   chunk_overlap: int) -> tuple[Counter, int]:
    """Expected (subj, pred, obj, chunk_id, url) multiset and the number
    of pages that yield no extraction record at all."""
    triples: Counter = Counter()
    no_records = 0
    for _pid, url, _lang, text, _html in pages:
        n_records = 0
        if text.strip():
            language = detect_main_language(text)
            for piece in split_text(text, language=language,
                                    chunk_size=chunk_size,
                                    chunk_overlap=chunk_overlap,
                                    length_fn=count_tokens):
                response = mock_llm_response(piece)
                if not response:
                    continue
                chunk_id = "chunk-" + md5_hex(piece)
                ents, rels = parse_extraction_response(response, chunk_id)
                n_records += len(ents) + len(rels)
                for r in rels:
                    s = labels.get(r["src_id"], r["src_id"])
                    t = labels.get(r["tgt_id"], r["tgt_id"])
                    if s != t:
                        s, t = min(s, t), max(s, t)
                        triples[(s, r["description"], t, chunk_id, url)] += 1
        no_records += n_records == 0
    return triples, no_records


def min_id_groups(ids, pairs) -> set:
    """(doc_id, group_id, keep) with group_id the smallest id of the
    doc's connected component over ``pairs``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(i, find(i), find(i) == i) for i in ids}


def triples_counter(rows) -> Counter:
    return Counter(
        (r["subj"], r["pred"], r["obj"], r["chunk_id"], r["url"])
        for r in rows
    )


def duckdb_rows(doc_path: str, sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(
            f"CREATE VIEW docs AS SELECT * FROM read_parquet('{doc_path}')")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def cosine(vectors: np.ndarray, index: dict, a: int, b: int) -> float:
    va, vb = vectors[index[a]], vectors[index[b]]
    return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
