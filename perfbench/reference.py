"""Pure-Python references the benchmark checks every operation against.

- KG: the triple set must equal ``oracle.run_oracle`` on the same
  generated rows (precision = recall = 1.0).
- webtext: ``exact_duplicates`` and ``chunk_dedup`` must equal the
  straightforward Python versions below; minhash and winnow candidate
  pairs must contain every planted exact-duplicate pair;
  ``repeated_span_stats`` must count the same windows and duplicated
  windows per document as ``span_stats`` below; curate must mark every
  non-first copy of an identical text as a duplicate and no first copy.

References are computed once per (workload, seed), outside any timed
region, and cached next to the generated inputs.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from serialization_agents_spark import oracle

CHUNK_WORDS = 12  # chunk_dedup's default window
SPAN_K = 10  # repeated_span_stats' default window


def kg_triples(pages: list[dict], authority: list[dict], redirects, blacklist) -> list[list[str]]:
    rows = [dict(zip(("old_id", "new_id", "lc_id", "use_instead_lc"), r)) for r in redirects]
    _canonical, triples = oracle.run_oracle(pages, authority, rows, blacklist)
    return sorted(list(t) for t in triples)


def exact_groups(docs: list[dict]) -> dict[str, list[int]]:
    """content md5 -> [keeper (min) id, duplicate count]."""
    groups: dict[str, list[int]] = {}
    for d in docs:
        h = hashlib.md5(d["text"].encode("utf-8")).hexdigest()
        g = groups.setdefault(h, [d["doc_id"], 0])
        g[0] = min(g[0], d["doc_id"])
        g[1] += 1
    return groups


def chunk_dedup(docs: list[dict]) -> dict[int, list]:
    """doc_id -> [total_chunks, kept_chunks, dedup_text]: fixed 12-word
    windows over the lower-cased whitespace tokens, each distinct window
    kept only at its first (doc_id, position) occurrence."""
    seen: set[str] = set()
    out: dict[int, list] = {}
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        toks = re.split(r"\s+", d["text"].lower().strip())
        chunks = [
            " ".join(toks[i:i + CHUNK_WORDS]) for i in range(0, len(toks), CHUNK_WORDS)
        ]
        kept = []
        for c in chunks:
            if c and c not in seen:
                seen.add(c)
                kept.append(c)
        if any(chunks):
            out[d["doc_id"]] = [sum(1 for c in chunks if c), len(kept), " ".join(kept)]
    return out


def span_stats(docs: list[dict]) -> dict[int, list[int]]:
    """doc_id -> [n_windows, dup_windows]: every SPAN_K-token window of
    the lower-cased whitespace tokens (stride 1, repeats within a doc
    counted), duplicated when its text occurs in two or more documents.
    Documents shorter than one window are left out."""
    windows = {}
    for d in docs:
        toks = re.split(r"\s+", d["text"].lower().strip())
        if len(toks) >= SPAN_K:
            windows[d["doc_id"]] = [
                " ".join(toks[i:i + SPAN_K]) for i in range(len(toks) - SPAN_K + 1)
            ]
    owners = defaultdict(set)
    for doc_id, wins in windows.items():
        for w in wins:
            owners[w].add(doc_id)
    return {
        doc_id: [len(wins), sum(1 for w in wins if len(owners[w]) >= 2)]
        for doc_id, wins in windows.items()
    }


def clusters(pairs: list[list[int]]) -> dict[int, int]:
    """doc -> cluster root over the planted (exact and near) pairs."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def pair_precision(cands: set[tuple[int, int]], cluster: dict[int, int]) -> float:
    """Share of candidate pairs that lie inside one planted cluster."""
    if not cands:
        return 0.0
    hit = sum(
        1 for a, b in cands if a in cluster and cluster[a] == cluster.get(b)
    )
    return hit / len(cands)


def webtext(docs: list[dict], exact_pairs, near_pairs) -> dict:
    groups = exact_groups(docs)
    dups = defaultdict(list)
    for d in docs:
        h = hashlib.md5(d["text"].encode("utf-8")).hexdigest()
        if d["doc_id"] != groups[h][0]:
            dups[h].append(d["doc_id"])
    return dict(
        n_docs=len(docs),
        exact=groups,
        duplicate_ids=sorted(i for ids in dups.values() for i in ids),
        chunks={str(k): v for k, v in chunk_dedup(docs).items()},
        spans={str(k): v for k, v in span_stats(docs).items()},
        exact_pairs=[list(p) for p in exact_pairs],
        all_pairs=[list(p) for p in list(exact_pairs) + list(near_pairs)],
    )
