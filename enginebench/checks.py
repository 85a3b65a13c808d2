"""Output checks: every timed call's result is checked before it counts.

Each checker returns a list of error strings; an empty list means the
result is correct. Results are ``{query_id: [(rank, doc_id, score), ...]}``.
Plain queries are compared exactly against the pure-Python oracle; the
other kinds are compared exactly against the oracle's full score table
restricted by the kind's predicate, or checked by invariants where the
oracle has no equivalent.
"""

from __future__ import annotations

import math
from collections import defaultdict

from dlkp_spark.config import FIELD_BODY, FIELD_KP, BM25Params
from dlkp_spark.oracle import bm25_topk, idf, tf_norm


def group_rows(rows) -> dict[int, list[tuple[int, int, float]]]:
    """Collected (query_id, rank, doc_id, score) rows → per-query lists."""
    out: dict[int, list] = defaultdict(list)
    for r in rows:
        out[int(r["query_id"])].append((int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return {q: sorted(v) for q, v in out.items()}


def check_shape(hits: list, k: int) -> list[str]:
    """At most k rows, ranks 1..n, ordered by score desc then doc_id asc."""
    errs = []
    if len(hits) > k:
        errs.append(f"{len(hits)} rows > k={k}")
    if [r for r, _, _ in hits] != list(range(1, len(hits) + 1)):
        errs.append("ranks are not 1..n")
    for (_, d0, s0), (_, d1, s1) in zip(hits, hits[1:]):
        if s1 > s0 or (s1 == s0 and d1 <= d0):
            errs.append(f"order broken at doc {d0}→{d1}")
            break
    return errs


def check_exact(hits: list, expected: list) -> list[str]:
    """Rank-identical match on (rank, doc_id, score)."""
    if hits == expected:
        return []
    return [f"expected {expected[:3]}…, got {hits[:3]}…"]


def all_scores(idx, terms: list[str]) -> dict[int, float]:
    """The oracle's score for every matching doc (same float op order as
    ``oracle.bm25_topk``, which this calls with k = n_docs)."""
    return {d: s for _, d, s in bm25_topk(idx, terms, k=max(idx.n_docs, 1))}


def topk_of(scores: dict[int, float], k: int) -> list[tuple[int, int, float]]:
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(r + 1, d, s) for r, (d, s) in enumerate(ranked)]


def boosted_scores(idx, weights: dict[str, float],
                   p: BM25Params | None = None) -> dict[int, float]:
    """Per-doc score with per-term query weights, ``(boost × contrib) × w``
    summed over terms in sorted order — compared with a relative
    tolerance, since the oracle defines no weighted order of operations."""
    p = p or BM25Params()
    scores: dict[int, float] = {}
    for term in sorted(weights):
        for f, boost in ((FIELD_BODY, 1.0), (FIELD_KP, p.kp_boost)):
            plist = idx.postings[f].get(term)
            if not plist:
                continue
            t_idf = idf(idx.n_docs, len(plist))
            avg = idx.avgdl[f]
            for d, tf in plist.items():
                c = (boost * (t_idf * tf_norm(tf, idx.doclen[f][d], avg, p))) * weights[term]
                scores[d] = scores.get(d, 0.0) + c
    return scores


def check_close(hits: list, scores: dict[int, float], k: int,
                rel: float = 1e-9) -> list[str]:
    """Each hit scores as recomputed, and the score sequence equals the
    recomputed top-k's (catches a swapped doc and a missed doc)."""
    errs = []
    for _, d, s in hits:
        if d not in scores or not math.isclose(s, scores[d], rel_tol=rel):
            errs.append(f"doc {d} scored {s}, expected {scores.get(d)}")
    want = [s for _, _, s in topk_of(scores, k)]
    if len(want) != len(hits) or not all(
            math.isclose(a, b, rel_tol=rel) for a, (_, _, b) in zip(want, hits)):
        errs.append("score sequence differs from the recomputed top-k")
    return errs


def contains_phrase(tokens: list[str], phrase: list[str]) -> bool:
    m = len(phrase)
    return any(tokens[i:i + m] == phrase for i in range(len(tokens) - m + 1))


def check_phrase(hits: list, phrase: list[str], docs_with_phrase: set,
                 k: int) -> list[str]:
    """Every hit contains the phrase, and the hit count is
    min(k, number of docs that contain it)."""
    errs = [f"doc {d} lacks the phrase" for _, d, _ in hits
            if d not in docs_with_phrase]
    if len(hits) != min(k, len(docs_with_phrase)):
        errs.append(f"{len(hits)} hits, {min(k, len(docs_with_phrase))} expected")
    return errs


def check_live(hits: list, live: set, tombstoned: set) -> list[str]:
    """No tombstoned doc is returned, and every hit is a live doc."""
    errs = [f"tombstoned doc {d} returned" for _, d, _ in hits if d in tombstoned]
    errs += [f"unknown doc {d} returned" for _, d, _ in hits
             if d not in live and d not in tombstoned]
    return errs
