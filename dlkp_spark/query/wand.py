"""Block-max WAND / TAAT BM25 top-k over the compressed index.

Every call is built from three shared pieces:

- one driver prep (``_prep``): stats, parsed queries and boost weights,
  the term set, and the posting rows broadcast-joined to it;
- one per-segment kernel (``_make_batch_kernel`` via ``_score``): each
  posting row decodes once per doc-range segment, filter / delete /
  MUST_NOT masks drop postings before scoring, list builders (plain,
  synonym, DisMax) make each query's lists, and the exact top-k dispatch
  (dense or sparse TAAT, match-gated TAAT, block-max WAND) or an emitter
  (collapse, explain) turns them into rows; counting has its own
  doc-id-only kernel (``_counts``);
- one final rank merge (``_rank``) over the ≤ k partial rows per
  (query, segment), or the treeReduce heap merge of SURVEY.md §2.5 A6
  (``wand_topk_treereduce``).

Determinism: scores accumulate per doc in (term asc, field asc) order with
the oracle's float64 expression order (dlkp_spark.oracle), so top-k
results are bit-identical, tie-broken (score desc, doc_id asc).
"""

from __future__ import annotations

import heapq
import operator
import re
from collections.abc import Iterable
from functools import partial, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dlkp_spark.cache import persist
from dlkp_spark.config import FIELD_BODY, FIELD_KP, BM25Params
from dlkp_spark.index.build import load_attrs, load_postings, load_stats
from dlkp_spark.index.codec import (decode_docs_batch, decode_postings_batch,
                                    tf_norm_vec)
from dlkp_spark.oracle import idf as idf_fn

_TOPK = "query_id long, rank int, doc_id long, score double"
_PARTIALS = "query_id long, doc_id long, score double"
_EXPLAIN = ("query_id long, doc_id long, term string, field int, "
            "tf long, df long, contribution double")
_DTYPES = {"long": "int64", "int": "int32", "double": "float64",
           "string": "object"}


class _List:
    """One decoded posting list cursor for the DAAT loop."""

    __slots__ = ("key", "boost", "docs", "contribs", "block_max", "block_last",
                 "pos", "n", "list_ub")

    def __init__(self, key, boost, docs, contribs, block_max, block_last):
        self.key = key  # (term, field) — determines scoring order
        self.boost = float(boost)
        self.docs = docs
        self.contribs = contribs
        self.block_max = block_max
        self.block_last = block_last
        self.pos = 0
        self.n = len(docs)
        self.list_ub = boost * float(contribs.max())

    def cur(self) -> int:
        return int(self.docs[self.pos]) if self.pos < self.n else -1

    def advance_to(self, target: int) -> None:
        """Move cursor to first doc >= target (galloping via searchsorted)."""
        if self.pos < self.n and self.docs[self.pos] < target:
            self.pos += int(np.searchsorted(self.docs[self.pos:], target, side="left"))

    def block_ub(self, block_size: int) -> float:
        return self.boost * float(self.block_max[self.pos // block_size])

    def block_end_doc(self, block_size: int) -> int:
        return int(self.block_last[self.pos // block_size])


def bmw_topk_lists(lists: list[dict], k: int, block_size: int) -> list[tuple[int, float]]:
    """Block-max WAND over decoded lists → top-k [(doc_id, score)].

    Each list dict: {term, field, boost, docs (int64 asc), contribs (f8),
    block_max (f8 per block), block_last (int64 per block)}.

    Heap keeps the k best by (score, -doc_id) so eviction respects the
    (score desc, doc_id asc) tie-break; pruning is strict (< threshold), so
    equal-score candidates are always fully scored — exactness before speed.
    """
    cursors = [
        _List((d["term"], d["field"]), d["boost"], d["docs"], d["contribs"],
              d["block_max"], d["block_last"])
        for d in lists if len(d["docs"])
    ]
    cursors = [c for c in cursors if c.n]
    heap: list[tuple[float, int]] = []  # (score, -doc_id), min-heap of k best

    def threshold() -> float:
        return heap[0][0] if len(heap) >= k else -np.inf

    def score_doc(d: int) -> float:
        """Sum matching lists in (term, field) order — oracle float order."""
        s = 0.0
        for c in sorted((c for c in cursors if c.cur() == d), key=lambda c: c.key):
            s += c.boost * float(c.contribs[c.pos])
        return s

    active = [c for c in cursors if c.pos < c.n]
    while True:
        active = [c for c in active if c.pos < c.n]
        if not active:
            break
        active.sort(key=lambda c: c.cur())
        # find pivot: smallest prefix whose Σ list-ub reaches the threshold
        theta = threshold()
        acc = 0.0
        pivot = -1
        for i, c in enumerate(active):
            acc += c.list_ub
            if acc >= theta or not np.isfinite(theta):
                pivot = i
                break
        if pivot == -1:
            break  # no doc can make the heap
        pivot_doc = active[pivot].cur()
        # extend the prefix over every list sitting on the pivot doc, so the
        # block-bound check accounts for all of its potential contributors
        while pivot + 1 < len(active) and active[pivot + 1].cur() == pivot_doc:
            pivot += 1
        # block-max refinement: sum of *block* upper bounds at current blocks
        block_acc = 0.0
        for c in active[: pivot + 1]:
            block_acc += c.block_ub(block_size)
        if block_acc < theta:
            # skip: jump past the nearest block boundary among the prefix —
            # but never past the next list's current doc (docs beyond it
            # gain a new contributor, so the block-bound argument stops
            # holding there; Ding & Suel BMW candidate rule)
            next_doc = min(c.block_end_doc(block_size) for c in active[: pivot + 1]) + 1
            if pivot + 1 < len(active):
                next_doc = min(next_doc, active[pivot + 1].cur())
            next_doc = max(next_doc, pivot_doc)
            for c in active[: pivot + 1]:
                c.advance_to(next_doc)
            continue
        if active[0].cur() == pivot_doc:
            s = score_doc(pivot_doc)
            item = (s, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            for c in active:
                if c.cur() == pivot_doc:
                    c.pos += 1
        else:
            for c in active[:pivot]:
                c.advance_to(pivot_doc)

    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return [(-nd, s) for s, nd in out]


# doc-span cap of the dense exact kernel: at most a 32 MB float64 buffer
# per running task. Segment width is bounded by ``segment_docs`` (KBs at
# the defaults); only multi-million-doc or deeply compacted segments reach
# the cap, where dispatch flips to BMW / sparse TAAT instead.
_DENSE_MAX_WIDTH = 1 << 22


def _densify(lists: list[dict], base: int) -> list[dict]:
    """Attach the dense-TAAT scatter arrays: ``cols`` (docs - base) and
    ``vals`` (boost × contribs)."""
    for lst in lists:
        lst["cols"] = (lst["docs"] - base).astype(np.int64)
        lst["vals"] = lst["boost"] * lst["contribs"]
    return lists


def exact_topk_lists(lists: list[dict], k: int, block_size: int,
                     dense_max_width: int = _DENSE_MAX_WIDTH) -> list[tuple[int, float]]:
    """Adaptive exact top-k over one query's lists in one segment: dense
    TAAT when the doc span fits ``dense_max_width`` (numpy scatter beats the
    Python pivot loop on short lists), else block-max WAND (Ding & Suel),
    where skipping whole blocks beats touching every posting. Both are exact
    and bit-identical (tests/test_wand_kernel.py)."""
    lists = [lst for lst in lists if len(lst["docs"])]
    if not lists:
        return []
    base = min(int(lst["docs"][0]) for lst in lists)
    width = max(int(lst["docs"][-1]) for lst in lists) - base + 1
    if width > dense_max_width:
        return bmw_topk_lists(lists, k, block_size)
    q_lists = _densify(sorted(lists, key=lambda d: (d["term"], d["field"])), base)
    return _taat_topk_dense(q_lists, np.zeros(width, dtype=np.float64), base, k)


def merge_topk(partials: Iterable[tuple[int, float]], k: int) -> list[tuple[int, float]]:
    """Merge per-segment partial top-k lists (docs are segment-disjoint)."""
    return sorted(partials, key=lambda t: (-t[1], t[0]))[:k]


def _decode_group(g: pd.DataFrame, stats: dict, p: BM25Params) -> list[dict]:
    """Decode every posting row of a segment group in ONE batched codec
    pass, with BM25 contributions computed flat in ``tf_norm_vec``'s
    expression order — per-list values are bit-identical to row-at-a-time
    decode (tests/test_codec.py). Raw ``tfs``/``dls`` and the row ``df`` ride
    along for the synonym builder and the explain emitter."""
    if not len(g):
        return []
    docs_f, tfs_f, dls_f, counts = decode_postings_batch(
        g["docs_vb"].tolist(), g["tfs_vb"].tolist(), g["dls_vb"].tolist())
    fields = g["field"].to_numpy()
    dfv = g["df"].to_numpy()
    idfs = np.array([idf_fn(stats["n_docs"], int(d)) for d in dfv])
    avgdls = np.array([stats["avgdl"][int(f)] for f in fields])
    contribs_f = np.repeat(idfs, counts) * tf_norm_vec(
        tfs_f.astype(np.float64), dls_f.astype(np.float64),
        np.repeat(avgdls, counts), p)
    offsets = np.concatenate(([0], np.cumsum(counts)))
    lists = []
    for i, (term, f, df, bmax, blast) in enumerate(zip(
            g["term"], fields, dfv, g["block_max"], g["block_last"])):
        s, e = offsets[i], offsets[i + 1]
        lists.append({
            "term": term, "field": int(f), "df": int(df),
            "boost": p.kp_boost if int(f) == FIELD_KP else 1.0,
            "docs": docs_f[s:e], "contribs": contribs_f[s:e],
            "tfs": tfs_f[s:e], "dls": dls_f[s:e],
            "block_max": np.asarray(bmax, dtype=np.float64),
            "block_last": np.asarray(blast, dtype=np.int64),
        })
    return lists


def _doc_lists(blobs) -> list[np.ndarray]:
    """Decode doc-id blobs in one batched pass → one int64 array each."""
    docs, counts = decode_docs_batch(list(blobs))
    return np.split(docs, np.cumsum(counts)[:-1]) if len(counts) else []


def _value_docs(rows) -> list[tuple[str, np.ndarray]]:
    """A segment's (value, docs_vb) attribute rows → [(value, doc ids)]."""
    rows = [] if rows is None else list(rows)
    return list(zip([r["value"] for r in rows],
                    _doc_lists(r["docs_vb"] for r in rows)))


def _accumulate(lists: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """Sparse TAAT accumulation → (docs asc, scores). ``np.add.at`` adds
    each doc's contributions in the lists' order — the caller fixes the
    float order: (term asc, field asc), or clause order for pseudo-lists."""
    docs = np.concatenate([lst["docs"] for lst in lists])
    contribs = np.concatenate([lst["boost"] * lst["contribs"] for lst in lists])
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(acc, inv, contribs)
    return uniq, acc


def _after(scores: np.ndarray, docs: np.ndarray, cursor: tuple[float, int]) -> np.ndarray:
    """searchAfter mask: docs strictly after ``cursor`` in (score desc,
    doc_id asc) order."""
    s_a, d_a = cursor
    return (scores < s_a) | ((scores == s_a) & (docs > d_a))


def _taat_topk(lists: list[dict], k: int,
               cursor: tuple[float, int] | None = None) -> list[tuple[int, float]]:
    """Sparse exact TAAT for one query × segment, in the caller's list
    order (``_accumulate``). ``cursor=(score, doc_id)`` applies Lucene
    searchAfter: only docs strictly after it in (score desc, doc_id asc)
    order are eligible; scores are unchanged."""
    if not lists:
        return []
    uniq, acc = _accumulate(lists)
    if cursor is not None:
        keep = _after(acc, uniq, cursor)
        uniq, acc = uniq[keep], acc[keep]
    order = np.lexsort((uniq, -acc))[:k]
    return [(int(uniq[i]), float(acc[i])) for i in order]


def _taat_conjunctive(q_lists: list[dict], need: int, k: int,
                      cursor: tuple[float, int] | None = None) -> list[tuple[int, float]]:
    """Exact top-k of the docs matched by ≥ ``need`` distinct query terms
    (either field) — ``need`` = the term count for AND, or a smaller
    minimum-should-match. Scores are ``_taat_topk``'s sums in the same
    order, so survivors score bit-identically. Exact per segment because
    doc-range segmentation puts all of a doc's postings in one segment.
    ``q_lists`` must be sorted by (term, field)."""
    if not q_lists or need <= 0:
        return []
    uniq, acc = _accumulate(q_lists)
    cnt = np.zeros(len(uniq), dtype=np.int32)
    i = 0
    while i < len(q_lists):
        j = i
        while j < len(q_lists) and q_lists[j]["term"] == q_lists[i]["term"]:
            j += 1
        tdocs = q_lists[i]["docs"] if j == i + 1 else \
            np.unique(np.concatenate([q_lists[x]["docs"] for x in range(i, j)]))
        cnt[np.searchsorted(uniq, tdocs)] += 1
        i = j
    cand = np.flatnonzero(cnt >= need)
    if cursor is not None and len(cand):
        cand = cand[_after(acc[cand], uniq[cand], cursor)]
    if not len(cand):
        return []
    order = np.lexsort((uniq[cand], -acc[cand]))[:k]
    return [(int(uniq[cand[i]]), float(acc[cand[i]])) for i in order]


def _taat_topk_dense(q_lists: list[dict], acc: np.ndarray, base: int,
                     k: int,
                     cursor: tuple[float, int] | None = None) -> list[tuple[int, float]]:
    """Dense-accumulator exact TAAT for one query over one segment: direct
    fancy ``+=`` into the caller's reusable segment-width buffer ``acc``
    (segment doc ids are a bounded contiguous range and each list's docs are
    unique, so ``doc - base`` scatter is legal). Lists add in the caller's
    order — the same per-doc float sequence as ``_taat_topk`` — and need
    ``cols``/``vals`` (``_densify``). Selection: ``np.partition`` for the kth
    score, then the tie-complete candidate set lexsorted (score desc, doc
    asc). No block-max pruning: at O(1) per posting a prune test costs as
    much as the add it skips; block skipping lives in ``bmw_topk_lists``."""
    if not q_lists:
        return []
    acc.fill(0.0)
    for lst in q_lists:
        acc[lst["cols"]] += lst["vals"]
    if cursor is not None:
        # searchAfter gate: zero docs at-or-before the cursor in
        # (score desc, doc asc) order — BM25 scores are strictly > 0, so
        # zeroing removes them from selection without touching survivors
        s_a, d_a = cursor
        acc[acc > s_a] = 0.0
        ties = np.flatnonzero(acc == s_a)
        if len(ties) and s_a > 0.0:
            acc[ties[ties + base <= d_a]] = 0.0
    kk = min(k, len(acc))
    kth = -np.partition(-acc, kk - 1)[kk - 1]
    cand = np.flatnonzero(acc > 0) if kth <= 0 else np.flatnonzero(acc >= kth)
    if not len(cand):
        return []
    sc = acc[cand]
    order = np.lexsort((cand, -sc))[:k]
    return [(base + int(cand[i]), float(sc[i])) for i in order]


def _parse_boosts(queries) -> tuple[list[tuple[int, list[str]]], dict]:
    """Lucene boosts: ``"spark^2.5"`` weights that term by 2.5 for that
    query → (clean queries, {(qid, term): weight}), weights > 0. Conflicting
    boosts for one term in one query raise (terms are deduped per query, so
    last-write-wins would score a different query than Lucene); exact
    repeats are allowed."""
    clean, weights = [], {}
    for qid, terms in queries:
        bare, seen = [], {}
        for t in terms:
            w = 1.0
            if "^" in t:
                t, _, ws = t.partition("^")
                w = float(ws)
                if w <= 0:
                    raise ValueError(f"query {qid}: boost must be > 0, got {w}")
            if t in seen and seen[t] != w:
                raise ValueError(
                    f"query {qid}: conflicting boosts for term {t!r} "
                    f"({seen[t]} vs {w}); terms are deduped per query, so "
                    f"give each term one weight")
            seen[t] = w
            if w != 1.0:
                weights[(int(qid), t)] = w
            bare.append(t)
        clean.append((qid, bare))
    return clean, weights


def _weight_list(lst: dict, w: float) -> dict:
    """A query-weighted copy of a decoded list. Contributions are
    ``(boost × contrib) × w`` — the grouping every kernel and the SQL oracle
    use (float multiply is not associative) — and block-max bounds scale by
    the same positive factor, so BMW pruning stays admissible and exact."""
    new = dict(lst)
    new["contribs"] = (lst["boost"] * lst["contribs"]) * w
    new["block_max"] = (lst["boost"] * lst["block_max"]) * w
    new["boost"] = 1.0
    if "vals" in lst:
        new["vals"] = lst["vals"] * w
    return new


def _allowed_docs(flt_rows, filter_attrs: list[str]) -> np.ndarray:
    """A segment's filter rows → allowed doc ids: SQL ``a IN (...) AND b IN
    (...)`` — union over a filter's values, intersection across attributes;
    an attribute with no row in the segment allows nothing."""
    flt_rows = list(flt_rows)
    per_attr: dict[str, np.ndarray] = {}
    for r, ids in zip(flt_rows, _doc_lists(r["docs_vb"] for r in flt_rows)):
        a = r["attr"]
        per_attr[a] = np.union1d(per_attr[a], ids) if a in per_attr else ids
    allowed: np.ndarray | None = None
    for a in filter_attrs:
        ids = per_attr.get(a)
        if ids is None:
            return np.empty(0, dtype=np.int64)
        allowed = ids if allowed is None else np.intersect1d(allowed, ids)
    return allowed if allowed is not None else np.empty(0, dtype=np.int64)


def _mask_lists(lists: list[dict], masks: list[np.ndarray],
                block_size: int) -> list[dict]:
    """Drop postings where mask is False. Per-doc contributions are
    independent, so survivors keep bit-identical scores; block-max metadata
    is rebuilt from the surviving contributions so BMW stays exact."""
    out = []
    for lst, mask in zip(lists, masks):
        if mask.all():
            out.append(lst)
            continue
        docs = lst["docs"][mask]
        if not len(docs):
            continue
        contribs = lst["contribs"][mask]
        nb = (len(docs) + block_size - 1) // block_size
        pad = nb * block_size - len(docs)
        bmax = np.pad(contribs, (0, pad)).reshape(nb, block_size).max(axis=1)
        blast = docs[np.minimum(
            np.arange(1, nb + 1) * block_size - 1, len(docs) - 1)]
        new = dict(lst)
        new["docs"], new["contribs"] = docs, contribs
        new["block_max"] = bmax
        new["block_last"] = blast.astype(np.int64)
        out.append(new)
    return out


def _apply_doc_filter(lists: list[dict], allowed: np.ndarray,
                      block_size: int) -> list[dict]:
    """Restrict decoded posting lists to ``allowed`` doc ids."""
    return _mask_lists(lists, [np.isin(lst["docs"], allowed) for lst in lists],
                       block_size)


def _apply_doc_deletes(lists: list[dict], deleted: np.ndarray,
                       block_size: int) -> list[dict]:
    """Drop tombstoned doc ids from decoded posting lists."""
    return _mask_lists(
        lists, [~np.isin(lst["docs"], deleted) for lst in lists], block_size)


def _synonym_lists(qid, clauses, by_term, fields, clause_df, stats, p) -> list[dict]:
    """Synonym list builder: one pseudo-list per (clause, field), in
    clause order — tf = Σ member tfs per doc, idf from the clause's
    global max df (``synonym_topk``)."""
    out = []
    for cl in clauses:
        for f in fields:
            parts = [lst for t in cl for lst in by_term.get(t, ()) if lst["field"] == f]
            if not parts:
                continue
            if len(parts) == 1:
                u, tf_sum, dl_u = parts[0]["docs"], parts[0]["tfs"], parts[0]["dls"]
            else:
                u, inv = np.unique(np.concatenate([pt["docs"] for pt in parts]),
                                   return_inverse=True)
                tf_sum = np.zeros(len(u), dtype=np.int64)
                np.add.at(tf_sum, inv, np.concatenate([pt["tfs"] for pt in parts]))
                # dl is a (doc, field) property — every member carries the
                # same value, any write wins
                dl_u = np.zeros(len(u), dtype=np.int64)
                dl_u[inv] = np.concatenate([pt["dls"] for pt in parts])
            tfn = tf_norm_vec(tf_sum.astype(np.float64), dl_u.astype(np.float64),
                              stats["avgdl"][f], p)
            out.append({"docs": u,
                        "contribs": idf_fn(stats["n_docs"], clause_df[(cl, f)]) * tfn,
                        "boost": p.kp_boost if f == FIELD_KP else 1.0})
    return out


def _dismax_lists(qid, terms, by_term, tie: float) -> list[dict]:
    """DisMax list builder: per term, its body and kp lists combine as
    ``max + tie × min`` of the boosted contributions (``dismax_topk``)."""
    out = []
    for t in terms:
        fl = by_term.get(t, [])
        if len(fl) == 2:
            b, kp = fl
            u = np.union1d(b["docs"], kp["docs"])
            cb = np.zeros(len(u), dtype=np.float64)
            ck = np.zeros(len(u), dtype=np.float64)
            cb[np.searchsorted(u, b["docs"])] = b["boost"] * b["contribs"]
            ck[np.searchsorted(u, kp["docs"])] = kp["boost"] * kp["contribs"]
            fl = [{"docs": u, "contribs": np.maximum(cb, ck) + tie * np.minimum(cb, ck),
                   "boost": 1.0}]
        out.extend(fl)  # a single disjunct IS the max; tie never applies
    return out


def _collapse_rows(q_lists, values, k: int) -> list[tuple]:
    """Collapse emitter: the best doc per value of the segment's attribute
    for the segment's top-k distinct values → [(doc_id, score, value)].
    Docs without the attribute share one null group (value None)."""
    if not q_lists:
        return []
    uniq, acc = _accumulate(q_lists)
    group = np.full(len(uniq), -1, dtype=np.int64)
    for vi, (_v, ids) in enumerate(values):
        group[np.isin(uniq, ids, assume_unique=True)] = vi
    rows, seen = [], set()
    for i in np.lexsort((uniq, -acc)):
        gcode = int(group[i])
        if gcode in seen:
            continue
        seen.add(gcode)
        rows.append((int(uniq[i]), float(acc[i]),
                     values[gcode][0] if gcode >= 0 else None))
        if len(seen) >= k:
            break
    return rows


def _explain_rows(q_lists, _values, wanted: np.ndarray) -> list[tuple]:
    """Explain emitter: one (doc_id, term, field, tf, df, contribution)
    row per posting of a wanted doc, contribution = boost × contrib."""
    rows = []
    for lst in q_lists:
        m = np.isin(lst["docs"], wanted)
        rows.extend((int(d), lst["term"], lst["field"], int(tf), lst["df"], float(c))
                    for d, tf, c in zip(lst["docs"][m], lst["tfs"][m],
                                        lst["boost"] * lst["contribs"][m]))
    return rows


def _frame(rows: list[tuple], schema: str) -> pd.DataFrame:
    """Kernel output rows → the typed pandas frame ``schema`` names."""
    cols = [c.split() for c in schema.split(",")]
    data = list(zip(*rows)) or [()] * len(cols)
    return pd.DataFrame({n: np.array(v, dtype=_DTYPES[t])
                         for (n, t), v in zip(cols, data)})


def _make_batch_kernel(qmap, stats, p, k, block_size, scoped: bool,
                       dense_max_width: int = _DENSE_MAX_WIDTH,
                       conjunctive: bool = False,
                       min_match: int | None = None,
                       filter_attrs: list[str] | None = None,
                       use_deletes: bool = False,
                       qweights: dict | None = None,
                       after: dict | None = None,
                       must_not: dict | None = None,
                       build=None, emit=None, schema: str = _PARTIALS):
    """The per-segment scoring kernel. Decodes the segment once, drops
    filtered-out and deleted docs, then per query builds its lists — the
    plain (term, field)-ordered lookup with boost weights, or ``build(qid,
    terms, by_term)`` (synonym, DisMax) — drops its MUST_NOT docs and turns
    them into rows: ``emit(q_lists, values)`` (collapse, explain; ``values``
    decodes the joined ``vals`` column) or the exact top-k dispatch. ``scoped=True`` scores only the joined ``qids``
    (two-wave). Segments wider than ``dense_max_width`` (compaction
    multiplies ``segment_docs``) skip the dense buffer and fall back per
    query. Every branch is exact and bit-identical."""
    qterms = dict(qmap)
    gated = conjunctive or (min_match is not None and min_match > 1)

    def kernel(_key, g: pd.DataFrame) -> pd.DataFrame:
        live = [(int(q), qterms[int(q)]) for q in g.pop("qids").iloc[0]] \
            if scoped else qmap
        values = _value_docs(g.pop("vals").iloc[0]) if "vals" in g else None
        allowed = _allowed_docs(g.pop("flt").iloc[0], filter_attrs) \
            if filter_attrs else None
        deleted = g.pop("del_ids").iloc[0] if use_deletes else None
        lists = [lst for lst in _decode_group(g, stats, p) if len(lst["docs"])]
        if allowed is not None:
            lists = _apply_doc_filter(lists, allowed, block_size)
        if deleted is not None and len(deleted):
            lists = _apply_doc_deletes(
                lists, np.asarray(deleted, dtype=np.int64), block_size)
        rows = []
        if lists and live:
            # one reusable width-sized buffer serves every query
            base = min(int(lst["docs"][0]) for lst in lists)
            width = max(int(lst["docs"][-1]) for lst in lists) - base + 1
            dense = emit is None and not gated and width <= dense_max_width
            by_term: dict[str, list[dict]] = {}
            for lst in sorted(lists, key=lambda d: (d["term"], d["field"])):
                by_term.setdefault(lst["term"], []).append(lst)
            if dense:
                _densify(lists, base)
            acc = np.zeros(width, dtype=np.float64) if dense else None
            for qid, terms in live:
                if build is not None:
                    q_lists = build(qid, terms, by_term)
                    if dense:
                        _densify(q_lists, base)
                elif qweights:
                    q_lists = [_weight_list(lst, w) if (w := qweights.get((qid, t))) else lst
                               for t in terms for lst in by_term.get(t, [])]
                else:
                    q_lists = [lst for t in terms for lst in by_term.get(t, [])]
                neg = [lst["docs"] for t in must_not.get(qid, ())
                       for lst in by_term.get(t, [])] if must_not else None
                if neg:
                    # MUST_NOT masks copies: the shared lists stay intact
                    # for other queries; dense arrays re-derive from copies
                    q_lists = _apply_doc_deletes(
                        q_lists, np.unique(np.concatenate(neg)), block_size)
                    if dense:
                        _densify(q_lists, base)
                cursor = after.get(qid) if after else None
                if emit is not None:
                    out = emit(q_lists, values)
                elif gated:
                    # terms are deduped: len(terms) is AND's requirement,
                    # and min_match clamps to it
                    need = len(terms) if conjunctive \
                        else min(int(min_match), len(terms))
                    out = _taat_conjunctive(q_lists, need, k, cursor)
                elif dense:
                    out = _taat_topk_dense(q_lists, acc, base, k, cursor)
                elif cursor is not None or build is not None:
                    # BMW's heap can't gate on a cursor, and builder
                    # lists carry no block metadata
                    out = _taat_topk(q_lists, k, cursor)
                else:
                    out = exact_topk_lists(q_lists, k, block_size, dense_max_width)
                rows.extend((qid, *r) for r in out)
        return _frame(rows, schema)

    return kernel


def _prep(spark: SparkSession, index_dir: str, queries, postings=None,
          boosts: bool = True, extra_terms=()):
    """The driver prep every call shares → (stats, qmap, weights, postings,
    hits). ``qmap`` is [(query_id, sorted distinct terms)]; ``boosts`` parses
    ``term^w`` into ``weights``, else the syntax is stripped. ``hits`` is the
    posting rows of the query terms plus ``extra_terms`` (broadcast hash
    join), or None when there is no term — the caller then returns empty."""
    stats = load_stats(index_dir)
    if boosts:
        queries, weights = _parse_boosts(queries)
        qmap = [(int(q), sorted(set(ts))) for q, ts in queries]
    else:
        weights = {}
        qmap = [(int(q), sorted({t.partition("^")[0] for t in ts}))
                for q, ts in queries]
    terms = sorted({t for _, ts in qmap for t in ts}.union(extra_terms))
    if not terms:
        return stats, qmap, weights, postings, None
    if postings is None:
        postings = load_postings(spark, index_dir)
    t_df = spark.createDataFrame([(t,) for t in terms], "term string")
    return stats, qmap, weights, postings, postings.join(F.broadcast(t_df), "term")


def _empty(spark: SparkSession, schema: str = _TOPK) -> DataFrame:
    return spark.createDataFrame([], schema)


def _score(hits: DataFrame, kernel, pairs: DataFrame | None = None,
           schema: str = _PARTIALS) -> DataFrame:
    """Run ``kernel`` once per segment. ``pairs`` (query_id, segment) scopes
    each segment to its surviving queries via a broadcast per-segment
    query-id list, so each posting row still decodes once."""
    if pairs is not None:
        seg_queries = pairs.groupBy("segment").agg(
            F.array_sort(F.collect_list("query_id")).alias("qids"))
        hits = hits.join(F.broadcast(seg_queries), "segment")
    return hits.groupBy("segment").applyInPandas(kernel, schema)


def _by_score(*keys: str):
    return Window.partitionBy(*keys).orderBy(F.col("score").desc(), F.col("doc_id"))


def _rank(partials: DataFrame, k: int, *extra: str) -> DataFrame:
    """The final rank merge: per query, the top k partial rows by (score
    desc, doc_id asc); docs are segment-disjoint, so this is the global
    top-k."""
    return (partials.withColumn("rank", F.row_number().over(_by_score("query_id")))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score", *extra))


def _require_attrs(stats: dict, index_dir: str, attrs) -> None:
    built = stats.get("attrs", [])
    missing = set(attrs) - set(built)
    if missing:
        raise ValueError(
            f"index at {index_dir} has no attribute postings for "
            f"{sorted(missing)}; built with attrs={built} — rebuild with "
            "build_index(..., attrs=(...))")


def _attr_values(spark: SparkSession, index_dir: str, attr: str) -> DataFrame:
    """Per-segment (value, docs_vb) lists of one attribute → ``vals``."""
    return (load_attrs(spark, index_dir).filter(F.col("attr") == attr)
            .groupBy("segment")
            .agg(F.collect_list(F.struct("value", "docs_vb")).alias("vals")))


def _any(conds):
    return reduce(operator.or_, conds)


def _two_wave(spark, postings, hits, qmap, qweights, p, k, wave1_segments, kernel):
    """The two-wave pruning plan → (ub, w1_pairs, w1, w2_pairs).
    UB(q, seg) = Σ (max_contrib × field_boost) × qw is an admissible bound
    from posting METADATA only (the kernels' contribution grouping; a
    positive weight is monotone). Wave 1 scores each query's
    ``wave1_segments`` highest-UB segments; θ_q is its kth wave-1 score
    (fewer than k hits → no θ, no pruning); wave 2 is every other pair with
    UB ≥ θ_q. Dropped pairs have score ≤ UB < θ_q: they cannot even tie.
    Pair frames carry ``np`` (Σ n_postings). ``ub``/``w1`` persist through
    the cache registry (``release_cached()``), so results stay lazy."""
    qt_df = spark.createDataFrame(
        [(qid, t, qweights.get((qid, t), 1.0)) for qid, terms in qmap for t in terms],
        "query_id long, term string, qw double")
    boost = F.when(F.col("field") == FIELD_KP, F.lit(p.kp_boost)).otherwise(F.lit(1.0))
    ub = persist(
        postings.select("term", "field", "segment", "max_contrib", "n_postings")
        .join(F.broadcast(qt_df), "term")
        .groupBy("query_id", "segment")
        .agg(F.sum((F.col("max_contrib") * boost) * F.col("qw")).alias("ub"),
             F.sum("n_postings").alias("np")))
    uw = Window.partitionBy("query_id").orderBy(F.col("ub").desc(), F.col("segment"))
    w1_pairs = (ub.withColumn("rn", F.row_number().over(uw))
                .filter(F.col("rn") <= wave1_segments)
                .select("query_id", "segment", "np"))
    w1 = persist(_score(hits, kernel, w1_pairs))
    theta = (w1.withColumn("rn", F.row_number().over(_by_score("query_id")))
             .filter(F.col("rn") == k)
             .select("query_id", F.col("score").alias("theta")))
    w2_pairs = (ub.join(w1_pairs.select("query_id", "segment").withColumn("w1", F.lit(True)),
                        ["query_id", "segment"], "left")
                .filter(F.col("w1").isNull())
                .join(theta, "query_id", "left")
                .filter(F.col("theta").isNull() | (F.col("ub") >= F.col("theta")))
                .select("query_id", "segment", "np"))
    return ub, w1_pairs, w1, w2_pairs


def _expand_range_filters(spark: SparkSession, index_dir: str,
                          ranges: dict) -> dict[str, list[str]]:
    """Expand {attr: (lo, hi)} ranges into the filter value lists against
    the sidecar's DISTINCT (attr, value) domain (tiny; the attr predicate
    pushes to the scan). Inclusive bounds; numeric bounds compare
    numerically (unparseable values fall outside), string bounds
    lexicographically; no value in range → an empty list."""
    dom = (load_attrs(spark, index_dir)
           .filter(F.col("attr").isin(sorted(ranges)))
           .select("attr", "value").distinct().collect())
    by_attr: dict[str, list[str]] = {}
    for r in dom:
        by_attr.setdefault(r["attr"], []).append(r["value"])
    out: dict[str, list[str]] = {}
    for a, (lo, hi) in ranges.items():
        vals = by_attr.get(a, [])
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)) \
                and not isinstance(lo, bool) and not isinstance(hi, bool):
            def in_range(v, lo=lo, hi=hi):
                try:
                    return lo <= float(v) <= hi
                except ValueError:
                    return False
            out[a] = sorted(v for v in vals if in_range(v))
        else:
            out[a] = sorted(v for v in vals if str(lo) <= v <= str(hi))
    return out


def _should_two_wave(n_docs: int, segment_docs: int | None, cutoff: int) -> bool:
    """two_wave="auto": prune only when the estimated segment count
    ceil(n_docs / segment_docs) reaches ``cutoff`` — pruning's fixed cost is
    two small jobs while its gain grows with the pairs it drops. The
    estimate is exact before compaction and an upper bound after, so "auto"
    errs toward pruning on large indexes."""
    if not segment_docs:
        return False
    return -(-int(n_docs) // int(segment_docs)) >= cutoff


def batch_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    two_wave: bool | str = False,
    wave1_segments: int = 1,
    postings: DataFrame | None = None,
    auto_cutoff: int = 4096,
    conjunctive: bool = False,
    min_match: int | None = None,
    filters: dict[str, list[str]] | None = None,
    deletes: DataFrame | None = None,
    after: dict[int, tuple[float, int]] | None = None,
    must_not: dict[int, list[str]] | None = None,
    range_filters: dict[str, tuple] | None = None,
) -> DataFrame:
    """Top-k over the compressed index → (query_id, rank, doc_id, score),
    bit-identical to the oracle. One kernel per *segment* scores all
    queries: each (term, segment) posting row ships and decodes once.
    Terms accept Lucene boosts (``"spark^2.5"``, ``_parse_boosts``).
    Every mask drops postings BEFORE scoring, so surviving docs keep
    bit-identical scores, and only lowers scores, so two-wave upper
    bounds stay admissible; all options compose.

    - ``conjunctive=True``: only docs with every query term rank;
      ``min_match=m``: docs matching ≥ m distinct terms (clamped to the
      query's term count). Exact per segment: doc-range segmentation
      keeps all of a doc's postings in one segment.
    - ``filters={"lang": ["en", "de"]}``: IN within an attribute, AND
      across attributes, via the attribute sidecar (``build_index(...,
      attrs=(...))``); stats stay full-corpus, as in Lucene.
      ``range_filters={"attr": (lo, hi)}`` expand into ``filters``
      (``_expand_range_filters``; one form per attr).
    - ``deletes``: tombstoned ``doc_id``s; survivors keep the snapshot's
      stats until compaction purges them (Lucene delete semantics).
    - ``must_not={qid: [terms]}``: Lucene MUST_NOT — a doc containing an
      excluded term (either field) cannot rank; excluded terms never score.
    - ``after={qid: (score, doc_id)}``: searchAfter pagination — only docs
      strictly after the cursor in (score desc, doc_id asc) order, scores
      unchanged, ranks restart at 1; the cursor gates selection last.
    - ``two_wave=True``: segment pruning for selective queries
      (``_two_wave``), bit-identical to the one-wave default; ``"auto"``
      decides by ``_should_two_wave``.
    - ``postings``: reuse a loaded posting DataFrame (keeps a service hot).
    """
    p = p or BM25Params()
    k = k or p.k
    must_not = {int(q): sorted(set(ts)) for q, ts in must_not.items() if ts} \
        if must_not else None
    # excluded terms join the scan (their docs feed the exclusion
    # sets) but never score
    stats, qmap, qweights, postings, hits = _prep(
        spark, index_dir, queries, postings,
        extra_terms=[t for ts in (must_not or {}).values() for t in ts])
    if hits is None:
        return _empty(spark)
    if two_wave == "auto":
        two_wave = _should_two_wave(stats["n_docs"], stats.get("segment_docs"),
                                    auto_cutoff)

    if range_filters:
        overlap = set(range_filters) & set(filters or {})
        if overlap:
            raise ValueError(
                f"attrs {sorted(overlap)} appear in both filters and "
                "range_filters — pass one form per attribute")
        _require_attrs(stats, index_dir, range_filters)
        expanded = _expand_range_filters(spark, index_dir, range_filters)
        if any(not v for v in expanded.values()):
            # a range matching no value → no doc matches; skip the scan
            return _empty(spark)
        filters = {**(filters or {}), **expanded}

    filter_attrs = sorted(filters) if filters else None
    if filters:
        _require_attrs(stats, index_dir, filter_attrs)
        cond = _any([(F.col("attr") == a) & F.col("value").isin([str(v) for v in vals])
                     for a, vals in filters.items()])
        # the predicate pushes to the sidecar scan; a segment with no
        # allowed docs drops at the join, before its kernel runs
        flt = (load_attrs(spark, index_dir).filter(cond)
               .groupBy("segment")
               .agg(F.collect_list(F.struct("attr", "docs_vb")).alias("flt")))
        hits = hits.join(flt, "segment")

    if deletes is not None:
        seg_docs = int(stats.get("segment_docs") or 0)
        if not seg_docs:
            raise ValueError(f"{index_dir}: stats.json has no segment_docs — "
                             "cannot map tombstones to segments")
        # per-segment sorted tombstones; LEFT join keeps clean segments
        seg_del = (deletes.select("doc_id").distinct()
                   .groupBy((F.col("doc_id") / F.lit(seg_docs))
                            .cast("long").alias("segment"))
                   .agg(F.sort_array(F.collect_list("doc_id")).alias("del_ids")))
        hits = hits.join(seg_del, "segment", "left")

    after = {int(q): (float(s), int(d)) for q, (s, d) in after.items()} \
        if after else None
    kernel = _make_batch_kernel(qmap, stats, p, k, stats.get("block_size", 64),
                                scoped=bool(two_wave), conjunctive=conjunctive,
                                min_match=min_match, filter_attrs=filter_attrs,
                                use_deletes=deletes is not None, qweights=qweights,
                                after=after, must_not=must_not)
    if not two_wave:
        return _rank(_score(hits, kernel), k)
    _, _, w1, w2_pairs = _two_wave(spark, postings, hits, qmap, qweights, p, k,
                                   wave1_segments, kernel)
    return _rank(w1.unionByName(_score(hits, kernel, w2_pairs)), k)


# the latency entry point runs on the batch kernel; the name stays for
# callers and the bm25_wand_topk contract entry
wand_topk = batch_topk


def _check_expansion(expanded: dict, max_expansion: int, label, hint: str) -> None:
    """Lucene maxClauseCount guard: too long an expansion raises."""
    for src, terms in expanded.items():
        if len(terms) > max_expansion:
            raise ValueError(
                f"{label(src)} expands to {len(terms)} terms "
                f"(> max_expansion={max_expansion}) — {hint}")


def prefix_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    p: BM25Params | None = None,
    k: int | None = None,
    max_expansion: int = 1024,
    postings: DataFrame | None = None,
    **topk_kw,
) -> DataFrame:
    """Prefix (``pre*``) top-k: each prefix expands against the index's
    term dictionary (a distinct projection over posting metadata; the
    StartsWith predicate reaches the scan) and scores as a multi-term OR
    through ``batch_topk`` — per-term idf, as if expanded by hand. Extra
    kwargs pass to ``batch_topk``."""
    qmap = [(int(qid), str(pre)) for qid, pre in queries]
    if not qmap:
        return _empty(spark)
    if postings is None:
        postings = load_postings(spark, index_dir)
    prefixes = sorted({pre for _, pre in qmap})
    vocab = [r["term"] for r in postings.filter(
        _any([F.col("term").startswith(pre) for pre in prefixes]))
        .select("term").distinct().collect()]
    expanded = {pre: sorted(t for t in vocab if t.startswith(pre)) for pre in prefixes}
    _check_expansion(expanded, max_expansion, lambda pre: f"prefix '{pre}*'",
                     "narrow the prefix or raise the cap")
    return batch_topk(spark, index_dir, [(qid, expanded[pre]) for qid, pre in qmap],
                      p, k=k, postings=postings, **topk_kw)


def _wildcard_regex(pattern: str) -> str:
    """Lucene wildcard → anchored regex body, read identically by Spark's
    rlike and DuckDB's regexp_full_match; other chars match literally."""
    return "".join(".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
                   for ch in pattern)


def wildcard_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    p: BM25Params | None = None,
    k: int | None = None,
    max_expansion: int = 1024,
    postings: DataFrame | None = None,
    **topk_kw,
) -> DataFrame:
    """Wildcard (Lucene WildcardQuery: ``*`` any run, ``?`` one char) top-k
    with ``prefix_topk``'s rewrite contract. Matching is an anchored JVM
    ``rlike``; each pattern's literal prefix still prunes the scan (a leading
    wildcard scans the whole dictionary, as in Lucene)."""
    qmap = [(int(qid), str(pat)) for qid, pat in queries]
    pats = sorted({pat for _, pat in qmap})
    if not pats:
        return _empty(spark)
    if postings is None:
        postings = load_postings(spark, index_dir)
    # literal prefix (chars before the first wildcard) prunes the scan
    cuts = [min([i for i, c in enumerate(pat) if c in "*?"] + [len(pat)]) for pat in pats]
    pre_cond = _any([F.col("term").startswith(pat[:cut]) if cut else F.lit(True)
                     for pat, cut in zip(pats, cuts)])
    rx_cond = _any([F.col("term").rlike(f"^{_wildcard_regex(pat)}$") for pat in pats])
    matched = [r["term"] for r in
               postings.select("term").distinct().filter(pre_cond & rx_cond).collect()]
    expanded = {pat: sorted(filter(re.compile(f"^{_wildcard_regex(pat)}$").match, matched))
                for pat in pats}
    _check_expansion(expanded, max_expansion, lambda pat: f"wildcard '{pat}'",
                     "narrow the pattern or raise the cap")
    return batch_topk(spark, index_dir, [(qid, expanded[pat]) for qid, pat in qmap],
                      p, k=k, postings=postings, **topk_kw)


def synonym_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list]],
    p: BM25Params | None = None,
    k: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Lucene SynonymQuery top-k. A query is a list of CLAUSES — a term or
    a list of synonyms scored as ONE pseudo-term per field (tf = Σ member
    tfs, df = max member df): matching more members raises tf, and a
    singleton clause is exactly the plain term. Clause df is resolved
    GLOBALLY from posting metadata, so a doc's score doesn't depend on its
    segment; the ``_synonym_lists`` builder accumulates in (clause, field)
    order."""
    p = p or BM25Params()
    k = k or p.k
    qmap = [(int(qid), [(cl,) if isinstance(cl, str) else tuple(sorted(set(cl)))
                        for cl in clauses]) for qid, clauses in queries]
    stats, _, _, _, hits = _prep(
        spark, index_dir, [], postings,
        extra_terms={t for _, cls in qmap for cl in cls for t in cl})
    if hits is None:
        return _empty(spark)
    # global per-(term, field) df from metadata — tiny (|terms| × 2 rows)
    term_df = {(r["term"], int(r["field"])): int(r["df"])
               for r in hits.select("term", "field", "df").distinct().collect()}
    fields = sorted({f for _, f in term_df}) or [FIELD_BODY]
    # df_max per (clause, field), resolved once for the whole index
    clause_df = {(cl, f): max(dfs) for _, cls in qmap for cl in cls for f in fields
                 if (dfs := [term_df[(t, f)] for t in cl if (t, f) in term_df])}
    build = partial(_synonym_lists, fields=fields, clause_df=clause_df,
                    stats=stats, p=p)
    kernel = _make_batch_kernel(qmap, stats, p, k, stats.get("block_size", 64),
                                scoped=False, build=build)
    return _rank(_score(hits, kernel), k)


def collapse_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    attr: str,
    p: BM25Params | None = None,
    k: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Field collapsing (Lucene grouping / ES ``collapse``): per query, the
    top-k docs with at most one — the best — per value of ``attr``; docs
    without it share one null group. Boosts are stripped. → (query_id, rank,
    doc_id, score, value). The ``_collapse_rows`` emitter keeps each
    segment's top-k distinct values (exact: a value outranked by k others in
    its segment is outranked globally); then best per value, then rank."""
    p = p or BM25Params()
    k = k or p.k
    stats, qmap, _, _, hits = _prep(spark, index_dir, queries, postings, boosts=False)
    _require_attrs(stats, index_dir, [attr])
    schema = _PARTIALS + ", value string"
    if hits is None:
        return _empty(spark, _TOPK + ", value string")
    kernel = _make_batch_kernel(qmap, stats, p, k, stats.get("block_size", 64),
                                scoped=False, emit=partial(_collapse_rows, k=k),
                                schema=schema)
    # LEFT join: a segment with zero docs carrying the attribute still
    # ranks — its docs compete in the shared null group
    partials = _score(hits.join(_attr_values(spark, index_dir, attr), "segment", "left"),
                      kernel, schema=schema)
    # best per (query, value); NULL values form one partition, as in SQL
    best = (partials.withColumn("rn", F.row_number().over(_by_score("query_id", "value")))
            .filter(F.col("rn") == 1).drop("rn"))
    return _rank(best, k, "value")


def dismax_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    tie: float = 0.1,
    postings: DataFrame | None = None,
) -> DataFrame:
    """DisMax (Lucene DisjunctionMaxQuery): per term and doc the body and kp
    contributions combine as ``max + tie × min`` (each field keeps its idf,
    avgdl and boost; tie=1.0 is the default sum, 0.0 pure max), then sum
    over terms in term order (the ``_dismax_lists`` builder). Boosts are
    stripped. → (query_id, rank, doc_id, score)."""
    p = p or BM25Params()
    k = k or p.k
    if not 0.0 <= tie <= 1.0:
        raise ValueError(f"tie must be in [0, 1], got {tie}")
    stats, qmap, _, _, hits = _prep(spark, index_dir, queries, postings, boosts=False)
    if hits is None:
        return _empty(spark)
    kernel = _make_batch_kernel(qmap, stats, p, k, stats.get("block_size", 64),
                                scoped=False, build=partial(_dismax_lists, tie=tie))
    return _rank(_score(hits, kernel), k)


def _fuzzy_expand(spark: SparkSession, postings: DataFrame,
                  srcs: list[str], max_edits: int,
                  prefix_len: int) -> DataFrame:
    """(src, term) pairs from the term dictionary within ``max_edits`` of a
    source and sharing its first ``prefix_len`` chars. The StartsWith gate
    reaches the scan and the sources broadcast, so the JVM levenshtein runs
    only over the prefix-pruned dictionary slice."""
    src_df = spark.createDataFrame([(s,) for s in srcs], "src string")
    vocab = postings.select("term").distinct()
    if prefix_len > 0:
        cond = None
        for pre in sorted({s[:prefix_len] for s in srcs}):
            c = F.col("term").startswith(pre)
            cond = c if cond is None else (cond | c)
        vocab = vocab.filter(cond)
    join_cond = F.levenshtein(F.col("term"), F.col("src"), max_edits) >= 0
    if prefix_len > 0:
        join_cond = join_cond & (
            F.substring("term", 1, prefix_len) == F.substring("src", 1, prefix_len))
    return vocab.join(F.broadcast(src_df), join_cond).select("src", "term")



def fuzzy_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    max_edits: int = 1,
    prefix_len: int = 1,
    max_expansion: int = 1024,
    postings: DataFrame | None = None,
    **topk_kw,
) -> DataFrame:
    """Fuzzy (Lucene FuzzyQuery) top-k: each term expands to every indexed
    term within Levenshtein ``max_edits`` sharing its first ``prefix_len``
    chars, then scores as a multi-term OR with per-term idf (Lucene's
    blended-frequency rewrite is skipped so the SQL oracle can replay it).
    Expansion runs JVM-side: a prefix gate at the scan (the reason Lucene
    requires a prefix) and ``levenshtein(term, src, threshold)``."""
    if max_edits < 0 or prefix_len < 0:
        raise ValueError("max_edits and prefix_len must be >= 0")
    qmap = [(int(qid), sorted({str(t) for t in terms})) for qid, terms in queries]
    srcs = sorted({t for _, terms in qmap for t in terms})
    if not srcs:
        return _empty(spark)
    if postings is None:
        postings = load_postings(spark, index_dir)
    expanded: dict[str, list[str]] = {s: [] for s in srcs}
    for r in _fuzzy_expand(spark, postings, srcs, max_edits, prefix_len).collect():
        expanded[r["src"]].append(r["term"])
    _check_expansion(expanded, max_expansion, lambda s: f"fuzzy '{s}'~{max_edits}",
                     "raise prefix_len, lower max_edits, or raise the cap")
    term_queries = [(qid, sorted({t for s in terms for t in expanded[s]}))
                    for qid, terms in qmap]
    return batch_topk(spark, index_dir, term_queries, p, k=k,
                      postings=postings, **topk_kw)


def _counts(spark: SparkSession, index_dir: str, queries, postings,
            min_match: int = 1, attr: str | None = None) -> DataFrame:
    """The counting kernel of ``match_counts`` and ``facet_counts``: per
    segment it decodes only the doc-id blobs (one batched pass), unions each
    term's fields, and keeps docs matching ≥ min(min_match, |terms|) query
    terms — counted per ``attr`` value when given. Doc-range segments make
    counts additive: the global count is a sum of per-segment counts."""
    stats, qmap, _, _, hits = _prep(spark, index_dir, queries, postings, boosts=False)
    if attr is not None:
        _require_attrs(stats, index_dir, [attr])
    keys = ["query_id", "value"] if attr is not None else ["query_id"]
    schema = "query_id long, value string, n_docs long" if attr is not None \
        else "query_id long, n_docs long"
    if hits is None:
        return _empty(spark, schema)
    hits = hits.select("term", "segment", "docs_vb")
    if attr is not None:
        hits = hits.join(_attr_values(spark, index_dir, attr), "segment")

    def kernel(_key, g: pd.DataFrame) -> pd.DataFrame:
        values = _value_docs(g["vals"].iloc[0]) if attr is not None else None
        by_term: dict[str, np.ndarray] = {}
        for t, ids in zip(g["term"], _doc_lists(g["docs_vb"])):
            by_term[t] = np.union1d(by_term[t], ids) if t in by_term else ids
        rows = []
        for qid, terms in qmap:
            lists = [by_term[t] for t in terms if t in by_term]
            if not lists:
                continue
            need = min(min_match, len(terms))
            if need <= 1:
                matched = lists[0] if len(lists) == 1 else np.unique(np.concatenate(lists))
            else:
                uniq, cnt = np.unique(np.concatenate(lists), return_counts=True)
                matched = uniq[cnt >= need]
            if values is None:
                rows.append((qid, len(matched)))
            else:
                rows.extend((qid, v, int(np.isin(matched, ids, assume_unique=True).sum()))
                            for v, ids in values)
        return _frame([r for r in rows if r[-1]], schema)

    return (hits.groupBy("segment").applyInPandas(kernel, schema)
            .groupBy(*keys).agg(F.sum("n_docs").alias("n_docs")))


def match_counts(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    min_match: int = 1,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Total hit counts (Lucene TotalHitCountCollector): docs containing ≥
    ``min_match`` distinct query terms (either field) → (query_id, n_docs)."""
    if min_match < 1:
        raise ValueError("min_match must be >= 1")
    return _counts(spark, index_dir, queries, postings, min_match)


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    attr: str,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Facet counts (Lucene faceting): per query, the MATCHING docs (any
    term, either field — batch_topk's match set) per value of ``attr`` →
    (query_id, value, n_docs). Boosts are stripped; needs the attr sidecar."""
    return _counts(spark, index_dir, queries, postings, attr=attr)


def facet_ranges(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    attr: str,
    ranges: list[tuple],
    postings: DataFrame | None = None,
) -> DataFrame:
    """Range facets (ES ``range`` aggregation): per query, matching docs per
    half-open [lo, hi) bucket of ``attr`` (buckets may overlap; None = open
    end; non-numeric values in no bucket) → (query_id, bucket, n_docs). The
    attribute is single-valued, so a bucket count is the SUM of
    ``facet_counts`` over its values — one tiny broadcast range join."""
    buckets = []
    for i, (lo, hi) in enumerate(ranges):
        buckets.append((i,
                        float(lo) if lo is not None else None,
                        float(hi) if hi is not None else None))
    if not buckets:
        return _empty(spark, "query_id long, bucket int, n_docs long")
    b_df = spark.createDataFrame(buckets, "bucket int, lo double, hi double")
    fc = facet_counts(spark, index_dir, queries, attr, postings=postings)
    vd = F.col("value").cast("double")
    cond = (vd.isNotNull()
            & (F.col("lo").isNull() | (vd >= F.col("lo")))
            & (F.col("hi").isNull() | (vd < F.col("hi"))))
    return (fc.join(F.broadcast(b_df), cond)
            .groupBy("query_id", "bucket")
            .agg(F.sum("n_docs").alias("n_docs")))


def facet_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    attr: str,
    postings: DataFrame | None = None,
) -> DataFrame:
    """ES ``stats`` aggregation: per query, count/min/max/sum/avg of
    ``attr``'s numeric value over matching docs (non-numeric skipped) →
    (query_id, n_docs, vmin, vmax, vsum, vavg), derived from the facet
    table's (value, count) pairs (exact for integer-valued doubles)."""
    fc = facet_counts(spark, index_dir, queries, attr, postings=postings)
    vd = F.col("value").cast("double")
    num = fc.filter(vd.isNotNull())
    return (num.groupBy("query_id")
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.min(vd).alias("vmin"),
                 F.max(vd).alias("vmax"),
                 F.sum(vd * F.col("n_docs")).alias("vsum"))
            .withColumn("vavg", F.round(F.col("vsum") / F.col("n_docs"), 6))
            .select("query_id", "n_docs", "vmin", "vmax", "vsum", "vavg"))


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    doc_ids: list[int],
    p: BM25Params | None = None,
    k: int | None = None,
    n_terms: int = 5,
    **topk_kw,
) -> DataFrame:
    """Lucene MoreLikeThis. Per source doc, its ``n_terms`` most distinctive
    BODY terms by tf × idf (the index's BM25 idf; ties term-asc) form an OR
    query through ``batch_topk``; the source is excluded from its own
    results → (query_id=source doc_id, rank, doc_id, score). Term selection
    is tiny and runs driver-side with the scalar idf, so picked terms match
    the SQL oracle. Extra kwargs pass to ``batch_topk``."""
    p = p or BM25Params()
    k = k or p.k
    stats = load_stats(index_dir)
    ids = [int(d) for d in doc_ids]
    src = (docs.filter(F.col("doc_id").isin(ids))
           .select("doc_id", F.explode("tokens").alias("term"))
           .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
           .collect())
    terms_needed = sorted({r["term"] for r in src})
    dfs = {r["term"]: int(r["df"]) for r in
           (load_postings(spark, index_dir)
            .filter((F.col("field") == FIELD_BODY)
                    & F.col("term").isin(terms_needed))
            .select("term", "df").distinct().collect())}
    by_doc: dict[int, list] = {}
    for r in src:
        by_doc.setdefault(int(r["doc_id"]), []).append((r["term"], int(r["tf"])))
    queries = []
    for d in ids:
        scored = sorted(
            (-(tf * idf_fn(stats["n_docs"], dfs[t])), t)
            for t, tf in by_doc.get(d, []) if t in dfs)
        qterms = [t for _, t in scored[:n_terms]]
        if qterms:
            queries.append((d, qterms))
    if not queries:
        return _empty(spark)
    # k+1, then drop the source (at most one slot) before the final cut
    hits = batch_topk(spark, index_dir, queries, p, k + 1, **topk_kw)
    return _rank(hits.filter(F.col("doc_id") != F.col("query_id")), k)


def explain_scores(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    doc_ids: list[int],
    p: BM25Params | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Lucene ``explain`` → (query_id, doc_id, term, field, tf, df,
    contribution) for the given docs; Σ contribution over a (query, doc) is
    exactly its ``batch_topk`` score (same decode, same float expressions).
    Boosts are stripped. Only the segments covering ``doc_ids`` are read."""
    p = p or BM25Params()
    stats, qmap, _, _, hits = _prep(spark, index_dir, queries, postings, boosts=False)
    seg_docs = int(stats.get("segment_docs") or 0)
    if not seg_docs:
        raise ValueError(f"{index_dir}: stats.json has no segment_docs")
    wanted = np.asarray(sorted({int(d) for d in doc_ids}), dtype=np.int64)
    if hits is None or not len(wanted):
        return _empty(spark, _EXPLAIN)
    segs = sorted({int(d) // seg_docs for d in wanted})
    kernel = _make_batch_kernel(qmap, stats, p, 0, stats.get("block_size", 64),
                                scoped=False, emit=partial(_explain_rows, wanted=wanted),
                                schema=_EXPLAIN)
    return _score(hits.filter(F.col("segment").isin(segs)), kernel, schema=_EXPLAIN)


def two_wave_pair_counts(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    wave1_segments: int = 1,
) -> dict:
    """Replay of batch_topk(two_wave=True)'s pruning → {"pairs_total",
    "pairs_scored", "pairs_skipped", "postings_total", "postings_scored"}:
    the (query, segment) pairs the bound dropped and the posting volume
    behind them (metadata only; the scale-transferable number). It builds
    batch_topk's own plan (``_two_wave``, boosts included), so the counts
    match what the query path skips."""
    p = p or BM25Params()
    k = k or p.k
    stats, qmap, qweights, postings, hits = _prep(spark, index_dir, queries)
    if hits is None:
        return dict.fromkeys(("pairs_total", "pairs_scored", "pairs_skipped",
                              "postings_total", "postings_scored"), 0)
    kernel = _make_batch_kernel(qmap, stats, p, k, stats.get("block_size", 64),
                                scoped=True, qweights=qweights)
    ub, w1_pairs, _, w2_pairs = _two_wave(spark, postings, hits, qmap, qweights,
                                          p, k, wave1_segments, kernel)
    (n, s), (n1, s1), (n2, s2) = [
        (int(r["c"]), int(r["s"] or 0)) for r in (
            f.agg(F.count(F.lit(1)).alias("c"), F.sum("np").alias("s")).collect()[0]
            for f in (ub, w1_pairs, w2_pairs))]
    return {"pairs_total": n, "pairs_scored": n1 + n2, "pairs_skipped": n - n1 - n2,
            "postings_total": s, "postings_scored": s1 + s2}


def wand_topk_treereduce(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    p: BM25Params | None = None,
    k: int | None = None,
) -> list[tuple[int, int, float]]:
    """Single-query top-k with the treeReduce heap merge (north star): the
    scoring kernel's ≤ k partial rows per segment merge by
    ``RDD.treeAggregate`` + ``merge_topk``; no posting row reaches per-row
    Python. → [(rank, doc_id, score)]."""
    p = p or BM25Params()
    k = k or p.k
    stats, qmap, qweights, _, hits = _prep(spark, index_dir, [(0, list(terms))])
    if hits is None:
        return []
    kernel = _make_batch_kernel(qmap, stats, p, k, stats.get("block_size", 64),
                                scoped=False, qweights=qweights)
    top = _score(hits, kernel).select("doc_id", "score").rdd.treeAggregate(
        [], lambda acc, r: merge_topk(acc + [(r[0], r[1])], k),
        lambda a, b: merge_topk(a + b, k), depth=2)
    return [(i + 1, d, s) for i, (d, s) in enumerate(top)]
