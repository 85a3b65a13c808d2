"""End-to-end rank-identity: Spark engine vs pure-Python oracle engine on
the reference query set (BASELINE.json north_rule: "matching the
reference's top-k docIDs and BM25 scores (rank-identical)").

The WAND path must be BIT-identical in score (same float op order, shared
idf). The exact DataFrame path uses JVM log (≤1 ulp from numpy log), so it
gets a near-tie-aware comparison.
"""

import pytest

from dlkp_spark.config import BM25Params, IndexConfig
from dlkp_spark.corpus import generate_web_pages
from dlkp_spark.index.build import build_index, prepare_docs
from dlkp_spark.oracle import bm25_topk, build_oracle_index, reference_query_set
from dlkp_spark.query.bm25 import exact_topk
from dlkp_spark.query.wand import batch_topk, wand_topk, wand_topk_treereduce

N_DOCS = 300
K = 10
CFG = IndexConfig(segment_docs=64, block_size=16, n_term_partitions=8)
QUERIES = reference_query_set(n_queries=25)


@pytest.fixture(scope="module")
def docs(spark):
    return prepare_docs(generate_web_pages(spark, N_DOCS, seed=42)).persist()


@pytest.fixture(scope="module")
def oracle_idx(docs):
    rows = docs.select("doc_id", "text").collect()
    return build_oracle_index([(r["doc_id"], r["text"]) for r in rows])


@pytest.fixture(scope="module")
def oracle_results(oracle_idx):
    return {qid: bm25_topk(oracle_idx, terms, k=K) for qid, terms in QUERIES}


@pytest.fixture(scope="module")
def index_dir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qidx"))
    build_index(spark, docs, d, cfg=CFG, n_shards=2)
    return d


def assert_rank_identical(got, want, bit_exact: bool):
    """got/want: [(rank, doc_id, score)]. For the non-bit-exact path, allow
    adjacent swaps only where scores differ by <1e-9 relative."""
    assert len(got) == len(want), (got, want)
    if bit_exact:
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert gs == ws, f"score not bit-identical: {gs!r} vs {ws!r}"
        return
    for (gr, gd, gs), (wr, wd, ws) in zip(got, want):
        assert gr == wr
        assert gs == pytest.approx(ws, rel=1e-9)
        if gd != wd:
            # genuine near-tie: both engines agree the scores are equal-ish
            w_scores = {d: s for _, d, s in want}
            assert gd in w_scores and abs(w_scores[gd] - ws) < 1e-9 * max(abs(ws), 1)


def test_exact_dataframe_path_rank_identity(spark, docs, oracle_results):
    qdf = spark.createDataFrame(
        [(qid, t) for qid, terms in QUERIES for t in terms], "query_id long, term string")
    got_rows = exact_topk(docs, qdf, BM25Params(), k=K).collect()
    by_q = {}
    for r in got_rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, want in oracle_results.items():
        got = sorted(by_q.get(qid, []))
        assert_rank_identical(got, want, bit_exact=False)


def test_wand_path_bit_identical(spark, index_dir, oracle_results):
    got_rows = wand_topk(spark, index_dir, QUERIES, BM25Params(), k=K).collect()
    by_q = {}
    for r in got_rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, want in oracle_results.items():
        got = sorted(by_q.get(qid, []))
        assert_rank_identical(got, want, bit_exact=True)


def test_batch_taat_path_bit_identical(spark, index_dir, oracle_results):
    got_rows = batch_topk(spark, index_dir, QUERIES, BM25Params(), k=K).collect()
    by_q = {}
    for r in got_rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, want in oracle_results.items():
        got = sorted(by_q.get(qid, []))
        assert_rank_identical(got, want, bit_exact=True)


def test_treereduce_single_query_matches(spark, index_dir, oracle_idx):
    for qid, terms in QUERIES[:5]:
        want = bm25_topk(oracle_idx, terms, k=K)
        got = wand_topk_treereduce(spark, index_dir, terms, BM25Params(), k=K)
        assert got == want, (qid, terms)


def test_oov_query_empty(spark, index_dir):
    out = wand_topk(spark, index_dir, [(0, ["zzzoutofvocab"])], k=K).collect()
    assert out == []
