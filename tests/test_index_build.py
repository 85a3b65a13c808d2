"""SPIMI build: postings correctness, resumability, segment layout."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dlkp_spark.config import FIELD_BODY, FIELD_KP, IndexConfig
from dlkp_spark.corpus import generate_web_pages
from dlkp_spark.index import manifest as mf
from dlkp_spark.index.build import (
    build_index,
    corpus_stats,
    load_postings,
    load_stats,
    prepare_docs,
    token_table,
)
from dlkp_spark.index.codec import decode_postings
from dlkp_spark.oracle import build_oracle_index

N_DOCS = 200
CFG = IndexConfig(segment_docs=64, block_size=16, n_term_partitions=4)


@pytest.fixture(scope="module")
def docs(spark):
    return prepare_docs(generate_web_pages(spark, N_DOCS, seed=42)).persist()


@pytest.fixture(scope="module")
def oracle_idx(docs):
    rows = docs.select("doc_id", "text").collect()
    return build_oracle_index([(r["doc_id"], r["text"]) for r in rows])


@pytest.fixture(scope="module")
def index_dir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, docs, d, cfg=CFG, n_shards=3)
    return d


def test_doc_ids_deterministic_across_reeval(spark, docs):
    """Pins the with_doc_ids precondition (ADVICE r3): urls are unique, so
    the small path's coalesce(1) + sortWithinPartitions +
    monotonically_increasing_id assignment admits exactly ONE row order —
    ids must be the dense 0..n-1 rank of sorted urls, and a SECOND
    evaluation of the same plan (the ids subplan is re-evaluated whenever
    the unpersisted docs frame is, e.g. token_table's two explode
    branches) must reproduce identical ids."""
    pages = generate_web_pages(spark, 120, seed=11)
    assert pages.count() == pages.select("url").distinct().count(), \
        "corpus generator must keep urls unique (doc-id precondition)"
    d = prepare_docs(pages)  # unpersisted on purpose: forces re-evaluation
    eval1 = {r["url"]: r["doc_id"] for r in d.select("url", "doc_id").collect()}
    eval2 = {r["url"]: r["doc_id"] for r in d.select("url", "doc_id").collect()}
    assert eval1 == eval2, "doc-id assignment changed across re-evaluations"
    expect = {u: i for i, u in enumerate(sorted(eval1))}
    assert eval1 == expect, "doc_id is not the dense sorted-url rank"


def test_corpus_stats_match_oracle(docs, oracle_idx):
    stats = corpus_stats(docs)
    assert stats["n_docs"] == oracle_idx.n_docs
    assert stats["avgdl"][FIELD_BODY] == oracle_idx.avgdl[FIELD_BODY]
    assert stats["avgdl"][FIELD_KP] == oracle_idx.avgdl[FIELD_KP]


def test_grouping_sets_stats_match_per_pass_variants(spark, docs, oracle_idx):
    """The round-4 single grouping-sets pass must reproduce exactly what
    the separate passes produced: stats identical to corpus_stats (docs
    scan) and stats_from_tokens (token scan), term dict identical to
    term_dict."""
    from dlkp_spark.index.build import stats_and_term_dict, stats_from_tokens, term_dict

    tokens = token_table(docs.select("doc_id", "tokens", "keyphrases"))
    stats, dfs, grouped = stats_and_term_dict(tokens, N_DOCS)
    ref = corpus_stats(docs)
    assert stats["n_docs"] == ref["n_docs"]
    assert stats["avgdl"] == ref["avgdl"]
    assert stats == stats_from_tokens(tokens, N_DOCS)
    a = sorted(map(tuple, dfs.collect()))
    b = sorted(map(tuple, term_dict(tokens).collect()))
    assert a == b
    grouped.unpersist()


def test_token_table_matches_oracle(docs, oracle_idx):
    rows = token_table(docs).collect()
    got = {}
    for r in rows:
        got.setdefault((r["field"], r["term"]), {})[r["doc_id"]] = r["tf"]
    for f in (FIELD_BODY, FIELD_KP):
        want = oracle_idx.postings[f]
        got_f = {t: v for (ff, t), v in got.items() if ff == f}
        assert got_f == want


def test_postings_decode_match_oracle(spark, index_dir, oracle_idx):
    postings = load_postings(spark, index_dir).collect()
    merged = {}
    for r in postings:
        key = (r["field"], r["term"])
        docs_arr, tfs, _dls = decode_postings(r["docs_vb"], r["tfs_vb"], r["dls_vb"])
        merged.setdefault(key, {}).update(
            {int(d): int(t) for d, t in zip(docs_arr, tfs)})
        assert r["df"] == len(oracle_idx.postings[r["field"]][r["term"]])
    for (f, term), plist in merged.items():
        assert plist == oracle_idx.postings[f][term], (f, term)
    # every oracle term is present
    want_keys = {(f, t) for f in oracle_idx.postings for t in oracle_idx.postings[f]}
    assert set(merged) == want_keys


def test_segments_partition_by_doc_range(spark, index_dir):
    rows = load_postings(spark, index_dir).collect()
    for r in rows:
        docs_arr, _, _ = decode_postings(r["docs_vb"], r["tfs_vb"], r["dls_vb"])
        segs = set(int(d) // CFG.segment_docs for d in docs_arr)
        assert segs == {r["segment"]}


def test_stats_and_manifests_written(index_dir):
    s = load_stats(index_dir)
    assert s["n_docs"] == N_DOCS and s["block_size"] == CFG.block_size
    for shard in range(3):
        m = mf.read_shard_manifest(index_dir, shard)
        assert m["status"] == "committed"
        assert m["posting_rows"] > 0
        assert m["lineage"]["filter"] == f"segment % 3 == {shard}"


def test_resume_skips_committed_and_completes(spark, docs, tmp_path):
    d = str(tmp_path / "idx2")
    # full build, then delete one shard's manifest + data to simulate a crash
    build_index(spark, docs, d, cfg=CFG, n_shards=3)
    full = {(r["term"], r["field"], r["segment"]): r["docs_vb"]
            for r in load_postings(spark, d).collect()}
    os.remove(mf.shard_manifest_path(d, 1))
    import shutil
    shutil.rmtree(os.path.join(d, "segments", "shard=1"))
    metrics = build_index(spark, docs, d, cfg=CFG, n_shards=3, resume=True)
    skipped = [m for m in metrics["shards"] if m.get("skipped")]
    assert {m["shard"] for m in skipped} == {0, 2}
    resumed = {(r["term"], r["field"], r["segment"]): r["docs_vb"]
               for r in load_postings(spark, d).collect()}
    assert resumed == full  # identical index after resume


def test_manifest_lineage_matches_committed_partitions(spark, docs, tmp_path):
    """Per-partition lineage: every shard manifest lists exactly the parquet
    files committed under its shard=K partition dir, and the recorded row
    counts sum to the shard's actual posting rows."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "idx_lineage")
    build_index(spark, docs, d, cfg=CFG, n_shards=3)
    for shard in range(3):
        m = mf.read_shard_manifest(d, shard)
        part_dir = os.path.join(d, "segments", f"shard={shard}")
        on_disk = sorted(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        assert m["files"] == on_disk
        n_rows = sum(pq.ParquetFile(os.path.join(part_dir, f)).metadata.num_rows
                     for f in on_disk)
        assert m["posting_rows"] == n_rows


def test_kill_after_stage_before_commit_resumes_identically(spark, docs, tmp_path):
    """Crash window between the staging write and a shard's commit: the
    staged _tmp data exists but no manifest — a rerun must ignore the stale
    staging dir, rebuild the uncommitted shard, and produce an identical
    index."""
    import shutil

    d = str(tmp_path / "idx_kill")
    build_index(spark, docs, d, cfg=CFG, n_shards=3)
    full = {(r["term"], r["field"], r["segment"]): r["docs_vb"]
            for r in load_postings(spark, d).collect()}
    # simulate: shard 2 was staged but the process died before commit —
    # its manifest and committed dir are gone, stale bytes sit in _tmp
    os.remove(mf.shard_manifest_path(d, 2))
    committed = os.path.join(d, "segments", "shard=2")
    staged = os.path.join(d, "_tmp", "build", "shard=2")
    os.makedirs(os.path.dirname(staged), exist_ok=True)
    shutil.move(committed, staged)
    metrics = build_index(spark, docs, d, cfg=CFG, n_shards=3, resume=True)
    assert {m["shard"] for m in metrics["shards"] if m.get("skipped")} == {0, 1}
    resumed = {(r["term"], r["field"], r["segment"]): r["docs_vb"]
               for r in load_postings(spark, d).collect()}
    assert resumed == full


def test_config_change_invalidates_resume(spark, docs, tmp_path):
    d = str(tmp_path / "idx3")
    build_index(spark, docs, d, cfg=CFG, n_shards=2)
    other = IndexConfig(segment_docs=32, block_size=16, n_term_partitions=8)
    metrics = build_index(spark, docs, d, cfg=other, n_shards=2, resume=True)
    assert not any(m.get("skipped") for m in metrics["shards"])


def test_block_max_admissible_end_to_end(spark, index_dir, oracle_idx):
    from dlkp_spark.index.codec import tf_norm_vec
    from dlkp_spark.oracle import idf as idf_fn
    stats = load_stats(index_dir)
    rows = load_postings(spark, index_dir).filter(F.col("n_postings") > 4).take(50)
    for r in rows:
        docs_arr, tfs, dls = decode_postings(r["docs_vb"], r["tfs_vb"], r["dls_vb"])
        contribs = idf_fn(stats["n_docs"], r["df"]) * tf_norm_vec(
            tfs, dls, stats["avgdl"][r["field"]], CFG.bm25)
        for i, c in enumerate(contribs):
            assert r["block_max"][i // CFG.block_size] >= c
        assert np.isclose(r["max_contrib"], contribs.max())


def test_listing_cache_bypassed_when_mtimes_unreadable(spark, tmp_path, monkeypatch):
    """A dataset path os.stat cannot see (an object store) has no listing
    fingerprint: every load lists afresh, so a rewrite at the same path is
    never served from a stale cached listing."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dlkp_spark.index import build as build_mod

    seg = tmp_path / "idx" / "segments"
    seg.mkdir(parents=True)
    pq.write_table(pa.table({"term": ["a", "b"]}), str(seg / "part-0.parquet"))
    real_stat = os.stat

    def blind_stat(p, *a, **kw):
        if str(p).startswith(str(seg)):
            raise OSError("not visible to os.stat")
        return real_stat(p, *a, **kw)

    monkeypatch.setattr(build_mod.os, "stat", blind_stat)
    first = load_postings(spark, str(tmp_path / "idx"))
    assert first.count() == 2
    shutil.rmtree(seg)
    seg.mkdir()
    pq.write_table(pa.table({"term": ["a", "b", "c"]}), str(seg / "part-1.parquet"))
    second = load_postings(spark, str(tmp_path / "idx"))
    assert second is not first
    assert sorted(r["term"] for r in second.collect()) == ["a", "b", "c"]
