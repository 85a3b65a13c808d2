"""SPIMI-style distributed index build (BASELINE.json north_star).

Pipeline, all declarative until the final encode:

1. ``prepare_docs``: web_pages → analyze → dense doc ids → keyphrase field
   (Arrow UDF inference) — the dlkp graft.
2. ``token_table``: explode body tokens and keyphrase-field tokens to
   ``(doc_id, field, term, tf, dl)`` with built-in higher-order functions
   (no Python in the explode path; Catalyst owns it).
3. Global pass: corpus stats (n_docs, per-field avgdl) + term dictionary
   ``(field, term, df)`` — needed up front so block-max metadata (which
   depends on idf/avgdl) can be computed during the encode pass.
4. Posting encode per shard: ``repartitionByRange(term, field, segment)``
   — ``segment = doc_id // segment_docs`` doubles as the head-term salt: a
   Zipf head term is split into many (term, segment) sub-lists that land on
   different reducers instead of hot-spotting one — then
   ``sortWithinPartitions`` + ``mapInPandas`` delta+varbyte encode with
   block-max metadata.
5. Shards commit atomically (tmp dir → rename) with manifest JSON
   (per-partition lineage + metrics); a rerun skips committed shards.

Scale notes (10^12 docs): the only global shuffles are the tf groupBy
(keyed by doc — uniform), the df groupBy (keyed by term — skew bounded
because input rows are already (doc,term)-distinct, so a head term carries
at most n_docs rows spread over map-side partial aggregation), and the
range repartition (salted by segment). Nothing ever collects postings to
the driver; shard manifests are KB-sized JSON.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dlkp_spark.analysis.analyzer import analyze, with_doc_ids
from dlkp_spark.analysis.keyphrase import with_keyphrases
from dlkp_spark.config import FIELD_BODY, FIELD_KP, IndexConfig
from dlkp_spark.index import manifest as mf
from dlkp_spark.index.codec import (delta_encode, encode_positions,
                                    encode_postings, varbyte_encode)

POSTINGS_SCHEMA = (
    "term string, field int, segment long, df long, n_postings long, "
    "docs_vb binary, tfs_vb binary, dls_vb binary, "
    "block_max array<double>, block_last array<long>, max_contrib double"
)
# positional layout (IndexConfig.positions=True): one extra varbyte blob of
# per-doc token positions, aligned with the doc/tf columns
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA + ", pos_vb binary"

# attribute (facet) postings sidecar: per (attribute, value, doc-range
# segment), the sorted delta+varbyte doc-id list. Deliberately OUTSIDE the
# BM25 statistics (doclen/avgdl/df are text-only) — attributes filter
# candidates, they never score, mirroring Lucene's doc-values/filter-field
# split.
ATTRS_SCHEMA = "attr string, value string, segment long, n_docs long, docs_vb binary"


def prepare_docs(web_pages: DataFrame, validate: bool = True,
                 n_docs: int | None = None, tagger=None) -> DataFrame:
    """web_pages → (url, warc_ts, text, lang, tokens, doc_id, keyphrases, kp_scores).

    Analyzer + tagger run FUSED in one Arrow pass and BEFORE doc-id
    assignment, so inference executes on the source partitioning and the
    wide token arrays cross JVM↔Python exactly once — and only ONCE
    total: the doc-id rank reads the url column straight off the SOURCE
    scan (``key_source``), not the tagged frame, so the wide
    tokens/keyphrases arrays are neither persisted (round-2 design:
    30–50 s of cache churn at 100k docs) nor recomputed by a second
    inference pass.
    """
    from dlkp_spark.analysis.keyphrase import analyze_and_tag
    from dlkp_spark.pipeline.util import spread

    # spread (r6, guide §2/§4): the fused Python pass inherits the SOURCE
    # scan's partitioning; a small local parquet input packs into 1-2 scan
    # tasks (openCostInBytes file packing), serializing per-doc Python work
    # 32 cores could share — measured 4.8 s single-core for 20k docs,
    # run TWICE by token_table's union branches. Repartitioning below the
    # Arrow pass (a) spreads it to cluster parallelism and (b) gives both
    # union branches one deterministic exchange to reuse (ReuseExchange),
    # so the shuffle is paid once. No-op on many-file production scans.
    tagged = analyze_and_tag(spread(web_pages, "url"), validate=validate,
                             tagger=tagger)
    return with_doc_ids(tagged, n_docs=n_docs,
                        key_source=web_pages.select("url"))


def token_table(docs: DataFrame) -> DataFrame:
    """docs(doc_id, tokens, keyphrases) → (doc_id, field, term, tf, dl).

    dl is the per-(doc, field) token-stream length, computed from the doc
    row itself (so docs with zero keyphrases still contribute dl=0 to
    avgdl, matching the oracle).

    Two direct explodes unioned — NOT an array-of-structs staging row,
    and NOT a concat+posexplode single pass: both alternatives allocate a
    combined per-row array and were measured 3–4× slower than the plain
    attribute explode (the generator stays in codegen only when its input
    is a bare column). The union evaluates ``docs`` TWICE; for an
    unpersisted Arrow-inference input that means the tagger runs once per
    branch — measured CHEAPER than caching any array-carrying docs
    projection (see build_index: the branches are parallel CPU, the cache
    is serialized array churn).
    """
    kp_tokens = F.flatten(F.transform("keyphrases", lambda kp: F.split(kp, " ")))
    body = docs.select(
        "doc_id", F.lit(FIELD_BODY).alias("field"),
        F.size("tokens").alias("dl"), F.explode("tokens").alias("term"))
    kp = (docs.select("doc_id", kp_tokens.alias("kp_toks"))
          .select("doc_id", F.lit(FIELD_KP).alias("field"),
                  F.size("kp_toks").alias("dl"), F.explode("kp_toks").alias("term")))
    return (body.unionByName(kp)
            .groupBy("doc_id", "field", "term", "dl")
            .agg(F.count(F.lit(1)).alias("tf")))


def token_table_arrow(docs: DataFrame) -> DataFrame:
    """Arrow-fused token table for the BUILD path: one ``mapInPandas``
    pass emits complete per-(doc, field) term counts.

    Why not :func:`token_table` here (r6, guide §2.3/§4.2): its two-branch
    union evaluates ``docs`` TWICE — for a prepared (tagged) frame that
    means the Arrow inference pass runs once per branch — and then pays a
    JVM explode of every token occurrence plus the tf hash-aggregate.
    Counting inside the pass that already holds the token arrays ships
    the wide arrays across the boundary once, runs the tagger once, and
    emits the (doc, field, term)-distinct rows directly (measured: fused
    count 0.52 s vs 0.91 s explode+agg on a persisted frame, PLUS one
    whole docs evaluation saved on the unpersisted build input). Rows are
    identical to token_table's (same counts, same dl; row order differs,
    which nothing downstream observes — the encode repartitions anyway).

    Query-side ``exact_topk`` keeps the JVM token_table: its inputs are
    cheap scans where an opaque Python stage would block column pruning
    for no tagger savings.
    """
    from collections import Counter

    def count_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "field": [], "term": [],
                                    "tf": [], "dl": []}
            for did, toks, kps in zip(pdf["doc_id"], pdf["tokens"],
                                      pdf["keyphrases"]):
                body = list(toks)
                kp_flat = [w for kp in kps for w in kp.split(" ")]
                for fld, seq in ((FIELD_BODY, body), (FIELD_KP, kp_flat)):
                    c = Counter(seq)
                    out["doc_id"].extend([did] * len(c))
                    out["field"].extend([fld] * len(c))
                    out["term"].extend(c.keys())
                    out["tf"].extend(c.values())
                    out["dl"].extend([len(seq)] * len(c))
            yield pd.DataFrame({
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "field": pd.Series(out["field"], dtype="int32"),
                "term": pd.Series(out["term"], dtype="object"),
                "tf": pd.Series(out["tf"], dtype="int64"),
                "dl": pd.Series(out["dl"], dtype="int32"),
            })

    return docs.select("doc_id", "tokens", "keyphrases").mapInPandas(
        count_rows, "doc_id long, field int, term string, tf long, dl int")


def token_table_positions(docs: DataFrame) -> DataFrame:
    """Positional token table: (doc_id, field, term, tf, dl, positions).

    ``positions`` are 0-based offsets into the field's token stream
    (body = the doc's tokens; kp = the flattened keyphrase token stream),
    sorted ascending. Used only for ``IndexConfig(positions=True)`` builds:
    the posexplode + collect_list shape is heavier than the plain
    :func:`token_table` explode, which stays the default build path.
    """
    kp_tokens = F.flatten(F.transform("keyphrases", lambda kp: F.split(kp, " ")))
    body = docs.select(
        "doc_id", F.lit(FIELD_BODY).alias("field"),
        F.size("tokens").alias("dl"),
        F.posexplode("tokens").alias("pos", "term"))
    kp = (docs.select("doc_id", kp_tokens.alias("kp_toks"))
          .select("doc_id", F.lit(FIELD_KP).alias("field"),
                  F.size("kp_toks").alias("dl"),
                  F.posexplode("kp_toks").alias("pos", "term")))
    return (body.unionByName(kp)
            .groupBy("doc_id", "field", "term", "dl")
            .agg(F.count(F.lit(1)).alias("tf"),
                 F.array_sort(F.collect_list("pos")).alias("positions")))


def doclen_table(docs: DataFrame) -> DataFrame:
    """(doc_id, field, dl) for every doc × field — includes dl=0 rows."""
    kp_len = F.aggregate(
        F.transform("keyphrases", lambda kp: F.size(F.split(kp, " "))),
        F.lit(0), lambda acc, x: acc + x)
    body = docs.select("doc_id", F.lit(FIELD_BODY).alias("field"),
                       F.size("tokens").alias("dl"))
    kp = docs.select("doc_id", F.lit(FIELD_KP).alias("field"), kp_len.alias("dl"))
    return body.unionByName(kp)


def corpus_stats(docs: DataFrame) -> dict:
    """{n_docs, avgdl: {field: float}} — exact, matches oracle arithmetic."""
    rows = (doclen_table(docs).groupBy("field")
            .agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("c")).collect())
    d = {r["field"]: (r["s"], r["c"]) for r in rows}
    return {
        "n_docs": int(d[FIELD_BODY][1]),
        "avgdl": {
            FIELD_BODY: d[FIELD_BODY][0] / d[FIELD_BODY][1],
            FIELD_KP: d[FIELD_KP][0] / d[FIELD_KP][1],
        },
    }


def stats_term_dict_agg(tokens: DataFrame) -> DataFrame:
    """The (unpersisted) combined grouping-sets aggregate: one Expand +
    one aggregation exchange produce both the per-(field, term) df rows
    (gid=0) and the per-field Σtf rows (gid=1). Plan shape pinned by
    tests/test_plans.py::test_stats_pass_is_one_expand_aggregate."""
    return (tokens.groupingSets([["field", "term"], ["field"]], "field", "term")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tf_sum"),
                 F.grouping_id().alias("gid")))


def stats_and_term_dict(
        tokens: DataFrame, n_docs: int) -> tuple[dict, DataFrame, DataFrame]:
    """Corpus stats AND the (field, term, df) dictionary from ONE
    grouping-sets pass over the cached token table (round-3 verdict #3:
    the separate ``distinct`` doclen pass and the encode job's own df
    aggregation were two extra shuffles over the largest intermediate).

    - set (field, term): count(*) = df (token rows are (doc, field, term)-
      distinct by construction).
    - set (field):       sum(tf) = Σ per-(doc, field) stream length — a
      doc's field dl IS its token count, so the corpus dl sum is just the
      total token count per field; no distinct needed. Docs with an empty
      field contribute 0 and are absent from the table, matching the
      oracle's integer-sum / n_docs arithmetic exactly.

    Returns (stats, dfs, grouped) — ``grouped`` is the persisted aggregate
    backing ``dfs``; the caller unpersists it when the build job is done.
    The ``dfs`` filter reads the cached aggregate, so the posting-encode
    job does not re-aggregate the token table. The collect below is also
    what materializes the token-table cache — one driver action covers
    both.
    """
    g = stats_term_dict_agg(tokens).persist()
    rows = g.filter(F.col("gid") == 1).select("field", "tf_sum").collect()
    sums = {r["field"]: int(r["tf_sum"]) for r in rows}
    stats = {
        "n_docs": n_docs,
        "avgdl": {
            FIELD_BODY: sums.get(FIELD_BODY, 0) / n_docs,
            FIELD_KP: sums.get(FIELD_KP, 0) / n_docs,
        },
        # exact integer doclen sums — lets sub-index stats combine exactly
        # (stream reconcile / merge recompute global avgdl = Σsums / Σn)
        "dl_sums": {FIELD_BODY: sums.get(FIELD_BODY, 0),
                    FIELD_KP: sums.get(FIELD_KP, 0)},
    }
    dfs = g.filter(F.col("gid") == 0).select("field", "term", "df")
    return stats, dfs, g


def stats_from_tokens(tokens: DataFrame, n_docs: int) -> dict:
    """Stats-only variant (kept for callers that don't need the term
    dictionary); same arithmetic as stats_and_term_dict."""
    rows = tokens.groupBy("field").agg(F.sum("tf").alias("s")).collect()
    sums = {r["field"]: int(r["s"]) for r in rows}
    return {
        "n_docs": n_docs,
        "avgdl": {
            FIELD_BODY: sums.get(FIELD_BODY, 0) / n_docs,
            FIELD_KP: sums.get(FIELD_KP, 0) / n_docs,
        },
        "dl_sums": {FIELD_BODY: sums.get(FIELD_BODY, 0),
                    FIELD_KP: sums.get(FIELD_KP, 0)},
    }


def term_dict(tokens: DataFrame) -> DataFrame:
    """(field, term, df) — document frequency per field."""
    return tokens.groupBy("field", "term").agg(F.count("*").alias("df"))


def _encode_partition(stats: dict, cfg: IndexConfig):
    """mapInPandas kernel: encode sorted (term, field, segment) groups.

    Input partition rows are sorted by (term, field, segment, doc_id); a
    group may span Arrow batches, so a carry buffer holds the last
    (possibly incomplete) group between batches.

    Group iteration is vectorized: boundaries come from numpy change-point
    detection over the sorted keys and groups are sliced positionally —
    pandas ``groupby`` over ~10^5 tiny groups per partition costs more than
    the encoding itself.
    """
    import numpy as np

    from dlkp_spark.oracle import idf as idf_fn

    avgdl = stats["avgdl"]
    n_docs = stats["n_docs"]

    def encode_block(pdf: pd.DataFrame) -> pd.DataFrame:
        from dlkp_spark.index.codec import encode_postings_multi

        terms = pdf["term"].to_numpy()
        fields = pdf["field"].to_numpy()
        segments = pdf["segment"].to_numpy()
        doc_ids = pdf["doc_id"].to_numpy()
        tfs = pdf["tf"].to_numpy()
        dls = pdf["dl"].to_numpy()
        dfg = pdf["df"].to_numpy()
        n = len(pdf)
        positional = "positions" in pdf.columns
        pos_col = pdf["positions"].to_numpy() if positional else None
        change = np.flatnonzero(
            (terms[1:] != terms[:-1]) | (fields[1:] != fields[:-1])
            | (segments[1:] != segments[:-1]))
        starts = np.concatenate(([0], change + 1))
        ends = np.concatenate((change + 1, [n]))
        if not positional:
            # cross-group vectorized encode (r6): ~10^5 tiny groups per
            # partition made per-group encode_postings calls (≈8 small
            # numpy dispatches each) the kernel's dominant cost; one flat
            # pass is bit-identical (tests/test_codec.py parity test)
            idfs = np.array([idf_fn(n_docs, int(x)) for x in dfg[starts]])
            avgdls = np.array([avgdl[int(f)] for f in fields[starts]])
            multi = encode_postings_multi(doc_ids, tfs, dls, starts, ends,
                                          idfs, avgdls, cfg.bm25,
                                          cfg.block_size)
            return pd.DataFrame({
                "term": terms[starts], "field": fields[starts].astype("int32"),
                "segment": segments[starts].astype("int64"),
                "df": dfg[starts].astype("int64"),
                "n_postings": multi["n_postings"],
                "docs_vb": multi["docs_vb"], "tfs_vb": multi["tfs_vb"],
                "dls_vb": multi["dls_vb"], "block_max": multi["block_max"],
                "block_last": multi["block_last"],
                "max_contrib": multi["max_contrib"],
            })
        cols = ["term", "field", "segment", "df", "n_postings",
                "docs_vb", "tfs_vb", "dls_vb", "block_max",
                "block_last", "max_contrib", "pos_vb"]
        out = {k: [] for k in cols}
        for s, e in zip(starts, ends):
            fld = int(fields[s])
            df_global = int(dfg[s])
            enc = encode_postings(
                doc_ids[s:e], tfs[s:e], dls[s:e],
                idf=idf_fn(n_docs, df_global), avgdl=avgdl[fld],
                p=cfg.bm25, block_size=cfg.block_size)
            if positional:
                flat = np.concatenate([np.asarray(a, dtype=np.int64)
                                       for a in pos_col[s:e]])
                out["pos_vb"].append(encode_positions(flat, tfs[s:e]))
            out["term"].append(terms[s])
            out["field"].append(fld)
            out["segment"].append(int(segments[s]))
            out["df"].append(df_global)
            out["n_postings"].append(enc["n_postings"])
            out["docs_vb"].append(enc["docs_vb"])
            out["tfs_vb"].append(enc["tfs_vb"])
            out["dls_vb"].append(enc["dls_vb"])
            out["block_max"].append(enc["block_max"])
            out["block_last"].append(enc["block_last"])
            out["max_contrib"].append(enc["max_contrib"])
        return pd.DataFrame(out)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key = ["term", "field", "segment"]
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                carry = None
                continue
            last_key = tuple(pdf[key].iloc[-1])
            is_last_group = (pdf[key] == last_key).all(axis=1)
            carry = pdf[is_last_group].copy()
            body = pdf[~is_last_group]
            if not body.empty:
                yield encode_block(body)
        if carry is not None and not carry.empty:
            yield encode_block(carry)

    return run


def _encode_attr_partition():
    """mapInPandas kernel: encode sorted (attr, value, segment) doc-id lists.

    Same carry-buffer + vectorized change-point shape as
    ``_encode_partition`` — a group may span Arrow batches; boundaries come
    from numpy change-point detection, never a pandas groupby over tiny
    groups.
    """
    import numpy as np

    def encode_block(pdf: pd.DataFrame) -> pd.DataFrame:
        attrs = pdf["attr"].to_numpy()
        values = pdf["value"].to_numpy()
        segments = pdf["segment"].to_numpy()
        doc_ids = pdf["doc_id"].to_numpy()
        n = len(pdf)
        change = np.flatnonzero(
            (attrs[1:] != attrs[:-1]) | (values[1:] != values[:-1])
            | (segments[1:] != segments[:-1]))
        starts = np.concatenate(([0], change + 1))
        ends = np.concatenate((change + 1, [n]))
        out: dict[str, list] = {k: [] for k in
                                ("attr", "value", "segment", "n_docs", "docs_vb")}
        for s, e in zip(starts, ends):
            ids = np.asarray(doc_ids[s:e], dtype=np.int64)
            out["attr"].append(attrs[s])
            out["value"].append(values[s])
            out["segment"].append(int(segments[s]))
            out["n_docs"].append(int(e - s))
            out["docs_vb"].append(varbyte_encode(delta_encode(ids)))
        return pd.DataFrame(out)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key = ["attr", "value", "segment"]
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                carry = None
                continue
            last_key = tuple(pdf[key].iloc[-1])
            is_last_group = (pdf[key] == last_key).all(axis=1)
            carry = pdf[is_last_group].copy()
            body = pdf[~is_last_group]
            if not body.empty:
                yield encode_block(body)
        if carry is not None and not carry.empty:
            yield encode_block(carry)

    return run


def build_attr_postings(spark: SparkSession, docs: DataFrame, index_dir: str,
                        cfg: IndexConfig, attrs: tuple[str, ...]) -> None:
    """Encode + atomically commit the attribute-postings sidecar.

    One narrow scan of (doc_id, attrs) → per-(attr, value, segment) sorted
    doc lists, delta+varbyte. Cardinality note for 10^12 docs: rows =
    Σ_attr |values touched per segment| ≤ n_segments × Σ|domain(attr)| —
    tiny next to the text postings, and the query side prunes on
    (attr, value) at the parquet scan.
    """
    rows = None
    for a in attrs:
        r = docs.select(
            F.lit(a).alias("attr"),
            F.col(a).cast("string").alias("value"),
            (F.col("doc_id") / F.lit(cfg.segment_docs)).cast("long").alias("segment"),
            "doc_id")
        rows = r if rows is None else rows.unionByName(r)
    # a doc with a NULL attribute has no posting for it (Lucene
    # missing-field semantics): filters can never match it, and
    # collapse_topk routes it to the shared null group
    rows = rows.filter(F.col("value").isNotNull())
    enc = (rows.repartition(cfg.n_term_partitions, "attr", "value", "segment")
           .sortWithinPartitions("attr", "value", "segment", "doc_id")
           .mapInPandas(_encode_attr_partition(), ATTRS_SCHEMA))
    tmp = os.path.join(index_dir, "_tmp", "attrs")
    shutil.rmtree(tmp, ignore_errors=True)
    enc.write.mode("overwrite").parquet(tmp)
    final = os.path.join(index_dir, "attrs")
    shutil.rmtree(final, ignore_errors=True)
    mf.commit_dataset(tmp, final)


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    n_shards: int = 4,
    resume: bool = True,
    n_docs: int | None = None,
    attrs: tuple[str, ...] = (),
) -> dict:
    """Full SPIMI build → ``index_dir``/{segments/shard=K, stats.json, _manifests}.

    ``docs`` must carry (doc_id, tokens, keyphrases). Returns build metrics.
    Shards partition the doc-id space (shard = segment % n_shards) and are
    the resume/checkpoint unit, but ALL pending shards are encoded in ONE
    Spark job (``write.partitionBy("shard")``): the round-2 per-shard job
    loop serialized n_shards job barriers and dominated the build's fixed
    Amdahl intercept. Each shard still commits atomically (tmp dir →
    rename) with its own manifest, so a kill mid-build leaves either a
    committed shard or nothing — a rerun re-encodes exactly the
    uncommitted shards and produces an identical index.
    """
    cfg = cfg or IndexConfig()
    ch = mf.config_hash((cfg, "v1"))
    os.makedirs(index_dir, exist_ok=True)

    # --- global pass --------------------------------------------------------
    # prune to the three columns the build reads. The wide docs frame is
    # scanned exactly ONCE (into the slim cached token table) — persisting
    # wide token arrays costs more than re-scanning, and stats/df both come
    # from the token cache. ``n_docs`` is accepted as a hint to skip the
    # extra count job when the caller already knows it.
    # Persist ONLY the slim numeric/term token table, never the docs
    # frame: an interleaved A/B/C measurement (100k docs, local[8], same
    # process) showed caching any array-carrying docs projection LOSES to
    # recomputing the tagger inside token_table's two explode branches —
    # cache serialization of string arrays costs more than the extra
    # parallel CPU, while the token-table cache saves the encode job a
    # full re-derivation. (A: docs+tokens persist ~50 s avg; B: nothing
    # ~43 s; C: tokens-only ~35 s.)
    # attr sidecar reads its own narrow (doc_id, attrs) projection of the
    # SOURCE plan — one extra evaluation, same trade as the n_docs count
    # (callers with an expensive tagger plan should pass attrs off a
    # cheap upstream frame or accept the pass; it never ships token arrays)
    attr_source = docs.select("doc_id", *attrs) if attrs else None
    docs = docs.select("doc_id", "tokens", "keyphrases")
    tok_fn = token_table_positions if cfg.positions else token_table_arrow
    tokens = tok_fn(docs).withColumn(
        "segment", (F.col("doc_id") / F.lit(cfg.segment_docs)).cast("long")).persist()
    if n_docs is None:
        # NB: re-evaluates the docs plan (for prepare_docs output that is
        # an extra Arrow tagger pass) — callers that know the corpus size
        # should pass n_docs; every engine-internal caller does
        n_docs = docs.select("doc_id").count()
    stats, dfs, grouped = stats_and_term_dict(tokens, n_docs)
    mf.write_global(index_dir, "stats.json", {
        "n_docs": stats["n_docs"],
        "avgdl": {str(k): v for k, v in stats["avgdl"].items()},
        "dl_sums": {str(k): v for k, v in stats["dl_sums"].items()},
        "config_hash": ch,
        "bm25": {"k1": cfg.bm25.k1, "b": cfg.bm25.b, "kp_boost": cfg.bm25.kp_boost},
        "segment_docs": cfg.segment_docs, "block_size": cfg.block_size,
        "positions": cfg.positions, "attrs": sorted(attrs),
        # smallest id greater than any indexed doc — the append high-water
        # seed. n_docs is only correct while ids are dense 0..n-1 (the
        # prepare_docs contract); a purge-compaction makes ids SPARSE, so
        # merge/reconcile carry this forward instead of re-deriving from
        # the post-purge n_docs (which would hand out ids that collide
        # with survivors).
        "doc_id_ceiling": n_docs,
    })
    tokens_df = tokens.join(dfs, ["field", "term"])

    metrics = {"shards": [], "n_docs": stats["n_docs"]}
    done = mf.completed_shards(index_dir, ch) if resume else set()
    todo = [s for s in range(n_shards) if s not in done]
    payloads: dict[int, dict] = {
        s: {"shard": s, "skipped": True} for s in range(n_shards) if s in done}
    if todo:
        pending = tokens_df
        if len(todo) < n_shards:
            pending = pending.filter(
                (F.col("segment") % n_shards).isin([int(s) for s in todo]))
        # HASH repartition on (term, field, segment), not repartitionByRange:
        # the encode kernel only needs each (term, field, segment) group
        # whole in one partition plus the within-partition sort below, and
        # RangePartitioner costs an extra sampling pass over the exploded
        # token table (measured: 25.8s → 18.5s for this stage at local[8],
        # stage scaling eff 0.77 → 1.06). Head-term skew is still spread
        # because segment is in the hash key (the salt): a hot term's rows
        # split across its ~n_docs/segment_docs segments.
        #
        # ``shard`` is re-derived JVM-side from the encoded segment (every
        # (term, field, segment) group maps to exactly one shard), so the
        # encode kernel stays shard-agnostic and ALL shards write in one
        # job via partitionBy — no per-shard job barrier.
        schema = POSTINGS_SCHEMA_POS if cfg.positions else POSTINGS_SCHEMA
        encoded = (pending
                   .repartition(cfg.n_term_partitions, "term", "field", "segment")
                   .sortWithinPartitions("term", "field", "segment", "doc_id")
                   .mapInPandas(_encode_partition(stats, cfg), schema)
                   .withColumn("shard", (F.col("segment") % n_shards).cast("int")))
        tmp_root = os.path.join(index_dir, "_tmp", "build")
        shutil.rmtree(tmp_root, ignore_errors=True)
        encoded.write.mode("overwrite").partitionBy("shard").parquet(tmp_root)
        # per-shard atomic commit + per-partition lineage from the staged
        # files; a crash between commits leaves earlier shards committed
        # and later ones absent — exactly the resume contract
        import pyarrow.parquet as pq
        for shard in todo:
            tmp = os.path.join(tmp_root, f"shard={shard}")
            os.makedirs(tmp, exist_ok=True)  # shard may be empty of terms
            final = os.path.join(index_dir, "segments", f"shard={shard}")
            files = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
            n_rows = sum(pq.ParquetFile(os.path.join(tmp, f)).metadata.num_rows
                         for f in files)
            mf.commit_dataset(tmp, final)
            payloads[shard] = {
                "shard": shard, "status": "committed", "config_hash": ch,
                "posting_rows": n_rows, "files": sorted(files),
                "lineage": {"input": "token_table",
                            "filter": f"segment % {n_shards} == {shard}",
                            "n_term_partitions": cfg.n_term_partitions},
            }
            mf.write_shard_manifest(index_dir, shard, payloads[shard])
    metrics["shards"] = [payloads[s] for s in range(n_shards)]
    if attrs and (not resume or not os.path.isdir(os.path.join(index_dir, "attrs"))):
        # after the shard commits so a resume that finds a committed attrs
        # dir skips this pass; a kill before this point leaves no attrs dir
        # and the rerun builds it
        build_attr_postings(spark, attr_source, index_dir, cfg, attrs)
    tokens.unpersist()
    grouped.unpersist()
    shutil.rmtree(os.path.join(index_dir, "_tmp"), ignore_errors=True)
    return metrics


# session-scoped DataFrame-HANDLE cache for index datasets (r6, guide §6):
# every spark.read.parquet builds a fresh InMemoryFileIndex — a driver-side
# directory listing plus footer schema read that measured ~0.4 s of every
# 1-2 s query call on a many-file index. Re-using the lazy DataFrame keeps
# the listing; NO ROW DATA is cached (each query still scans parquet), and
# the entry is keyed on the dataset's mtimes so a rebuild/merge/delete at
# the same path invalidates it. This is the manifest-metadata argument for
# table formats (Iceberg et al.) applied at session scope.
_DATASET_CACHE: dict[tuple, DataFrame] = {}


def _dataset_mtimes(path: str) -> tuple | None:
    """The dataset's listing fingerprint, or None when ``os.stat`` /
    ``os.listdir`` cannot see it (object stores, permissions)."""
    try:
        entries = [(path, os.stat(path).st_mtime_ns)]
        for e in sorted(os.listdir(path)):
            p = os.path.join(path, e)
            entries.append((e, os.stat(p).st_mtime_ns))
        return tuple(entries)
    except OSError:
        return None


def _read_dataset(spark: SparkSession, path: str) -> DataFrame:
    mtimes = _dataset_mtimes(path)
    if mtimes is None:
        # no fingerprint can tell a rebuild at this path from the cached
        # listing, so every call lists afresh
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path, mtimes)
    df = _DATASET_CACHE.get(key)
    if df is None:
        # drop stale entries for the same path (old mtimes) to bound growth
        for k in [k for k in _DATASET_CACHE if k[1] == path]:
            del _DATASET_CACHE[k]
        df = spark.read.parquet(path)
        _DATASET_CACHE[key] = df
    return df


def load_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    return _read_dataset(spark, os.path.join(index_dir, "segments"))


def load_attrs(spark: SparkSession, index_dir: str) -> DataFrame:
    """The attribute-postings sidecar (ATTRS_SCHEMA rows)."""
    return _read_dataset(spark, os.path.join(index_dir, "attrs"))


DOCMAP_COLS = ("url", "warc_ts", "lang")


def write_docmap(spark: SparkSession, docs: DataFrame, index_dir: str) -> list[str]:
    """Commit the doc-map sidecar: (doc_id, url[, warc_ts, lang]).

    The posting index stores only integer doc ids (the compression and
    kernel math need dense ints); this map is what turns results back into
    urls and lets deletes address docs by url. One narrow scan, atomic
    commit; at 10^12 docs it is the corpus's slimmest projection and joins
    only against broadcast-sized hit sets.
    """
    cols = [c for c in DOCMAP_COLS if c in docs.columns]
    if not cols:
        raise ValueError("write_docmap: docs has none of "
                         f"{DOCMAP_COLS} (columns: {docs.columns})")
    tmp = os.path.join(index_dir, "_tmp", "docmap")
    shutil.rmtree(tmp, ignore_errors=True)
    docs.select("doc_id", *cols).write.mode("overwrite").parquet(tmp)
    final = os.path.join(index_dir, "docmap")
    shutil.rmtree(final, ignore_errors=True)
    mf.commit_dataset(tmp, final)
    return cols


def load_docmap(spark: SparkSession, index_dir: str) -> DataFrame:
    p = os.path.join(index_dir, "docmap")
    if not os.path.isdir(p):
        raise FileNotFoundError(
            f"{index_dir} has no docmap sidecar — build with docs carrying "
            "a url column (snapshots.commit_build writes it automatically)")
    return spark.read.parquet(p)


def load_stats(index_dir: str) -> dict:
    s = mf.read_global(index_dir, "stats.json")
    assert s is not None, f"no stats.json in {index_dir}"
    s["avgdl"] = {int(k): v for k, v in s["avgdl"].items()}
    if "dl_sums" in s:
        s["dl_sums"] = {int(k): v for k, v in s["dl_sums"].items()}
    return s
