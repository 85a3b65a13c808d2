"""The benchmark's workloads: ``serve`` (read only) and ``churn`` (writes
beside reads on one snapshot table).

A workload object has three phases, called by ``run.py``:

* ``setup(ctx)`` — generate the seeded inputs, build the base index,
  prepare the oracle answers; untimed except as a whole (``setup_s``);
* ``window(ctx, seconds)`` — the closed loop: one client issues the next
  call only after the previous one returned, in whole rounds (serve) or
  cycles (churn) until ``seconds`` have passed; every call's result is
  checked and its latency recorded in ``ctx.samples``;
* ``finish(ctx)`` — end-of-run measurements (space on disk).

``traced_extras(ctx)`` adds the measurements only the traced run makes.
The engine receives only the generated inputs; every seed is derived from
the workload seed.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from collections import deque

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
from dlkp_spark.analysis.analyzer import tokenize_py
from dlkp_spark.cache import release_cached
from dlkp_spark.config import IndexConfig
from dlkp_spark.corpus import EPOCH, KNOWN_KEYPHRASES, generate_web_pages, vocab
from dlkp_spark.index import build as build_mod
from dlkp_spark.index import manifest as manifest_mod
from dlkp_spark.index import snapshots
from dlkp_spark.index.build import load_stats, prepare_docs
from dlkp_spark.oracle import build_oracle_index, reference_query_set
from dlkp_spark.query import phrase as phrase_mod
from dlkp_spark.query import wand as wand_mod
from dlkp_spark.streaming import ingest as ingest_mod

K = 10

# Sizes per scale. "full" is what the benchmark measures; "tiny" is for
# the self-tests. The corpus is far below the 20k docs the engine's own
# bench uses: a run, with its Spark start-up and set-up, has about a
# minute on a 4-core host, and at these sizes per-job fixed costs already
# dominate every call.
SCALES = {
    "full": {"serve_docs": 1500, "batch_queries": 500, "pool": 4,
             "batch_sample": 40, "churn_docs": 1200, "micro_batch": 300,
             "reads_per_cycle": 3, "compact_every": 2, "segment_docs": 256,
             "max_warm_windows": 4, "warm_cycles": 2},
    "tiny": {"serve_docs": 300, "batch_queries": 50, "pool": 2,
             "batch_sample": 10, "churn_docs": 200, "micro_batch": 50,
             "reads_per_cycle": 1, "compact_every": 2, "segment_docs": 64,
             "max_warm_windows": 2, "warm_cycles": 1},
}

INTERACTIVE_KINDS = ("plain", "boosted", "conjunctive", "filtered",
                     "must_not", "phrase", "two_wave")
# one round: every interactive kind once, with four batch calls spread
# through it (batch latency varies most from call to call)
SEQUENCE = ("plain", "batch", "boosted", "conjunctive", "batch", "filtered",
            "must_not", "batch", "phrase", "two_wave", "batch")


def derive(seed: int, name: str) -> int:
    """A sub-seed for one input stream of the workload."""
    h = hashlib.blake2b(f"{seed}:{name}".encode(), digest_size=4).digest()
    return int.from_bytes(h, "big") % (2 ** 31)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def read_pages(path: str) -> list[dict]:
    """Driver-side read of a generated input (url, text, lang) — the
    oracle's copy of what the engine was given."""
    t = pq.read_table(path, columns=["url", "text", "lang"])
    return t.to_pylist()


def release(spark) -> None:
    """No timed call may read another's cached frames."""
    release_cached()
    spark.catalog.clearCache()


def level(times: list[float], tol: float = 0.15) -> bool:
    """Two consecutive warm-up windows agree within ``tol``."""
    return len(times) >= 2 and abs(times[-1] - times[-2]) <= tol * times[-2]


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, tracer, seed: int, work: str, scale: str,
                 cpus: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.sz = SCALES[scale]
        self.cpus = cpus
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.extra: dict = {}  # traced-run-only measurements
        self._t0 = time.perf_counter()

    def mark(self, name: str) -> None:
        """Note when a set-up phase ended (seconds since the ctx was made)."""
        self.extra.setdefault("marks", {})[name] = time.perf_counter() - self._t0

    def record(self, metric: str, seconds: float, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.append(f"{metric}: {errs[0]}")
        self.samples.setdefault(metric, []).append(seconds)

    def call(self, metric: str, fn, check) -> None:
        """Time one call; an exception or a failed check counts as failed."""
        t0 = time.perf_counter()
        try:
            out = fn()
            dt = time.perf_counter() - t0
            errs = check(out)
        except Exception as e:  # noqa: BLE001 — every failure is counted
            dt = time.perf_counter() - t0
            errs = [f"{type(e).__name__}: {e}"]
        self.record(metric, dt, errs)
        release(self.spark)


def index_config(ctx: Ctx, positions: bool) -> IndexConfig:
    return IndexConfig(segment_docs=ctx.sz["segment_docs"], block_size=64,
                       n_term_partitions=ctx.cpus, positions=positions)


def install_spans(tr) -> None:
    """Interpose spans on the calls one layer makes into another."""
    tr.wrap(snapshots, "build_index", "index.build")
    tr.wrap(build_mod, "write_docmap", "index.build")
    tr.wrap(snapshots, "append_batch", "streaming.ingest")
    tr.wrap(ingest_mod, "build_index", "index.build")
    tr.wrap(snapshots, "reconcile_stream", "index.merge")
    tr.wrap(snapshots, "merge_segments", "index.merge")
    tr.wrap(snapshots, "read_deletes", "index.snapshots", "resolve")
    tr.wrap(snapshots, "current_snapshot", "index.snapshots", "resolve", jobs=False)
    for name in ("write_global", "read_global", "write_shard_manifest",
                 "commit_dataset"):
        tr.wrap(manifest_mod, name, "index.manifest", name, jobs=False)


def analysis_pass(ctx: Ctx, pages) -> None:
    """Traced run only: materialise ``prepare_docs`` to a no-op sink,
    counting docs, tokens and keyphrase spans with an Observation (no
    extra job)."""
    from pyspark.sql import Observation

    obs = Observation("analysis")
    with ctx.tracer.span("analysis", "prepare_docs"):
        docs = prepare_docs(pages, validate=True).observe(
            obs, F.count(F.lit(1)).alias("docs"),
            F.sum(F.size("tokens")).alias("tokens"),
            F.sum(F.size("keyphrases")).alias("keyphrase_spans"))
        docs.write.format("noop").mode("overwrite").save()
    ctx.extra["analysis"] = {k: int(v or 0) for k, v in obs.get.items()}


def codec_pass(ctx: Ctx, index_dir: str) -> None:
    """Traced run only: driver-side encode and decode of the posting rows
    read back from the built index."""
    import numpy as np

    from dlkp_spark.config import BM25Params
    from dlkp_spark.index.codec import decode_postings_batch, encode_postings_multi

    with ctx.tracer.span("index.codec", "read_back", jobs=False):
        t = pq.read_table(os.path.join(index_dir, "segments"),
                          columns=["docs_vb", "tfs_vb", "dls_vb", "n_postings"])
        docs_vbs = t.column("docs_vb").to_pylist()
        tfs_vbs = t.column("tfs_vb").to_pylist()
        dls_vbs = t.column("dls_vb").to_pylist()
    with ctx.tracer.span("index.codec", "decode_postings_batch", jobs=False) as sp:
        t0 = time.perf_counter()
        docs, tfs, dls, counts = decode_postings_batch(docs_vbs, tfs_vbs, dls_vbs)
        dec_s = time.perf_counter() - t0
        sp["postings"] = int(counts.sum())
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    ends = starts + counts
    n = len(counts)
    with ctx.tracer.span("index.codec", "encode_postings_multi", jobs=False):
        t0 = time.perf_counter()
        encode_postings_multi(docs, tfs, dls, starts, ends, np.ones(n),
                              np.full(n, 10.0), BM25Params())
        enc_s = time.perf_counter() - t0
    blob_bytes = sum(len(a) + len(b) + len(c)
                     for a, b, c in zip(docs_vbs, tfs_vbs, dls_vbs))
    total = int(counts.sum())
    ctx.extra["codec"] = {
        "decode_postings_per_s": total / dec_s,
        "encode_postings_per_s": total / enc_s,
        "bytes_per_posting": blob_bytes / total,
    }


def build_ledger(ctx: Ctx, table: str, metrics: dict) -> None:
    """Posting rows and bytes of the set-up build (exact)."""
    vdir = snapshots.index_dir_of(table)
    ctx.extra["build"] = {
        "posting_rows": sum(s.get("posting_rows", 0) for s in metrics["shards"]),
        "posting_bytes": dir_bytes(os.path.join(vdir, "segments")),
    }


# --------------------------------------------------------------------------
# serve


class Serve:
    """Read only: one index, seven interactive query kinds and batch calls."""

    def setup(self, ctx: Ctx) -> None:
        sz, spark, tr = ctx.sz, ctx.spark, ctx.tracer
        self.table = os.path.join(ctx.work, "serve_table")
        pages_dir = os.path.join(ctx.work, "serve_pages")
        generate_web_pages(spark, sz["serve_docs"], seed=derive(ctx.seed, "corpus")) \
            .write.mode("overwrite").parquet(pages_dir)
        self.pages = spark.read.parquet(pages_dir)
        ctx.mark("inputs")
        with tr.span("index.snapshots", "commit_build"):
            snap = snapshots.commit_build(
                spark, prepare_docs(self.pages, validate=True), self.table,
                cfg=index_config(ctx, positions=True), n_shards=2,
                n_docs=sz["serve_docs"], attrs=("lang",))
        release(spark)
        self.build_metrics = snap["metrics"]
        ctx.mark("build")
        self._prepare_oracle(ctx, read_pages(pages_dir))
        ctx.mark("oracle")
        self.text_bytes = sum(len(p["text"].encode()) for p in self.docs.values())
        self.calls = 0

    def _prepare_oracle(self, ctx: Ctx, pages: list[dict]) -> None:
        sz = ctx.sz
        pages.sort(key=lambda p: p["url"])  # doc_id = rank of url
        self.docs = dict(enumerate(pages))
        self.tokens = {d: tokenize_py(p["text"]) for d, p in self.docs.items()}
        self.token_sets = {d: set(t) for d, t in self.tokens.items()}
        self.oracle = build_oracle_index([(d, p["text"]) for d, p in self.docs.items()])
        rng = random.Random(derive(ctx.seed, "queries"))
        v = vocab()
        raw = reference_query_set(seed=derive(ctx.seed, "interactive"),
                                  n_queries=sz["pool"] * len(INTERACTIVE_KINDS))
        self.pool: dict[str, list] = {k: [] for k in INTERACTIVE_KINDS}
        for i, (_, terms) in enumerate(raw):
            kind = INTERACTIVE_KINDS[i % len(INTERACTIVE_KINDS)]
            self.pool[kind].append(self._make_query(kind, terms, rng, v, i))
        bq = reference_query_set(seed=derive(ctx.seed, "batch"),
                                 n_queries=sz["batch_queries"])
        self.batch = bq
        sample = rng.sample(range(len(bq)), min(sz["batch_sample"], len(bq)))
        self.batch_expected = {
            bq[i][0]: checks.topk_of(checks.all_scores(self.oracle, bq[i][1]), K)
            for i in sample}

    def _make_query(self, kind, terms, rng, v, i) -> dict:
        """One interactive query and the check its result must pass."""
        terms = sorted(set(terms))
        q = {"kind": kind, "terms": terms}
        if kind in ("plain", "two_wave"):
            q["expected"] = checks.topk_of(checks.all_scores(self.oracle, terms), K)
        elif kind == "boosted":
            w = {t: 1.0 for t in terms}
            w[terms[0]] = 2.0
            q["terms"] = [f"{terms[0]}^2"] + terms[1:]
            q["scores"] = checks.boosted_scores(self.oracle, w)
        elif kind == "conjunctive":
            s = checks.all_scores(self.oracle, terms)
            q["expected"] = checks.topk_of(
                {d: x for d, x in s.items()
                 if all(t in self.token_sets[d] for t in terms)}, K)
        elif kind == "filtered":
            s = checks.all_scores(self.oracle, terms)
            q["expected"] = checks.topk_of(
                {d: x for d, x in s.items() if self.docs[d]["lang"] == "en"}, K)
        elif kind == "must_not":
            excl = next(t for t in v[rng.randrange(5):] if t not in terms)
            q["exclude"] = [excl]
            s = checks.all_scores(self.oracle, terms)
            q["expected"] = checks.topk_of(
                {d: x for d, x in s.items() if excl not in self.token_sets[d]}, K)
        elif kind == "phrase":
            phrase = KNOWN_KEYPHRASES[i % len(KNOWN_KEYPHRASES)].split()
            q["terms"] = phrase
            q["docs_with_phrase"] = {d for d, t in self.tokens.items()
                                     if checks.contains_phrase(t, phrase)}
        return q

    # one call of each kind ------------------------------------------------

    def _index_dir(self, ctx: Ctx) -> str:
        with ctx.tracer.span("index.snapshots", "resolve", jobs=False):
            return snapshots.index_dir_of(self.table)

    def _interactive(self, ctx: Ctx, q: dict) -> None:
        spark, tr = ctx.spark, ctx.tracer
        kind = q["kind"]
        layer = "query.phrase" if kind == "phrase" else "query.wand"

        def run():
            with tr.span(layer, "call", kind=kind):
                idx = self._index_dir(ctx)
                with tr.span(layer, "prep", kind=kind):
                    qs = [(0, q["terms"])]
                    if kind == "phrase":
                        df = phrase_mod.phrase_topk(spark, idx, qs, k=K)
                    else:
                        df = wand_mod.batch_topk(
                            spark, idx, qs, k=K,
                            two_wave=kind == "two_wave",
                            conjunctive=kind == "conjunctive",
                            filters={"lang": ["en"]} if kind == "filtered" else None,
                            must_not={0: q["exclude"]} if kind == "must_not" else None)
                with tr.span(layer, "exec", kind=kind):
                    return checks.group_rows(df.collect()).get(0, [])

        def check(hits):
            errs = checks.check_shape(hits, K)
            if kind == "boosted":
                errs += checks.check_close(hits, q["scores"], K)
            elif kind == "phrase":
                errs += checks.check_phrase(hits, q["terms"], q["docs_with_phrase"], K)
            else:
                errs += checks.check_exact(hits, q["expected"])
            return errs

        ctx.call(f"query.{kind}", run, check)

    def _batch_call(self, ctx: Ctx) -> None:
        spark, tr = ctx.spark, ctx.tracer

        def run():
            with tr.span("query.wand", "call", kind="batch"):
                idx = self._index_dir(ctx)
                with tr.span("query.wand", "prep", kind="batch"):
                    df = wand_mod.batch_topk(spark, idx, self.batch, k=K)
                with tr.span("query.wand", "exec", kind="batch"):
                    return checks.group_rows(df.collect())

        def check(got):
            errs = []
            for qid, hits in got.items():
                errs += checks.check_shape(hits, K)
            for qid, want in self.batch_expected.items():
                errs += checks.check_exact(got.get(qid, []), want)
            return errs

        ctx.call("query.batch", run, check)

    def step(self, ctx: Ctx) -> None:
        """The next call of the fixed sequence."""
        i = self.calls
        kind = SEQUENCE[i % len(SEQUENCE)]
        r = i // len(SEQUENCE)
        if kind == "batch":
            with_op(ctx, f"call{i}.batch", lambda: self._batch_call(ctx))
        else:
            pool = self.pool[kind]
            with_op(ctx, f"call{i}.{kind}",
                    lambda: self._interactive(ctx, pool[r % len(pool)]))
        self.calls += 1

    def window(self, ctx: Ctx, seconds: float) -> None:
        """Whole rounds until ``seconds`` have passed (at least one)."""
        t0 = time.perf_counter()
        self.unit(ctx)
        while time.perf_counter() - t0 < seconds:
            self.unit(ctx)

    def unit(self, ctx: Ctx) -> float:
        """One whole round of the sequence; returns its wall time."""
        t0 = time.perf_counter()
        for _ in range(len(SEQUENCE)):
            self.step(ctx)
        return time.perf_counter() - t0

    def rewarm(self, ctx: Ctx) -> float:
        """One plain call outside the sequence; returns its wall time."""
        t0 = time.perf_counter()
        with_op(ctx, "warm", lambda: self._interactive(ctx, self.pool["plain"][0]))
        return time.perf_counter() - t0

    def warm(self, ctx: Ctx) -> None:
        """One untimed call of each interactive kind runs its code path
        once; then windows of one plain and one batch call until two
        consecutive windows agree. Batch calls warm more slowly than
        interactive ones: with one batch call in the warm-up, the first
        batch call of the window was still the slowest in most runs."""
        for kind in INTERACTIVE_KINDS:
            with_op(ctx, f"warm.{kind}", lambda: self._interactive(ctx, self.pool[kind][-1]))
        times = []
        while not level(times) and len(times) < ctx.sz["max_warm_windows"]:
            t0 = time.perf_counter()
            self.rewarm(ctx)
            with_op(ctx, "warm.batch", lambda: self._batch_call(ctx))
            times.append(time.perf_counter() - t0)
        ctx.extra["warm_windows_s"] = times
        ctx.mark("warm")

    def finish(self, ctx: Ctx) -> None:
        vdir = snapshots.index_dir_of(self.table)
        ctx.extra["space_per_text_byte"] = dir_bytes(vdir) / self.text_bytes

    def traced_extras(self, ctx: Ctx) -> None:
        analysis_pass(ctx, self.pages)
        idx = snapshots.index_dir_of(self.table)
        codec_pass(ctx, idx)
        build_ledger(ctx, self.table, self.build_metrics)
        tw = [(i, q["terms"]) for i, q in enumerate(self.pool["two_wave"])]
        with ctx.tracer.span("query.wand", "two_wave_pair_counts"):
            c = wand_mod.two_wave_pair_counts(ctx.spark, idx, tw, k=K)
        release(ctx.spark)
        ctx.extra["two_wave"] = {
            "pairs_skipped_frac": c["pairs_skipped"] / max(c["pairs_total"], 1),
            "postings_scored_frac": c["postings_scored"] / max(c["postings_total"], 1),
        }
        ctx.extra["snapshots"] = {
            "log_len": len(snapshots.snapshot_ids(self.table)),
            "live_docs": int(load_stats(idx)["n_docs"])}


def with_op(ctx: Ctx, op: str, fn) -> None:
    """Run one timed operation with its spans tagged by ``op``."""
    ctx.tracer.op = op
    try:
        fn()
    finally:
        ctx.tracer.op = None


# --------------------------------------------------------------------------
# churn


class Churn:
    """Writes beside reads: append, delete the oldest, reconcile, read;
    compact and expire every few cycles. The live corpus stays level."""

    def setup(self, ctx: Ctx) -> None:
        sz, spark, tr = ctx.sz, ctx.spark, ctx.tracer
        self.table = os.path.join(ctx.work, "churn_table")
        self.cfg = index_config(ctx, positions=False)
        self.pages_dir = os.path.join(ctx.work, "churn_pages")
        n, b = sz["churn_docs"], sz["micro_batch"]
        # the base corpus, then micro-batches for warm-up, the window (two
        # periods at most) and the traced run's two units; one job writes
        # them all in parts of b pages, split by generator row index
        self.base_parts = n // b
        self.n_batches = sz["warm_cycles"] + 2 * sz["compact_every"] + 2
        epoch_s = int(EPOCH.timestamp())
        (generate_web_pages(spark, n + self.n_batches * b, seed=derive(ctx.seed, "corpus"))
         .withColumn("batch", F.floor((F.col("warc_ts").cast("long") - epoch_s) / b))
         .write.mode("overwrite").partitionBy("batch").parquet(self.pages_dir))
        self.base_pages = spark.read.parquet(self.pages_dir) \
            .where(F.col("batch") < self.base_parts).drop("batch")
        ctx.mark("inputs")
        with tr.span("index.snapshots", "commit_build"):
            snap = snapshots.commit_build(
                spark, prepare_docs(self.base_pages, validate=True), self.table,
                cfg=self.cfg, n_shards=2, n_docs=n)
        release(spark)
        self.build_metrics = snap["metrics"]
        ctx.mark("build")
        # doc ids and text bytes as the engine's contract assigns them:
        # base docs by url rank, each appended batch from the high-water
        # mark by url rank within the batch
        base = sorted((p for i in range(self.base_parts) for p in read_pages(
            os.path.join(self.pages_dir, f"batch={i}"))), key=lambda p: p["url"])
        self.text_bytes = {d: len(p["text"].encode()) for d, p in enumerate(base)}
        self.batch_bytes = []
        for c in range(self.n_batches):
            rows = sorted(read_pages(self._batch_path(c)), key=lambda p: p["url"])
            self.batch_bytes.append([len(p["text"].encode()) for p in rows])
        ctx.extra["micro_batch"] = b
        self.live = deque(range(n))
        self.ceiling = n
        self.in_index = n          # docs in the current version's postings
        self.tombstoned: set = set()
        self.next_batch = 0
        self.cycle_no = 0
        self.since_compact = 0
        self.queries = reference_query_set(seed=derive(ctx.seed, "reads"),
                                           n_queries=64)

    def _batch_path(self, c: int) -> str:
        return os.path.join(self.pages_dir, f"batch={self.base_parts + c}")

    def _n_docs_check(self, ctx: Ctx, snap_op: str):
        def check(_):
            got = int(load_stats(snapshots.index_dir_of(self.table))["n_docs"])
            return [] if got == self.in_index else [
                f"{snap_op}: stats n_docs {got}, expected {self.in_index}"]
        return check

    def cycle(self, ctx: Ctx, reads: int | None = None) -> None:
        """Append, delete, reconcile, then ``reads`` reads (default
        ``reads_per_cycle``)."""
        spark, tr, sz = ctx.spark, ctx.tracer, ctx.sz
        reads = sz["reads_per_cycle"] if reads is None else reads
        c = self.cycle_no
        if self.next_batch >= self.n_batches:
            raise RuntimeError("churn ran out of pre-generated micro-batches")
        bid = self.next_batch
        self.next_batch += 1
        pages = spark.read.parquet(self._batch_path(bid))
        b = len(self.batch_bytes[bid])
        t_first = time.perf_counter()

        def append():
            with tr.span("index.snapshots", "commit_append"):
                return snapshots.commit_append(spark, pages, self.table, cfg=self.cfg)

        def appended(snap):
            n = snap["metrics"]["rows_appended"]
            return [] if n == b else [f"appended {n} rows, expected {b}"]

        with_op(ctx, f"c{c}.append", lambda: ctx.call("append", append, appended))
        new_ids = range(self.ceiling, self.ceiling + b)
        for d, nb in zip(new_ids, self.batch_bytes[bid]):
            self.text_bytes[d] = nb
        self.live.extend(new_ids)
        self.ceiling += b

        victims = [self.live.popleft() for _ in range(b)]

        def delete():
            with tr.span("index.snapshots", "commit_delete"):
                return snapshots.commit_delete(spark, self.table, doc_ids=victims)

        self.tombstoned.update(victims)

        def deleted(snap):
            n = snap["metrics"]["tombstones_total"]
            return [] if n == len(self.tombstoned) else [
                f"{n} tombstones, expected {len(self.tombstoned)}"]

        with_op(ctx, f"c{c}.delete", lambda: ctx.call("delete", delete, deleted))

        def reconcile():
            with tr.span("index.snapshots", "commit_reconcile"):
                return snapshots.commit_reconcile(spark, self.table, cfg=self.cfg,
                                                  n_shards=2)

        self.in_index += b
        if tr.enabled:
            vdir = snapshots.index_dir_of(self.table)
            appended_bytes = dir_bytes(os.path.join(vdir, "stream"))
        with_op(ctx, f"c{c}.reconcile", lambda: ctx.call(
            "reconcile", reconcile, self._n_docs_check(ctx, "reconcile")))
        if tr.enabled:
            out = dir_bytes(os.path.join(snapshots.index_dir_of(self.table), "segments"))
            ctx.extra.setdefault("rewrites", []).append((out, appended_bytes))
        ctx.samples.setdefault("fresh", []).append(time.perf_counter() - t_first)

        for j in range(reads):
            self.read(ctx, f"c{c}", c * sz["reads_per_cycle"] + j)
        self.cycle_no += 1
        self.since_compact += 1

    def read(self, ctx: Ctx, op: str, i: int) -> None:
        """One single-query read of the current snapshot, tombstones masked."""
        spark, tr = ctx.spark, ctx.tracer
        q = self.queries[i % len(self.queries)]
        live = set(self.live)

        def read():
            with tr.span("query.wand", "call", kind="deleted"):
                with tr.span("query.wand", "prep", kind="deleted"):
                    df = snapshots.snapshot_topk(spark, self.table, [(0, q[1])], k=K)
                with tr.span("query.wand", "exec", kind="deleted"):
                    return checks.group_rows(df.collect()).get(0, [])

        def read_ok(hits):
            return (checks.check_shape(hits, K)
                    + checks.check_live(hits, live, self.tombstoned))

        with_op(ctx, f"{op}.read{i}", lambda: ctx.call("query.deleted", read, read_ok))

    def compact(self, ctx: Ctx) -> None:
        spark, tr = ctx.spark, ctx.tracer

        def compact():
            # factor=1 purges tombstones without widening segments, so the
            # segment count, and with it read latency, stays level
            with tr.span("index.snapshots", "commit_compact"):
                snapshots.commit_compact(spark, self.table, factor=1,
                                         cfg=self.cfg, n_shards=2)
            with tr.span("index.snapshots", "expire_snapshots", jobs=False):
                snapshots.expire_snapshots(self.table, keep_last=1)

        self.in_index = len(self.live)
        self.tombstoned = set()
        with_op(ctx, f"c{self.cycle_no}.compact", lambda: ctx.call(
            "compact", compact, self._n_docs_check(ctx, "compact")))
        self.since_compact = 0

    def window(self, ctx: Ctx, seconds: float) -> None:
        """Whole compaction periods — ``compact_every`` cycles, then a
        compaction with expiry — until ``seconds`` have passed (at least
        one, and no more than the pre-generated micro-batches allow)."""
        t0, every = time.perf_counter(), ctx.sz["compact_every"]
        while True:
            for _ in range(every):
                self.cycle(ctx)
            self.compact(ctx)
            if (time.perf_counter() - t0 >= seconds
                    or self.next_batch + every > self.n_batches):
                return

    def unit(self, ctx: Ctx) -> float:
        """One cycle, without compaction; returns its wall time."""
        t0 = time.perf_counter()
        self.cycle(ctx)
        return time.perf_counter() - t0

    def rewarm(self, ctx: Ctx) -> float:
        """One read; returns its wall time."""
        t0 = time.perf_counter()
        self.read(ctx, "warm", 0)
        return time.perf_counter() - t0

    def warm(self, ctx: Ctx) -> None:
        """``warm_cycles`` untimed cycles without reads run the append,
        delete and reconcile paths (after one, reads in the window still
        fell by a quarter from the first cycle to the second); then windows
        of one read each, which run the read path, until two consecutive
        windows agree. Compaction is not warmed: it runs once a period, is
        not gated, and warming it would cost a sixth of the run."""
        for _ in range(ctx.sz["warm_cycles"]):
            self.cycle(ctx, reads=0)
        times = []
        while not level(times) and len(times) < ctx.sz["max_warm_windows"]:
            times.append(self.rewarm(ctx))
        ctx.extra["warm_windows_s"] = times
        ctx.mark("warm")

    def finish(self, ctx: Ctx) -> None:
        """Compact and expire after the last cycle, then measure space."""
        if self.since_compact:
            self.compact(ctx)
        live_bytes = sum(self.text_bytes[d] for d in self.live)
        ctx.extra["space_per_text_byte"] = dir_bytes(self.table) / live_bytes
        ctx.extra["segments_after"] = self._segments()
        self.snapshot_counts(ctx)

    def _segments(self) -> int:
        t = pq.read_table(os.path.join(snapshots.index_dir_of(self.table), "segments"),
                          columns=["segment"])
        return len(set(t.column("segment").to_pylist()))

    def traced_extras(self, ctx: Ctx) -> None:
        analysis_pass(ctx, self.base_pages)
        codec_pass(ctx, snapshots.index_dir_of(self.table))
        build_ledger(ctx, self.table, self.build_metrics)

    def snapshot_counts(self, ctx: Ctx) -> None:
        idx = snapshots.index_dir_of(self.table)
        n_docs = int(load_stats(idx)["n_docs"])
        dels = snapshots.read_deletes(ctx.spark, self.table)
        n_del = dels.count() if dels is not None else 0
        live = n_docs - n_del
        if live != len(self.live):
            ctx.failed += 1
            ctx.attempted += 1
            ctx.errors.append(f"live docs {live}, expected {len(self.live)}")
        ctx.extra["snapshots"] = {
            "log_len": len(snapshots.snapshot_ids(self.table)), "live_docs": live}


WORKLOADS = {"serve": Serve, "churn": Churn}
