"""Per-layer metrics of a traced run, from its spans, the event-log ledger
of each span's job group, and the traced-only measurements.

``per_layer`` returns the metrics every workload reports (the result
line's ``metrics`` under ``--trace 1``) and the full report, which adds
the metrics of layers only one workload reaches. Metrics marked exact in
README.md are counts that repeat exactly between traced runs at one seed.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import UNTAGGED, merge_ledgers, self_times, task_skew

EMPTY = merge_ledgers([])

# counts that repeat exactly between traced runs at one seed; a change in
# one of them is a change of behaviour, not of speed
EXACT = (
    "analysis.docs", "analysis.tokens", "analysis.keyphrase_spans",
    "index.build.jobs", "index.build.stages", "index.build.tasks",
    "index.build.posting_rows", "index.codec.bytes_per_posting",
    "query.wand.jobs_per_call", "query.wand.stages_per_call",
    "query.wand.tasks_per_call", "query.wand.two_wave.pairs_skipped_frac",
    "query.wand.two_wave.postings_scored_frac", "index.merge.segments_after",
    "index.snapshots.log_len", "index.snapshots.live_docs",
)


def _ledger(spans, ledgers) -> dict:
    return merge_ledgers([ledgers[s["group"]] for s in spans
                          if s.get("group") in ledgers])


def _median(xs, scale=1.0) -> float:
    return statistics.median(xs) * scale if xs else 0.0


def _dur(s) -> float:
    return s["end"] - s["start"]


def _calls(spans, layer, kind=None) -> list[dict]:
    """Call spans of one query layer in the traced unit of work."""
    return [s for s in spans if s["layer"] == layer and s["name"] == "call"
            and s["phase"] == "window" and (kind is None or s.get("kind") == kind)]


def _call_ledgers(spans, calls, ledgers) -> list[dict]:
    """Per call, the ledger of every span of the call's operation."""
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    return [_ledger(by_op[c["op"]], ledgers) for c in calls]


def _phase_ms(spans, layer, name, kind=None) -> float:
    return _median([_dur(s) for s in spans if s["layer"] == layer
                    and s["name"] == name and s["phase"] == "window"
                    and (kind is None or s.get("kind") == kind)], 1e3)


def per_layer(workload: str, spans: list[dict], ledgers: dict, extra: dict,
              overhead: float) -> tuple[dict, dict]:
    own = self_times(spans)
    by_layer = defaultdict(list)
    for s in spans:
        by_layer[s["layer"]].append(s)

    def wall(layer) -> float:
        return sum(own[s["id"]] for s in by_layer[layer])

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (sum(_dur(s) for s in by_layer["session"]), "s")

    an = _ledger(by_layer["analysis"], ledgers)
    m["analysis.wall_s"] = (wall("analysis"), "s")
    m["analysis.python_s"] = (an["python_s"], "s")
    m["analysis.arrow_to_python_bytes"] = (an["to_python_bytes"], "B")
    m["analysis.arrow_from_python_bytes"] = (an["from_python_bytes"], "B")
    for k in ("docs", "tokens", "keyphrase_spans"):
        m[f"analysis.{k}"] = (extra["analysis"][k], "count")

    # index.build: the set-up build (spans outside any timed operation)
    setup_build = [s for s in by_layer["index.build"] if s["op"] is None]
    bl = _ledger(setup_build, ledgers)
    m["index.build.wall_s"] = (sum(own[s["id"]] for s in setup_build), "s")
    m["index.build.python_s"] = (bl["python_s"], "s")
    m["index.build.shuffle_write_bytes"] = (bl["shuffle_write_bytes"], "B")
    m["index.build.shuffle_read_bytes"] = (bl["shuffle_read_bytes"], "B")
    m["index.build.spill_bytes"] = (bl["spill_bytes"], "B")
    m["index.build.task_skew"] = (task_skew(bl["stage_task_ms"]), "ratio")
    for k in ("jobs", "stages", "tasks"):
        m[f"index.build.{k}"] = (bl[k], "count")
    m["index.build.posting_rows"] = (extra["build"]["posting_rows"], "count")
    m["index.build.posting_bytes"] = (extra["build"]["posting_bytes"], "B")

    for k, unit in (("encode_postings_per_s", "1/s"), ("decode_postings_per_s", "1/s"),
                    ("bytes_per_posting", "B")):
        m[f"index.codec.{k}"] = (extra["codec"][k], unit)

    calls = _calls(spans, "query.wand")
    cl = _call_ledgers(spans, calls, ledgers)
    n = max(len(calls), 1)
    wl = merge_ledgers(cl) if cl else EMPTY
    m["query.wand.prep_ms"] = (_phase_ms(spans, "query.wand", "prep"), "ms")
    m["query.wand.exec_ms"] = (_phase_ms(spans, "query.wand", "exec"), "ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"query.wand.{k}_per_call"] = (wl[k] / n, "count")
    m["query.wand.scan_bytes"] = (wl["input_bytes"] / n, "B")
    m["query.wand.scan_rows"] = (wl["input_rows"] / n, "count")
    m["query.wand.python_s"] = (wl["python_s"] / n, "s")
    m["query.wand.arrow_to_python_bytes"] = (wl["to_python_bytes"] / n, "B")
    m["query.wand.shuffle_bytes"] = (wl["shuffle_write_bytes"] / n, "B")
    m["query.wand.task_skew"] = (task_skew(wl["stage_task_ms"]), "ratio")

    # snapshot resolution per read: the outermost resolve spans of each call
    ids = {s["id"]: s for s in spans}
    per_op = defaultdict(float)
    read_ops = {c["op"] for c in calls} | {c["op"] for c in _calls(spans, "query.phrase")}
    for s in by_layer["index.snapshots"]:
        if s["name"] != "resolve" or s["op"] not in read_ops:
            continue
        parent = ids.get(s["parent"])
        if parent is None or parent["name"] != "resolve":
            per_op[s["op"]] += _dur(s)
    m["index.snapshots.resolve_ms"] = (_median(list(per_op.values()), 1e3), "ms")
    m["index.manifest.wall_s"] = (wall("index.manifest"), "s")
    m["index.snapshots.log_len"] = (extra["snapshots"]["log_len"], "count")
    m["index.snapshots.live_docs"] = (extra["snapshots"]["live_docs"], "count")
    m["trace.overhead_frac"] = (overhead, "ratio")
    contract = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    # layers only one workload reaches: in the report only
    r = dict(m)
    kinds = sorted({c.get("kind") for c in calls})
    for kind in kinds:
        r[f"query.wand.{kind}.prep_ms"] = (_phase_ms(spans, "query.wand", "prep", kind), "ms")
        r[f"query.wand.{kind}.exec_ms"] = (_phase_ms(spans, "query.wand", "exec", kind), "ms")
    if workload == "serve":
        tw = extra["two_wave"]
        r["query.wand.two_wave.pairs_skipped_frac"] = (tw["pairs_skipped_frac"], "ratio")
        r["query.wand.two_wave.postings_scored_frac"] = (tw["postings_scored_frac"], "ratio")
        pl = merge_ledgers(_call_ledgers(spans, _calls(spans, "query.phrase"), ledgers))
        r["query.phrase.prep_ms"] = (_phase_ms(spans, "query.phrase", "prep"), "ms")
        r["query.phrase.exec_ms"] = (_phase_ms(spans, "query.phrase", "exec"), "ms")
        r["query.phrase.python_s"] = (pl["python_s"], "s")
    else:
        appends = [s for s in by_layer["streaming.ingest"] if s["phase"] == "window"]
        ing = _call_ledgers(spans, appends, ledgers)
        r["streaming.ingest.wall_s"] = (_median([_dur(s) for s in appends]), "s")
        r["streaming.ingest.jobs"] = (_median([x["jobs"] for x in ing]), "count")
        docs = extra.get("micro_batch", 0)
        r["streaming.ingest.docs_per_s"] = (
            docs / r["streaming.ingest.wall_s"][0] if appends else 0.0, "1/s")
        merges = [s for s in by_layer["index.merge"] if s["phase"] == "window"]
        rec = [s for s in merges if s["name"] == "reconcile_stream"]
        cmp_ = [s for s in merges if s["name"] == "merge_segments"]
        r["index.merge.reconcile_s"] = (_median([_dur(s) for s in rec]), "s")
        rw = extra.get("rewrites", [])[-len(rec):] if rec else []
        r["index.merge.bytes_rewritten"] = (_median([o for o, _ in rw]), "B")
        r["index.merge.write_amp"] = (
            _median([o / a for o, a in rw if a]), "ratio")
        ml = _ledger(cmp_, ledgers)
        r["index.merge.compact_s"] = (_median([_dur(s) for s in cmp_]), "s")
        r["index.merge.python_s"] = (ml["python_s"], "s")
        r["index.merge.shuffle_bytes"] = (ml["shuffle_write_bytes"], "B")
        r["index.merge.segments_after"] = (extra["segments_after"], "count")
        deletes = [s for s in by_layer["index.snapshots"]
                   if s["name"] == "commit_delete" and s["phase"] == "window"]
        r["index.snapshots.delete_s"] = (_median([_dur(s) for s in deletes]), "s")
    r["trace.untagged_jobs"] = (ledgers.get(UNTAGGED, EMPTY)["jobs"], "count")
    report = {k: {"value": v, "unit": u} for k, (v, u) in r.items()}
    return contract, report
