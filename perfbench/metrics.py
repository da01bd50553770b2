"""Derives the benchmark's metrics from the raw record one JVM run writes.

End-to-end metrics come from the untraced turns; per-layer metrics come
from the spans of the traced turns and of the traced run's direct layer
calls, the task metrics the Spark listener attributed to each span's job
group, and the counts the run recorded; this module is the one place they
are derived.
"""

import math
import statistics
from collections import defaultdict

# per-layer metric <- median duration of a span, in the traced turns or
# in the traced run's direct layer calls
SPAN_SECONDS = {
    "MlFunctions.train_s": "MlFunctions.train",
    "MlFunctions.publish_s": "MlFunctions.publish",
    "MlFunctions.pred_s": "MlFunctions.pred",
    "sources.scan_s": "sources.scan",
    "ml.fit_s": "ml.fit",
    "graftext.mlp_predict_s": "graftext.mlp_predict",
    "StreamingVectorStore.compact_s": "StreamingVectorStore.compact",
    "Similarity.dedup_search_s": "Similarity.dedup_search",
    "VectorStore.merge_s": "VectorStore.merge",
    "Similarity.query_s": "Similarity.query",
}
# per-layer metric <- median of a span's group total
SPAN_TOTALS = {
    "MlFunctions.train_shuffle_bytes": ("MlFunctions.train", "shuffle_write_bytes"),
}
STAGES = ("cleanedCrawlPrefix", "lineDedup", "cleanCorpus", "capPerStratum",
          "chunkTokens", "shuffleAndPack")
# per-layer stage metric suffix <- group total of the stage's span
STAGE_TOTALS = {"task_s": "task_s", "shuffle_bytes": "shuffle_write_bytes",
                "spill_bytes": "spill_bytes", "exchanges": "exchanges"}
SPARK_TOTALS = {"spark.jobs": "jobs", "spark.tasks": "tasks", "spark.task_s": "task_s",
                "spark.shuffle_write_bytes": "shuffle_write_bytes",
                "spark.spill_bytes": "spill_bytes"}
PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples):
    """The highest of PERCENTILES with at least ten samples beyond it, by
    nearest rank: returns (percentile, value, samples beyond), or None
    when fewer than 20 samples exist."""
    s = sorted(samples)
    n = len(s)
    for p in PERCENTILES:
        rank = max(1, math.ceil(n * p / 100))
        if n - rank >= 10:
            return p, s[rank - 1], n - rank
    return None


def self_times(spans):
    """Span id -> seconds of the span not covered by its child spans
    (children clipped to the parent's interval; overlaps counted once)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, reach = 0, start
        for a, b in sorted((max(c["start_ns"], start), min(c["end_ns"], end))
                           for c in children[s["id"]]):
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (end - start - covered) / 1e9
    return out


def call_seconds(turn):
    return sum(s for _, s in turn["calls"])


def call_time(turn, name):
    return sum(s for n, s in turn["calls"] if n == name)


def rate(turns, count, call):
    """Median over turns of a per-turn count over the wall time of one call."""
    return median([count(t["values"]) / call_time(t, call) for t in turns])


def workload_metrics(raw):
    """Every end-to-end figure of the run as (name, value, unit) rows: the
    contract metrics first, then the workload's own named ones."""
    turns = [t for t in raw["turns"] if not t["traced"]]
    wl = raw["workload"]
    rows = [
        ("setup_s", median(raw["setup_s"]), "s"),
        ("turn_s_p50", median([call_seconds(t) for t in turns]), "s"),
        ("ops_failed_frac", raw["failed"] / max(1, raw["attempted"]), "fraction"),
        ("turns", len(turns), "count"),
        ("session_s", raw["session_s"], "s"),
        ("warmup_s", raw["warmup_s"], "s"),
        ("run_s", raw["run_s"], "s"),
        ("control.calib_s.start", raw["calib"]["start"]["calib_s"], "s"),
        ("control.calib_s.end", raw["calib"]["end"]["calib_s"], "s"),
    ]
    if wl == "ml_sql":
        rows += [
            ("ml.train_rows_per_s",
             rate(turns, lambda v: v["train_rows"] * v["epochs"], "MlFunctions.train"), "rows/s"),
            ("ml.pred_rows_per_s", rate(turns, lambda v: v["pred_rows"], "MlFunctions.pred"),
             "rows/s"),
        ]
    elif wl == "web_ingest":
        rows.append(("ingest.pages_per_s",
                     rate(turns, lambda v: v["pages"], "CorpusPipeline.webIngest"), "pages/s"))
    else:
        queries = [s for t in turns for n, s in t["calls"] if n == "Similarity.query"]
        rows += [
            ("store.fold_vectors_per_s",
             rate(turns, lambda v: v["increment_vectors"], "StreamingVectorStore.compact"),
             "vectors/s"),
            ("store.query_s_p50", median(queries), "s"),
            ("store.query_samples", len(queries), "count"),
        ]
        tail = tail_percentile(queries)
        if tail:
            p, value, beyond = tail
            rows += [(f"store.query_s_p{p:g}", value, "s"),
                     (f"store.query_s_p{p:g}.samples_beyond", beyond, "count")]
        rows.append(("store.bytes_per_vector",
                     median([t["values"]["live_bytes"] / t["values"]["live_vectors"] for t in turns]),
                     "B/vector"))
    return rows


def per_layer(raw, names):
    """Every per-layer metric in `names`; a layer the workload never
    calls reads 0."""
    spans = raw["spans"]
    groups = raw["groups"]
    empty = defaultdict(float)

    def totals(span):
        return groups.get(f"perfbench-{span['id']}", empty)

    turn_ids = {s["id"] for s in spans if s["name"] == "turn"}
    calls = [s for s in spans if s["parent"] in turn_ids]
    named = defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)

    def secs(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def span_s(name):
        return median([secs(s) for s in named[name]])

    def turn_median(f):
        return median([f(t["values"]) for t in raw["turns"] if "fold_written_bytes" in t["values"]])

    facts = raw["facts"]
    out = {n: 0.0 for n in names}
    out.update(facts)
    for metric, span in SPAN_SECONDS.items():
        out[metric] = span_s(span)
    for metric, (span, key) in SPAN_TOTALS.items():
        out[metric] = median([totals(s)[key] for s in named[span]])
    if "ml.fit_flops" in facts:
        out["ml.fit_gflops"] = facts["ml.fit_flops"] / span_s("ml.fit") / 1e9
        out["ml.predict_rows_per_s_1t"] = raw["inputs"]["rows"] / span_s("ml.predict_1t")
    if "stage.cleanCorpus.rows_in" in facts:
        out["Dedup.keep_ratio"] = (facts["stage.cleanCorpus.rows_out"]
                                   / facts["stage.cleanCorpus.rows_in"])
    # the fold's bytes written beyond the increment's own encoded part files
    out["VectorStore.copy_bytes"] = turn_median(
        lambda v: v["fold_written_bytes"] - v["fold_encoded_bytes"])
    out["store.write_amp"] = turn_median(lambda v: v["fold_written_bytes"] / v["increment_bytes"])
    for stage in STAGES:
        out[f"stage.{stage}.s"] = span_s(f"stage.{stage}")
        for suffix, key in STAGE_TOTALS.items():
            out[f"stage.{stage}.{suffix}"] = sum(totals(s)[key] for s in named[f"stage.{stage}"])
    traced = max(1, len(turn_ids))
    for metric, key in SPARK_TOTALS.items():
        out[metric] = sum(totals(s)[key] for s in calls) / traced
    n_turns = max(1, len(raw["turns"]))
    out["jvm.gc_s"] = raw["jvm"]["gc_s"] / n_turns
    out["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
    out["control.calib_s"] = (raw["calib"]["start"]["calib_s"] + raw["calib"]["end"]["calib_s"]) / 2
    # the first turn, possibly JIT-cold, is untraced and left out
    on = median([call_seconds(t) for t in raw["turns"] if t["traced"]])
    off = median([call_seconds(t) for t in raw["turns"] if not t["traced"] and t["index"] > 0])
    out["trace.turn_s_traced"] = on
    out["trace.turn_s_untraced"] = off
    out["trace.overhead_s"] = on - off
    unknown = set(out) - set(names)
    if unknown:
        raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out
