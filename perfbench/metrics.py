"""Metric registry and the arithmetic that turns one run into metrics.

``END_TO_END`` and ``PER_LAYER`` are the names ``BENCHMARK.json`` lists
(a test keeps them equal). Every run prints every metric of its mode, so
end-to-end metrics are defined for all workloads alike; the per-workload
figures the workloads were built around (``WORKLOAD_METRICS``) are printed
in the report of every run and emitted with the per-layer metrics of the
traced run. ``MOVES`` records, for each per-layer metric, which
end-to-end or workload metric it should move and on which workload.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name, unit, better, bound. The median latency of the mix is not among
# them: a cycle holds one operation of each kind, so the median is one
# operation's latency and jumps between kinds from run to run. On a 4-vCPU
# VM its IQR/median over seeds was 1.4-1.7x that of ops_per_s on the same
# runs, and above the bound. It is reported as op_p50_ms with the workload
# figures.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
]

# name, unit, better, workload it belongs to
WORKLOAD_METRICS = [
    ("ops_failed_ratio", "ratio", "lower", "all"),
    ("op_p50_ms", "ms", "lower", "all"),
    ("filter_p50_ms", "ms", "lower", "trail_query"),
    ("lookup_p50_ms", "ms", "lower", "trail_query"),
    ("analytics_p50_ms", "ms", "lower", "trail_query"),
    ("ingest_events_per_s", "events/s", "higher", "trail_query"),
    ("index_build_s", "s", "lower", "trail_query"),
    ("tdb_export_events_per_s", "events/s", "higher", "trail_query"),
    ("tdb_import_events_per_s", "events/s", "higher", "trail_query"),
    ("stored_bytes_per_input_byte", "ratio", "lower", "trail_query"),
    ("dedup_docs_per_s", "docs/s", "higher", "neardup_curation"),
    ("topk_p50_ms", "ms", "lower", "neardup_curation"),
    ("neardup_recall", "ratio", "higher", "neardup_curation"),
]

# name, unit, better, moves (metric @ workload)
LAYER_METRICS = [
    ("session.start_s", "s", "lower", "setup_s @ all"),
    ("make.s", "s", "lower", "ingest_events_per_s, setup_s @ trail_query"),
    ("make.rows_rejected", "count", "lower", "ingest_events_per_s @ trail_query"),
    ("dataset.finalize_s", "s", "lower", "ingest_events_per_s, setup_s @ trail_query"),
    ("dataset.finalize_bytes", "bytes", "lower",
     "stored_bytes_per_input_byte, setup_s @ trail_query"),
    ("dataset.finalize_files", "count", "lower", "ingest_events_per_s, setup_s @ trail_query"),
    ("dataset.index_s", "s", "lower", "index_build_s, setup_s @ trail_query"),
    ("dataset.index_bytes", "bytes", "lower",
     "stored_bytes_per_input_byte, setup_s @ trail_query"),
    ("dataset.open_s", "s", "lower", "op_p50_ms, ops_per_s @ trail_query"),
    ("dataset.lookup_files_read", "count", "lower", "lookup_p50_ms @ trail_query"),
    ("dataset.lookup_rows_scanned_per_row", "ratio", "lower", "lookup_p50_ms @ trail_query"),
    ("filters.plan_ms", "ms", "lower", "filter_p50_ms @ trail_query"),
    ("filters.rows_scanned_per_row", "ratio", "lower", "filter_p50_ms @ trail_query"),
    ("filters.index_routed_share", "ratio", "higher", "filter_p50_ms @ trail_query"),
    ("trails.session_s", "s", "lower", "analytics_p50_ms, ops_per_s @ trail_query"),
    ("analytics.funnel_s", "s", "lower", "analytics_p50_ms, ops_per_s @ trail_query"),
    ("dump.s", "s", "lower", "op_p50_ms, ops_per_s @ trail_query"),
    ("dump.bytes", "bytes", "lower", "op_p50_ms, ops_per_s @ trail_query"),
    ("tdbfile.write_s", "s", "lower", "tdb_export_events_per_s @ trail_query"),
    ("tdbfile.import_s", "s", "lower", "tdb_import_events_per_s @ trail_query"),
    ("tdbfile.bytes_per_event", "bytes", "lower",
     "tdb_export_events_per_s, tdb_import_events_per_s @ trail_query"),
    ("vectorized.minhash_sig_s", "s", "lower", "dedup_docs_per_s @ neardup_curation"),
    ("vectorized.topk_s", "s", "lower", "topk_p50_ms @ neardup_curation"),
    ("dedup.exact_collapse_s", "s", "lower", "dedup_docs_per_s @ neardup_curation"),
    ("dedup.lsh_candidates", "count", "lower", "dedup_docs_per_s @ neardup_curation"),
    ("dedup.candidate_precision", "ratio", "higher", "dedup_docs_per_s @ neardup_curation"),
    ("dedup.components_s", "s", "lower", "dedup_docs_per_s @ neardup_curation"),
    ("similarity.candidates_per_query", "count", "lower", "topk_p50_ms @ neardup_curation"),
    ("spark.jobs_per_op", "count", "lower", "op_p50_ms, ops_per_s @ all"),
    ("spark.tasks_per_op", "count", "lower", "op_p50_ms, ops_per_s @ all"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "op_p50_ms, ops_per_s @ all"),
    ("spark.executor_run_s", "s", "lower", "op_p50_ms, ops_per_s @ all"),
    ("trace.overhead_share", "ratio", "lower", "none: cost of tracing itself"),
]

# layers whose self time per operation the traced run reports
LAYERS = ["dataset", "operators.filters", "operators.trails", "operators.analytics",
          "sources.make", "sources.dump", "sources.tdbfile", "functions.vectorized",
          "operators.dedup", "operators.similarity", "spark", "op"]

PER_LAYER = (
    [(n, u, b) for n, u, b, _ in LAYER_METRICS]
    + [(f"selftime.{layer}_ms", "ms/op", "lower") for layer in LAYERS]
    + [(n, u, b) for n, u, b, _ in WORKLOAD_METRICS]
)
MOVES = {n: m for n, _, _, m in LAYER_METRICS}
MOVES.update({f"selftime.{layer}_ms": "the operations that call it" for layer in LAYERS})
MOVES.update({n: f"itself: {w} figure, from the untraced operations"
              for n, _, _, w in WORKLOAD_METRICS})
UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def end_to_end(records: list[dict], setup_s: list[float]) -> dict:
    """Closed loop, one client: the median set-up, and operations per
    second of operation time over the whole mix."""
    lat = [r["s"] for r in records if r["ok"]]
    return {
        "setup_s": median(setup_s),
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
    }


def workload_metrics(records: list[dict], samples: dict, attempted: int, failed: int,
                     sizes: dict) -> dict:
    """The per-workload figures; 0 where the workload does not run them."""
    by = defaultdict(list)
    for r in records:
        if r["ok"]:
            by[r["kind"]].append(r)

    def med(*kinds):
        return median([r["s"] for k in kinds for r in by.get(k, [])])

    def rate(kind):  # items per second over all operations of a kind
        t = sum(r["s"] for r in by.get(kind, []))
        return sum(r["items"] for r in by.get(kind, [])) / t if t else 0.0

    ingest = median(samples.get("ingest_s", []))
    return {
        "ops_failed_ratio": failed / max(attempted, 1),
        "op_p50_ms": 1e3 * median([r["s"] for r in records if r["ok"]]),
        "filter_p50_ms": 1e3 * med("filter_indexed", "filter_time", "filter_scan"),
        "lookup_p50_ms": 1e3 * med("lookup"),
        "analytics_p50_ms": 1e3 * med("session_stats", "funnel"),
        "ingest_events_per_s": sizes.get("events", 0) / ingest if ingest else 0.0,
        "index_build_s": median(samples.get("index_s", [])),
        "tdb_export_events_per_s": rate("tdb_export"),
        "tdb_import_events_per_s": rate("tdb_import"),
        "stored_bytes_per_input_byte": median(samples.get("stored_bytes_per_input_byte", [])),
        "dedup_docs_per_s": rate("dedup_fuzzy"),
        "topk_p50_ms": 1e3 * med("brute_topk", "lsh_topk"),
        "neardup_recall": median(samples.get("neardup_recall", [])),
    }


def layer_metrics(tracer, counters: dict, traced: list[dict], untraced: list[dict],
                  probes: list[dict], samples: dict, session_s: list[float],
                  warm_kinds: set) -> dict:
    """Per-layer metrics of the traced operations. ``counters`` holds the
    Spark counters of each traced operation; ``traced`` and ``untraced``
    are the records of the interleaved halves of one run's mix, ``probes``
    those of the operations run after it for per-layer figures only."""
    def spans(layer, name=None, ops=True):
        return [s for s in tracer.spans if s["layer"] == layer
                and (name is None or s["name"] == name)
                and (s["op"] is not None) == ops]

    def dur(ss):
        return [s["t1"] - s["t0"] for s in ss]

    def op_med(kind):
        return median([r["s"] for r in traced + probes if r["kind"] == kind and r["ok"]])

    def smp(key):
        return median(samples.get(key, []))

    per_op = defaultdict(float)
    for s in spans("operators.filters") + spans("dataset", "with_filter"):
        per_op[s["op"]] += s["t1"] - s["t0"]
    out = {
        "session.start_s": median(session_s),
        "make.s": median(dur(spans("sources.make", ops=False))),
        "make.rows_rejected": smp("make.rows_rejected"),
        "dataset.finalize_s": median(dur(spans("dataset", "finalize", ops=False))),
        "dataset.finalize_bytes": smp("dataset.finalize_bytes"),
        "dataset.finalize_files": smp("dataset.finalize_files"),
        "dataset.index_s": median(dur(spans("dataset", "build_index", ops=False))),
        "dataset.index_bytes": smp("dataset.index_bytes"),
        "dataset.open_s": median(dur(spans("dataset", "open"))),
        "dataset.lookup_files_read": smp("dataset.lookup_files_read"),
        "dataset.lookup_rows_scanned_per_row": smp("dataset.lookup_rows_scanned_per_row"),
        "filters.plan_ms": 1e3 * median(list(per_op.values())),
        "filters.rows_scanned_per_row": smp("filters.rows_scanned_per_row"),
        "filters.index_routed_share": float(np.mean(samples.get("filters.index_routed", [0]))),
        "trails.session_s": op_med("session_stats"),
        "analytics.funnel_s": op_med("funnel"),
        "dump.s": op_med("dump"),
        "dump.bytes": smp("dump.bytes"),
        "tdbfile.write_s": median(dur(spans("sources.tdbfile", "write_tdb"))),
        # read_tdb is lazy: its decode runs in the finalize that follows
        "tdbfile.import_s": op_med("tdb_import"),
        "tdbfile.bytes_per_event": smp("tdbfile.bytes_per_event"),
        "vectorized.minhash_sig_s": op_med("minhash_sig"),
        "vectorized.topk_s": op_med("brute_topk"),
        "dedup.exact_collapse_s": op_med("dedup_exact"),
        "dedup.lsh_candidates": smp("dedup.lsh_candidates"),
        "dedup.candidate_precision": smp("dedup.candidate_precision"),
        "dedup.components_s": op_med("components"),
        "similarity.candidates_per_query": smp("similarity.candidates_per_query"),
    }
    n_ops = max(len(traced), 1)
    mix = [counters[r["id"]] for r in traced if r["id"] in counters]
    for key, name in (("jobs", "spark.jobs_per_op"), ("tasks", "spark.tasks_per_op"),
                      ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
                      ("executor_run_s", "spark.executor_run_s")):
        out[name] = sum(c[key] for c in mix) / n_ops
    self_t = tracer.self_times({r["id"] for r in traced})
    for layer in LAYERS:
        out[f"selftime.{layer}_ms"] = 1e3 * self_t.get(layer, 0.0) / n_ops
    # tracing overhead: per operation kind, traced over untraced median
    # latency; the median of those ratios, minus one. Half of the kinds
    # run traced first, so which half ran closer to the warm-up cancels
    # out in the median.
    ratios = []
    for kind in {r["kind"] for r in untraced} & warm_kinds:
        on = [r["s"] for r in traced if r["ok"] and r["kind"] == kind]
        off = [r["s"] for r in untraced if r["ok"] and r["kind"] == kind]
        if on and off:
            ratios.append(median(on) / median(off))
    out["trace.overhead_share"] = median(ratios) - 1.0 if ratios else 0.0
    return out
