"""Turn a run's samples and spans into end-to-end and per-layer metrics.

End-to-end metrics (printed by an untraced run) are the three every
workload reports and that repeat from run to run on a shared 4-core
host: set-up time, process-tree CPU per operation and answer quality.
Wall-clock latency and throughput of the timed operations swing with
host load by far more than a regression bound, so they, with the
workload-specific figures (query tail, batch rate, upsert and delete
latency, ingest rate, index build time, stored bytes), go into the run
record and the human-readable lines, not into the result line.

Per-layer metrics (printed by a traced run) are named
``<layer>.<metric>`` after the engine module a span wraps. Each is a
per-call median over the layer's timed-phase spans; a layer that the
timed phase never calls is summarized over its set-up calls instead,
and a layer the workload never calls reads 0.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import ROLES, SPARK_KEYS, read_event_log_dir, self_times
from stats import median, tail

E2E_UNITS = {"setup_s": "s", "tree_cpu_s": "s", "recall": "fraction"}

# the main operation kind of each workload (a prefix: serve's queries
# are labelled by filter kind): the one tree_cpu_s, op_p50_s and
# throughput_per_s describe
MAIN_KIND = {
    "ingest_wide": "ingest",
    "serve_filtered": "query",
    "mutate_mixed": "query",
    "dedup_minhash": "dedup",
}

# layer -> its own metrics; every layer but the session also gets CPU
# by process role and the Spark event-log counters of its jobs
LAYERS = {
    "session.get_spark": ("wall_s",),
    # lazy: its scan runs inside hydrate's first job (see workloads.ingest)
    "sources.wide.read": ("rows_dropped",),
    "operators.hydrate.hydrate": ("self_s", "rows_in", "rows_written", "rows_rejected"),
    "plans.collection": ("bytes_stored", "files", "bytes_written_per_user_byte"),
    "operators.ann.ivf_build": ("self_s", "cell_rows_max_over_mean"),
    "operators.ann.ivf_write": ("self_s",),
    "plans.chroma_api.query_ivf": (
        "self_s", "first_call_s", "rounds_per_query", "probe_fraction", "recall"),
    "plans.chroma_api.query_batch_ivf": ("self_s", "rounds", "recall"),
    "plans.chroma_api.upsert": ("self_s", "bytes_written"),
    "plans.chroma_api.delete_indexed": ("self_s", "bytes_written"),
    "operators.dedup.minhash_lsh_pairs": ("self_s", "pairs_out", "planted_found"),
}
NO_ROLE_SPLIT = ("session.get_spark", "sources.wide.read", "plans.collection")
COUNTER_ALIASES = {"rounds_per_query": "rounds"}


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in print order."""
    out = []
    for layer, own in LAYERS.items():
        for m in own:
            out.append((f"{layer}.{m}", _unit(m)))
        if layer in NO_ROLE_SPLIT:
            continue
        for r in ROLES:
            out.append((f"{layer}.proc.{r}.cpu_s", "s"))
        for k in SPARK_KEYS:
            out.append((f"{layer}.spark.{k}", _unit(k)))
    return out


def _unit(m: str) -> str:
    if m.endswith("_s"):
        return "s"
    if m.endswith("_bytes") or m in ("bytes_stored", "bytes_written"):
        return "bytes"
    if m in ("probe_fraction", "cell_rows_max_over_mean", "bytes_written_per_user_byte"):
        return "ratio"
    if m == "recall":
        return "fraction"
    return "count"


def end_to_end(workload: str, wl, run: dict, setup_s: float) -> tuple[dict, dict]:
    """(metrics for the result line, workload-specific extras)."""
    ok = [s for s in run["samples"] if s["ok"]]
    main = [s for s in ok if s["kind"].startswith(MAIN_KIND[workload])]
    out = {"setup_s": setup_s}
    extra: dict = {
        "error_rate": run["failed"] / max(1, run["attempted"]),
        "ops_by_kind": {},
    }
    if main:
        # median within each kind, averaged over kinds: the CPU of one
        # query of the workload's fixed mix
        by_kind: dict[str, list] = {}
        for s in main:
            by_kind.setdefault(s["kind"], []).append(sum(s["cpu"].values()))
        out["tree_cpu_s"] = statistics.mean(median(v) for v in by_kind.values())
        extra["op_p50_s"] = median([s["latency_s"] for s in main])
        extra["throughput_per_s"] = sum(s["items"] for s in main) / sum(
            s["latency_s"] for s in main)
    if hasattr(wl, "quality") and ok:
        out["recall"] = wl.quality()
    kinds = sorted({s["kind"] for s in ok})
    for k in kinds:
        lat = [s["latency_s"] for s in ok if s["kind"] == k]
        extra["ops_by_kind"][k] = len(lat)
        extra[f"{k}_p50_s"] = median(lat)
        t = tail(lat)
        if t is not None:
            extra[f"{k}_tail_s"] = t[1]
            extra[f"{k}_tail_percentile"] = t[0]
    if hasattr(wl, "extras"):
        extra.update(wl.extras())
    if workload == "ingest_wide" and main:
        extra["ingest_docs_per_s"] = extra["throughput_per_s"]
        extra["index_build_s"] = median([s["index_build_s"] for s in main])
        extra["stored_bytes_per_input_byte"] = median(
            [s["stored_bytes_per_input_byte"] for s in main])
    if workload == "dedup_minhash" and main:
        extra["dedup_docs_per_s"] = extra["throughput_per_s"]
    cpu = {r: sum(s["cpu"][r] for s in run["samples"]) for r in (*ROLES, "other")}
    extra["timed_cpu_s_by_role"] = cpu
    return out, extra


def per_layer(tracer, session_s: float, spark_by_group: dict) -> dict:
    spans = [s for s in tracer.spans if s.end is not None]
    selfs = self_times(spans)
    by_layer: dict[str, list] = {}
    for s in spans:
        by_layer.setdefault(s.name, []).append(s)
    out = {name: 0.0 for name, _u in per_layer_names()}
    out["session.get_spark.wall_s"] = session_s
    for layer, own in LAYERS.items():
        every = by_layer.get(layer, [])
        calls = [s for s in every if s.phase == "timed"] or every
        if not calls:
            continue
        for m in own:
            key = f"{layer}.{m}"
            if m == "self_s":
                out[key] = median([selfs[s.span_id] for s in calls])
            elif m == "first_call_s":
                out[key] = every[0].end - every[0].start
            else:
                c = COUNTER_ALIASES.get(m, m)
                vals = [s.counters[c] for s in calls if c in s.counters]
                if vals:
                    out[key] = float(statistics.mean(vals)) if m in (
                        "rounds_per_query", "probe_fraction", "rounds", "recall") else median(vals)
        if layer in NO_ROLE_SPLIT:
            continue
        for r in ROLES:
            out[f"{layer}.proc.{r}.cpu_s"] = median([s.cpu.get(r, 0.0) for s in calls])
        for k in SPARK_KEYS:
            vals = [spark_by_group.get(str(s.span_id), {}).get(k, 0.0) for s in calls]
            out[f"{layer}.spark.{k}"] = median(vals)
    return out


def build_record(args, wl, run, *, session_s, setup_wall, build_s, tracer,
                 log_dir) -> dict:
    e2e, extra = end_to_end(args.workload, wl, run, setup_wall)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "setup": {"wall_s": setup_wall, "session_s": session_s, "build_s": build_s},
        "e2e": e2e,
        "extra": extra,
        "samples": run["samples"],
    }
    correct = run["failed"] == 0
    if args.trace:
        groups = read_event_log_dir(log_dir)
        layers = per_layer(tracer, session_s, groups)
        record["spans"] = [
            {"id": s.span_id, "name": s.name, "op": s.op_id, "parent": s.parent,
             "phase": s.phase, "start": s.start, "end": s.end,
             "counters": s.counters, "cpu": s.cpu,
             "spark": groups.get(str(s.span_id), {})}
            for s in tracer.spans
        ]
        units = dict(per_layer_names())
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    record["result"] = {
        "correct": correct,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": metrics,
    }
    return record


def attach_overhead(record: dict, results_dir: str) -> None:
    """Tracing overhead: traced minus untraced, per end-to-end metric,
    against the untraced record of the same workload and seed."""
    if not record["trace"]:
        return
    path = os.path.join(
        results_dir, f"{record['workload']}-seed{record['seed']}-trace0.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        base = json.load(fh)["e2e"]
    record["tracing_overhead"] = {
        k: record["e2e"][k] - base[k] for k in record["e2e"] if k in base}


def describe(record: dict) -> list[str]:
    lines = [f"workload {record['workload']} seed {record['seed']} "
             f"trace {record['trace']}: {record['result']['attempted']} ops, "
             f"{record['result']['failed']} failed "
             f"(error_rate {record['extra']['error_rate']:.4f})"]
    for k, v in record["e2e"].items():
        lines.append(f"  {k} = {v:.6g} {E2E_UNITS[k]}")
    for k, v in record["extra"].items():
        if k not in ("error_rate",):
            lines.append(f"  {k} = {v}")
    for k, v in record.get("tracing_overhead", {}).items():
        lines.append(f"  tracing overhead {k} = {v:+.6g} {E2E_UNITS[k]}")
    return lines
