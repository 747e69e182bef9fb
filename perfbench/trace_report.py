#!/usr/bin/env python3
"""Per-layer numbers from a run's records and its span file.

    python3 perfbench/trace_report.py .bench_build/results/<run>.json

prints each layer's per-op median self time and count (traced runs), and
the run's steadiness figures. run.py imports it for the `--trace 1` metrics.

A layer's self time is its span minus the time its child spans cover; a
span name seen more than once in an op is summed over the op. Per-layer
values are medians over the traced ops. Spark and JVM figures come from the
untraced ops of the same run, which execute exactly the untraced calls.
"""
import json
import statistics
import sys

from gen import MART_QUERIES

# Layer spans (self time per op, seconds) and counts, as the harness names
# them; every traced run reports all of them, with 0 for a layer the
# workload does not call.
SPAN_METRICS = [
    "sources.read_batch", "prep.prepare", "etl.dim_key_join",
    "streaming.upsert_batch", "streaming.scd2_cdc_batch", "marts.refresh",
    "ops.log_append", "queries.plan", "queries.exec", "core.spread",
    "ext.quality_filter", "ext.near_dup_pairs", "ext.cluster_pairs",
    "ext.contamination", "ext.split_chunk_pack"]
COUNT_METRICS = {
    "etl.orphan_rows": "count", "marts.refresh_rebuilt_share": "ratio",
    "storage.data_files": "count", "ext.cluster_pairs_edges": "count"}
SPARK_METRICS = {"jobs": "count", "tasks": "count", "input_bytes": "bytes",
                 "shuffle_bytes": "bytes", "spill_bytes": "bytes"}

# Drift guard: the first-half / second-half median op latency of the timed
# window must lie within this band for the run to count as steady.
DRIFT_BAND = (0.93, 1.07)


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    units = {f"{n}_s": "s" for n in SPAN_METRICS}
    units.update(COUNT_METRICS)
    units["storage.bytes_written_per_input_byte"] = "ratio"
    units.update({f"queries.{q}_s": "s" for q in MART_QUERIES})
    units.update({f"spark.{k}_per_op": u for k, u in SPARK_METRICS.items()})
    units.update({"jvm.op_cpu_s": "s", "jvm.gc_s": "s", "jvm.jit_s": "s",
                  "jvm.cpu_per_wall": "ratio",
                  "trace.overhead_s": "s", "window.drift_ratio": "ratio"})
    return units


def load_spans(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def self_times(records):
    """{op: {span name: self seconds}} from span records."""
    spans = [r for r in records if r["kind"] == "span"]
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        layer = out.setdefault(s["op"], {})
        layer[s["name"]] = layer.get(s["name"], 0.0) + own / 1e9
    return out


def counts(records):
    """{op: {count name: value}} from count records (summed per op)."""
    out = {}
    for r in records:
        if r["kind"] == "count":
            c = out.setdefault(r["op"], {})
            c[r["name"]] = c.get(r["name"], 0.0) + r["value"]
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_latency(xs):
    """The highest percentile with at least ten samples beyond it. With 20
    or fewer samples that percentile would not lie above the median, so the
    slowest op stands in for it."""
    s = sorted(xs)
    return s[len(s) - 11] if len(s) > 20 else s[-1]


def end_to_end(run):
    """The `--trace 0` metrics: {name: {"value": v, "unit": u}}. Throughput
    is ops per second of op time (the harness's checks between ops are not
    counted), i.e. the inverse of the mean op latency."""
    lat = [op["latency_s"] for op in run["ops"]]
    return {
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {"value": tail_latency(lat), "unit": "s"},
        "ops_per_s": {"value": len(lat) / sum(lat), "unit": "1/s"},
        "setup_s": {"value": setup_s(run), "unit": "s"},
    }


def setup_s(run):
    """Session start + fixture build + the fixed count of warm-up ops."""
    return run["session_s"] + run["fixture_s"] + run["warmup_s"]


def steadiness(run):
    lat = [op["latency_s"] for op in run["ops"] if not op["traced"]]
    if len(lat) < 2:  # a short traced window: judge it by all its ops
        lat = [op["latency_s"] for op in run["ops"]]
    half = len(lat) // 2
    ratio = (statistics.median(lat[:half]) / statistics.median(lat[half:])
             if half else 1.0)
    return {"drift_ratio": ratio,
            "steady": DRIFT_BAND[0] <= ratio <= DRIFT_BAND[1]}


def per_layer(run, records):
    """The `--trace 1` metrics: {name: {"value": v, "unit": u}}."""
    units = per_layer_units()
    ops = run["ops"]
    traced = [op["i"] for op in ops if op["traced"]]
    plain = [op for op in ops if not op["traced"]]
    st, ct = self_times(records), counts(records)
    v = {}
    for n in SPAN_METRICS:
        v[f"{n}_s"] = _median([st.get(i, {}).get(n, 0.0) for i in traced])
    for n in COUNT_METRICS:
        v[n] = _median([ct.get(i, {}).get(n, 0.0) for i in traced])
    written = [op.get("output_bytes", 0) / ct[op["i"]]["storage.input_bytes"]
               for op in ops if ct.get(op["i"], {}).get("storage.input_bytes")]
    v["storage.bytes_written_per_input_byte"] = _median(written)
    for q in MART_QUERIES:  # tracing a query adds two spans, nothing else
        v[f"queries.{q}_s"] = _median(
            [op["latency_s"] for op in ops if op["name"] == q])
    for k in SPARK_METRICS:
        v[f"spark.{k}_per_op"] = _median([op.get(k, 0) for op in plain])
    v["jvm.op_cpu_s"] = _median([op["cpu_s"] for op in plain])
    v["jvm.gc_s"] = run["window_gc_s"] / max(len(ops), 1)
    v["jvm.jit_s"] = run["window_jit_s"]
    v["jvm.cpu_per_wall"] = run["window_cpu_s"] / max(run["window_s"], 1e-9)
    v["trace.overhead_s"] = (
        _median([op["latency_s"] for op in ops if op["traced"]])
        - _median([op["latency_s"] for op in plain]))
    v["window.drift_ratio"] = steadiness(run)["drift_ratio"]
    return {n: {"value": v[n], "unit": units[n]} for n in units}


def main():
    path = sys.argv[1]
    with open(path) as f:
        run = json.load(f)
    s = steadiness(run)
    print(f"{run['workload']}: {len(run['ops'])} ops in {run['window_s']:.1f}s, "
          f"setup {setup_s(run):.2f}s, drift {s['drift_ratio']:.3f} "
          f"({'steady' if s['steady'] else 'STILL DRIFTING'}), "
          f"JIT {run['window_jit_s']:.2f}s in window")
    if run["traced"]:
        m = per_layer(run, load_spans(path + ".spans.jsonl"))
        for n, x in m.items():
            print(f"  {n:42s} {x['value']:14.6g} {x['unit']}")


if __name__ == "__main__":
    main()
