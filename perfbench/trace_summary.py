#!/usr/bin/env python3
"""Summarise a perfbench span dump: self time per layer and per-layer metrics.

    python3 perfbench/trace_summary.py .bench_build/perfbench/traces/search-hot-seed1.jsonl

A dump is what a `--trace 1` run writes: one JSON object per line, a "run"
header (run facts, and the traced run's own end-to-end figures as "e2e.*"),
then every "span" (a timed call into one layer: name, start, end, parent,
request id) and every Spark "job" with the id of the span that submitted it.
Every per-layer metric the benchmark reports is computed here from the dump
alone, so a per-layer claim can be checked from the artifact.
"""
import json
import statistics
import sys
from collections import defaultdict

# the batch-registry entries by layer (perfbench BatchRegistry)
ENTRIES = {
    "relational": ["q3_top_orders", "q21_sole_returner", "q30_quantile_cont", "q36_cms_heavy"],
    "pipeline": ["dd_minhash_lsh", "sim_pairs_brute", "ta_lm_score", "cu_bloom"],
}
# name -> unit of every per-layer metric, in the order BENCHMARK.json lists
# them. Every workload reports all of them; a layer the workload does not
# run reads 0.
METRICS = {
    "ingest.build_s": "s", "ingest.build_jobs": "count", "ingest.build_task_s": "s",
    "ingest.load_s": "s", "ingest.index_bytes": "bytes", "ingest.stored_bytes_ratio": "ratio",
    "query.parse_us": "us", "query.plan_ms": "ms", "query.plan_jobs": "count",
    "query.zero_job_plan_ratio": "ratio", "query.exec_ms": "ms", "query.exec_jobs": "count",
    "query.exec_stages": "count", "query.exec_task_ms": "ms", "query.exec_driver_gap_ms": "ms",
    "query.exec_queue_ms": "ms", "query.records_read_per_hit": "ratio",
    "api.server_ms": "ms", "api.shape_ms": "ms", "api.transport_ms": "ms",
    "api.response_bytes": "bytes",
    "streaming.batch_s": "s", "streaming.batch_jobs": "count", "streaming.compact_s": "s",
    "streaming.resolve_ms": "ms", "streaming.read_set_deltas": "count",
    "streaming.write_amp": "ratio", "streaming.ingest_docs_per_s": "1/s",
}
for _layer, _entries in ENTRIES.items():
    METRICS.update({f"{_layer}.wall_s": "s", f"{_layer}.job_s": "s", f"{_layer}.driver_gap_s": "s",
                    f"{_layer}.jobs": "count", f"{_layer}.shuffle_mb": "MB"})
    if _layer == "pipeline":
        METRICS["pipeline.spill_mb"] = "MB"
    METRICS.update({f"{_layer}.{e}.wall_s": "s" for e in _entries})
METRICS["trace.latency_p50_ms"] = "ms"


def load(path):
    header, spans, jobs = {}, [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            kind = rec.pop("type")
            if kind == "run":
                header = rec
            elif kind == "span":
                spans.append(rec)
            elif kind == "job":
                jobs.append(rec)
    return header, spans, jobs


def dur(s):
    return s["end_ms"] - s["start_ms"]


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


class Dump:
    def __init__(self, header, spans, jobs):
        self.header = header
        self.spans = spans
        self.jobs = defaultdict(list)
        for j in jobs:
            self.jobs[j["span"]].append(j)
        self.children = defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s)
        measure = [s for s in spans if s["name"] == "run.measure"]
        self.window = (measure[0]["start_ms"], measure[0]["end_ms"]) if measure else None

    def named(self, name, measured=True):
        """Spans called `name`; with `measured`, only those of the measured
        phase (a client request id >= 0, or inside the run.measure span)."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            if measured and s["rid"] < 0 and not (
                    self.window and self.window[0] <= s["start_ms"] <= self.window[1]):
                continue
            out.append(s)
        return out

    def job_sum(self, s, key):
        return sum(j[key] for j in self.jobs[s["id"]])

    def self_ms(self, s):
        kids = [(c["start_ms"], c["end_ms"]) for c in self.children[s["id"]]]
        return dur(s) - union_ms(kids, s["start_ms"], s["end_ms"])

    def driver_gap_ms(self, s):
        spans = [(j["start_ms"], j["end_ms"]) for j in self.jobs[s["id"]]]
        return dur(s) - union_ms(spans, s["start_ms"], s["end_ms"])

    def queue_ms(self, s):
        return sum(max(0.0, j["first_launch_ms"] - j["start_ms"]) for j in self.jobs[s["id"]])

    def job_ms(self, s):
        return sum(j["end_ms"] - j["start_ms"] for j in self.jobs[s["id"]])


def per_layer(header, spans, jobs):
    """Every per-layer metric of the dump's workload as {name: {"value", "unit"}}."""
    d = Dump(header, spans, jobs)
    v = {}
    build = d.named("ingest.build", measured=False)
    v["ingest.build_s"] = _median([dur(s) / 1e3 for s in build])
    v["ingest.build_jobs"] = _median([len(d.jobs[s["id"]]) for s in build])
    v["ingest.build_task_s"] = _median([d.job_sum(s, "task_ms") / 1e3 for s in build])
    v["ingest.load_s"] = _median([dur(s) / 1e3 for s in d.named("ingest.load", measured=False)])
    v["ingest.index_bytes"] = _median([s["attrs"].get("bytes", 0.0) for s in build])
    v["ingest.stored_bytes_ratio"] = float(header.get("stored_bytes_ratio", 0.0))

    parse, plan, exe = d.named("query.parse"), d.named("query.plan"), d.named("query.exec")
    v["query.parse_us"] = _median([dur(s) * 1e3 for s in parse])
    v["query.plan_ms"] = _median([dur(s) for s in plan])
    v["query.plan_jobs"] = _mean([len(d.jobs[s["id"]]) for s in plan])
    v["query.zero_job_plan_ratio"] = _mean([1.0 if not d.jobs[s["id"]] else 0.0 for s in plan])
    v["query.exec_ms"] = _median([dur(s) for s in exe])
    v["query.exec_jobs"] = _mean([len(d.jobs[s["id"]]) for s in exe])
    v["query.exec_stages"] = _mean([d.job_sum(s, "stages") for s in exe])
    # task times, job times and X-Query-Millis come in whole milliseconds,
    # so those per-request figures are averaged rather than taken as medians
    v["query.exec_task_ms"] = _mean([d.job_sum(s, "task_ms") for s in exe])
    v["query.exec_driver_gap_ms"] = _median([d.driver_gap_ms(s) for s in exe])
    v["query.exec_queue_ms"] = _mean([d.queue_ms(s) for s in exe])
    rows = sum(s["attrs"].get("rows", 0.0) for s in exe)
    v["query.records_read_per_hit"] = (
        sum(d.job_sum(s, "records_read") for s in exe) / rows if rows else 0.0)

    req = d.named("api.request")
    served = [s for s in req if s["attrs"].get("server_ms") is not None]
    v["api.server_ms"] = _mean([s["attrs"]["server_ms"] for s in served])
    v["api.shape_ms"] = _median([dur(s) for s in d.named("api.shape")])
    v["api.transport_ms"] = _median([dur(s) - s["attrs"]["server_ms"] for s in served])
    v["api.response_bytes"] = _median([s["attrs"].get("bytes", 0.0) for s in req])

    batches, compacts = d.named("streaming.batch"), d.named("streaming.compact")
    resolves = d.named("streaming.resolve")
    v["streaming.batch_s"] = _median([dur(s) / 1e3 for s in batches])
    v["streaming.batch_jobs"] = _mean([len(d.jobs[s["id"]]) for s in batches])
    v["streaming.compact_s"] = _median([dur(s) / 1e3 for s in compacts])
    v["streaming.resolve_ms"] = _median([dur(s) for s in resolves])
    v["streaming.read_set_deltas"] = _mean([s["attrs"].get("deltas", 0.0) for s in resolves])
    written = sum(s["attrs"].get("bytes_written", 0.0) for s in batches + compacts)
    inp = sum(s["attrs"].get("input_bytes", 0.0) for s in batches)
    v["streaming.write_amp"] = written / inp if inp else 0.0
    v["streaming.ingest_docs_per_s"] = float(header.get("ingest_docs_per_s", 0.0))

    # batch-registry: figures per measured pass over the entry list
    passes = max(1, int(header.get("passes", 1)))
    for layer, entries in ENTRIES.items():
        runs = [s for e in entries for s in d.named(f"{layer}.{e}")]
        for e in entries:
            v[f"{layer}.{e}.wall_s"] = _median([dur(s) / 1e3 for s in d.named(f"{layer}.{e}")])
        v[f"{layer}.wall_s"] = sum(v[f"{layer}.{e}.wall_s"] for e in entries)
        v[f"{layer}.job_s"] = sum(d.job_ms(s) for s in runs) / passes / 1e3
        v[f"{layer}.driver_gap_s"] = sum(d.driver_gap_ms(s) for s in runs) / passes / 1e3
        v[f"{layer}.jobs"] = sum(len(d.jobs[s["id"]]) for s in runs) / passes
        v[f"{layer}.shuffle_mb"] = sum(d.job_sum(s, "shuffle_write_bytes") for s in runs) / passes / 1e6
        if layer == "pipeline":
            v["pipeline.spill_mb"] = sum(d.job_sum(s, "spill_bytes") for s in runs) / passes / 1e6

    v["trace.latency_p50_ms"] = float(header.get("e2e.latency_p50_ms", 0.0))
    return {k: {"value": float(v[k]), "unit": u} for k, u in METRICS.items()}


def print_summary(header, spans, jobs, out=sys.stdout):
    d = Dump(header, spans, jobs)
    print(f"trace {header.get('workload')} seed={header.get('seed')} spans={len(spans)} "
          f"jobs={sum(len(js) for js in d.jobs.values())}", file=out)
    by_layer = defaultdict(lambda: [0.0, 0, 0, 0.0])
    by_name = defaultdict(list)
    measured = {s["id"] for name in {s["name"] for s in spans} for s in d.named(name)}
    for s in spans:
        if s["name"] == "run.measure" or (
                s["id"] not in measured and not s["name"].startswith("ingest.")):
            continue
        layer = s["name"].split(".")[0]
        row = by_layer[layer]
        row[0] += d.self_ms(s)
        row[1] += 1
        row[2] += len(d.jobs[s["id"]])
        row[3] += d.job_sum(s, "task_ms")
        by_name[s["name"]].append(s)
    print("set-up spans, and the spans of measured requests:", file=out)
    print(f"{'layer':<10} {'self_ms':>12} {'spans':>7} {'jobs':>6} {'task_ms':>10}", file=out)
    for layer, (self_ms, n, nj, task) in sorted(by_layer.items()):
        print(f"{layer:<10} {self_ms:>12.1f} {n:>7} {nj:>6} {task:>10.0f}", file=out)
    print(f"{'span':<20} {'count':>6} {'p50_ms':>9} {'self_p50':>9} {'jobs/span':>9}", file=out)
    for name, ss in sorted(by_name.items()):
        print(f"{name:<20} {len(ss):>6} {_median([dur(s) for s in ss]):>9.2f} "
              f"{_median([d.self_ms(s) for s in ss]):>9.2f} "
              f"{_mean([len(d.jobs[s['id']]) for s in ss]):>9.2f}", file=out)
    m = per_layer(header, spans, jobs)
    for k in ("query.plan_jobs", "query.zero_job_plan_ratio", "query.records_read_per_hit"):
        print(f"ratio {k} = {m[k]['value']:.4g}", file=out)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1].strip())
    header, spans, jobs = load(sys.argv[1])
    print_summary(header, spans, jobs)
    for k, m in per_layer(header, spans, jobs).items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")


if __name__ == "__main__":
    main()
