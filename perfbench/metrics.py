"""Metric assembly: turns one run record (written by perfbench.Main) and
its check failures into the named metrics of BENCHMARK.json."""
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


class Unsupported(ValueError):
    """A percentile the sample is too small to support."""


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q < 1) with its sample count.

    Refuses (raises Unsupported) when the sample cannot resolve q: the
    estimate needs at least one observation above it, so n >= 1/(1-q)
    (2 samples for p50, 20 for p95)."""
    n = len(values)
    if not 0 < q < 1:
        raise ValueError(f"percentile must be in (0, 1), got {q}")
    if n < math.ceil(1 / (1 - q) - 1e-9):
        raise Unsupported(f"p{round(q * 100)} needs {math.ceil(1 / (1 - q) - 1e-9)} samples, have {n}")
    s = sorted(values)
    return s[max(0, math.ceil(q * n) - 1)], n


def pct_or_zero(values, q):
    try:
        return percentile(values, q)[0]
    except Unsupported:
        return 0.0


LAYERS = ["queries", "sql", "plans", "exec", "sources", "llm", "io", "streaming"]
CORPUS_STAGES = ["clean", "quality", "unigram", "bpe", "minhash", "cc", "keepbest", "semdedup"]


def _window_spans(rec):
    return [s for s in rec.get("spans", []) if s["start_ns"] >= 0]


def _per_call(spans, name, field=None):
    xs = [s for s in spans if s["name"] == name]
    if not xs:
        return 0.0
    if field is None:
        return statistics.fmean((s["end_ns"] - s["start_ns"]) / 1e6 for s in xs)
    return statistics.fmean(s[field] for s in xs)


def self_times(rec):
    """Self time per layer inside the window (span minus its children),
    plus the time outside any layer span. They add up to the window."""
    spans = _window_spans(rec)
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    out = {layer: 0.0 for layer in LAYERS}
    top = 0.0
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer == "op":
            continue
        dur = s["end_ns"] - s["start_ns"]
        out[layer] = out.get(layer, 0.0) + (dur - child.get(s["id"], 0)) / 1e6
        parent = by_id.get(s["parent"])
        if parent is None or parent["name"].startswith("op."):
            top += dur / 1e6
    return out, rec["window_ms"] - top


def kind_medians(rec):
    """Median latency per kind of operation: a request name in
    interactive_mix, a stage in corpus_pipeline, an engine call (append,
    compact, probe, ...) in ingest_mixed."""
    by = {}
    for o in rec["ops"]:
        by.setdefault(o["name"], []).append(o["ms"])
    return {k: statistics.median(v) for k, v in by.items()}


def op_latency(rec):
    """Typical operation latency: the per-kind medians combined by
    geometric mean, so each kind has the same weight whichever kinds the
    window happened to end on."""
    meds = kind_medians(rec).values()
    return math.exp(statistics.fmean(math.log(m) for m in meds))


def work_per_s(rec):
    """Requests/s; input documents per second of a pipeline made of each
    stage's median; user rows committed per second of write-path wall."""
    wl = rec["workload"]
    if wl == "corpus_pipeline":
        return rec["counters"]["input_docs"] / (sum(kind_medians(rec).values()) / 1000.0)
    if wl == "ingest_mixed":
        c = rec["counters"]
        return c["user_rows"] / (c["write_wall_ms"] / 1000.0)
    return len(rec["ops"]) / (rec["window_ms"] / 1000.0)


def end_to_end(rec, setup_s):
    return {
        "setup_s": setup_s,
        "op_latency_ms": op_latency(rec),
        "work_per_s": work_per_s(rec),
        "live_heap_mb": rec["live_heap_mb"],
    }


def per_layer(rec, failed, attempted):
    spans = _window_spans(rec)
    ops = rec["ops"]
    series = rec["series"]
    c = rec["counters"]
    n_ops = max(1, len(ops))
    m = {}
    m["engine.session_ms"] = rec["session_ms"]
    m["engine.warmup_ms"] = rec["warmup_ms"]
    m["sources.server_start_ms"] = sum((s["end_ns"] - s["start_ns"]) / 1e6
                                       for s in rec.get("spans", [])
                                       if s["name"] == "sources.server_start")

    def lat(cls):
        return [o["ms"] for o in ops if o["class"] == cls]
    reqms = [o["ms"] for o in ops if o["class"] in ("relational", "temporal", "dialect", "remote")]
    m["query_p50_ms"] = pct_or_zero(reqms, 0.5)
    m["query_p90_ms"] = pct_or_zero(reqms, 0.9)
    m["query_samples"] = float(len(reqms))
    m["dialect_p50_ms"] = pct_or_zero(lat("dialect"), 0.5)
    m["remote_p50_ms"] = pct_or_zero(lat("remote"), 0.5)
    for name in ["queries.build", "sql.run"]:
        m[f"{name}_ms"] = _per_call(spans, name)
        m[f"{name}_jobs"] = _per_call(spans, name, "jobs")
    for name in ["plans.optimize", "plans.physical", "sources.remote_plan", "sources.remote_exec"]:
        m[f"{name}_ms"] = _per_call(spans, name)
    # exec totals per operation, over every attributed span in the window
    jobs = sum(s["jobs"] for s in spans)
    tasks = sum(s["tasks"] for s in spans)
    run = sum(s["run_ms"] for s in spans)
    wall = sum(s["job_wall_ms"] for s in spans)
    sw = rec.get("streaming_work", {})
    m["exec.jobs"] = jobs / n_ops
    m["exec.tasks"] = tasks / n_ops
    m["exec.core_idle_ms"] = max(0.0, wall * rec["cores"] - run) / n_ops
    m["exec.task_cpu_ms"] = (sum(s["cpu_ms"] for s in spans) + sw.get("cpu_ms", 0.0)) / n_ops
    m["exec.shuffle_bytes"] = (sum(s["shuffle_bytes"] for s in spans) +
                               sw.get("shuffle_bytes", 0)) / n_ops
    m["exec.spill_bytes"] = sum(s["spill_bytes"] for s in spans) / n_ops
    m["exec.untagged_jobs"] = float(rec.get("untagged_jobs", 0))
    m["corpus_docs_per_s"] = work_per_s(rec) if rec["workload"] == "corpus_pipeline" else 0.0
    for st in CORPUS_STAGES:
        n = f"llm.{st}"
        m[f"{n}_ms"] = _per_call(spans, n)
        m[f"{n}.jobs"] = _per_call(spans, n, "jobs")
        m[f"{n}.task_cpu_ms"] = _per_call(spans, n, "cpu_ms")
        m[f"{n}.shuffle_bytes"] = _per_call(spans, n, "shuffle_bytes")
    m["llm.pairs_per_doc"] = c.get("pairs", 0) / c["input_docs"] if "input_docs" in c else 0.0
    ub = c.get("user_bytes", 0)
    m["ingest_rows_per_s"] = work_per_s(rec) if rec["workload"] == "ingest_mixed" else 0.0
    m["commit_p50_ms"] = pct_or_zero(series.get("commit", []), 0.5)
    m["commit_max_ms"] = max(series.get("commit", [0.0]))
    m["fresh_read_p50_ms"] = pct_or_zero(series.get("fresh_read", []), 0.5)
    m["probe_p50_ms"] = pct_or_zero(series.get("probe", []), 0.5)
    m["write_amp"] = c.get("bytes_written", 0) / ub if ub else 0.0
    m["space_amp"] = c.get("live_bytes", 0) / (ub + c.get("preload_bytes", 0)) if ub else 0.0
    for name in ["io.append", "io.rollup_append", "io.compact", "io.upsert",
                 "io.read_resolve", "io.read_exec", "llm.index_append", "llm.index_probe"]:
        m[f"{name}_ms"] = _per_call(spans, name)
    m["io.append_jobs"] = _per_call(spans, "io.append", "jobs")
    m["llm.index_probe_jobs"] = _per_call(spans, "llm.index_probe", "jobs")
    m["llm.index_probe_shuffle_bytes"] = _per_call(spans, "llm.index_probe", "shuffle_bytes")
    m["io.compact_bytes_rewritten"] = float(c.get("compact_bytes_rewritten", 0))
    m["io.files_live"] = float(c.get("files_live", 0))
    m["io.bytes_written"] = float(c.get("bytes_written", 0))
    m["io.files_written"] = float(c.get("files_written", 0))
    st = rec.get("streaming", {})
    m["streaming.batches"] = float(st.get("batches", 0))
    m["streaming.trigger_ms"] = st["trigger_ms"] / st["batches"] if st.get("batches") else 0.0
    m["streaming.commit_ms"] = st["commit_ms"] / st["batches"] if st.get("batches") else 0.0
    m["streaming.process_ms"] = _per_call(spans, "streaming.process")
    h = rec["host"]
    m["host.proc_cpu_ms"] = h["proc_cpu_ms"]
    m["host.steal_ms"] = h["steal_ms"]
    m["host.jvm_gc_ms"] = h["jvm_gc_ms"]
    m["host.cpu_per_wall"] = h["cpu_per_wall"]
    selfs, outside = self_times(rec)
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = selfs.get(layer, 0.0)
    m["self.outside_ms"] = outside
    m["trace.window_ms"] = rec["window_ms"]
    m["trace.outside_share"] = outside / rec["window_ms"]
    m["trace.op_latency_ms"] = op_latency(rec)
    m["op_fail_ratio"] = failed / attempted
    return m


def emit(values, kind):
    """Every metric of `kind` in BENCHMARK.json, with its unit; a metric
    the run did not produce is an error, not a silent omission."""
    out = {}
    for d in spec()[kind]:
        if d["name"] not in values:
            raise KeyError(f"metric {d['name']} not produced")
        out[d["name"]] = {"value": float(values[d["name"]]), "unit": d["unit"]}
    return out
