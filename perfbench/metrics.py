"""Turn the harness's raw samples into the benchmark's metrics.

End-to-end metrics (untraced runs), the same four on every workload:
  setup_s        session start + median input generation + the cold pass
  suite_s        median over passes of one steady pass's summed op time
  op_geomean_s   geometric mean over ops of each op's median steady time
  latency_p90_s  90th-percentile latency: over the ops' median latencies
                 (a query or a job); on stream_ingest over the events of
                 the open-loop phase, each timed from when its chunk was
                 due to the end of the micro-batch that processed it

Per-layer metrics (traced runs) are listed in PER_LAYER; a layer a
workload does not exercise reports 0.
"""
from collections import defaultdict

from stats import geomean, median, quantile, self_times

COP_FAMILIES = ["Relational", "Temporal", "GeoQueries", "DslQueries",
                "SourceQueries", "IngestQueries", "RasterQueries"]
CORPUS_QUERIES = ["q38_ann_brute_topk", "q164_maxsim_rerank",
                  "q173_hard_negative_mining", "q131_bloom_membership"]
RETRIEVAL = {"q38_ann_brute_topk", "q164_maxsim_rerank",
             "q173_hard_negative_mining"}
JOBS = ["write_shards", "update_shards", "update_again", "release", "codebook"]
STREAM_VALUES = ["rows_per_s", "trigger_ms", "add_batch_ms", "commit_ms",
                 "state_rows", "state_bytes_per_key", "late_rows_dropped",
                 "backlog_rows", "gen_late_ms"]
OP_COUNTERS = [
    "queries.build_ms", "queries.plan_ms", "queries.plan_nodes",
    "queries.exchange_n", "queries.unpartitioned_window_n",
    "core.scan_rows", "core.scan_bytes",
    "plans.codegen_compile_ms", "plans.codegen_classes",
    "plans.codegen_fallback_n", "plans.wscg_ms",
    "sinks.rows_written", "sinks.bytes_written", "sinks.files_written",
    "sinks.write_ms",
    "exec.stage_n", "exec.task_n", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.task_wait_ms", "exec.idle_gap_ms",
]
SELF_LAYERS = ["op", "queries", "exec", "stage", "stream_batch"]

UNITS = {"_ms": "ms", "_s": "s", "bytes": "bytes", "_mb": "MB",
         "rows_per_s": "rows/s", "bytes_per_key": "bytes"}


def unit(name):
    for suffix, u in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return u
    if name.endswith("per_result") or name.endswith("over_median"):
        return "ratio"
    return "count"


PER_LAYER = (
    OP_COUNTERS
    + ["plans.pairs_scored", "plans.pairs_per_result",
       "exec.skew_max_over_median",
       "jvm.jit_ms", "jvm.gc_ms", "jvm.codecache_mb", "jvm.peak_heap_mb"]
    + [f"family.{f}_ms" for f in COP_FAMILIES]
    + [f"query.{q}_ms" for q in CORPUS_QUERIES]
    + [f"jobs.{j}_ms" for j in JOBS]
    + [f"streaming.{op}.{v}" for op in ("merge", "dedup") for v in STREAM_VALUES]
    + [f"streaming.{op}.latency_{p}_ms" for op in ("merge", "dedup")
       for p in ("p50", "p90")]
    + [f"self.{layer}_ms" for layer in SELF_LAYERS]
    + ["trace.overhead_s", "trace.span_n", "input.rows", "input.bytes",
       "host.steal_ms"]
)


def _by_pass(rows, key):
    out = defaultdict(float)
    for r in rows:
        out[r["pass"]] += key(r)
    return out


def _median_or_0(xs):
    xs = list(xs)
    return median(xs) if xs else 0.0


def end_to_end(res):
    setup = res["setup"]
    samples = res["samples"]
    per_op = defaultdict(list)
    for s in samples:
        per_op[s["op"]].append(s["wall_s"])
    op_medians = [median(v) for v in per_op.values()]
    events = [l["latency_s"] for l in res["latency"] for _ in range(l["rows"])]
    return {
        "setup_s": (setup["session_s"] + _median_or_0(setup["gen_s"])
                    + setup["cold_s"]),
        "suite_s": median(_by_pass(samples, lambda s: s["wall_s"]).values()),
        "op_geomean_s": geomean(op_medians),
        "latency_p90_s": quantile(events or op_medians, 0.9),
    }


def per_layer(res, checks):
    tr = res["trace"]
    ops = tr["ops"]
    out = {}
    for c in OP_COUNTERS:
        out[c] = _median_or_0(
            _by_pass(ops, lambda o, c=c: o["metrics"].get(c, 0.0)).values())
    rows = {name: n for name, _, _, n in checks}
    retrieval_rows = sum(rows.get(q, 0) for q in RETRIEVAL)
    pairs = _median_or_0(_by_pass(
        [o for o in ops if o["name"] in RETRIEVAL],
        lambda o: o["metrics"].get("plans.join_rows", 0.0)).values())
    out["plans.pairs_scored"] = pairs
    out["plans.pairs_per_result"] = pairs / retrieval_rows if retrieval_rows else 0.0
    skews = [x for o in ops for x in o["stage_skews"]]
    out["exec.skew_max_over_median"] = _median_or_0(skews)
    out.update(tr["jvm"])

    walls = defaultdict(list)
    for o in ops:
        walls[o["name"]].append(o["wall_s"])
    for f in COP_FAMILIES:
        fam = [o for o in ops if o["family"] == f]
        out[f"family.{f}_ms"] = 1000 * _median_or_0(
            _by_pass(fam, lambda o: o["wall_s"]).values())
    for q in CORPUS_QUERIES:
        out[f"query.{q}_ms"] = 1000 * _median_or_0(walls.get(q, []))
    for j in JOBS:
        out[f"jobs.{j}_ms"] = 1000 * _median_or_0(walls.get(j, []))

    values = defaultdict(list)
    for v in res["values"]:
        values[v["name"]].append(v["value"])
    for op in ("merge", "dedup"):
        for v in STREAM_VALUES:
            name = f"streaming.{op}.{v}"
            out[name] = _median_or_0(values.get(name, []))
        lat = [l["latency_s"] for l in res["latency"] if l["op"] == op
               for _ in range(l["rows"])]
        out[f"streaming.{op}.latency_p50_ms"] = 1000 * _median_or_0(lat)
        out[f"streaming.{op}.latency_p90_ms"] = (
            1000 * quantile(lat, 0.9) if lat else 0.0)

    spans = tr["spans"]
    by_pass = defaultdict(list)
    for s in spans:
        by_pass[s["pass"]].append(s)
    selfs = [self_times(ss) for ss in by_pass.values()]
    for layer in SELF_LAYERS:
        out[f"self.{layer}_ms"] = _median_or_0(s.get(layer, 0.0) for s in selfs)
    out["trace.overhead_s"] = (median(res["pass_wall_s"])
                               - median(tr["untraced_pass_s"]))
    out["trace.span_n"] = float(len(spans))
    out["input.rows"] = float(sum(i["rows"] for i in res["inputs"]))
    out["input.bytes"] = float(sum(i["bytes"] for i in res["inputs"]))
    out["host.steal_ms"] = res["steal_ms"]
    return {k: out[k] for k in PER_LAYER}


def result(res, checks, traced):
    """The benchmark's output object."""
    oracle_failed = sum(1 for _, ok, _, _ in checks if not ok)
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + oracle_failed
    if traced:
        vals = per_layer(res, checks)
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in vals.items()}
    else:
        vals = end_to_end(res)
        metrics = {k: {"value": v, "unit": "s"} for k, v in vals.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
