"""Metric arithmetic for the graft benchmark: medians, the tail percentile,
span self time and the per-layer aggregation of a traced run."""

import math
import statistics

# percentiles considered for the tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# layers of graft, named after its modules; a span "<layer>.<call>" belongs
# to <layer>. Spans of the benchmark itself ("op", "gen.*") belong to none.
LAYERS = ("model", "ql", "exec", "store", "analytics", "pipeline", "sink")
SPARK_LAYERS = ("model", "exec", "store", "analytics", "pipeline", "sink")
SPARK_METRICS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "scheduler_delay_s", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes", "tasks_failed")
ALGOS = ("pagerank", "ppr", "lpa", "sssp", "hits", "triangles", "kcore", "cc", "walks")
STAGES = ("quality_filter", "decontaminate", "exact_dedup", "minhash", "components",
          "survivors", "pack")


def median(values):
    return statistics.median(values) if values else 0.0


def tail(samples):
    """The highest percentile of TAIL_LADDER with at least 10 samples beyond
    it, as (percentile, value, samples beyond), by nearest rank. None when
    even the lowest percentile has fewer samples beyond it."""
    s = sorted(samples)
    n = len(s)
    for p in TAIL_LADDER:
        if n == 0:
            break
        idx = max(0, math.ceil(p / 100.0 * n) - 1)
        beyond = n - 1 - idx
        if beyond >= 10:
            return p, s[idx], beyond
    return None


def self_times(spans):
    """Span id -> its duration minus the time its direct children cover
    (overlapping children are counted once, clipped to the parent)."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        lo, hi = sp["start_s"], sp["end_s"]
        covered, edge = 0.0, lo
        for c in sorted(children.get(sp["id"], []), key=lambda c: c["start_s"]):
            a, b = max(c["start_s"], edge), min(c["end_s"], hi)
            if b > a:
                covered += b - a
                edge = b
        out[sp["id"]] = (hi - lo) - covered
    return out


def layer_of(name):
    head = name.split(".", 1)[0]
    return head if head in LAYERS else None


def layer_table(spans):
    """Layer -> total self time, over every span of the run ("bench" for the
    benchmark's own spans)."""
    st = self_times(spans)
    table = {}
    for sp in spans:
        key = layer_of(sp["name"]) or "bench"
        table[key] = table.get(key, 0.0) + st[sp["id"]]
    return table


def per_layer(run, cores):
    """Every per-layer metric of a traced run. Timings are medians over the
    calls of that name; Spark counters are per op, with the set-up's counters
    added once; a layer the workload does not exercise reports 0."""
    spans = run["spans"]
    counters = {int(k): v for k, v in run["counters"].items()}
    st = self_times(spans)
    by_name = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp["id"])

    def dur(name):
        return median([sp["end_s"] - sp["start_s"] for sp in by_name.get(name, [])])

    def attr(name, key):
        return median([sp["attrs"][key] for sp in by_name.get(name, []) if key in sp["attrs"]])

    def subtree_jobs(span_id):
        return counters.get(span_id, {}).get("jobs", 0) + sum(subtree_jobs(k) for k in kids.get(span_id, []))

    m = {
        "model.table_load_s": dur("model.table_load"),
        "model.graph_build_s": dur("model.graph_build"),
        "model.cached_mb": attr("model.cached", "cached_mb"),
        "model.save_s": dur("model.save"),
        "model.load_s": dur("model.load"),
        "ql.decode_s": dur("ql.decode"),
        "exec.compile_s": dur("exec.compile"),
        "exec.plan_s": dur("exec.plan"),
        "exec.execute_s": dur("exec.execute"),
        "exec.plan_nodes": attr("exec.execute", "plan_nodes"),
        "exec.exchanges": attr("exec.execute", "exchanges"),
        "exec.rows_out": attr("exec.execute", "rows_out"),
        "store.mutate_s": dur("store.mutate"),
        "store.gc_s": dur("store.gc"),
        "store.rows_written": attr("store.mutate", "rows_written"),
        "analytics.prepass_s": dur("analytics.prepass"),
    }
    for a in ALGOS:
        m[f"analytics.{a}_s"] = dur(f"analytics.{a}")
        m[f"analytics.{a}_jobs"] = median([subtree_jobs(sp["id"]) for sp in by_name.get(f"analytics.{a}", [])])
    for s in STAGES:
        m[f"pipeline.{s}_s"] = dur(f"pipeline.{s}")
    cand = attr("pipeline.candidates", "candidate_pairs")
    verified = attr("pipeline.minhash", "verified_pairs")
    m["pipeline.candidate_pairs"] = cand
    m["pipeline.verified_pairs"] = verified
    m["pipeline.verify_yield"] = verified / cand if cand else 0.0
    m["sink.write_s"] = dur("sink.write")
    m["sink.bytes"] = attr("sink.write", "bytes")

    n_ops = max(1, len(run["samples"]))
    for layer in SPARK_LAYERS:
        tot = {k: 0.0 for k in SPARK_METRICS}
        wall = 0.0
        for sp in spans:
            if layer_of(sp["name"]) != layer:
                continue
            wall += st[sp["id"]]
            c = counters.get(sp["id"])
            if c:
                share = 1.0 if sp["op"] < 0 else 1.0 / n_ops
                for k in SPARK_METRICS:
                    tot[k] += c[k] * share
        for k in SPARK_METRICS:
            m[f"spark.{layer}.{k}"] = tot[k]
        run_s = sum(counters.get(sp["id"], {}).get("executor_run_s", 0.0)
                    for sp in spans if layer_of(sp["name"]) == layer)
        m[f"spark.{layer}.busy_ratio"] = run_s / (wall * cores) if wall > 0 else 0.0
    return m
