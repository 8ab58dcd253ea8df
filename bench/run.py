#!/usr/bin/env python3
"""graft benchmark: one seeded closed-loop run of one workload.

    python3 bench/run.py --workload zoe_read_write --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (bench/build.sbt); later runs reuse the build
while the sources are unchanged. Each run starts one JVM per measurement:
local[nproc], spark.sql.shuffle.partitions = nproc, one client thread. The
last line of stdout is the result JSON; the lines before it print every
metric with its unit. With --trace 1 the run is traced and reports the
per-layer metrics; the tracing overhead is the difference to an untraced run
of the same build, workload and seed made just before it. See
bench/README.md and bench/workloads.json.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # one run, every JVM included
JAVA_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d) if os.path.isdir(d) else [])
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, dirnames, names in os.walk(d):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile graft and the benchmark; return the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "graftbench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n")[:2]
        if saved_stamp == stamp:
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, "build.log"), "w") as fh:
        fh.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(f"{stamp}\n{cp}\n")
    return cp


def run_jvm(cp, args, cores, work, trace, deadline):
    """One measurement in its own JVM; returns its raw record."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "raw.json")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:MetaspaceSize=256m", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp")]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                  stderr=fh, text=True, timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {DEADLINE_S} s")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    with open(log) as fh:
        notes = [ln.rstrip() for ln in fh if ln.startswith("graftbench:")]
    with open(out) as fh:
        raw = json.load(fh)
    raw["stdout"] = proc.stdout.strip().splitlines()
    raw["notes"] = notes
    return raw


def e2e(raw):
    """End-to-end figures of one run. The op whose latency op_p50_s reports
    is a Zoe query on zoe_read_write and one step of a pass on the batch
    workloads; batch_s is the median over passes of a whole pass, counting
    only passes whose every step checked out. Only ops whose result checked
    out are timings; a failed op counts in the error rate only."""
    ok = [s for s in raw["samples"] if s["ok"]]
    kinds = {k: [s["latency_s"] for s in ok if s["kind"] == k] for k in ("read", "write", "step")}
    lat = kinds["read"] if raw["workload"] == "zoe_read_write" else kinds["step"]
    passes = {}
    for s in ok:
        if s["kind"] == "step":
            passes.setdefault(s["op"] // raw["cycle"], []).append(s["latency_s"])
    attempted = len(raw["samples"])
    return {
        "setup_s": raw["setup_s"],
        "op_p50_s": stats.median(lat),
        "ops_per_s": len(ok) / raw["loop_s"],
        "tail": stats.tail(lat),
        "n_ok": len(lat),
        "read_p50_s": stats.median(kinds["read"]),
        "write_p50_s": stats.median(kinds["write"]),
        "batch_s": stats.median([sum(v) for v in passes.values() if len(v) == raw["cycle"]]),
        "attempted": attempted,
        "failed": attempted - len(ok),
    }


def unit_of(name):
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("ratio", "yield")):
        return "ratio"
    return "count"


def print_e2e(f, workload):
    print(f"setup_s      {f['setup_s']:.3f} s")
    unit = "queries" if workload == "zoe_read_write" else "steps"
    print(f"op_p50_s     {f['op_p50_s']:.4f} s over {f['n_ok']} {unit}")
    if f["tail"]:
        p, v, n = f["tail"]
        print(f"op_tail_s    {v:.4f} s at p{p:g}, {n} samples beyond it")
    else:
        print(f"op_tail_s    n/a: {f['n_ok']} {unit}, no percentile has 10 samples beyond it")
    print(f"ops_per_s    {f['ops_per_s']:.4f} 1/s")
    if workload == "zoe_read_write":
        print(f"read_p50_s   {f['read_p50_s']:.4f} s")
        print(f"write_p50_s  {f['write_p50_s']:.4f} s")
    else:
        print(f"batch_s      {f['batch_s']:.4f} s")
    print(f"error_rate   {f['failed'] / f['attempted']:.4f} ratio "
          f"({f['failed']} failed of {f['attempted']} attempted)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = sorted(json.load(fh)["workloads"])
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {', '.join(workloads)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no graft sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala)")
    stamp = source_stamp()
    cp = build(stamp)
    deadline = max(deadline, time.time() + DEADLINE_S)  # the first run may build
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        raw = run_jvm(cp, args, cores, os.path.join(work, "untraced"), False, deadline)
        if args.trace:
            # the untraced run is the baseline of the tracing overhead
            base = e2e(raw)
            raw = run_jvm(cp, args, cores, os.path.join(work, "traced"), True, deadline)
        f = e2e(raw)
        print(f"graftbench {args.workload} seed={args.seed} cores={cores} trace={args.trace} "
              f"{raw['stdout'][-1] if raw['stdout'] else ''}")
        for note in raw["notes"]:
            print(note)
        print_e2e(f, args.workload)
        if args.trace:
            metrics = stats.per_layer(raw, cores)
            metrics["e2e.op_tail_s"] = base["tail"][1] if base["tail"] else 0.0
            metrics["e2e.read_p50_s"] = base["read_p50_s"]
            metrics["e2e.write_p50_s"] = base["write_p50_s"]
            metrics["e2e.batch_s"] = base["batch_s"]
            metrics["trace.op_p50_s"] = f["op_p50_s"]
            metrics["trace.overhead_pct"] = (
                100.0 * (f["op_p50_s"] / base["op_p50_s"] - 1.0) if base["op_p50_s"] else 0.0)
            print(f"tracing overhead: op_p50_s {f['op_p50_s']:.4f} s traced vs "
                  f"{base['op_p50_s']:.4f} s untraced ({metrics['trace.overhead_pct']:+.1f} %)")
            table = stats.layer_table(raw["spans"])
            total = sum(table.values()) or 1.0
            print("layer self time (traced run):")
            for layer, t in sorted(table.items(), key=lambda kv: -kv[1]):
                print(f"  {layer:10s} {t:9.3f} s  {100 * t / total:5.1f} %")
            for name in sorted(metrics):
                print(f"  {name} {metrics[name]:.6g} {unit_of(name)}")
            keep = os.path.join(HERE, "traces")
            os.makedirs(keep, exist_ok=True)
            with open(os.path.join(keep, f"{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({k: raw[k] for k in ("workload", "seed", "cores", "spans", "counters")}, fh)
            result_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            result_metrics = {k: {"value": f[k], "unit": u} for k, u in E2E_UNITS.items()}
        # a traced run's counts include its untraced baseline's ops
        runs = (base, f) if args.trace else (f,)
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": result_metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
