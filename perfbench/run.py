#!/usr/bin/env python3
"""Link-day benchmark: the paper's daily batch, end to end and by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload day-whale --seed 1 --seconds 5 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

* day-json       JSON v2 day, IndexDay admission, no giant-trace cap
* day-whale      parquet day with a whale trace, RootInWindow, cap set
* curation-graph graph-family queries of graft.SparkEntry.queries

Each run builds the program and the harness from source if needed
(perfbench/build.sbt compiles ../src/main/scala with the harness), makes the
inputs for the seed (cached under perfbench/.work/data), starts the
measuring JVM, checks every run's output, and prints a report line
followed, as the last line, by the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(a traced run with phases split, Spark stage metrics, self times, and the
DependencyLinker microbenchmark); the traced spans are written to
perfbench/.work/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import select
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

CORES = max(1, min(4, os.cpu_count() or 1))
PARTITIONS = CORES
XMX = "3g"
JVM_TIMEOUT_S = 150
GRAPH_QUERIES = ["q128_pagerank", "q133_trustrank"]
WORKLOADS = ["day-json", "day-whale", "curation-graph"]

DAY_LAYERS = [
    ("read.s", "s"), ("read.mb_per_s", "MB/s"), ("read.spans_out", "count"),
    ("read.rows_dropped", "count"), ("admit.spans_out", "count"),
    ("shuffle.write_bytes_per_span", "bytes"), ("shuffle.map_stage_s", "s"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
    ("island.stage_s", "s"), ("island.max_task_s", "s"), ("island.task_skew", "ratio"),
    ("island.peak_exec_mem_mb", "MB"),
    ("linker.ns_per_span.le16", "ns"), ("linker.ns_per_span.le256", "ns"),
    ("linker.ns_per_span.le4k", "ns"), ("linker.ns_per_span.whale", "ns"),
    ("linker.links_per_trace", "count"),
    ("agg.stage_s", "s"), ("agg.links_out", "count"), ("sink.s", "s"), ("sink.bytes", "bytes"),
    ("self.read_s", "s"), ("self.admit_s", "s"), ("self.shuffle_s", "s"),
    ("self.island_s", "s"), ("self.agg_s", "s"), ("self.sink_s", "s"),
]
GRAPH_LAYERS = [(f"graph.{q}.{m}", u) for q in GRAPH_QUERIES
                for m, u in (("s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"))]
COMMON_LAYERS = [("jvm.gc_s", "s"), ("jvm.jit_compile_s", "s"), ("jvm.live_heap_mb", "MB"),
                 ("self.unattributed_s", "s"), ("trace.wall_s", "s"), ("trace.overhead_s", "s")]
# gated by BENCHMARK.json; the report line adds live_heap_mb, spans_per_s
# and error_rate
END_TO_END = [("setup_s", "s"), ("first_run_s", "s"), ("wall_s", "s")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and harness with sbt unless the sources are
    unchanged since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("program sources (src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java are required")
    digest = _source_digest()
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program + harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        raise BenchError("sbt build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return digest


# ---------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generate (or reuse) the seed's inputs; returns (dir, meta). The cache
    key includes the generator's own digest, so an edited generator never
    serves stale inputs."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, "data", workload, f"seed-{seed}-{version}")
    if not os.path.exists(os.path.join(out, "meta.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        gen.generate(workload, seed, tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        log(f"generated {workload} seed {seed} in {time.time() - t0:.1f} s")
    with open(os.path.join(out, "meta.json")) as f:
        return out, json.load(f)


# ---------------------------------------------------------------- JVM

def java_cmd(args):
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        f"-Xmx{XMX}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", f"{classes}{os.pathsep}{spark_jars}", "perfbench.Harness"] + args)


def run_jvm(args, run_dir, deadline):
    """Start the harness and wait for its ready line; returns (set-up
    timings, process). ``ready_s`` is the wall time from launch to the ready
    line; the JVM's own split of it rides on that line."""
    err = open(os.path.join(run_dir, "harness.stderr"), "wb")
    cmd = java_cmd(args)
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                         stdin=subprocess.DEVNULL, cwd=run_dir)
    err.close()
    try:
        if not select.select([p.stdout], [], [], max(1.0, deadline - time.monotonic()))[0]:
            raise BenchError("harness not ready in time")
        line = p.stdout.readline()
        ready = time.perf_counter() - t0
        if not line.startswith(b"PERFBENCH_READY"):
            raise BenchError(f"harness exited before ready; see {err.name}")
        p.stdout.close()  # nothing else is written there
        jvm_s, session_s, register_s = (float(x) for x in line.split()[1:4])
        return dict(ready_s=ready, jvm_uptime_before_main_s=jvm_s,
                    session_s=session_s, register_s=register_s), p
    except BaseException:
        stop(p)
        raise


def stop(p):
    if p.poll() is None:
        p.kill()
    p.wait()


def wait_jvm(p, deadline):
    try:
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop(p)
        raise BenchError("harness timed out")
    if p.returncode != 0:
        raise BenchError(f"harness failed with code {p.returncode}")


# ---------------------------------------------------------------- one run

def bench(workload, seed, seconds, trace):
    digest = build()
    data, meta = inputs(workload, seed)
    started = time.monotonic()
    run_dir = os.path.join(WORK, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    common = ["--cores", str(CORES), "--partitions", str(PARTITIONS), "--work", run_dir,
              "--seconds", str(seconds), "--trace", str(trace), "--data", data]
    if workload == "curation-graph":
        args = ["--mode", "graph", "--queries", ",".join(GRAPH_QUERIES)] + common
    else:
        args = ["--mode", "day", "--input", meta["input"], "--format", meta["format"],
                "--day", meta["day"], "--admission", meta["admission"],
                "--cap", str(meta["max_spans_per_trace"])] + common
    result_file = os.path.join(run_dir, "result.json")
    setup, p = run_jvm(args + ["--result", result_file], run_dir, started + JVM_TIMEOUT_S)
    wait_jvm(p, started + JVM_TIMEOUT_S)
    with open(result_file) as f:
        res = json.load(f)

    samples = res["samples"]
    if workload == "curation-graph":
        failures = check.graph_failures(run_dir, data, GRAPH_QUERIES)
        bad_samples = [s for s in samples if s["error"]]
        verdicts = {"verification": failures}
        attempted = len(samples) + 1
        failed = len(bad_samples) + (1 if failures else 0)
    else:
        expected = check.read_links(os.path.join(data, "expected_links.tsv"))
        verdicts = {}
        for s in samples:
            if s["error"] is None:
                got = check.read_links(os.path.join(run_dir, f"links-{s['index']}.tsv"))
                diff = check.link_diff(expected, got)
                if diff:
                    verdicts[s["index"]] = diff
        attempted = len(samples)
        failed = sum(1 for s in samples if s["error"] or s["index"] in verdicts)
    warm = [s["wall_s"] for s in samples if s["kind"] == "warm"]
    first = [s["wall_s"] for s in samples if s["kind"] == "first"]
    e2e = {
        "setup_s": setup["ready_s"],
        "first_run_s": first[0],
        "wall_s": statistics.median(warm),
    }
    canary = [s["canary_ms"] for s in samples]
    steal = [s["steal"] for s in samples]
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "env": dict(res["env"], xmx=XMX, source_digest=digest, git_head=git_head(),
                    canary_ms_median=statistics.median(canary),
                    canary_ms_spread=(max(canary) - min(canary)) / statistics.median(canary),
                    steal_share_median=statistics.median(steal), steal_share_max=max(steal)),
        "input": meta,
        "end_to_end": {
            **{k: {"value": v, "unit": u, "samples": n} for (k, u), v, n in zip(
                END_TO_END, [e2e[k] for k, _ in END_TO_END], [1, 1, len(warm)])},
            "live_heap_mb": {"value": res["live_heap_mb"], "unit": "MB", "samples": 1},
            "error_rate": {"value": failed / attempted, "unit": "ratio", "samples": attempted},
        },
        "samples": [{k: s[k] for k in ("kind", "wall_s", "canary_ms", "steal", "gc_s", "error")}
                    for s in samples],
        "setup": setup,
        "check_failures": verdicts,
    }
    if workload != "curation-graph":
        report["end_to_end"]["spans_per_s"] = {
            "value": meta["spans"] / e2e["wall_s"], "unit": "spans/s", "samples": len(warm)}
    if trace:
        report["layers"] = layer_metrics(workload, res, e2e)
        report["traced"] = res["traced"]
        report["largest_layer_by_self_time"] = largest_layer(report["layers"])
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if trace:
        metrics = {k: {"value": report["layers"][k], "unit": u}
                   for k, u in DAY_LAYERS + GRAPH_LAYERS + COMMON_LAYERS}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    return report, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                    "metrics": metrics}


def layer_metrics(workload, res, e2e):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    t = res["traced"]
    layers = {k: 0.0 for k, _ in DAY_LAYERS + GRAPH_LAYERS + COMMON_LAYERS}
    layers.update(t["layers"])
    if workload != "curation-graph":
        layers["read.rows_dropped"] = res["input_rows"] - layers["read.spans_out"]
        layers.update({k: v for k, v in res["linker"].items() if k.startswith("linker.")})
    layers["jvm.jit_compile_s"] = res["jit_s_after_first"]
    layers["jvm.live_heap_mb"] = res["live_heap_mb"]
    layers["trace.wall_s"] = t["traced_wall_s"]
    layers["trace.overhead_s"] = t["traced_wall_s"] - e2e["wall_s"]
    return layers


def largest_layer(layers):
    selfs = {k[5:-2]: v for k, v in layers.items() if k.startswith("self.") and
             k != "self.unattributed_s"}
    graph = {k[6:-2]: v for k, v in layers.items() if k.startswith("graph.") and k.endswith(".s")}
    pool = {**selfs, **graph}
    return max(pool, key=pool.get) if any(pool.values()) else None


def git_head():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, timeout=10)
        head = p.stdout.decode().strip()
        return head if p.returncode == 0 and head else None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        report, result = bench(a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 1
    e = report["end_to_end"]
    print("report " + json.dumps({
        "workload": a.workload, "seed": a.seed,
        "end_to_end": {k: f"{v['value']:.6g} {v['unit']} (n={v['samples']})" for k, v in e.items()},
        "env": report["env"], "largest_layer_by_self_time": report.get("largest_layer_by_self_time"),
        "check_failures": report["check_failures"]}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
