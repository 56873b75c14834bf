#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N     # every workload

Run from the repository root. Builds the program and the harness from
source (first run only), generates the seed's inputs (cached by seed),
runs one JVM with the program build's forked JVM flags, checks every
operation's output against the DuckDB answer, and prints the metrics. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer table of the traced run. Details (environment, every sample,
the spans) go to .bench_work/results/.
"""

import argparse
import functools
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["kg_build", "serve_lookup"]
HEAP = "4g"
THROUGHPUT = {"kg_build": "triples_per_s", "serve_lookup": "queries_per_s"}
JVM_TIMEOUT = 170


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    """Task slots: one core less than the machine's (at most 4), so the JIT,
    the collector, the driver and the client thread do not steal time from
    the tasks being measured."""
    return max(1, min(4, os.cpu_count() or 1) - 1)


@functools.lru_cache(maxsize=None)
def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.exists(r):
            raise BenchError(f"missing {os.path.relpath(r, ROOT)}: run from "
                             "the root of a checkout of the repository")
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """sbt build of program + harness; returns (classpath, jvm flags)."""
    stamp = source_stamp()
    spec = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    os.makedirs(WORK, exist_ok=True)
    fresh = (os.path.exists(spec) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        log("building program and harness (sbt)")
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
        with open(os.path.join(WORK, "build.log"), "w") as lf:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "launchSpec"], cwd=HERE, env=env, stdout=lf,
                               stderr=subprocess.STDOUT, timeout=840)
        if r.returncode != 0:
            raise BenchError("build failed, see .bench_work/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(spec) as f:
        lines = f.read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def tree_id():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, flags, args, work, name):
    cmd = (["java"] + flags + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
            "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(os.path.join(work, f"{name}.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{name}: JVM timed out")
    if rc != 0:
        with open(os.path.join(work, f"{name}.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{name}: JVM exited {rc}\n{tail}")


def file_sha(name):
    with open(os.path.join(HERE, name), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def store_key():
    """Key of serve_lookup's store and of everything derived from it: the
    generator, the oracle, and the program and harness sources (the store
    is written by the program's Materializer, its oracle SQL comes from
    the program's Kg), so a changed layout or oracle gets a new store."""
    return hashlib.sha256((file_sha("gen.py") + file_sha("oracle.py") +
                           source_stamp()).encode()).hexdigest()[:16]


def serve_store(cp, flags):
    """serve_lookup's store: fixed tables materialized by the program's kg
    path, plus the oracle's canonical triples for them; built once per
    store_key()."""
    import gen
    import oracle
    d = os.path.join(WORK, "inputs", f"serve_store-{store_key()}")
    if os.path.exists(f"{d}/canon.parquet"):
        return d
    shutil.rmtree(d, ignore_errors=True)
    gen.serve_tables(f"{d}/tables")
    tmp = os.path.join(d, "prep")
    run_jvm(cp, flags, ["--workload", "prepare_store", "--input",
                        f"{d}/tables", "--work", tmp, "--cpus", str(cpus()),
                        "--result", f"{d}/store"], tmp, "prepare")
    with open(f"{tmp}/kg_oracle.sql") as f:
        oracle.canon_parquet(f"{d}/tables", f.read(), f"{d}/canon.parquet")
    shutil.rmtree(tmp)
    return d


def inputs(workload, seed, cp, flags):
    """The seed's inputs, generated once and cached (never timed)."""
    import gen
    key = file_sha("gen.py")
    if workload == "serve_lookup":
        key = store_key()
    d = os.path.join(WORK, "inputs", workload, f"{seed}-{key}")
    marker = os.path.join(d, "props.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    if workload == "serve_lookup":
        store = serve_store(cp, flags)
        props = gen.generate(workload, seed, d, f"{store}/tables")
        shutil.copytree(f"{store}/store", f"{d}/store")
    else:
        props = gen.generate(workload, seed, d)
    with open(marker, "w") as f:
        json.dump(props, f)
    return d, props


def expected(workload, in_dir, oracle_sql, store):
    """The DuckDB answer for the seed, cached beside the inputs."""
    import oracle
    key = hashlib.sha256((oracle_sql or "").encode() +
                         file_sha("oracle.py").encode()).hexdigest()[:16]
    path = os.path.join(in_dir, f"expected-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    if workload == "kg_build":
        e = oracle.kg_expected(in_dir, oracle_sql)
    else:
        with open(os.path.join(in_dir, "queries.json")) as f:
            qs = json.load(f)
        e = {str(k): v for k, v in oracle.serve_expected(
            f"{store}/canon.parquet", qs).items()}
    with open(path, "w") as f:
        json.dump(e, f)
    return e


def check(workload, op, exp):
    """Is one operation's output the expected answer? (reason if not)"""
    import oracle
    if not op.get("ok"):
        return op.get("error") or f"status {op.get('status')}"
    if workload == "kg_build":
        got = oracle.store_observed(op["store"])
        if got != {k: exp[k] for k in ("triples", "hash")}:
            return f"store {got} != expected {exp}"
    else:
        e = exp[str(op["query"])]
        if "body" in e:
            if op["body"] != e["body"]:
                return f"query {op['query']}: {op['body']} != {e['body']}"
        elif (op["lines"], op["digest"]) != (e["lines"], e["digest"]):
            return (f"query {op['query']}: {op['lines']} lines, expected "
                    f"{e['lines']} (or digest differs)")
    return None


def tail_latency(samples):
    """Highest percentile with at least ten samples beyond it (the slowest
    sample when a run has fewer than eleven)."""
    s = sorted(samples)
    if len(s) < 11:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def run_one(workload, seed, seconds, trace):
    t0 = time.time()
    cp, flags = build()
    t1 = time.time()
    in_dir, props = inputs(workload, seed, cp, flags)
    log(f"build {t1 - t0:.1f}s, inputs {time.time() - t1:.1f}s")
    work = os.path.join(WORK, "run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(workload, seed, seconds, trace, cp, flags, in_dir,
                       props, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(workload, seed, seconds, trace, cp, flags, in_dir, props, work):
    with open(os.path.join(work, "flags.txt"), "w") as f:
        f.write("\n".join(flags) + "\n")
    result_path = os.path.join(work, "result.json")
    t_start = time.time()
    run_jvm(cp, flags, ["--workload", workload, "--input", in_dir,
                        "--work", work, "--seconds", str(seconds),
                        "--trace", str(trace), "--cpus", str(cpus()),
                        "--flags", os.path.join(work, "flags.txt"),
                        "--result", result_path], work, "jvm")
    t_jvm = time.time()
    log(f"jvm {t_jvm - t_start:.1f}s")
    with open(result_path) as f:
        res = json.load(f)
    oracle_sql = None
    if workload == "kg_build":
        with open(os.path.join(work, "kg_oracle.sql")) as f:
            oracle_sql = f.read()
    exp = expected(workload, in_dir, oracle_sql,
                   serve_store(cp, flags) if workload == "serve_lookup"
                   else None)
    t_exp = time.time()

    ops = res["ops"]
    failures = [(op["k"], why) for op in ops
                for why in [check(workload, op, exp)] if why]
    log(f"expected {t_exp - t_jvm:.1f}s, checks {time.time() - t_exp:.1f}s")
    for k, why in failures[:5]:
        log(f"op {k} wrong: {why}")
    times = [op["s"] for op in ops]
    p50 = statistics.median(times)
    tail, tail_pct = tail_latency(times)
    if workload == "kg_build":
        throughput = exp["triples"] / p50
    else:
        throughput = len(times) / sum(times)
    env = dict(res["env"], commit=tree_id(), source_sha256=source_stamp(),
               nproc=os.cpu_count(), master=f"local[{cpus()}]", seed=seed,
               seconds=seconds, inputs=props)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (p50, "s"),
        "op_tail_s": (tail, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "peak_heap_mb": (res["heap_mb"], "MB"),
    }
    detail = {"workload": workload, "env": env,
        "samples": {"op_s": times, "warm_s": res["warm_s"]},
        "op_count": len(times), "op_tail_percentile": tail_pct,
        "fail_ratio": len(failures) / len(ops),
        THROUGHPUT[workload]: throughput, "failures": failures[:20]}
    if trace:
        layers = dict(res["layers"],
                      trace_overhead_s=res["layers"]["traced_op_p50_s"] - p50)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        # a layer or extra this workload does not touch reads 0
        metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"])
                   for m in per_layer}
        detail["layers"] = layers
        detail["traced_s"] = res["traced_s"]
        spans = os.path.join(work, "spans.json")
    else:
        metrics = e2e
        spans = None
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-{seed}-t{trace}-"
                        f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1)
    if spans:
        shutil.copy(spans, stem + ".spans.json")
    log(f"{workload} seed={seed} ops={len(times)} fail_ratio="
        f"{detail['fail_ratio']:.4f} {THROUGHPUT[workload]}={throughput:.6g} 1/s "
        f"op_tail_s=p{tail_pct:.1f} of {len(times)}")
    for k, (v, u) in e2e.items():
        log(f"  {k} = {v:.6g} {u}")
    return {"correct": not failures, "attempted": len(ops),
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        if a.workload != "all":
            out = run_one(a.workload, a.seed, a.seconds, a.trace)
        else:
            outs = {w: run_one(w, a.seed, a.seconds, a.trace)
                    for w in WORKLOADS}
            out = {"correct": all(o["correct"] for o in outs.values()),
                   "attempted": sum(o["attempted"] for o in outs.values()),
                   "failed": sum(o["failed"] for o in outs.values()),
                   "metrics": {f"{w}.{k}": v for w, o in outs.items()
                               for k, v in o["metrics"].items()}}
            for w, o in outs.items():
                print(f"{w}: fail_ratio = {o['failed'] / o['attempted']:.4f}")
                for k, v in o["metrics"].items():
                    print(f"{w}: {k} = {v['value']:.6g} {v['unit']}")
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
