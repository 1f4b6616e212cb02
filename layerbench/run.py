#!/usr/bin/env python3
"""Benchmark of the graft word-count engine, end to end and layer by layer.

Run from the root of a checkout:

    python3 layerbench/run.py --workload wc_zipf --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark main with sbt on first use (the
classpath is cached in .bench_build/), generates the seeded inputs and
their expected results, runs one measuring JVM and the set-up probe, and
prints one JSON object as the last line of stdout. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
`--corrupt-expectation` checks the checker: it flips the expected result,
so every op must fail and `ok_op_ratio` drops below 1.

See layerbench/README.md for the workloads, the metrics and how steady
they are.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the benchmark's directory
import gen  # noqa: E402

MAIN = "graft.layerbench.BenchMain"
# the same module opens the repository's build.sbt passes to forked runs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
SETUP_PROBES = 1      # extra set-up-only JVMs per untraced run
JVM_TIMEOUT_S = 160

# Inputs and warm-up per workload. `warmup` is the number of ops after the
# cold one that are run but not measured, set from the measured op-time
# curve (README.md, "Warm-up").
WORKLOADS = {
    "wc_zipf": dict(tokens=3_000_000, vocab=50_000, warmup=10, min_ops=5),
    "curate_samples": dict(docs=1000, batches=4, warmup=9, min_ops=3),
}


def die(msg, code=2):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(code)


def calibrate():
    """Fixed single-threaded CPU kernel (pure-Python integer loop); its
    wall time tracks host speed. A diagnostic only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


# ---------------------------------------------------------------- build

def fingerprint(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile the engine and the benchmark; cache the runtime classpath."""
    fp = fingerprint(root)
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"], fp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(state, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=840)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (exit {p.returncode}); see {log}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    print(f"layerbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, fp


# a fixed heap: with a growing one, op times kept falling for 30-40 ops
# while G1 resized it, and the peak RSS depended on when it grew
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
# Traced runs only: Spark's generated-code cache holds 100 classes by
# default. The ladder's rungs are different plans and evicted each
# other's classes, so the op after them recompiled its generated code
# and ran about 1.5x slower than the same op back to back.
TRACE_FLAGS = ["-Dspark.sql.codegen.cache.maxEntries=2000"]


def java_cmd(cp, state, *args, flags=()):
    return (["java"] + JVM_FLAGS + list(flags)
            + [f"-Djava.io.tmpdir={os.path.join(state, 'tmp')}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, MAIN] + list(args))


def jvm(cp, state, log, *args, flags=()):
    """Run BenchMain; return its --out JSON (None on failure)."""
    out = os.path.join(state, "tmp", f"out-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(state, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1")
    launch_ms = int(time.time() * 1000)
    cmd = java_cmd(cp, state, *args, "--launch-ms", str(launch_ms), "--out", out, flags=flags)
    with open(log, "a") as fh:
        fh.write("$ java ... " + MAIN + " " + " ".join(args) + "\n")
        fh.flush()
        try:
            p = subprocess.run(cmd, stdout=fh, stderr=fh, timeout=JVM_TIMEOUT_S, env=env)
        except subprocess.TimeoutExpired:
            fh.write("timed out\n")
            return None
    if p.returncode != 0 or not os.path.exists(out):
        return None
    with open(out) as fh:
        result = json.load(fh)
    os.remove(out)
    return result


# ---------------------------------------------------------------- inputs

def prepare(workload, seed, cp, fp, state):
    """Generate the inputs and expectations for (workload, seed) once;
    later runs with the same seed reuse them."""
    cfg = WORKLOADS[workload]
    base = os.path.join(state, "data", workload)
    with open(gen.__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read() + json.dumps(cfg, sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(base, f"{seed}-{tag}")
    expect_file = os.path.join(d, "expect.txt")
    if os.path.exists(expect_file):
        with open(expect_file) as fh:
            return d, expect_file, dict(ln.rstrip("\n").split("=", 1) for ln in fh)
    if os.path.isdir(base):  # keep disk use bounded: one seed per workload
        shutil.rmtree(base)
    os.makedirs(d)
    rng = np.random.default_rng([seed & (2**64 - 1), sorted(WORKLOADS).index(workload)])
    if workload == "wc_zipf":
        text = os.path.join(d, "text")
        expect = gen.wc_zipf(rng, text, cfg["tokens"], cfg["vocab"])
        expect["input_bytes"] = str(sum(os.path.getsize(os.path.join(text, f))
                                        for f in os.listdir(text)))
    else:
        cols = gen.documents(rng, cfg["docs"])
        sql = oracle_sql(cp, fp, state)
        path = os.path.join(d, "documents.parquet")
        gen.write_documents(cols, path)
        expect = gen.oracle_digest(sql["cur_pipeline_samples"], path)
        expect["input_bytes"] = str(sum(len(t.encode()) for t in cols["text"]))
        # the same documents as staged micro-batch files for the streaming
        # drains of the traced run
        src = os.path.join(d, "stream_src")
        gen.write_stream_batches(rng, cols, src, cfg["batches"])
        streamed = gen.oracle_digest(sql["stream_pipeline_samples"], os.path.join(src, "*.parquet"))
        expect.update(stream_rows=streamed["rows"], stream_digest=streamed["digest"])
    with open(expect_file, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in expect.items())
    # write the new inputs back now, not while a JVM is being timed
    os.sync()
    return d, expect_file, expect


def oracle_sql(cp, fp, state):
    path = os.path.join(state, "oracle_sql.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["sql"]
    sql = jvm(cp, state, os.path.join(state, "logs", "oracle_sql.log"), "oracle-sql")
    if sql is None:
        die("could not read the oracle SQL from the engine", 4)
    with open(path, "w") as fh:
        json.dump({"fingerprint": fp, "sql": sql}, fh)
    return sql


# ---------------------------------------------------------------- metrics

def tail(ops):
    """The highest percentile of the warm ops that keeps >= 10 samples
    beyond it, i.e. the 11th-slowest op; with fewer than 11 ops, the
    slowest. Returns (value, percentile, samples beyond it)."""
    s = sorted(ops)
    n = len(s)
    if n < 11:
        return s[-1], 1.0, 0
    return s[n - 11], (n - 10) / n, 10


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help="self-test: flip the expected result; ops must fail")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("layerbench", "build.sbt"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"run from the root of a graft checkout: {need} is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    state = os.path.join(root, ".bench_build")
    for sub in ("tmp", "logs", "spark-local", "results"):
        os.makedirs(os.path.join(state, sub), exist_ok=True)

    cp, fp = build(root, state)
    data, expect_file, expect = prepare(args.workload, args.seed, cp, fp, state)
    if args.corrupt_expectation:
        with open(expect_file) as fh:
            lines = fh.read().splitlines()
        bad = os.path.join(state, "tmp", "expect-corrupt.txt")
        with open(bad, "w") as fh:
            for ln in lines:
                k, v = ln.split("=", 1)
                if k in ("sha256", "digest"):
                    v = "0" + v[1:] if v[:1] != "0" else "1" + v[1:]
                fh.write(f"{k}={v}\n")
        expect_file = bad

    cfg = WORKLOADS[args.workload]
    # two cores spare: the driver thread, JIT and GC threads run beside
    # the task threads without outnumbering the host's cores
    cores = max(1, len(os.sched_getaffinity(0)) - 2)
    log = os.path.join(state, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    if os.path.exists(log):
        os.remove(log)
    work = os.path.join(state, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)

    calib = [calibrate()]
    r = jvm(cp, state, log, "run", "--workload", args.workload, "--cores", str(cores),
            "--input", os.path.join(data, "text") if args.workload == "wc_zipf" else data,
            "--expect", expect_file, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--warmup", str(cfg["warmup"]),
            "--min-ops", str(cfg["min_ops"]), "--work", work,
            "--spans", os.path.join(state, "results", f"{args.workload}-{args.seed}-spans.jsonl"),
            flags=TRACE_FLAGS if args.trace else ())
    shutil.rmtree(work, ignore_errors=True)
    if r is None:
        die(f"benchmark JVM failed; see {log}", 6)
    setups = [r["setup"]]
    # untraced runs: the set-up probes run after the measuring JVM, so
    # the samples of a run lie apart in time
    if not args.trace:
        for _ in range(SETUP_PROBES):
            s = jvm(cp, state, log, "setup", "--cores", str(cores))
            if s is None:
                die(f"set-up probe failed; see {log}", 5)
            setups.append(s)
    calib.append(calibrate())

    ops = r["ops_s"]
    input_mb = int(expect["input_bytes"]) / 1e6
    attempted, failed = int(r["attempted"]), int(r["failed"])
    tail_v, tail_p, tail_beyond = tail(ops)
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "master": r["setup"]["master"], "heap": HEAP,
        "jvm_flags": JVM_FLAGS + (TRACE_FLAGS if args.trace else []), "input_mb": input_mb,
        "warmup_s": r["warmup_s"], "cold_s": r["cold_s"], "ops_s": ops,
        "op_tail": {"value_s": tail_v, "percentile": tail_p, "samples_beyond": tail_beyond,
                    "ops": len(ops)},
        "setup_samples_s": [s["setup_s"] for s in setups],
        "peak_rss_mb": r["peak_rss_mb"],
        "gc_samples": int(r["gc_samples"]), "codegen_compiles_p50": r["codegen_compiles_p50"],
        "host.calib_s": calib,
    }
    if args.trace:
        layer = dict(r["trace"]["metrics"])
        layer.update({f"session.{k}": r["setup"][k] for k in ("jvm_boot_s", "start_s", "install_s")})
        layer["host.calib_s"] = statistics.mean(calib)
        layer["sources.input_mb"] = input_mb
        diag["rungs_s"] = r["trace"]["rungs"]
        diag["checks"] = r["trace"]["checks"]
        diag["op_conf"] = r["trace"]["op_conf"]
        diag["spans"] = r["trace"]["spans"]
        diag["layers"] = layer
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        e2e = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            "first_op_s": r["cold_s"],
            "op_p50_s": statistics.median(ops),
            "throughput_mb_s": input_mb * len(ops) / sum(ops),
            "ok_op_ratio": (attempted - failed) / attempted,
            "peak_live_mb": r["peak_live_mb"],
        }
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    with open(os.path.join(state, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(dict(diag, metrics=metrics), fh, indent=1)
    print("layerbench: " + json.dumps({k: diag[k] for k in
          ("workload", "seed", "nproc", "master", "heap", "jvm_flags", "op_tail",
           "host.calib_s", "setup_samples_s")}), file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
