#!/usr/bin/env python3
"""Benchmark runner for graft: one workload, one seed, one run.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from the checkout's sources when they
changed (sbt, cached under perfbench/.build), generates the workload's
inputs from the seed, runs `graftbench.Main` in one JVM with local[k],
checks its outputs, and prints as its last stdout line one JSON object
with keys correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. Everything a run writes lives under perfbench/.work and is
removed at exit.
"""
import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    md = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                           for f in fs)
        for f in files:
            md.update(f.encode())
            with open(f, "rb") as fh:
                md.update(fh.read())
    return md.hexdigest()


def build(root):
    """Compile engine and benchmark when their sources changed; return the
    runtime classpath."""
    out = os.path.join(HERE, ".build")
    srcs = [os.path.join(root, "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(root, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src", "main")]
    stamp = tree_hash(srcs)
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    subprocess.run(java_cmd(cp, 1024, os.path.join(out, "tmp")) +
                   ["graftbench.DumpOracles",
                    os.path.join(out, "oracle_sql.json")],
                   check=True, stdout=subprocess.DEVNULL, timeout=120)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, heap_mb, tmp):
    os.makedirs(tmp, exist_ok=True)
    # only the maximum is fixed: the heap grows as the run needs it, so
    # peak RSS follows the memory the program touches
    return (["java", f"-Xmx{heap_mb}m"] +
            [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
            [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
             "-Dspark.ui.enabled=false", "-cp", cp])


def host():
    """Cores and heap sized to this host: local[k] with k <= nproc, and a
    heap of a quarter of physical memory, between 1 and 2 GiB."""
    nproc = os.cpu_count() or 1
    mem_mb = 4096
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    return min(4, nproc), max(1024, min(2048, mem_mb // 4))


def _gen(args):
    import gen
    workload, seed, out = args
    gen.generate(workload, seed, out)
    return out


def file_hashes(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def input_counts(d):
    import pyarrow.parquet as pq
    rows = 0
    size = 0
    for f in os.listdir(d):
        p = os.path.join(d, f)
        size += os.path.getsize(p)
        if f.endswith(".parquet"):
            rows += pq.ParquetFile(p).metadata.num_rows
        elif f.endswith(".csv"):
            with open(p, "rb") as fh:
                rows += sum(1 for _ in fh)
    return rows, size


def generate(workload, seed, work):
    """Inputs for `seed`, made twice more to check that the same seed gives
    byte-identical files and the next seed different ones."""
    dirs = [os.path.join(work, n) for n in ("inputs", "same_seed", "next_seed")]
    jobs = [(workload, seed, dirs[0]), (workload, seed, dirs[1]),
            (workload, seed + 1, dirs[2])]
    with multiprocessing.get_context("fork").Pool(3) as pool:
        pool.map(_gen, jobs)
    h = [file_hashes(d) for d in dirs]
    for d in dirs[1:]:
        shutil.rmtree(d)
    return dirs[0], h[0] == h[1], h[0] != h[2]


def run(opts, cp, work):
    t0 = time.time()
    cores, heap = host()
    ready = os.path.join(work, "inputs.ready")
    args = ["--workload", opts.workload, "--seed", str(opts.seed),
            "--seconds", str(opts.seconds), "--trace", str(opts.trace),
            "--cores", str(cores), "--inputs", os.path.join(work, "inputs"),
            "--ready", ready, "--work", os.path.join(work, "engine"),
            "--out", os.path.join(work, "result.json"),
            "--t0", str(int(t0 * 1000))]
    if opts.workload == "analytics":
        args += ["--expected", os.path.join(work, "expected.tsv")]
    if opts.workload == "ingest_maintain":
        import gen
        args += ["--batches", str(gen.BATCHES)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # the JVM starts its session while the inputs are generated; it
        # reads them once the ready file exists
        proc = subprocess.Popen(
            java_cmd(cp, heap, os.path.join(work, "tmp")) +
            ["graftbench.Main"] + args,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            inputs, same_ok, diff_ok = generate(opts.workload, opts.seed, work)
            rows, size = input_counts(inputs)
            if opts.workload == "analytics":
                import oracle
                sql = json.load(open(os.path.join(HERE, ".build",
                                                  "oracle_sql.json")))
                exp = oracle.expected(sql, inputs, sorted(sql))
                with open(os.path.join(work, "expected.tsv"), "w") as f:
                    for name, (sha, n) in sorted(exp.items()):
                        f.write(f"{name}\t{sha}\t{n}\n")
            open(ready, "w").close()
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            # also on SIGTERM (see main) or a failed generation: the JVM
            # never outlives this run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write(open(log_path).read()[-6000:])
        fail(f"benchmark JVM exited with {code}")
    res_path = os.path.join(work, "result.json")
    res = json.load(open(res_path))
    res["info"]["jvm_exit_s"] = time.time() - os.path.getmtime(res_path)
    if int(res["failed"]):
        with open(log_path) as f:
            sys.stderr.writelines(l for l in f if "[perfbench]" in l)
    res["info"].update({"input_rows_generated": rows,
                        "input_bytes_generated": size,
                        "seed": opts.seed, "heap_mb": heap,
                        "same_seed_identical": same_ok,
                        "next_seed_differs": diff_ok})
    return res, same_ok and diff_ok


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opts = p.parse_args()
    # a terminated run unwinds through the finally blocks that stop the
    # JVM and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    for need in (spec_path, os.path.join(root, "build.sbt"),
                 os.path.join(root, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            fail(f"not a graft checkout: {need} is missing")
    spec = json.load(open(spec_path))
    if opts.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {opts.workload}")
    cp = build(root)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, inputs_ok = run(opts, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    key = "per_layer" if opts.trace else "end_to_end"
    declared = spec[key]
    units = {m["name"]: m["unit"] for m in declared}
    got = res[key]
    missing = [n for n in units if got.get(n) is None]
    if missing:
        fail(f"result lacks declared metrics: {missing}")
    detail = {k: res[k] for k in ("workload", "spark_version", "info",
                                  "by_kind", "p50_ms_by_name", "warmup_cycle_ms",
                                  "eager_job_sites", "unattributed_job_sites")}
    print(json.dumps(detail, sort_keys=True))
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(json.dumps({
        "correct": failed == 0 and inputs_ok,
        "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": got[n], "unit": units[n]} for n in units}}))


if __name__ == "__main__":
    main()
