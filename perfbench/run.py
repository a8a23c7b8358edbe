#!/usr/bin/env python3
"""Benchmark of the retail ETL engine: two closed-loop workloads, one client.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 1

Each run builds the program if needed (perfbench/build.py), cuts the seeded
top-up deltas out of the stored testdata tables (perfbench/data), runs the
workload in one JVM on local[nproc], checks every output against the stored
oracle checksums (perfbench/oracle) and prints, as its last line, one JSON
object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Any output mismatch makes
`correct` false and the exit code 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["nightly_batch", "daytime_mix"]
# testdata scale factor each workload reads (perfbench/data/<sf>)
SCALE = {"nightly_batch": "sf0.01", "daytime_mix": "sf0.001"}
# daytime_mix cuts the orders into this many top-up delta files: one for
# the untimed first round, the rest for timed rounds
DELTAS = 10
HEAP = "3g"
RUN_LIMIT_S = 170


def health_sample():
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return steal * 1000 // os.sysconf("SC_CLK_TCK")


def canary_ms():
    """Best of three timings of a fixed single-thread spin: a slow host reads
    high here while the program's code is unchanged."""
    best = None
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x = (x + i * i) & 0xFFFF
        ms = (time.perf_counter() - t) * 1e3
        best = ms if best is None else min(best, ms)
    return best


def split_deltas(orders_path, out, seed, parts):
    """Cut the orders into `parts` delta files of seeded, disjoint order
    sets, named in landing order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    orders = pq.read_table(orders_path)
    perm = np.random.default_rng(seed).permutation(orders.num_rows)
    os.makedirs(out, exist_ok=True)
    for k, chunk in enumerate(np.array_split(perm, parts)):
        pq.write_table(orders.take(pa.array(np.sort(chunk))), f"{out}/orders_{k:05d}.parquet")


def run_one(root, workload, seed, seconds, trace, deadline):
    classes = build.build()
    work = os.path.join(root, ".bench_build", "perfbench", "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(HERE, "data", SCALE[workload])
    deltas = os.path.join(work, "deltas")
    try:
        os.makedirs(deltas)
        if workload == "daytime_mix":
            split_deltas(os.path.join(data, "orders.parquet"), deltas, seed, DELTAS)

        cores = len(os.sched_getaffinity(0))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *build.JVM_OPENS,
               "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
               f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
               "-cp", build.classpath(classes), "perfbench.Main",
               "--workload", workload, "--data", data, "--deltas", deltas, "--work", work,
               "--oracle", os.path.join(HERE, "oracle", f"{SCALE[workload]}.txt"),
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
               "--cores", str(cores)]
        log_path = os.path.join(root, ".bench_build", "perfbench", f"{workload}.log")
        steal0, canary0, load0 = health_sample(), canary_ms(), os.getloadavg()
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
            try:
                out, _ = p.communicate(timeout=max(deadline - time.monotonic(), 1))
            except subprocess.TimeoutExpired:
                raise RuntimeError(f"{workload}: time limit reached; log in {log_path}")
            finally:
                if p.poll() is None:
                    p.kill()
                p.wait()
        steal1, canary1 = health_sample(), canary_ms()
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if p.returncode != 0 or not lines:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"{workload}: JVM exited {p.returncode}\n{tail}")
        res = json.loads(lines[-1][len("PERFBENCH "):])
        res["health"] = {"host_steal_ms": steal1 - steal0,
                         "canary_ms": [round(canary0, 3), round(canary1, 3)],
                         "loadavg": list(load0), "nproc": cores}
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(res):
    """Human-readable lines: every metric by name and unit."""
    w = res["workload"]
    print(f"== {w}: attempted={res['attempted']} failed={res['failed']} "
          f"timed_rounds={res['rounds_timed']} setup_runs_s={res['setup_runs_s']}")
    for group in ("end_to_end", "extra", "per_layer"):
        for k, m in sorted(res[group].items()) if group == "per_layer" else res[group].items():
            print(f"   {w} {k} = {m['value']:.6g} {m['unit']}")
    for e in res["errors"]:
        print(f"   {w} MISMATCH {e}")
    print(f"   {w} health {json.dumps(res['health'])}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally above)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit(f"perfbench: no program sources at {root}/src/main/scala")
    start = time.monotonic()
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    try:
        for w in workloads:
            deadline = start + RUN_LIMIT_S * (len(results) + 1)
            results.append(run_one(root, w, a.seed, a.seconds, a.trace == 1, deadline))
            report(results[-1])
    except Exception as e:  # no result line: the run did not complete
        sys.exit(f"perfbench: {e}")
    group = "per_layer" if a.trace else "end_to_end"
    if len(results) == 1:
        metrics = results[0][group]
    else:
        metrics = {f"{r['workload']}.{k}": m for r in results for k, m in r[group].items()}
    correct = all(r["correct"] for r in results)
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
