#!/usr/bin/env python3
"""Run one benchmark workload with one seed and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload floor_mix --seed 1 --seconds 10 --trace 0

Builds the program from the live tree if needed (see build.py), makes the
seeded inputs, runs the workload in one JVM (`local[N]`, N per workload in CORES),
checks every output, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The line before it
records the host (nproc, load average at start and end, a CPU calibration
loop time); no metric is ever scaled by it. Exits non-zero on any failed
or wrong operation.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import tables  # noqa: E402
import txmodel  # noqa: E402

WORKLOADS = ["floor_mix", "txlog_dml", "medallion_etl"]
# Rounds every run measures even when `--seconds` is up sooner, so each
# run's medians rest on enough samples: floor_mix 36 queries, txlog_dml 16
# reads (and at least 4 checkpoints and 2 VACUUMs), medallion_etl 28
# catalog queries. At `--seconds 8` every run measures exactly these
# rounds: floor_mix round times still fall slowly from round to round, so
# a run that fits in more rounds would report a lower median.
MIN_ROUNDS = {"floor_mix": 6, "txlog_dml": 2, "medallion_etl": 2}
# Task slots (local[N]). Fewer slots than vCPUs leave room for the driver
# thread, JIT and GC: on a shared 4-vCPU host, local[4] spread floor_mix
# run medians by ~45 % and local[1] by ~8 %; txlog_dml and medallion_etl,
# which do some data work, were steadiest at local[2].
CORES = {"floor_mix": 1, "txlog_dml": 2, "medallion_etl": 2}
SCALE = 0.1           # floor_mix tables
TXLOG_SCALE = 0.01    # the txlog_dml seed is this scale's lineitem
JVM_DEADLINE_S = 150


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: a CPU speed reading that does
    not touch the engine. Recorded beside the metrics, never applied."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def run_jvm(cp, cfg_path, work, archive, deadline):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.jvm_command(cp, [cfg_path], os.path.join(work, "tmp"), archive=archive)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=build.ROOT)
    try:
        out, err = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError("JVM run exceeded its deadline")
    if proc.returncode != 0:
        raise RuntimeError(f"JVM exited {proc.returncode}:\n{(out + err)[-3000:]}")


def ensure_archive(cp, data_dir, bench_dir):
    """Class-data-sharing archive from a short training run (one floor
    query); built once per benchmark build."""
    archive = os.path.join(bench_dir, "app.jsa")
    if os.path.isfile(archive):
        return archive
    work = os.path.join(bench_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = {"workload": "floor_mix", "seconds": 0, "trace": 1, "cores": 1,
           "data_dir": data_dir, "work_dir": work, "out": os.path.join(work, "out.json"),
           "program_jar": cp[1], "queries": ["q16_scalars"], "order": [["q16_scalars"]]}
    path = os.path.join(work, "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.jvm_command(cp, [path], os.path.join(work, "tmp"), dump_archive=archive + ".tmp")
    subprocess.run(cmd, capture_output=True, cwd=build.ROOT, timeout=300)
    if os.path.isfile(archive + ".tmp"):
        os.rename(archive + ".tmp", archive)
    else:
        print("perfbench: no CDS archive; JVMs start without it", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    return archive


def workload_config(name, seed, work):
    """Seeded inputs for one workload; returns (config additions, check state)."""
    if name == "floor_mix":
        return {"queries": inputs.FLOOR_QUERIES, "order": inputs.floor_order(seed)}, {}
    if name == "txlog_dml":
        rounds = inputs.txlog_ops(seed)
        seed_dir = tables.ensure(os.path.join(build.BUILD, f"data-sf{TXLOG_SCALE}"), TXLOG_SCALE)
        return ({"seed_path": os.path.join(seed_dir, tables.TXLOG_SEED),
                 "bucket_rows": tables.BUCKET_ROWS, "rounds": rounds,
                 "warmup": inputs.txlog_warmup(seed)},
                {"rounds": rounds, "seed_path": os.path.join(seed_dir, tables.TXLOG_SEED)})
    bronze = os.path.join(work, "bronze")
    os.makedirs(bronze)
    days = inputs.medallion_days(seed, 5, bronze)
    strip = lambda d: {k: d[k] for k in ("date", "path", "batch")}
    return ({"history": [strip(days[0])], "days": [strip(d) for d in days[1:]],
             "queries": inputs.CATALOG_QUERIES, "passes": inputs.CATALOG_PASSES},
            {"history": days[0], "days": days[1:]})


def check(name, rec, state, work, data_dir):
    """Returns (errors, extra facts for the per-layer metrics)."""
    if name == "floor_mix":
        return checks.floor_oracle(os.path.join(work, "results"), data_dir,
                                   rec["workload"]["oracle_sql"], inputs.FLOOR_QUERIES), {}
    if name == "txlog_dml":
        ops = [o for r in state["rounds"][:rec["measure"]["rounds"]] for o in r]
        seed_df = pd.read_parquet(state["seed_path"])
        return txmodel.check(seed_df, ops, rec, rec["workload"]["seed_bytes"])
    days = state["days"][:rec["measure"]["rounds"]]
    errors = checks.medallion(days, state["history"], rec)
    cs = rec["workload"]["checks"]
    return errors, {"records_per_day": [d["expected"]["silver_rows"] for d in days],
                    "bytes_per_day": [b["bytes"] - a["bytes"] for a, b in zip(cs, cs[1:])]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="also write the raw JVM record (JSON) to this path")
    a = ap.parse_args()
    deadline = time.time() + JVM_DEADLINE_S
    host = {"nproc": os.cpu_count(), "load_start": os.getloadavg()[0],
            "calibration_s": calibrate()}
    if not os.path.isdir(os.path.join(build.ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no program sources (src/main/scala) next to the benchmark")
    data_dir = tables.ensure(os.path.join(build.BUILD, f"data-sf{SCALE}"), SCALE)
    try:
        cp = build.classpath()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    archive = ensure_archive(cp, data_dir, os.path.dirname(cp[0]))
    deadline = max(deadline, time.time() + JVM_DEADLINE_S)  # a first run also builds

    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra_cfg, state = workload_config(a.workload, a.seed, work)
        cfg = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
               "min_rounds": MIN_ROUNDS[a.workload],
               "cores": min(CORES[a.workload], os.cpu_count() or 1), "data_dir": data_dir, "work_dir": work,
               "out": os.path.join(work, "record.json"), "program_jar": cp[1], **extra_cfg}
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        run_jvm(cp, cfg_path, work, archive, deadline)
        with open(cfg["out"]) as f:
            rec = json.load(f)
        if a.record:
            shutil.copy(cfg["out"], a.record)
        errors, extra = check(a.workload, rec, state, work, data_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"]) + len(errors)
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"op {o['id']} {o['name']} failed: {o['error']}", file=sys.stderr)
    for e in errors:
        print(f"wrong output: {e}", file=sys.stderr)
    extra["failed_ratio"] = failed / max(1, attempted)
    if a.trace:
        values, units = metrics.per_layer(rec, extra), metrics.PER_LAYER
    else:
        values, units = metrics.end_to_end(rec), metrics.END_TO_END
    host["load_end"] = os.getloadavg()[0]
    print("host " + json.dumps(host))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
