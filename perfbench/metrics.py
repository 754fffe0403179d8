"""Reduce one JVM run record to end-to-end and per-layer metrics.

End-to-end metrics come from the ops of an untraced run. Per-layer metrics
come from the spans, jobs, tasks, Catalyst phases and counters of a traced
run, averaged per operation of the workload.
"""
import math
import statistics

MIB = 1 << 20

# Read-only operations per workload: what query_* and queries_per_s count.
READ_KINDS = {"query", "read", "catalog"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Nearest-rank p-quantile, reported only when at least ten samples
    lie beyond it; otherwise the median."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, math.ceil(p * len(s)) - 1)
    if len(s) - (k + 1) < 10:
        return statistics.median(s)
    return s[k]


def union_length(intervals) -> float:
    """Total length covered by a set of [t0, t1] intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(root, children) -> dict:
    """Exclusive attribution of the root interval's wall time.

    `root` is (t0, t1); `children` is a list of (layer, depth, t0, t1).
    At every instant the time goes to the deepest child span covering it
    (ties: the later-listed span), else to the root, named "root". So a
    layer's self time is its span minus the part deeper spans cover, and
    overlapping siblings are never counted twice: the values sum to the
    root's wall time.
    """
    lo, hi = root
    spans = [(d, i, l, max(a, lo), min(b, hi)) for i, (l, d, a, b) in enumerate(children)
             if min(b, hi) > max(a, lo)]
    cuts = sorted({lo, hi, *[s[3] for s in spans], *[s[4] for s in spans]})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        live = [s for s in spans if s[3] <= a and s[4] >= b]
        layer = max(live)[2] if live else "root"
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def idle_time(jobs, tasks) -> float:
    """Wall time inside the given job intervals during which no task ran."""
    busy = union_length(jobs)
    covered = union_length(list(_intersect(jobs, tasks)))
    return busy - covered


def _intersect(a_list, b_list):
    for a0, a1 in a_list:
        for b0, b1 in b_list:
            lo, hi = max(a0, b0), min(a1, b1)
            if hi > lo:
                yield (lo, hi)


def end_to_end(rec: dict) -> dict:
    ops = rec["ops"]
    reads = [o["t1"] - o["t0"] for o in ops if o["kind"] in READ_KINDS]
    rounds = {}
    for o in ops:
        rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["t1"] - o["t0"]
    span = rec["measure"]["t1"] - rec["measure"]["t0"]
    return {
        "setup_s": rec["setup"]["setup_s"],
        "peak_rss_mb": rec["peak_rss_mb"],
        "query_p50_s": median(reads),
        "query_p90_s": percentile(reads, 0.9),
        "queries_per_s": len(reads) / span if span > 0 else 0.0,
        "round_s": median(list(rounds.values())),
    }


PHASE_LAYER = {"parsing": "plans.analysis", "analysis": "plans.analysis",
               "optimization": "plans.optimization", "planning": "plans.planning"}


def per_op_trace(rec: dict) -> dict:
    """op id -> {"children": [(layer, depth, t0, t1)], "jobs": [...], "tasks": [...], ...}."""
    ops = {o["id"]: o for o in rec["ops"]}
    out = {i: {"children": [], "jobs": [], "tasks": [], "stages": 0, "files": 0}
           for i in ops}
    for s in rec["spans"]:
        if s["op"] in out:
            layer = s["layer"]
            out[s["op"]]["children"].append((layer, 1, s["t0"], s["t1"]))
    starts = {}
    for j in rec["jobs"]:
        if j["event"] == "start":
            starts[j["job"]] = j
    for j in rec["jobs"]:
        if j["event"] == "end" and j["job"] in starts and starts[j["job"]]["op"] in out:
            st = starts[j["job"]]
            out[st["op"]]["jobs"].append((st["t"], j["t"]))
            out[st["op"]]["children"].append(("exec.job", 3, st["t"], j["t"]))
    for s in rec["stages"]:
        if s["op"] in out:
            out[s["op"]]["stages"] += 1
    for t in rec["tasks"]:
        if t["op"] in out:
            out[t["op"]]["tasks"].append(t)
    # Catalyst phases carry no op id: they belong to the op whose wall
    # contains them (one closed-loop client, so ops never overlap).
    spans = sorted((o["t0"], o["t1"], i) for i, o in ops.items())
    for q in rec["queries"]:
        ph = q["phases"]
        if not ph:
            continue
        mid = min(p["t0"] for p in ph.values())
        owner = next((i for a, b, i in spans if a - 1e-3 <= mid <= b + 1e-3), None)
        if owner is None:
            continue
        out[owner]["files"] += q["files"]
        for name, p in ph.items():
            out[owner]["children"].append((PHASE_LAYER.get(name, "plans.analysis"), 2,
                                           p["t0"], p["t1"]))
    return out


# Exclusive ("self") time buckets: every op's wall time splits into these.
SELF_BUCKET = {"root": "self.client_s", "build": "self.build_s", "action": "self.action_s",
               "plans.analysis": "self.analysis_s", "plans.optimization": "self.optimization_s",
               "plans.planning": "self.planning_s", "exec.job": "self.jobs_s"}


def self_bucket(layer: str) -> str:
    if layer in SELF_BUCKET:
        return SELF_BUCKET[layer]
    return "self.txlog_s" if layer.startswith("txlog.") else "self.etl_s"


END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "query_p50_s": "s", "query_p90_s": "s",
              "queries_per_s": "1/s", "round_s": "s"}

_COUNT = ("operators.build_jobs", "codegen.classes", "exec.jobs", "exec.stages", "exec.tasks",
          "exec.files_read", "txlog.jobs_per_commit", "txlog.files_added",
          "txlog.files_removed", "etl.jobs_per_day")
_NAMES = [
    "operators.build_s", "operators.build_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "codegen.classes", "codegen.compile_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.idle_s", "exec.sched_delay_s",
    "exec.task_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.files_read",
    "jvm.gc_s",
    "txlog.append_s", "txlog.update_s", "txlog.delete_s", "txlog.merge_s",
    "txlog.jobs_per_commit", "txlog.files_added", "txlog.files_removed",
    "txlog.bytes_written_mb", "txlog.commit_p50_s", "txlog.commit_p90_s", "txlog.write_amp",
    "txlog.read_s", "txlog.read_where_s", "txlog.read_asof_s", "txlog.changes_s",
    "txlog.files_skipped_ratio",
    "txlog.snapshot_s", "txlog.checkpoint_s", "txlog.optimize_s", "txlog.vacuum_s",
    "etl.bronze_to_silver_s", "etl.silver_to_gold_s", "etl.catalog_register_s",
    "etl.catalog_query_s", "etl.catalog_query_p50_s", "etl.jobs_per_day",
    "etl.bytes_written_mb", "etl.day_s", "etl.records_per_s",
    "self.op_s", "self.client_s", "self.build_s", "self.action_s", "self.analysis_s",
    "self.optimization_s", "self.planning_s", "self.jobs_s", "self.txlog_s", "self.etl_s",
    "failed_ratio", "traced.query_p50_s", "traced.round_s",
]


def _unit(name: str) -> str:
    if name in _COUNT:
        return "count"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return {"txlog.write_amp": "bytes/bytes", "txlog.files_skipped_ratio": "files/files",
            "failed_ratio": "ops/ops"}[name]


PER_LAYER = {k: _unit(k) for k in _NAMES}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec: dict, extra: dict) -> dict:
    """Per-operation layer metrics of a traced run. `extra` carries what the
    checks derived: txlog rows changed and prune counts, medallion records
    and bytes per day, and the failed ratio."""
    ops = rec["ops"]
    n = len(ops) or 1
    tr = per_op_trace(rec)
    m = {k: 0.0 for k in PER_LAYER}

    def add(k, v):
        m[k] += v / n

    for o in ops:
        t = tr[o["id"]]
        kids = t["children"]
        for layer, d, a, b in kids:
            if layer == "build":
                add("operators.build_s", b - a)
            elif layer.startswith("plans."):
                add(layer + "_s", b - a)
        for bucket_layer, v in self_times((o["t0"], o["t1"]), kids).items():
            add(self_bucket(bucket_layer), v)
        add("self.op_s", o["t1"] - o["t0"])
        builds = [(a, b) for layer, d, a, b in kids if layer == "build"]
        add("operators.build_jobs", sum(1 for a, b in t["jobs"]
                                        if any(x <= a and b <= y + 1e-3 for x, y in builds)))
        add("exec.jobs", len(t["jobs"]))
        add("exec.stages", t["stages"])
        add("exec.tasks", len(t["tasks"]))
        add("exec.files_read", t["files"])
        intervals = [(x["launch"], x["finish"]) for x in t["tasks"]]
        add("exec.idle_s", idle_time(t["jobs"], intervals))
        for x in t["tasks"]:
            if "run_s" in x:
                add("exec.task_s", x["run_s"])
                add("exec.sched_delay_s", max(0.0, x["finish"] - x["launch"] - x["run_s"]
                                              - x["overhead_s"]))
                add("exec.shuffle_read_mb", x["shuffle_read_b"] / MIB)
                add("exec.shuffle_write_mb", x["shuffle_write_b"] / MIB)
                add("exec.spill_mb", x["spill_b"] / MIB)
        c = o.get("counters", {})
        add("codegen.classes", c.get("codegen_classes", 0.0))
        add("codegen.compile_s", c.get("codegen_compile_s", 0.0))
        add("jvm.gc_s", c.get("gc_s", 0.0))

    def wall(o):
        return o["t1"] - o["t0"]

    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(wall(o))
    for verb in ["append", "update", "delete", "merge", "read_where", "read_asof", "changes",
                 "checkpoint", "optimize", "vacuum"]:
        m[f"txlog.{verb}_s"] = _mean(by_name.get(verb, []))
    commits = [o for o in ops if o["kind"] == "commit"]
    if commits:
        m["txlog.commit_p50_s"] = median([wall(o) for o in commits])
        m["txlog.commit_p90_s"] = percentile([wall(o) for o in commits], 0.9)
        m["txlog.jobs_per_commit"] = _mean([len(tr[o["id"]]["jobs"]) for o in commits])
    m["txlog.read_s"] = _mean(by_name.get("read_latest", []))
    cs = [c for c in rec["workload"].get("commits", []) if c.get("op", -1) >= 0 and "version" in c]
    if cs:
        m["txlog.files_added"] = _mean([c.get("files_added", 0) for c in cs])
        m["txlog.files_removed"] = _mean([c.get("files_removed", 0) for c in cs])
        m["txlog.bytes_written_mb"] = _mean([c["bytes_new"] / MIB for c in cs])
        m["txlog.snapshot_s"] = _mean([c.get("snapshot_s", 0.0) for c in cs])
        changed = extra.get("rows_changed", {})
        user = sum(changed.values()) * extra.get("bytes_per_row", 0.0)
        if user > 0:
            m["txlog.write_amp"] = sum(c["bytes_new"] for c in cs
                                       if c["op"] in changed) / user
    pr = list(extra.get("prune", {}).values())
    files = sum(p["kept"] + p["skipped"] for p in pr)
    if files:
        m["txlog.files_skipped_ratio"] = sum(p["skipped"] for p in pr) / files

    days = [o for o in ops if o["kind"] == "day"]
    if days:
        for stage in ["bronze_to_silver", "silver_to_gold", "catalog_register"]:
            m[f"etl.{stage}_s"] = _mean([b - a for o in days for layer, d, a, b
                                         in tr[o["id"]]["children"] if layer == f"etl.{stage}"])
        m["etl.day_s"] = median([wall(o) for o in days])
        m["etl.jobs_per_day"] = _mean([len(tr[o["id"]]["jobs"]) for o in days])
        records = extra.get("records_per_day", [])
        if records:
            m["etl.records_per_s"] = sum(records[:len(days)]) / sum(wall(o) for o in days)
        m["etl.bytes_written_mb"] = _mean(extra.get("bytes_per_day", [])) / MIB
    cat = [wall(o) for o in ops if o["kind"] == "catalog"]
    m["etl.catalog_query_s"] = _mean(cat)
    m["etl.catalog_query_p50_s"] = median(cat)

    m["failed_ratio"] = extra.get("failed_ratio", 0.0)
    e2e = end_to_end(rec)
    m["traced.query_p50_s"] = e2e["query_p50_s"]
    m["traced.round_s"] = e2e["round_s"]
    return m
