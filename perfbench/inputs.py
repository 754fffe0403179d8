"""Seeded workload inputs: the floor_mix visit order, the txlog_dml op list
and the medallion_etl NeoWs feed days. Each is a pure function of the seed.
"""
import datetime
import json
import random

FLOOR_QUERIES = [
    "q16_scalars",           # Relational
    "q20_dedup_exact",       # Dedup
    "q33_text_fingerprint",  # TextAnalysis
    "q25_ann_brute",         # Similarity
    "q130_ols_trend",        # Analytics
    "q111_train_split",      # Datasets
]


def floor_order(seed: int, rounds: int = 40) -> list:
    """One seeded shuffle of FLOOR_QUERIES per round."""
    rng = random.Random(f"floor_mix/{seed}")
    out = []
    for _ in range(rounds):
        r = list(FLOOR_QUERIES)
        rng.shuffle(r)
        out.append(r)
    return out


# txlog_dml -------------------------------------------------------------
# No traffic trace exists for a TxLog table, in this repository or in the
# reference project, so the mix and the sizes below are assumptions, not
# measurements. Each is stated as a share of the 60,000-row seed table.
SEED_ROWS = 60000           # sf0.01 lineitem (tables.TXLOG_SCALE)
from tables import BUCKET_ROWS  # noqa: E402  (ids per `bucket` partition)
WRITES = ["append", "update", "delete", "merge"]
READS = ["read_where", "read_asof", "changes"]   # plus read_latest after each commit
APPEND_ROWS = 500           # a small batch: 0.8 % of the table
MERGE_ROWS = 200            # upsert source: 200 matched and 200 new rows
UPDATE_SPAN = 3000          # ids scanned (5 %); every third one is updated
DELETE_SPAN = 200           # 0.3 % of the table
READ_SPAN = 5000            # a range read over 8 % of the ids
CHECKPOINT_EVERY = 2        # data commits between checkpoints
RETAIN_VERSIONS = 4         # VACUUM keeps what the last 4 versions reference


def txlog_warmup(seed: int) -> list:
    """Each verb of one seeded round once, in that round's order."""
    seen, out = set(), []
    for o in txlog_ops(seed, rounds=1, tag="warmup")[0]:
        if o["verb"] not in seen:
            seen.add(o["verb"])
            out.append(o)
    return [out]


def txlog_ops(seed: int, rounds: int = 30, tag: str = "run") -> list:
    """Rounds of ops. Each round holds each of the seven verbs once, in a
    seeded order, then an OPTIMIZE of the appended tail partitions and a
    VACUUM. Every commit (the four writes and OPTIMIZE) is followed by a
    `read_latest` of the new snapshot, which is also its correctness check,
    and every second data commit by a checkpoint. So a round has 4 writes
    and 8 reads. As-of reads and change feeds reach at most
    RETAIN_VERSIONS - 1 versions back, so VACUUM never removes a file they
    need."""
    rng = random.Random(f"txlog_dml/{tag}/{seed}")
    next_id = SEED_ROWS
    salt = 0
    out = []
    for _ in range(rounds):
        verbs = WRITES + READS
        rng.shuffle(verbs)
        ops = []
        commits = 0
        for v in verbs:
            live_hi = next_id - 1
            if v == "append":
                ops.append({"verb": v, "new_lo": next_id, "new_hi": next_id + APPEND_ROWS - 1})
                next_id += APPEND_ROWS
            elif v == "update":
                lo = rng.randrange(0, live_hi - UPDATE_SPAN)
                ops.append({"verb": v, "id_lo": lo, "id_hi": lo + UPDATE_SPAN - 1})
            elif v == "delete":
                lo = rng.randrange(0, live_hi - DELETE_SPAN)
                ops.append({"verb": v, "id_lo": lo, "id_hi": lo + DELETE_SPAN - 1})
            elif v == "merge":
                salt += 1
                lo = rng.randrange(0, live_hi - MERGE_ROWS)
                ops.append({"verb": v, "salt": salt, "old_lo": lo, "old_hi": lo + MERGE_ROWS - 1,
                            "new_lo": next_id, "new_hi": next_id + MERGE_ROWS - 1})
                next_id += MERGE_ROWS
            elif v == "read_where":
                lo = rng.randrange(0, live_hi - READ_SPAN)
                ops.append({"verb": v, "id_lo": lo, "id_hi": lo + READ_SPAN - 1})
            else:
                ops.append({"verb": v, "back": rng.randint(1, RETAIN_VERSIONS - 1)})
            if v in WRITES:
                ops.append({"verb": "read_latest"})
                commits += 1
                if commits % CHECKPOINT_EVERY == 0:
                    ops.append({"verb": "checkpoint"})
        ops += [{"verb": "optimize", "bucket_lo": SEED_ROWS // BUCKET_ROWS},
                {"verb": "read_latest"},
                {"verb": "vacuum", "retain": RETAIN_VERSIONS}]
        out.append(ops)
    return out


# medallion_etl ---------------------------------------------------------
ASTEROIDS_PER_DAY = 2500   # 12.5x the reference's ~200 a day
HISTORY_ASTEROIDS = 200    # the fixture day each run builds three times: the reference's daily size


def _approach(rng, day, body, bad_numeric=False, null_date=False):
    hh, mm = rng.randrange(24), rng.randrange(60)
    when = datetime.datetime(day.year, day.month, day.day, hh, mm,
                             tzinfo=datetime.timezone.utc)
    kps = rng.uniform(1.0, 40.0)
    au = rng.uniform(0.001, 0.5)
    a = {
        "close_approach_date": day.isoformat(),
        "close_approach_date_full": when.strftime("%Y-%b-%d %H:%M"),
        "epoch_date_close_approach": int(when.timestamp()) * 1000,
        "relative_velocity": {
            "kilometers_per_second": "not-a-number" if bad_numeric else f"{kps:.10f}",
            "kilometers_per_hour": f"{kps * 3600:.10f}",
            "miles_per_hour": f"{kps * 2236.936:.10f}"},
        "miss_distance": {
            "astronomical": f"{au:.10f}",
            "lunar": f"{au * 389.17:.10f}",
            "kilometers": "garbage" if bad_numeric else f"{au * 149597870.7:.9f}",
            "miles": f"{au * 92955807.3:.10f}"},
        "orbiting_body": body}
    if null_date:
        del a["close_approach_date"]
    return a


def neows_day(seed: int, index: int, day: datetime.date, n: int = ASTEROIDS_PER_DAY):
    """One feed day in the NeoWs shape (see the feed_basic.json and
    feed_edge_cases.json test fixtures), with the fixtures' edge cases mixed
    in: multiple approaches (only the first survives), an empty approach
    list, non-numeric velocity and distance, a missing approach date, and
    the same asteroid listed twice. Returns (document, expected), where
    expected holds the per-day facts the checks need."""
    rng = random.Random(f"medallion_etl/{seed}/{index}")
    objs = []
    for i in range(n):
        if objs and rng.random() < 0.01:
            objs.append(objs[rng.randrange(len(objs))])
            continue
        aid = str(2000000 + index * 100000 + i)
        km_min = rng.uniform(0.001, 2.0)
        kind = rng.random()
        body = "Mars" if rng.random() < 0.01 else "Earth"
        if kind < 0.01:
            approaches = []
        elif kind < 0.03:
            approaches = [_approach(rng, day, body),
                          _approach(rng, day + datetime.timedelta(days=5), "Venus")]
        else:
            approaches = [_approach(rng, day, body, bad_numeric=kind < 0.04,
                                    null_date=0.04 <= kind < 0.05)]
        objs.append({
            "id": aid, "neo_reference_id": aid,
            "name": f"({day.year} {chr(65 + i % 26)}{chr(65 + (i // 26) % 26)}{i % 1000})",
            "nasa_jpl_url": f"https://ssd.jpl.nasa.gov/tools/sbdb_lookup.html#/?sstr={aid}",
            "absolute_magnitude_h": round(rng.uniform(15.0, 30.0), 2),
            "is_potentially_hazardous_asteroid": rng.random() < 0.1,
            "is_sentry_object": rng.random() < 0.05,
            "estimated_diameter": {
                "kilometers": {"estimated_diameter_min": round(km_min, 6),
                               "estimated_diameter_max": round(km_min * 2.2, 6)},
                "meters": {"estimated_diameter_min": round(km_min * 1000, 3),
                           "estimated_diameter_max": round(km_min * 2200, 3)}},
            "close_approach_data": approaches})
    doc = {"element_count": len(objs), "near_earth_objects": {day.isoformat(): objs}}
    return doc, expected_of(objs)


def _num(s):
    try:
        return float(s)
    except ValueError:
        return None


def expected_of(objs) -> dict:
    """Facts of one day that silver, gold and the catalog must reproduce."""
    first = [o["close_approach_data"][0] if o["close_approach_data"] else None for o in objs]
    distinct = {o["id"]: o for o in objs}
    rows = []
    for o, a in zip(objs, first):
        rows.append({
            "asteroid_id": o["id"],
            "body": a["orbiting_body"] if a else None,
            "date": a.get("close_approach_date") if a else None,
            "kps": _num(a["relative_velocity"]["kilometers_per_second"]) if a else None,
            "km": _num(a["miss_distance"]["kilometers"]) if a else None})
    return {
        "silver_rows": len(objs),
        "dim_asteroid": len(distinct),
        "hazardous": sum(1 for o in distinct.values() if o["is_potentially_hazardous_asteroid"]),
        "sentry": sum(1 for o in distinct.values() if o["is_sentry_object"]),
        "dim_date": len({r["date"] for r in rows if r["date"]}),
        "dim_celestial_body": len({r["body"] for r in rows if r["body"]}),
        "rows": rows}


def medallion_days(seed: int, count: int, out_dir: str) -> list:
    """Write a history day and `count` feed days under out_dir, one JSON
    document each; returns [{date, path, batch, expected}]."""
    base = datetime.date(2026, 1, 1) + datetime.timedelta(days=seed % 300)
    days = []
    for i in range(count + 1):
        day = base + datetime.timedelta(days=i)
        doc, exp = neows_day(seed, i, day, HISTORY_ASTEROIDS if i == 0 else ASTEROIDS_PER_DAY)
        path = f"{out_dir}/{day.isoformat()}.json"
        with open(path, "w") as f:
            json.dump(doc, f)
        days.append({"date": day.isoformat(), "path": path, "batch": i + 1, "expected": exp})
    return days


# Passes over CATALOG_QUERIES after each day: two, so a run of two days
# has 28 catalog latencies for its medians.
CATALOG_PASSES = 2
CATALOG_QUERIES = [
    {"name": "fact_counts",
     "sql": "SELECT count(*) AS n, count(velocity_km_s) AS nv, count(miss_distance_km) AS nm "
            "FROM fact_asteroid_approach"},
    {"name": "by_body",
     "sql": "SELECT b.approaching_body, count(*) AS n FROM fact_asteroid_approach f "
            "JOIN (SELECT DISTINCT celestial_body_id, approaching_body FROM dim_celestial_body) b "
            "ON f.celestial_body_id = b.celestial_body_id "
            "GROUP BY b.approaching_body ORDER BY b.approaching_body"},
    {"name": "closest",
     "sql": "SELECT asteroid_id, miss_distance_km FROM fact_asteroid_approach "
            "WHERE miss_distance_km IS NOT NULL ORDER BY miss_distance_km, asteroid_id LIMIT 5"},
    {"name": "hazardous",
     "sql": "SELECT count(*) AS n, sum(CASE WHEN is_hazardous THEN 1 ELSE 0 END) AS h "
            "FROM dim_asteroid"},
    {"name": "dates",
     "sql": "SELECT count(*) AS n, CAST(min(approach_date) AS STRING) AS lo, "
            "CAST(max(approach_date) AS STRING) AS hi FROM dim_date"},
    {"name": "sentry",
     "sql": "SELECT count(*) AS n FROM dim_asteroid WHERE is_sentry"},
    {"name": "by_month",
     "sql": "SELECT d.year, d.month, count(*) AS n FROM fact_asteroid_approach f "
            "JOIN (SELECT DISTINCT date_id, year, month FROM dim_date) d ON f.date_id = d.date_id "
            "GROUP BY d.year, d.month ORDER BY d.year, d.month"},
]


def catalog_answers(expected_days: list) -> dict:
    """Expected catalog answers after the given days (cumulative)."""
    rows = [r for d in expected_days for r in d["rows"]]
    bodies = {}
    months = {}
    for r in rows:
        if r["body"]:
            bodies[r["body"]] = bodies.get(r["body"], 0) + 1
        if r["date"]:
            ym = (int(r["date"][:4]), int(r["date"][5:7]))
            months[ym] = months.get(ym, 0) + 1
    with_km = sorted((r["km"], r["asteroid_id"]) for r in rows if r["km"] is not None)
    return {
        "fact_counts": [[len(rows), sum(r["kps"] is not None for r in rows),
                         sum(r["km"] is not None for r in rows)]],
        "by_body": [[b, n] for b, n in sorted(bodies.items())],
        "closest": [[a, km] for km, a in with_km[:5]],
        "hazardous": [[sum(d["dim_asteroid"] for d in expected_days),
                       sum(d["hazardous"] for d in expected_days)]],
        "dates": [[sum(d["dim_date"] for d in expected_days),
                   min(r["date"] for r in rows if r["date"]),
                   max(r["date"] for r in rows if r["date"])]],
        "sentry": [[sum(d["sentry"] for d in expected_days)]],
        "by_month": [[y, m, n] for (y, m), n in sorted(months.items())],
    }
