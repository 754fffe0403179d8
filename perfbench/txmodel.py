"""Plain-DataFrame (pandas) model of the txlog_dml workload.

Replays the seeded op list on a pandas copy of the seed table and checks
what the JVM recorded: for every read the count and hash of what it
returned, for the `read_latest` that follows every commit the model at the
new version, for every as-of read the model at that version, for every change feed that
folding it onto the older snapshot gives the newer one, and that VACUUM
deleted files over the run. The row formula
(`rows`) and the hash (`hash_rows`) mirror `TxlogDml.scala` exactly.
"""
import numpy as np
import pandas as pd

P = 2147483647
EPOCH = np.datetime64("1970-01-01", "D")
SHIP0 = (np.datetime64("1995-01-02", "D") - EPOCH).astype(np.int64)


def rows(lo: int, hi: int, salt: int) -> pd.DataFrame:
    """Rows for ids [lo, hi]; mirrors TxlogDml.rows."""
    i = np.arange(lo, hi + 1, dtype=np.int64)
    k = i + salt
    return pd.DataFrame({
        "l_orderkey": (k * 7919) % 150000,
        "l_partkey": (k * 104729) % 20000,
        "l_suppkey": k % 1000,
        "l_linenumber": k % 7 + 1,
        "l_quantity": (k % 50 + 1).astype(np.float64),
        "l_extendedprice": ((k * 37) % 104100 + 900).astype(np.float64),
        "l_discount": (k % 11).astype(np.float64) / 100.0,
        "l_tax": (k % 9).astype(np.float64) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[k % 3],
        "l_linestatus": np.where(k % 2 == 0, "F", "O"),
        "ship_day": SHIP0 + k % 2498,
        "id": i})


def from_seed(df: pd.DataFrame) -> pd.DataFrame:
    """Model frame from the seed parquet (ship date kept as epoch days)."""
    out = df.drop(columns=["l_shipdate", "bucket"]).copy()
    out["ship_day"] = (df["l_shipdate"].values.astype("datetime64[D]") - EPOCH).astype(np.int64)
    return out


def _scaled(x: pd.Series) -> np.ndarray:
    return np.floor(x.to_numpy() * 100 + 0.5).astype(np.int64)


def hash_rows(m: pd.DataFrame) -> np.ndarray:
    """Per-row hash; mirrors TxlogDml.hashCol."""
    if len(m) == 0:
        return np.zeros(0, dtype=np.int64)
    h = (m["id"].to_numpy(np.int64) * 1000003 + _scaled(m["l_quantity"]) * 10007
         + _scaled(m["l_extendedprice"]) * 101 + _scaled(m["l_discount"]) * 7
         + _scaled(m["l_tax"]) * 3 + m["l_orderkey"].to_numpy(np.int64) * 13
         + m["l_partkey"].to_numpy(np.int64) * 17 + m["l_suppkey"].to_numpy(np.int64) * 19
         + m["l_linenumber"].to_numpy(np.int64) * 23
         + np.array([ord(c) for c in m["l_returnflag"]], dtype=np.int64) * 29
         + np.array([ord(c) for c in m["l_linestatus"]], dtype=np.int64) * 31
         + m["ship_day"].to_numpy(np.int64) * 37)
    return np.mod(h, P)


def count_hash(m: pd.DataFrame):
    return len(m), int(hash_rows(m).sum())


def _between(m, lo, hi):
    return (m["id"] >= lo) & (m["id"] <= hi)


def apply(m: pd.DataFrame, op: dict):
    """Apply one write op; returns (new model, rows changed)."""
    v = op["verb"]
    if v == "append":
        new = rows(op["new_lo"], op["new_hi"], 0)
        return pd.concat([m, new], ignore_index=True), len(new)
    if v == "update":
        hit = _between(m, op["id_lo"], op["id_hi"]) & (m["id"] % 3 == 0)
        m = m.copy()
        m.loc[hit, "l_quantity"] = m.loc[hit, "l_quantity"] + 1.0
        m.loc[hit, "l_tax"] = 0.0
        return m, int(hit.sum())
    if v == "delete":
        hit = _between(m, op["id_lo"], op["id_hi"])
        return m[~hit].reset_index(drop=True), int(hit.sum())
    if v == "merge":
        src = pd.concat([rows(op["old_lo"], op["old_hi"], op["salt"]),
                         rows(op["new_lo"], op["new_hi"], op["salt"])], ignore_index=True)
        kept = m[~m["id"].isin(src["id"])]
        return pd.concat([kept, src], ignore_index=True), len(src)
    return m, 0  # maintenance ops never change content


def check(seed_df: pd.DataFrame, ops: list, record: dict, seed_bytes: int):
    """Replay ops against the record. Returns (errors, stats) where stats
    holds the user rows changed per commit op id (for write amplification)."""
    errors = []
    commits = {c["op"]: c for c in record["workload"]["commits"] if "version" in c}
    prune = {c["op"]: c for c in record["workload"]["commits"] if "kept" in c}
    base = commits.get(-1)
    m = from_seed(seed_df)
    by_version = {}
    if base is None:
        return ["no post-seed snapshot recorded"], {}
    by_version[base["version"]] = count_hash(m)
    if by_version[base["version"]] != (base["count"], base["hash"]):
        errors.append(f"seed snapshot {by_version[base['version']]} != "
                      f"{(base['count'], base['hash'])}")
    current = base["version"]
    changed = {}
    for rec_op, op in zip(record["ops"], ops):
        if not rec_op["ok"]:
            continue
        v = op["verb"]
        if v in ("append", "update", "delete", "merge", "optimize"):
            m2, n = apply(m, op)
            got = rec_op.get("version", -1)
            if got < 0:
                if n != 0 and v != "optimize":
                    errors.append(f"op {rec_op['id']} {v}: no commit but {n} rows changed")
                continue
            m, current = m2, got
            by_version[current] = count_hash(m)
            changed[rec_op["id"]] = n
        elif v == "read_latest":
            if rec_op["as_of"] != current or (rec_op["count"], rec_op["hash"]) != count_hash(m):
                errors.append(f"op {rec_op['id']} read_latest v{rec_op['as_of']} "
                              f"{(rec_op['count'], rec_op['hash'])} != model v{current} "
                              f"{count_hash(m)}")
        elif v == "read_where":
            want = count_hash(m[_between(m, op["id_lo"], op["id_hi"])])
            if (rec_op["count"], rec_op["hash"]) != want:
                errors.append(f"op {rec_op['id']} read_where {(rec_op['count'], rec_op['hash'])} "
                              f"!= model {want}")
        elif v == "read_asof":
            want = by_version.get(rec_op["as_of"])
            if want is not None and (rec_op["count"], rec_op["hash"]) != want:
                errors.append(f"op {rec_op['id']} read_asof v{rec_op['as_of']} "
                              f"{(rec_op['count'], rec_op['hash'])} != model {want}")
        elif v == "changes":
            old, new = by_version.get(rec_op["from"]), by_version.get(rec_op["to"])
            if old is not None and new is not None:
                folded = (old[0] - rec_op["minus_count"] + rec_op["plus_count"],
                          old[1] - rec_op["minus_hash"] + rec_op["plus_hash"])
                if folded != new:
                    errors.append(f"op {rec_op['id']} changes v{rec_op['from']}..v{rec_op['to']} "
                                  f"fold {folded} != model {new}")
    vacuums = [r for r, op in zip(record["ops"], ops) if op["verb"] == "vacuum" and r["ok"]]
    if len(vacuums) >= 2 and not any(r.get("deleted", 0) for r in vacuums):
        errors.append(f"{len(vacuums)} VACUUMs deleted no file")
    user_bytes = seed_bytes / len(seed_df)
    return errors, {"rows_changed": changed, "bytes_per_row": user_bytes, "prune": prune}
