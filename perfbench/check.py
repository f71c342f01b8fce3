"""Output checks. Ops with a registry oracle are compared with DuckDB by
a hash of their sorted output; everything else is held to a stated
invariant. Each function returns a list of failure messages (empty when
the output is right)."""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _canon(v):
    """One spelling per value, so Spark's and DuckDB's results hash
    alike: numbers by value (5 == 5.0), timestamps in UTC, nulls and
    NaNs as one marker."""
    if v is None or v is pd.NaT:
        return "\\N"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "\\N"
        return str(int(f)) if f.is_integer() and abs(f) < 2 ** 53 else repr(f)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return t.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_hash(df):
    """sha256 of a frame with columns sorted by name and rows sorted."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_canon(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(("\x1f".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def _duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_hashes(data_dir, sqls):
    """DuckDB's (hash, rows) for each oracle SQL, cached in the data
    directory so DuckDB runs once per seed."""
    cache_path = os.path.join(data_dir, "oracle_hashes.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = None
    for sql in sqls:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            con = con or _duck(data_dir)
            cache[key] = frame_hash(con.execute(sql).df())
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return {sql: tuple(cache[hashlib.sha256(sql.encode()).hexdigest()]) for sql in sqls}


def oracle_ops(data_dir, ops):
    """Compare every op record that carries an oracle SQL and an output
    directory with the DuckDB result."""
    checked = [o for o in ops if o.get("oracle_sql") and o.get("output")]
    expected = oracle_hashes(data_dir, sorted({o["oracle_sql"] for o in checked}))
    fails = []
    for o in checked:
        got = frame_hash(pq.read_table(o["output"]).to_pandas())
        want = expected[o["oracle_sql"]]
        if tuple(got) != tuple(want):
            fails.append(f"{o['op']}: output hash/rows {got[0][:12]}/{got[1]} "
                         f"!= oracle {want[0][:12]}/{want[1]}")
    return fails, len(checked)


def curate_invariants(data_dir, ops):
    """Curated ids are a subset of the input ids; no two curated rows
    share a content hash; the packed token total equals the curated
    one. Returns (failures, kept_ratio)."""
    by = {o["op"]: o for o in ops}
    cur, pack = by.get("curate"), by.get("pack")
    if not cur or not cur.get("ok") or not pack or not pack.get("ok"):
        return ["curate/pack did not run on the check pass"], None
    docs = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id"]).column(0).to_pylist()
    shards = pq.read_table(cur["output"], columns=["doc_id", "text", "n_tokens"]).to_pydict()
    fails = []
    extra = set(shards["doc_id"]) - set(docs)
    if extra:
        fails.append(f"curate: {len(extra)} output ids not in the input")
    if len(set(shards["doc_id"])) != len(shards["doc_id"]):
        fails.append("curate: duplicate output ids")
    digests = [hashlib.md5((t or "").encode()).hexdigest() for t in shards["text"]]
    if len(set(digests)) != len(digests):
        fails.append(f"curate: {len(digests) - len(set(digests))} rows share a content hash")
    total = sum(shards["n_tokens"])
    if pack["packed_tokens"] != total:
        fails.append(f"pack: {pack['packed_tokens']} packed tokens != {total} curated")
    kept = len(shards["doc_id"]) / len(docs)
    if not 0 < kept < 1:
        fails.append(f"curate: kept ratio {kept} (expected some docs dropped, some kept)")
    return fails, kept


def stream_invariants(data_dir, ops, drain_files):
    """Final window counts of each leg equal a batch recomputation over
    the same event files: dedup on (event_id, ts), count and cents per
    (hour, event_type)."""
    legs = {"stream_drain": sorted(glob.glob(f"{data_dir}/events_stream/*.parquet"))[:drain_files],
            "stream_open": sorted(glob.glob(f"{data_dir}/events_open/*.parquet"))}
    fails = []
    for o in ops:
        if o["op"] not in legs or not o.get("output"):
            continue
        ev = pd.concat([pq.read_table(f).to_pandas() for f in legs[o["op"]]])
        ev = ev.drop_duplicates(["event_id", "ts"])
        ev["w_start"] = ev["ts"].dt.floor("h").dt.strftime("%Y-%m-%d %H:%M")
        ev["cents"] = np.round(ev["value"] * 100).astype(np.int64)
        want = ev.groupby(["w_start", "event_type"]).agg(n=("event_id", "size"), cents=("cents", "sum"))
        got = pq.read_table(o["output"]).to_pandas()
        got = got[got["event_type"] != "__sentinel"].set_index(["w_start", "event_type"])
        want = {k: (int(r.n), int(r.cents)) for k, r in want.iterrows()}
        have = {k: (int(r.n), int(r.cents)) for k, r in got.iterrows()}
        if len(got) != len(have):
            fails.append(f"{o['op']}: a window was emitted twice")
        if have != want:
            diff = sorted(set(want.items()) ^ set(have.items()))[:3]
            fails.append(f"{o['op']}: {len(set(want.items()) ^ set(have.items()))} window rows "
                         f"differ from the batch recomputation, e.g. {diff}")
    return fails
