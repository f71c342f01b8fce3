"""Seeded input generator for the graft benchmark.

Every table graft's registry ops read is synthesised from the seed alone,
in the shape of the sf0.1 test tables (same columns, types, key domains
and value ranges): the star schema (region .. lineitem), the event log,
the document corpus and the embeddings. `scale` multiplies the sf0.1 row
counts; keys stay dense and unique at every scale, which is what
graft.tools.ScaleUp's key remap guarantees for its copies.

On top of the sf0.1 shape the corpus carries a stated share of exact and
near duplicates, and a benchmark text set for decontamination. The sf0.1
corpus itself has 4.7% near duplicates (a copy of an earlier doc with one
token inserted or deleted; word-3-shingle Jaccard 0.89-0.99 to it) and
0.16% exact duplicates, and its near duplicates are made the same way
here. The stream workload gets two sets of equal time-ordered event
files, with replayed events for the stream dedup: large ones for the
drain leg and small ones for the open-loop leg. Two sentinel files, far
past the data, flush event-time state.

Output is cached per (seed, spec): a directory whose name hashes both.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3

# The sf0.1 corpus vocabulary plus four of the Gopher rule's required
# stopwords (the sf0.1 corpus has only "the", so no doc passes that rule).
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch to of and with").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "red", "small", "green", "new"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# sf0.1 row counts, which `scale` multiplies.
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}

US_PER_DAY = 86400 * 1000000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(rng, scale, out):
    """region .. lineitem, in the sf0.1 shape times `scale`."""
    n = {k: max(1, int(round(v * scale))) for k, v in SF01_ROWS.items()}
    _write(pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    nk = np.arange(25)
    _write(pa.table({"n_nationkey": pa.array(nk, pa.int32()),
                     "n_name": [f"NATION_{i}" for i in nk],
                     "n_regionkey": pa.array(nk % 5, pa.int32())}),
           f"{out}/nation.parquet")
    c = n["customer"]
    _write(pa.table({"c_custkey": np.arange(c, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(c)],
                     "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
                     "c_acctbal": _money(rng, -999.99, 9999.99, c),
                     "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]}),
           f"{out}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({"s_suppkey": np.arange(s, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(s)],
                     "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
                     "s_acctbal": _money(rng, -999.99, 9999.99, s)}),
           f"{out}/supplier.parquet")
    p = n["part"]
    pk = np.arange(p, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(pa.table({"p_partkey": pk,
                     "p_name": names[rng.integers(0, len(names), p)],
                     "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, p)],
                     "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), p)],
                     "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
                     "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}),
           f"{out}/part.parquet")
    o = n["orders"]
    odays = rng.integers(0, 2404, o)  # 1995-01-01 .. 2001-08-01
    _write(pa.table({"o_orderkey": np.arange(o, dtype=np.int64),
                     "o_custkey": rng.integers(0, c, o).astype(np.int64),
                     "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, o)],
                     "o_totalprice": _money(rng, 1000.0, 500000.0, o),
                     "o_orderdate": _ts(EPOCH_1995 + odays * US_PER_DAY),
                     "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]}),
           f"{out}/orders.parquet")
    li = n["lineitem"]
    sdays = rng.integers(1, 2499, li)  # 1995-01-02 .. 2001-11-04
    _write(pa.table({"l_orderkey": rng.integers(0, o, li).astype(np.int64),
                     "l_partkey": rng.integers(0, p, li).astype(np.int64),
                     "l_suppkey": rng.integers(0, s, li).astype(np.int64),
                     "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
                     "l_quantity": rng.integers(1, 51, li).astype(np.float64),
                     "l_extendedprice": _money(rng, 900.0, 105000.0, li),
                     "l_discount": rng.integers(0, 11, li) / 100.0,
                     "l_tax": rng.integers(0, 9, li) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
                     "l_shipdate": _ts(EPOCH_1995 + sdays * US_PER_DAY)}),
           f"{out}/lineitem.parquet")
    return {k: n[k] for k in ("customer", "supplier", "part", "orders", "lineitem")}


def _events(rng, n):
    """The event log: ids dense, timestamps increasing over 30 days."""
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n)) + EPOCH_2024
    return {"event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.array([f'{{"k": {i}}}' for i in range(100)])[rng.integers(0, 100, n)]}


def _events_table(cols):
    return pa.table({"event_id": cols["event_id"], "ts": _ts(cols["ts"]),
                     "user_id": cols["user_id"], "event_type": cols["event_type"],
                     "value": cols["value"], "props": cols["props"]})


def events(rng, scale, out):
    n = max(1, int(round(SF01_ROWS["events"] * scale)))
    _write(_events_table(_events(rng, n)), f"{out}/events.parquet")
    return n


def _doc_text(rng, n_tokens):
    idx = rng.integers(0, len(VOCAB), n_tokens)
    return " ".join(VOCAB[i] for i in idx)


def documents(rng, scale, out, near_dup_share, exact_dup_share):
    """The corpus. `near_dup_share` of the docs are a copy of an earlier
    doc with one token inserted or deleted, `exact_dup_share` are
    verbatim copies; the rest are fresh random texts of 10..100 tokens."""
    n = max(1, int(round(SF01_ROWS["documents"] * scale)))
    kind = rng.random(n)
    texts = []
    n_near = n_exact = 0
    for i in range(n):
        if i > 0 and kind[i] < near_dup_share:
            toks = texts[int(rng.integers(0, i))].split()
            at = int(rng.integers(0, len(toks)))
            if rng.random() < 0.5:
                toks.insert(at, VOCAB[int(rng.integers(0, len(VOCAB)))])
            else:
                del toks[at]
            texts.append(" ".join(toks))
            n_near += 1
        elif i > 0 and kind[i] < near_dup_share + exact_dup_share:
            texts.append(texts[int(rng.integers(0, i))])
            n_exact += 1
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 101))))
    _write(pa.table({"doc_id": np.arange(n, dtype=np.int64),
                     "text": texts,
                     "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
                     "source": [f"src{i}" for i in rng.integers(0, 20, n)],
                     "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
           f"{out}/documents.parquet")
    # eval texts: 13+-token spans lifted from 1% of the docs (so
    # decontamination has real hits) plus as many fresh texts
    m = max(1, n // 100)
    bench = []
    for j in rng.choice(n, m, replace=False):
        toks = texts[int(j)].split()
        if len(toks) >= 15:
            s = int(rng.integers(0, len(toks) - 14))
            bench.append(" ".join(toks[s:s + 15]))
    bench += [_doc_text(rng, 20) for _ in range(m)]
    _write(pa.table({"bench_text": bench}), f"{out}/bench_texts.parquet")
    return {"documents": n, "near_dups": n_near, "exact_dups": n_exact,
            "bench_texts": len(bench)}


def embeddings(rng, scale, out):
    """64-d unit float vectors around 10 label centres."""
    n = max(1, int(round(SF01_ROWS["embeddings"] * scale)))
    centres = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(0, 1.2, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1), pa.float32()), 64)
    _write(pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb.cast(pa.list_(pa.float32())),
                     "label": pa.array(label, pa.int32())}),
           f"{out}/embeddings.parquet")
    return n


def stream_files(rng, events_total, n_files, dup_share, d):
    """An event stream as `n_files` equal time-ordered files in `d`. Each
    file carries `dup_share` replays of events from itself or from the
    last five minutes of the previous file (same id and timestamp, the
    at-least-once redelivery a stream dedup exists for), and every file
    has the same row count. Returns (rows per file, last timestamp)."""
    os.makedirs(d)
    per = max(1, events_total // n_files)
    dups = int(round(per * dup_share))
    base = _events(rng, per * n_files)
    prev = None
    for f in range(n_files):
        sl = slice(f * per, (f + 1) * per)
        cols = {k: v[sl] for k, v in base.items()}
        pool = {k: v for k, v in cols.items()}
        if prev is not None:
            recent = prev["ts"] >= prev["ts"][-1] - 5 * 60 * 1000000
            pool = {k: np.concatenate([prev[k][recent], cols[k]]) for k in cols}
        pick = rng.integers(0, len(pool["ts"]), dups)
        merged = {k: np.concatenate([cols[k], pool[k][pick]]) for k in cols}
        order = np.argsort(merged["ts"], kind="stable")
        _write(_events_table({k: v[order] for k, v in merged.items()}),
               f"{d}/part-{f:05d}.parquet")
        prev = cols
    return per + dups, int(base["ts"][-1])


def streams(rng, spec, out):
    """The drain leg's files (`events_stream`), the open leg's smaller
    files (`events_open`), and two sentinel files, days past both, that
    advance the watermark so event-time state flushes."""
    drain, open_ = rng.spawn(2)
    per, last = stream_files(drain, spec["stream_events"], spec["stream_files"],
                             spec["stream_dup_share"], f"{out}/events_stream")
    per_open, last_open = stream_files(open_, spec["open_events"], spec["open_files"],
                                       spec["stream_dup_share"], f"{out}/events_open")
    last = max(last, last_open)
    s = f"{out}/events_sentinel"
    os.makedirs(s)
    for i in range(2):
        _write(_events_table({"event_id": np.array([-1 - i], np.int64),
                              "ts": np.array([last + (10 + 10 * i) * US_PER_DAY]),
                              "user_id": np.array([-1], np.int64),
                              "event_type": np.array(["__sentinel"]),
                              "value": np.array([0.0]),
                              "props": np.array(["{}"])}),
               f"{s}/sentinel-{i}.parquet")
    return {"stream_files": spec["stream_files"], "stream_rows_per_file": per,
            "stream_events": spec["stream_files"] * per, "open_files": spec["open_files"],
            "open_rows_per_file": per_open, "open_events": spec["open_files"] * per_open}


def op_orders(rng, ops, passes):
    """A seeded permutation of the op list for each pass."""
    return [[ops[i] for i in rng.permutation(len(ops))] for _ in range(passes)]


def generate(root, seed, spec):
    """Build (or reuse) the dataset for `spec` under `root`; return its
    directory and the manifest. `spec` keys: scale, tables (subset of
    star|events|documents|embeddings|stream), near_dup_share,
    exact_dup_share, stream_events, stream_files, open_events, open_files,
    stream_dup_share, ops, passes."""
    key = hashlib.sha256(json.dumps([GEN_VERSION, seed, spec], sort_keys=True)
                         .encode()).hexdigest()[:16]
    out = os.path.join(root, f"seed{seed}-{key}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        m["cached"] = True
        return out, m
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    scale = spec["scale"]
    tables = spec["tables"]
    m = {"seed": seed, "spec": spec, "rows": {}}
    # one child stream per part, so a table's rows do not depend on
    # which other tables the spec asks for
    parts = dict(zip(["star", "events", "documents", "embeddings", "stream", "orders"],
                     rng.spawn(6)))
    if "star" in tables:
        m["rows"].update(star_schema(parts["star"], scale, tmp))
    if "events" in tables:
        m["rows"]["events"] = events(parts["events"], scale, tmp)
    if "documents" in tables:
        m["rows"].update(documents(parts["documents"], scale, tmp,
                                   spec["near_dup_share"], spec["exact_dup_share"]))
    if "embeddings" in tables:
        m["rows"]["embeddings"] = embeddings(parts["embeddings"], scale, tmp)
    if "stream" in tables:
        m["rows"].update(streams(parts["stream"], spec, tmp))
    m["op_orders"] = op_orders(parts["orders"], spec["ops"], spec["passes"])
    m["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(m, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    m["cached"] = False
    return out, m
