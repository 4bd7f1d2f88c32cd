"""Seeded input generator for the benchmark.

Writes, under one directory per seed:
  - the ten star/corpus tables as `<name>.parquet` (the schemas `graft.Tables`
    reads and `tools/check.py` registers);
  - `frame.csv`, the 100k x 10 CSV of the reference's comparison ops;
  - `stream/events/fNNN.parquet` and `stream/docs/fNNN.parquet`, time-ordered
    stream files with ascending mtimes (one file per micro-batch; the events
    end with a file holding one sentinel event that closes every session), plus
    `stream/docs_base.parquet`, the corpus the stored LSH index is built from;
  - `manifest.json`: generator parameters and row counts.

The seed drives the row order and row-group split of the star tables, the
exact and near-duplicate shares of the document and embedding corpus, the CSV
values and the stream file split. Same seed, same bytes.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3

# Rows per table: the sf0.01 shape of TESTDATA.md, with the corpus
# doubled so the dedup operators see more than a handful of pairs.
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 1000, "embeddings": 1000,
}
CSV_ROWS, CSV_COLS = 100_000, 10
STREAM_FILES = 4           # micro-batches per stream, before the sentinel
STREAM_BASE_SHARE = 0.6    # documents in the stored index; the rest arrive
EMB_DIM = 64
# Per-seed ranges of the corpus duplicate shares.
EXACT_SHARE = (0.02, 0.05)
NEAR_SHARE = (0.04, 0.08)
EMB_NEAR_SHARE = (0.03, 0.06)

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
US_PER_DAY = 86_400_000_000


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path, rng, permute):
    """One parquet file in 1-4 row groups; `permute` shuffles the rows."""
    if permute:
        table = table.take(pa.array(rng.permutation(table.num_rows)))
    groups = int(rng.integers(1, 5))
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // groups)))


def star_tables(rng):
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", 2498)})
    e = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.choice(30 * US_PER_DAY, e, replace=False)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(2, e * 3 // 200), e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    return t


def corpus(rng):
    """Documents and embeddings with seeded exact and near-duplicate shares."""
    nd = SIZES["documents"]
    exact, near = rng.uniform(*EXACT_SHARE), rng.uniform(*NEAR_SHARE)
    texts = []
    for i in range(nd):
        u = rng.random()
        if i > 0 and u < exact:
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and u < exact + near:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(0, 3)):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 101))))
    docs = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    ne = SIZES["embeddings"]
    emb_near = rng.uniform(*EMB_NEAR_SHARE)
    v = rng.standard_normal((ne, EMB_DIM))
    for i in range(1, ne):
        if rng.random() < emb_near:
            v[i] = v[rng.integers(0, i)] + rng.standard_normal(EMB_DIM) * 0.05
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, ne).astype(np.int32)})
    return docs, emb, {"doc_exact_share": exact, "doc_near_share": near,
                       "emb_near_share": emb_near}


def frame_csv(rng, path):
    """k: int group key; c1..c9: quarter-step doubles, so sums are exact in
    any order and the oracle can compare them bit for bit."""
    cols = {"k": rng.integers(0, 64, CSV_ROWS)}
    for j in range(1, CSV_COLS):
        cols[f"c{j}"] = rng.integers(-4000, 4001, CSV_ROWS) / 4.0
    lines = [",".join(cols)]
    rows = zip(*[[f"{x}" for x in c] for c in cols.values()])
    lines.extend(",".join(r) for r in rows)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def stage(table, out_dir, rng, files, tail=None):
    """Split a time-ordered table into `files` contiguous parquet files at
    seeded cut points (equal shares +-25%), plus `tail` as a file of its
    own, with ascending names and mtimes (the file source orders by
    modification time)."""
    os.makedirs(out_dir)
    n = table.num_rows
    step = n / files
    cuts = [int(step * (b + rng.uniform(-0.25, 0.25))) for b in range(1, files)]
    bounds = [0, *cuts, n]
    parts = [table.slice(bounds[b], bounds[b + 1] - bounds[b]) for b in range(files)]
    for b, part in enumerate(parts + ([tail] if tail is not None else [])):
        path = os.path.join(out_dir, f"f{b:03d}.parquet")
        pq.write_table(part, path)
        mtime = 1_700_000_000 + 10 * b
        os.utime(path, (mtime, mtime))
    return [p.num_rows for p in parts]


def generate(seed, root):
    """Generate every input for `seed` under `root`/seed-<seed>; reuse it if
    a complete copy is already there. Returns (dir, manifest)."""
    out = os.path.join(root, f"seed-{seed}")
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if man.get("gen_version") == GEN_VERSION:
            return out, man
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([GEN_VERSION, seed])
    tables = star_tables(rng)
    docs, emb, shares = corpus(rng)
    tables["documents"], tables["embeddings"] = docs, emb
    for name, tab in tables.items():
        # events, documents and embeddings keep their id order: frame order
        # is arrival order, and the stream files are cut from it
        _write(tab, os.path.join(tmp, f"{name}.parquet"), rng,
               permute=name not in ("events", "documents", "embeddings"))
    frame_csv(rng, os.path.join(tmp, "frame.csv"))

    ev = tables["events"]
    # a sentinel event a day after the last one closes every open session
    last = ev.num_rows - 1
    sentinel = pa.table({
        "event_id": [ev.num_rows], "ts": pa.array(
            [ev.column("ts")[last].value + US_PER_DAY], pa.timestamp("us")),
        "user_id": [-1], "event_type": ["view"], "value": [0.0], "props": ['{"k": 0}']},
        schema=ev.schema)
    ev_files = stage(ev, os.path.join(tmp, "stream", "events"), rng, STREAM_FILES, sentinel)
    nbase = int(docs.num_rows * STREAM_BASE_SHARE)
    pq.write_table(docs.select(["doc_id", "text"]).slice(0, nbase),
                   os.path.join(tmp, "stream", "docs_base.parquet"))
    arrivals = docs.select(["doc_id", "text"]).slice(nbase)
    # one arrival per second of event time drives the watermark
    ts = np.datetime64("2024-01-01", "us") + (
        arrivals.column("doc_id").to_numpy() * 1_000_000).astype("timedelta64[us]")
    arrivals = arrivals.append_column("ts", pa.array(ts))
    doc_files = stage(arrivals, os.path.join(tmp, "stream", "docs"), rng, STREAM_FILES)

    man = {
        "gen_version": GEN_VERSION, "seed": seed,
        "rows": {name: tab.num_rows for name, tab in tables.items()},
        "csv": {"rows": CSV_ROWS, "cols": CSV_COLS},
        "stream": {"files": STREAM_FILES, "event_rows": ev_files,
                   "doc_rows": doc_files, "doc_base_rows": nbase},
        "shares": shares,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, man
