"""Deterministic input generator for the benchmark.

Two kinds of input:

* `tables(out_dir, sf)` writes the TPC-H-ish star schema plus the `events`,
  `documents` and `embeddings` tables the program's `Tables` layer reads:
  sf0.1 by default (orders 150,000, lineitem 600,000, documents 5,000),
  sf0.01 for llm-dedup. The values follow the same uniform distributions as
  the project's own synthetic test data, 5% of the documents are copies of
  an earlier one with a " dup" tail, and the data seed is fixed: the tables
  are the same in every checkout and are generated once per checkout.
* `sheets(orders_path, out_dir, seed, n_ops)` writes the `sync-churn`
  op list from the workload seed: the all-string sheet derived from
  `orders`, then one sheet per op, each the previous one with a seeded,
  known set of updates, inserts and deletes. Every sheet has a unique
  `slno` and no empty cell, so no verb call may fail on it. The expected
  changeset counts go to `ops.tsv` beside the sheets.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
PART_ADJ = "red new hot small large big cold old".split()
PART_NOUN = "bolt anvil ring rod plate screw gear nut".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS, LANG_P = ["en", "es", "fr", "de", "zh"], [0.41, 0.15, 0.15, 0.14, 0.15]

SHEET_COLS = ["slno", "custkey", "status", "price", "odate", "priority"]
# churn share of the sheet's rows per sync op; an upsert closes each block
CHURN = [0.0, 0.0, 0.001, 0.001, 0.01, 0.01, 0.10]
UPSERT_CHURN = 0.01
MIX = (0.6, 0.2, 0.2)  # updates, inserts, deletes


def _days(rng, n, start, end):
    span = (end - start).days
    d0 = np.datetime64(start.isoformat(), "us")
    return d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, sf=SF):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())

    _write(out_dir, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out_dir, "nation", {"n_nationkey": i32(range(25)),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": i32([i % 5 for i in range(25)])})
    _write(out_dir, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": i64(pk),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    gaps = rng.exponential(26.0, n_ev)
    _write(out_dir, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
              + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
        "user_id": i64(rng.integers(0, 1500, n_ev)),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    _write(out_dir, "documents", {
        "doc_id": i64(np.arange(n_doc)), "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})


def _sheet_from_orders(orders_path):
    o = pq.read_table(orders_path).to_pandas()
    return {
        "slno": o.o_orderkey.astype(str).to_numpy(dtype=object),
        "custkey": o.o_custkey.astype(str).to_numpy(dtype=object),
        "status": o.o_orderstatus.to_numpy(dtype=object),
        "price": np.array([f"{p:.2f}" for p in o.o_totalprice], dtype=object),
        "odate": o.o_orderdate.dt.strftime("%Y-%m-%d").to_numpy(dtype=object),
        "priority": o.o_orderpriority.to_numpy(dtype=object),
    }


def _fresh_value(rng, col, old):
    """A valid, non-empty cell value for `col` that differs from `old`."""
    while True:
        if col == "custkey":
            v = str(int(rng.integers(0, 15000)))
        elif col == "status":
            v = STATUSES[rng.integers(0, 3)]
        elif col == "price":
            v = f"{rng.uniform(1000.0, 500000.0):.2f}"
        elif col == "odate":
            v = (dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2404)))).isoformat()
        else:
            v = PRIORITIES[rng.integers(0, 5)]
        if v != old:
            return v


def _image_bytes(sheet, rows):
    return sum(len(sheet[c][r].encode()) for r in rows for c in SHEET_COLS)


def _churn(rng, sheet, next_key, share):
    """Mutate `sheet` by `share` of its rows; return the new sheet, the next
    free key and the expected changeset (counts and changed-row bytes)."""
    n = len(sheet["slno"])
    k = int(round(share * n))
    n_upd, n_ins = int(round(k * MIX[0])), int(round(k * MIX[1]))
    n_del = k - n_upd - n_ins
    picked = rng.choice(n, n_upd + n_del, replace=False)
    upd, dele = picked[:n_upd], picked[n_upd:]
    sheet = {c: v.copy() for c, v in sheet.items()}
    img = _image_bytes(sheet, dele)
    cells = 0
    for r in upd:
        for c in rng.choice(SHEET_COLS[1:], int(rng.integers(1, 3)), replace=False):
            sheet[c][r] = _fresh_value(rng, c, sheet[c][r])
            cells += 1
    img += _image_bytes(sheet, upd)
    keep = np.ones(n, bool)
    keep[dele] = False
    sheet = {c: v[keep] for c, v in sheet.items()}
    new = {"slno": np.array([str(next_key + i) for i in range(n_ins)], dtype=object)}
    for c in SHEET_COLS[1:]:
        new[c] = np.array([_fresh_value(rng, c, "") for _ in range(n_ins)], dtype=object)
    img += _image_bytes(new, range(n_ins))
    sheet = {c: np.concatenate([sheet[c], new[c]]) for c in SHEET_COLS}
    expected = {"changes": cells + n_ins + n_del, "inserts": n_ins,
                "deletes": n_del, "updates": cells, "changed_row_bytes": img}
    return sheet, next_key + n_ins, expected


def sheets(orders_path, out_dir, seed, n_ops):
    """Op i reads `sheet_<i+1>.parquet`; `sheet_0.parquet` seeds the target."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    sheet = _sheet_from_orders(orders_path)
    next_key = int(max(int(s) for s in sheet["slno"])) + 1
    churn = []
    while len(churn) < n_ops:
        churn += [CHURN[i] for i in rng.permutation(len(CHURN))] + [None]
    ops = []
    for i in range(n_ops + 1):
        if i > 0:
            c = churn[i - 1]
            sheet, next_key, expected = _churn(rng, sheet, next_key,
                                               UPSERT_CHURN if c is None else c)
            ops.append({"verb": "upsert" if c is None else "sync",
                        "churn": UPSERT_CHURN if c is None else c,
                        "rows": len(sheet["slno"]), **expected})
        path = os.path.join(out_dir, f"sheet_{i}.parquet")
        pq.write_table(pa.table({c: pa.array(sheet[c], pa.string()) for c in SHEET_COLS}), path)
    cols = ["verb", "churn", "rows", "changes", "inserts", "deletes", "updates",
            "changed_row_bytes"]
    with open(os.path.join(out_dir, "ops.tsv"), "w") as f:
        f.write("\t".join(cols) + "\n")
        f.writelines("\t".join(str(op[c]) for c in cols) + "\n" for op in ops)
    # warm-up sheet: the first sheet with its own 1% churn
    warm, _, _ = _churn(np.random.default_rng(seed + 1), _sheet_from_orders(orders_path),
                        next_key, 0.01)
    pq.write_table(pa.table({c: pa.array(warm[c], pa.string()) for c in SHEET_COLS}),
                   os.path.join(out_dir, "warm.parquet"))
