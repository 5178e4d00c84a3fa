"""Seeded input generator for the benchmark.

Writes the star-schema tables, change batches against its orders table,
the document corpus and the embedding table as single parquet files with
the column names and types of the repository's test data, so the program
under test and the registry's DuckDB oracles read them unchanged. The
seed drives every value; the row counts and the structure that decides
how much work the program does (dirty-row share, change-batch mix,
near-duplicate families) are fixed, so two seeds cost the same to
process.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# 31 words, two of them stopwords, as in the repository's corpus: about
# one document in two passes curation's stopword-ratio gate
VOCAB = (
    "the a fast slow big small key value row column table part line order "
    "customer query filter join merge sort scan hash group agg window batch "
    "stream spark data vector dup"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
EPOCH_1992 = np.datetime64("1992-01-01", "us")
DAY_US = 86_400_000_000


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def star_tables(rng: np.random.Generator, out: str, n_orders: int, dirty: float) -> dict:
    """region, nation, customer, supplier, part, orders and lineitem.

    About ``dirty`` of the lineitem rows break one of the ingest filters
    (NULL ship date with zero quantity, negative quantity, zero price,
    negative discount), so ``operators.cleaning`` has rows to drop. The
    ship dates of the rows that also reach the fact table stay inside
    the clean rows' range, so its calendar join sees the same dates on
    both engines."""
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 10), n_orders // 7
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    price = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} widget" for a in rng.choice(["cold", "small", "big", "red", "blue"], n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price,
    })

    # sorted, so order keys follow order dates
    odate = EPOCH_1992 + np.sort(rng.integers(0, 2400, n_orders)) * DAY_US
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - first + 1).astype(np.int32)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[partkey], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US
    ship_valid = np.ones(n_li, dtype=bool)
    bad = rng.choice(n_li, int(n_li * dirty), replace=False)
    kind = np.arange(len(bad)) % 4
    ship_valid[bad[kind == 0]] = False
    qty[bad[kind == 0]] = 0.0
    qty[bad[kind == 1]] = -qty[bad[kind == 1]]
    ext[bad[kind == 2]] = 0.0
    disc[bad[kind == 3]] = -0.05
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us"), mask=~ship_valid),
    })
    orders = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(np.bincount(okey, weights=ext, minlength=n_orders), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    }
    _write(out, "orders", {**orders, "o_orderdate": pa.array(odate, pa.timestamp("us"))})
    return {"lineitem_rows": n_li, "dirty_rows": len(bad), "orders": orders}


def cdc_batches(rng: np.random.Generator, out: str, orders: dict, n_batches: int,
                batch_rows: int) -> dict:
    """``n_batches`` change batches ``chg_<b>`` against ``orders`` (the
    columns ``star_tables`` wrote), each the orders columns plus
    ``o_year`` (the table's partition column) and ``op``.

    A batch holds distinct keys: 60% updates of live keys, skewed to
    recent ones (new price and status, same date), 15% deletes of live
    keys, 25% inserts of new keys dated within the last year. Order keys
    follow order dates, so recent keys sit in the newest years."""
    live = {k: np.asarray(v).copy() for k, v in orders.items()}
    live["o_year"] = _year(live["o_orderdate"])
    last = live["o_orderdate"].max()
    next_key = int(live["o_orderkey"].max()) + 1
    n_upd, n_del = batch_rows * 60 // 100, batch_rows * 15 // 100
    n_ins = batch_rows - n_upd - n_del
    for b in range(n_batches):
        n = len(live["o_orderkey"])
        w = np.linspace(0.01, 1.0, n) ** 4
        picked = rng.choice(n, n_upd + n_del, replace=False, p=w / w.sum())
        upd, dele = np.sort(picked[:n_upd]), np.sort(picked[n_upd:])
        new_date = last - rng.integers(0, 365, n_ins) * DAY_US
        ins = {
            "o_orderkey": np.arange(next_key, next_key + n_ins, dtype=np.int64),
            "o_custkey": rng.choice(live["o_custkey"], n_ins),
            "o_orderstatus": np.full(n_ins, "O", dtype=live["o_orderstatus"].dtype),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_ins), 2),
            "o_orderdate": new_date,
            "o_orderpriority": rng.choice(PRIORITIES, n_ins),
            "o_year": _year(new_date),
        }
        next_key += n_ins
        changed = {k: v[upd].copy() for k, v in live.items()}
        changed["o_totalprice"] = np.round(changed["o_totalprice"] * rng.uniform(0.9, 1.1, n_upd), 2)
        changed["o_orderstatus"] = rng.choice(["F", "O", "P"], n_upd)
        batch = {k: np.concatenate([changed[k], live[k][dele], ins[k]]) for k in live}
        batch["o_orderdate"] = pa.array(batch["o_orderdate"], pa.timestamp("us"))
        batch["op"] = ["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins
        _write(out, f"chg_{b}", batch)
        for k in live:
            live[k][upd] = changed[k]
        keep = np.ones(n, dtype=bool)
        keep[dele] = False
        live = {k: np.concatenate([v[keep], ins[k]]) for k, v in live.items()}
    return {"batches": n_batches, "live_rows": len(live["o_orderkey"])}


def _year(ts: np.ndarray) -> np.ndarray:
    return (ts.astype("datetime64[Y]").astype(np.int64) + 1970).astype(np.int32)


def _spread_units(rng: np.random.Generator, n: int, max_cos: float) -> np.ndarray:
    """``n`` random unit vectors whose pairwise |cosine| stays below
    ``max_cos`` (rejection sampling)."""
    kept = np.empty((n, DIM))
    k = 0
    while k < n:
        v = rng.standard_normal(DIM)
        v /= np.linalg.norm(v)
        if k == 0 or np.abs(kept[:k] @ v).max() < max_cos:
            kept[k] = v
            k += 1
    return kept


def corpus_tables(rng: np.random.Generator, out: str, n_docs: int, n_vecs: int) -> dict:
    """documents and embeddings, each with about one row in five a
    near-duplicate of an earlier row.

    Document variants are whitespace edits (a doubled space) of a base
    text, plus a few exact copies: their shingle sets equal the base's,
    so every engine and the LSH banding agree on them. Base texts are
    random 10-100 word strings over a 31-word vocabulary, far below the
    0.3 Jaccard threshold of one another.

    Embedding variants sit at cosine ~0.98 to their base, plus a few
    exact copies; base vectors are packed to cosine < 0.3 of one another
    and variants to < 0.3 of every other base, so the near-duplicate
    graph (threshold 0.35) is exactly the base-variant families on every
    seed and the iterative cluster resolution runs the same rounds."""
    n_base = n_docs * 4 // 5
    words = [rng.choice(VOCAB, rng.integers(10, 101)) for _ in range(n_base)]
    texts = [" ".join(w) for w in words]
    parents = rng.integers(0, n_base, n_docs - n_base)
    for i, p in enumerate(parents):
        w = list(words[p])
        if i % 5 == 4:
            texts.append(texts[p])
        else:
            at = int(rng.integers(1, len(w)))
            texts.append(" ".join(w[:at]) + "  " + " ".join(w[at:]))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    v_base = n_vecs * 4 // 5
    base = _spread_units(rng, v_base, 0.3)
    vp = rng.integers(0, v_base, n_vecs - v_base)
    variants = []
    for i, p in enumerate(vp):
        if i % 5 == 4:
            variants.append(base[p])
            continue
        others = np.delete(base, p, axis=0)
        while True:
            noise = rng.standard_normal(DIM)
            noise -= (noise @ base[p]) * base[p]
            v = base[p] + 0.2 * noise / np.linalg.norm(noise)
            v /= np.linalg.norm(v)
            if np.abs(others @ v).max() < 0.3:
                break
        variants.append(v)
    vecs = np.vstack([base, np.array(variants)]).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return {"documents": n_docs, "embeddings": n_vecs}
