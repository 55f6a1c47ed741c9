"""Seeded input generators for the benchmark.

Two datasets, both written as parquet under a cache directory keyed by
seed and parameters, so the same seed always yields identical bytes:

- ``tables``: the engine's ten catalog tables (TPC-H-like star schema
  plus ``events``, ``documents`` and ``embeddings``), with the column
  names, types, row counts and value distributions of the engine's
  sf0.01 test tables.
- ``corpus``: a multi-file ``documents`` table for the word-count job:
  Zipf vocabulary with one heavy hitter, a fixed share of exact
  duplicate documents, and case and punctuation noise.

Usage: python3 perfbench/gen.py {tables,corpus} SEED OUT_ROOT
prints the dataset directory and its generation stats as JSON.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- catalog tables -------------------------------------------------------

# Row counts of the engine's seed-42 sf0.01 test tables (TESTDATA.md);
# region and nation are fixed at 5 and 25 rows.
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EMBEDDING_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings: no pandas metadata, one row group, so the
    # bytes depend only on the data
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(out_dir: str, seed: int, rows: dict = TABLE_ROWS) -> dict:
    rng = np.random.default_rng(seed)
    n_cust = rows["customer"]
    n_supp = rows["supplier"]
    n_part = rows["part"]
    n_ord = rows["orders"]
    n_li = rows["lineitem"]
    n_ev = rows["events"]
    n_users = max(1, n_ev * 3 // 200)  # 150 users at 10,000 events, as in the test tables
    n_docs = rows["documents"]
    n_emb = rows["embeddings"]
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def choice(values, n, p=None):
        return [values[i] for i in rng.choice(len(values), n, p=p)]

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": choice(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1), f64),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": choice(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), f64),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_li), 2), f64),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2), f64),
            "l_returnflag": choice(["A", "N", "R"], n_li),
            "l_linestatus": choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_li),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            # TIMESTAMP(NANOS), the form session.py and sources/catalog.py
            # are written for: load_table reads it as int64 nanos and
            # converts to micros, so the benchmark runs that conversion;
            # the values are whole microseconds, as in the test tables
            "ts": pa.array(
                (np.datetime64("2024-01-01", "us") + ts_us).astype("datetime64[ns]"),
                pa.timestamp("ns"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": choice(_EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for _ in range(n_docs):
        ids = rng.integers(0, len(_DOC_VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(_DOC_VOCAB[i] for i in ids))
    # ~5% near-duplicates: an earlier document's text plus one token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts, s),
            "lang": choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    emb = rng.standard_normal((n_emb, EMBEDDING_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"seed": seed, "rows": {name: table.num_rows for name, table in t.items()}}


# --- word-count corpus ----------------------------------------------------

CORPUS_PARAMS = {
    "files": 8,  # >= the 4 cores of the reference host: one scan task per core at least
    "docs": 64_000,
    "vocab": 50_000,
    "zipf_s": 1.0,
    "zipf_shift": 2.7,  # Zipf-Mandelbrot offset: keeps every Zipf word below the heavy hitter
    "heavy_word": "flight",
    "heavy_share": 0.03,
    "dup_share": 0.05,
    "noise_share": 0.15,
    "min_tokens": 4,
    "max_tokens": 40,
}
_PUNCT_TOKENS = ["--", "!!", ":)", "...", "&"]


def _vocab(rng, n: int, heavy: str) -> list[str]:
    """n distinct random lowercase words of 3-10 letters, none equal
    to the heavy hitter, in a seed-determined order."""
    words: dict[str, None] = {}
    while len(words) < n:
        letters = (rng.integers(0, 26, (n, 10)) + ord("a")).astype(np.uint8)
        lengths = rng.integers(3, 11, n)
        raw = letters.tobytes().decode("ascii")
        for k, length in enumerate(lengths.tolist()):
            words.setdefault(raw[10 * k : 10 * k + length])
        words.pop(heavy, None)
    return list(words)[:n]


def make_corpus(out_dir: str, seed: int, params: dict = CORPUS_PARAMS) -> dict:
    p = params
    rng = np.random.default_rng(seed)
    words = [p["heavy_word"]] + _vocab(rng, p["vocab"], p["heavy_word"])
    ranks = np.arange(1, p["vocab"] + 1, dtype=np.float64)
    zipf = 1.0 / (ranks + p["zipf_shift"]) ** p["zipf_s"]
    probs = np.concatenate([[p["heavy_share"]], zipf / zipf.sum() * (1 - p["heavy_share"])])

    # token forms: 0 plain, then case noise, punctuation noise and
    # whitespace noise; the word count's normalization (strip
    # [^a-zA-Z0-9\s], lowercase) maps every form back to the plain word
    forms = [
        words,
        [w.capitalize() for w in words],
        [w.upper() for w in words],
        [w + "," for w in words],
        [w + "." for w in words],
        [w + "!" for w in words],
        ["@" + w for w in words],
        ["#" + w for w in words],
        [w + "\t" for w in words],
        [w + "  " for w in words],
    ]
    n_docs = p["docs"]
    lengths = rng.integers(p["min_tokens"], p["max_tokens"] + 1, n_docs)
    n_tok = int(lengths.sum())
    ids = rng.choice(len(words), n_tok, p=probs)
    noisy = rng.random(n_tok) < p["noise_share"]
    form = np.where(noisy, rng.integers(1, len(forms), n_tok), 0)
    toks = [forms[f][i] for f, i in zip(form.tolist(), ids.tolist())]
    # ~1% punctuation-only tokens, which normalize to nothing
    for k in np.flatnonzero(rng.random(n_tok) < 0.01).tolist():
        toks[k] = _PUNCT_TOKENS[k % len(_PUNCT_TOKENS)]
    ends = np.cumsum(lengths).tolist()
    texts, start = [], 0
    for end in ends:
        texts.append(" ".join(toks[start:end]))
        start = end
    # exact duplicates: a fixed share of documents copy an earlier one
    n_dup = round(p["dup_share"] * n_docs)
    dup_idx = np.sort(rng.choice(np.arange(1, n_docs), n_dup, replace=False))
    for i in dup_idx.tolist():
        texts[i] = texts[int(rng.integers(0, i))]

    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": [_LANGS[k] for k in rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    docs_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(docs_dir)
    bounds = np.linspace(0, n_docs, p["files"] + 1).astype(int)
    for f in range(p["files"]):
        part = table.slice(bounds[f], bounds[f + 1] - bounds[f])
        _write(part, os.path.join(docs_dir, f"part-{f:05d}.parquet"))
    return check_corpus(out_dir, params)


def check_corpus(out_dir: str, params: dict = CORPUS_PARAMS) -> dict:
    """Read the written corpus back and assert its fixed parameters."""
    import duckdb

    files = sorted(glob.glob(os.path.join(out_dir, "documents.parquet", "*.parquet")))
    if len(files) != params["files"]:
        raise AssertionError(f"corpus has {len(files)} files, expected {params['files']}")
    con = duckdb.connect()
    try:
        rows, distinct, text_bytes = con.execute(
            "SELECT count(*), count(DISTINCT text), sum(strlen(text)) FROM read_parquet(?)",
            [files],
        ).fetchone()
        tokens, heavy = con.execute(
            """SELECT count(*), count(*) FILTER (WHERE w = ?) FROM (
                 SELECT unnest(string_split_regex(trim(lower(regexp_replace(
                   text, '[^a-zA-Z0-9\\s]', '', 'g'))), '\\s+')) AS w
                 FROM read_parquet(?)) WHERE w <> ''""",
            [params["heavy_word"], files],
        ).fetchone()
    finally:
        con.close()
    heavy_share = heavy / tokens
    dup_share = (rows - distinct) / rows
    if abs(heavy_share - params["heavy_share"]) > 0.002:
        raise AssertionError(f"heavy-hitter share {heavy_share:.4f} != {params['heavy_share']}")
    if abs(dup_share - params["dup_share"]) > 0.002:
        raise AssertionError(f"duplicate share {dup_share:.4f} != {params['dup_share']}")
    return {
        "files": len(files),
        "rows": rows,
        "text_bytes": int(text_bytes),
        "tokens": tokens,
        "heavy_share": round(heavy_share, 6),
        "dup_share": round(dup_share, 6),
    }


# --- cache ----------------------------------------------------------------


def _key(kind: str, seed: int, params: dict) -> str:
    """Cache key: the seed, the parameters and this file's source, so
    a change to the generator never reuses data it no longer makes."""
    h = hashlib.sha256(json.dumps(params, sort_keys=True).encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return f"{kind}-s{seed}-{h.hexdigest()[:12]}"


def ensure(kind: str, seed: int, out_root: str) -> tuple[str, dict]:
    """Return (dataset dir, stats), generating it unless cached."""
    if kind == "tables":
        params, make = {"rows": TABLE_ROWS, "embedding_dim": EMBEDDING_DIM}, make_tables
    elif kind == "corpus":
        params, make = CORPUS_PARAMS, make_corpus
    else:
        raise ValueError(f"unknown dataset kind {kind!r}")
    path = os.path.join(out_root, _key(kind, seed, params))
    done = os.path.join(path, "_STATS.json")
    if os.path.exists(done):
        with open(done) as f:
            stats = json.load(f)
        stats["cached"] = True
        return path, stats
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    stats = make(tmp, seed)
    stats["gen_s"] = time.perf_counter() - t0
    stats["params"] = params
    with open(os.path.join(tmp, "_STATS.json"), "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    stats["cached"] = False
    return path, stats


if __name__ == "__main__":
    kind, seed, root = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    path, stats = ensure(kind, seed, root)
    print(json.dumps({"path": path, "stats": stats}))
