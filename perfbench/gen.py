"""Seeded input generator for the benchmark workloads.

``generate(out_dir, workload, seed, sf)`` writes the tables one workload
reads, in the schemas of FIXTURES.md, plus a ``manifest.json`` with the
rows and bytes of every table and the input properties the workloads
vary (near-duplicate share, document-length spread, key skew).

The same ``(workload, seed, sf)`` gives byte-identical files: every value
comes from one ``numpy.random.Generator`` per table, seeded from the
workload seed and the table name, and parquet is written with fixed
writer options. Row counts depend on ``sf`` only, so two seeds give the
same amount of work with different values.
"""

from __future__ import annotations

import hashlib
import json
import os
import string
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H-ish row counts at sf=1 (FIXTURES.md §3; events and documents
# follow the sf scaling of the TESTDATA.md fixtures).
ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 50_000,
}
EVENT_USERS_AT_SF1 = 15_000


NEAR_DUP_SHARE = 0.10      # documents that are edited copies of another
NEAR_DUP_EDIT_SHARE = 0.05  # words replaced in each near-duplicate
DOC_WORDS = (10, 120)      # uniform doc length in words
DOC_VOCAB = 400            # Zipf-ranked document vocabulary
DOC_ZIPF_S = 1.05
EVENT_USER_ZIPF_S = 1.0    # events.user_id skew
EMBED_DIM = 64
EMBED_LABELS = 10
WC_FILES = 8               # whole-file map splits
WC_VOCAB = 20_000
WC_ZIPF_S = 1.1
WC_WORDS_AT_SF1 = 25_000_000

_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
_DAY = 86_400


def _rng(seed: int, table: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}/{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _rows(table: str, sf: float) -> int:
    return max(1, int(round(ROWS_AT_SF1[table] * sf)))


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase ASCII words of 2-9 letters."""
    letters = np.array(list(string.ascii_lowercase))
    seen: dict[str, None] = {}
    while len(seen) < n:
        lens = rng.integers(2, 10, size=n)
        for ln in lens:
            seen.setdefault("".join(rng.choice(letters, size=ln)), None)
            if len(seen) == n:
                break
    return np.array(list(seen), dtype=object)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal prices as exact cents / 100 (as in the TESTDATA.md fixtures)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _ts_us(seconds: np.ndarray) -> pa.Array:
    return pa.array((seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _write(out_dir: str, name: str, columns: dict) -> None:
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", write_statistics=True)


def _gen_tpch(out_dir: str, seed: int, sf: float) -> dict:
    props: dict = {}
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust, n_supp, n_part = (_rows(t, sf) for t in ("customer", "supplier", "part"))
    n_ord, n_li = _rows("orders", sf), _rows("lineitem", sf)

    r = _rng(seed, "customer")
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    r = _rng(seed, "supplier")
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp)})
    r = _rng(seed, "part")
    adj = np.array(["red", "blue", "hot", "cold", "new", "old", "small", "large"])
    noun = np.array(["bolt", "ring", "gear", "rod", "plate", "anvil", "gizmo", "widget"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(r.choice(adj, n_part), " "),
                              r.choice(noun, n_part)).astype(object),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)).astype(object),
        "p_type": r.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90000 + (pk % 1000) * 10) / 100.0})

    r = _rng(seed, "orders")
    d0 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) // _DAY
    d1 = int(datetime(2001, 8, 1, tzinfo=timezone.utc).timestamp()) // _DAY
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(r.integers(d0, d1 + 1, n_ord) * _DAY),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    r = _rng(seed, "lineitem")
    _write(out_dir, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _ts_us(r.integers(d0 + 1, d1 + 95, n_li) * _DAY)})

    r = _rng(seed, "events")
    n_ev = _rows("events", sf)
    n_users = max(10, int(round(EVENT_USERS_AT_SF1 * sf)))
    # Zipf-skewed users, with ranks shuffled so hot users get random ids
    ranks = r.choice(n_users, size=n_ev, p=_zipf_probs(n_users, EVENT_USER_ZIPF_S))
    user_of_rank = r.permutation(n_users).astype(np.int64)
    users = user_of_rank[ranks]
    secs = np.sort(r.integers(0, 30 * _DAY * 1_000_000, n_ev)) / 1_000_000
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_us(_EPOCH_2024 + secs),
        "user_id": users,
        "event_type": r.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": _cents(r, 0.0, 500.0, n_ev),
        "props": np.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], dtype=object)})
    top = np.bincount(ranks, minlength=n_users)
    props["events_users"] = n_users
    props["events_user_zipf_s"] = EVENT_USER_ZIPF_S
    props["events_top_user_share"] = round(float(top.max()) / n_ev, 4)
    props["events_top1pct_users_share"] = round(
        float(np.sort(top)[::-1][: max(1, n_users // 100)].sum()) / n_ev, 4)
    return props


def _gen_docs(out_dir: str, seed: int, sf: float) -> dict:
    """Zipf-vocabulary documents of spread lengths, a share of them
    near-duplicates: edited copies of an earlier document."""
    r = _rng(seed, "documents")
    n_docs = _rows("documents", sf)
    vocab = _vocab(r, DOC_VOCAB)
    probs = _zipf_probs(DOC_VOCAB, DOC_ZIPF_S)
    lens = r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_docs)
    words = [r.choice(DOC_VOCAB, size=ln, p=probs) for ln in lens]
    is_dup = r.random(n_docs) < NEAR_DUP_SHARE
    is_dup[0] = False
    for i in np.flatnonzero(is_dup):
        src = words[int(r.integers(0, i))].copy()
        edits = r.random(len(src)) < NEAR_DUP_EDIT_SHARE
        src[edits] = r.choice(DOC_VOCAB, size=int(edits.sum()), p=probs)
        words[i] = src
    texts = [" ".join(vocab[w]) for w in words]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["en", "de", "es", "fr", "zh"], n_docs,
                         p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)).astype(object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return {
        "documents_near_dup_share": round(float(is_dup.mean()), 4),
        "documents_near_dup_edit_share": NEAR_DUP_EDIT_SHARE,
        "documents_words_min_max_mean": [int(lens.min()), int(lens.max()),
                                         round(float(lens.mean()), 1)],
        "documents_vocab_zipf_s": DOC_ZIPF_S,
    }


def _gen_embeddings(out_dir: str, seed: int, sf: float) -> dict:
    """Unit vectors around one random centre per label (FIXTURES.md §5)."""
    r = _rng(seed, "embeddings")
    n_vec = _rows("embeddings", sf)
    centers = r.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = r.integers(0, EMBED_LABELS, n_vec)
    x = centers[labels] * 0.35 + r.normal(size=(n_vec, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"embeddings_dim": EMBED_DIM, "embeddings_labels": EMBED_LABELS}


def _gen_corpus(out_dir: str, seed: int, sf: float) -> dict:
    """Whole-file text splits, Zipfian vocabulary with punctuation and
    mixed case so the reference tokenizer's strip and case rules run."""
    r = _rng(seed, "corpus")
    vocab = _vocab(r, WC_VOCAB)
    caps = r.random(WC_VOCAB) < 0.1
    vocab[caps] = [w.capitalize() for w in vocab[caps]]
    probs = _zipf_probs(WC_VOCAB, WC_ZIPF_S)
    corpus = os.path.join(out_dir, "corpus")
    os.makedirs(corpus, exist_ok=True)
    per_file = max(100, int(round(WC_WORDS_AT_SF1 * sf / WC_FILES)))
    punct = np.array(["", "", "", "", "", "", ",", ".", ";", "!", "?", "'s"], dtype=object)
    counts = np.zeros(WC_VOCAB, dtype=np.int64)
    for f in range(WC_FILES):
        ids = r.choice(WC_VOCAB, size=per_file, p=probs)
        counts += np.bincount(ids, minlength=WC_VOCAB)
        toks = vocab[ids] + punct[r.integers(0, len(punct), per_file)]
        lines = [" ".join(toks[i:i + 12]) for i in range(0, per_file, 12)]
        with open(os.path.join(corpus, f"gut-{f}.txt"), "w", encoding="ascii") as fh:
            fh.write("\n".join(lines) + "\n")
    return {
        "corpus_files": WC_FILES,
        "corpus_words": int(per_file * WC_FILES),
        "corpus_vocab_zipf_s": WC_ZIPF_S,
        "corpus_top_word_share": round(float(counts.max()) / counts.sum(), 4),
        "corpus_distinct_words": int((counts > 0).sum()),
    }


def generate(out_dir: str, workload: str, seed: int, sf: float) -> dict:
    """Write ``workload``'s inputs under ``out_dir``; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "llm_curation":
        props = _gen_docs(out_dir, seed, sf)
        props.update(_gen_embeddings(out_dir, seed, sf))
        props.update(_gen_corpus(out_dir, seed, sf))
    elif workload == "olap_stream":
        props = _gen_tpch(out_dir, seed, sf)
    else:
        raise KeyError(f"unknown workload {workload!r}")
    tables = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if name.endswith(".parquet"):
            tables[name[:-8]] = {"rows": pq.read_metadata(path).num_rows,
                                 "bytes": os.path.getsize(path)}
        elif os.path.isdir(path):
            files = sorted(os.listdir(path))
            tables[name] = {"files": len(files), "bytes": sum(
                os.path.getsize(os.path.join(path, f)) for f in files)}
    manifest = {"workload": workload, "seed": seed, "sf": sf,
                "tables": tables, "properties": props}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
