"""Seeded inputs for the benchmark: TPC-H-shaped tables, a curation corpus
with planted defects, and CSV/NDJSON copies for the ETL workload.

Everything is a pure function of the seed and is cached on disk under
``<cache>/seed<N>/<part>/``; a completed directory carries a ``DONE``
marker, so an interrupted generation is redone rather than trusted.

The corpus plants every kind of document `curate_corpus` acts on -- short
docs and giant-token docs (Gopher gate), verbatim replicas (exact dedup),
light edits of a base doc (MinHash near-dedup) and the benchmark split
(n-gram decontamination) -- over a vocabulary large enough that unplanted
documents never resemble each other.  `curate_reference` replays the four
stages on that construction in plain Python, which gives every seed its
expected manifest and surviving ids without running Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as papq

OLAP_SF = 0.01   # olap_read: small enough that a run times 32-40 queries
ETL_SF = 0.05    # etl_write: 75k-row orders CSV, so inference scans real bytes
CURATE_DOCS = 1200  # an op's ~55 jobs cost the same at 400 docs; more adds input time
GOPHER_OVERRIDES = {"max_dup_frac": 1.0, "min_words": 20}
DEDUP_THRESHOLD = 0.8
DECONTAM_N = 13  # contamination()'s default word n-gram length

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(a: str, b: str, n: int, rng) -> np.ndarray:
    lo = (np.datetime64(a, "D") - _EPOCH).astype(int)
    hi = (np.datetime64(b, "D") - _EPOCH).astype(int)
    return rng.integers(lo, hi + 1, n)


def _ts(days: np.ndarray) -> pa.Array:
    us = days.astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)])


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The seven star-schema tables, same column names, types and value
    domains as the parity fixtures, rows drawn from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
    noun = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    # 1-7 lines per order, numbered from 1: (l_orderkey, l_linenumber) is
    # a key, which the queries' sort tiebreaks rely on
    per_order = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    n_li = len(l_orderkey)
    t["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", n_li, rng))})
    return t


# ---------------------------------------------------------------------------
# curation corpus

def _vocab(rng, size: int = 4000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, n)]))
    return sorted(words)


def corpus(seed: int, n_docs: int = CURATE_DOCS) -> tuple[pa.Table, list[int]]:
    """(documents table, benchmark doc ids).

    Doc roles, by construction: ~4% too short for the gate, ~1% carrying a
    50-letter token, ~4% verbatim replicas of an earlier doc, ~8% light
    edits (one word swapped per ~40) of an earlier doc, ~3% drawn into the
    benchmark split; the rest are fresh random text."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    words = np.array(vocab, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        role = rng.random()
        base_pool = [j for j in range(max(0, i - 200), i) if len(texts[j].split()) >= 40]
        if role < 0.04:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(5, 19)))])
        elif role < 0.05:
            toks = list(words[rng.integers(0, len(words), 40)])
            toks[int(rng.integers(0, 40))] = "x" * 50
        elif role < 0.09 and base_pool:
            texts.append(texts[int(rng.choice(base_pool))])
            continue
        elif role < 0.17 and base_pool:
            toks = texts[int(rng.choice(base_pool))].split()
            for _ in range(max(1, len(toks) // 40)):
                toks[int(rng.integers(0, len(toks)))] = str(words[int(rng.integers(0, len(words)))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(40, 90)))])
        if rng.random() < 0.05:  # scrubbed by the PII stage
            toks.insert(int(rng.integers(0, len(toks))), f"user{i}@example.com")
        texts.append(" ".join(toks))
    n_bench = max(1, n_docs * 3 // 100)
    bench = sorted(int(x) for x in rng.choice(n_docs, n_bench, replace=False))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return docs, bench


def _shingles(text: str, k: int = 5) -> set[str]:
    return {text[i:i + k] for i in range(max(1, len(text) - k + 1))}


def curate_reference(docs: pa.Table, bench: list[int]) -> dict:
    """The expected outcome of `curate_corpus(docs, benchmark=docs[bench],
    gopher_overrides=GOPHER_OVERRIDES)`, computed stage by stage.

    Near-dup candidates are docs sharing a word 3-gram; on this corpus only
    planted edits do, and their character 5-shingle Jaccard sits far above
    the threshold while every other pair sits far below it."""
    ids = docs.column("doc_id").to_pylist()
    text = dict(zip(ids, docs.column("text").to_pylist()))
    n_chars = dict(zip(ids, docs.column("n_chars").to_pylist()))

    def gate(t: str) -> bool:
        toks = t.strip().lower().split()
        if len(toks) < GOPHER_OVERRIDES["min_words"]:
            return False
        mean = len(re.sub(r"[ \t\n\r\f]+", "", t)) / len(toks)
        return 2.0 <= mean <= 12.0 and max(len(x) for x in toks) <= 40

    gated = [i for i in ids if gate(text[i])]
    best: dict[str, int] = {}
    for i in gated:
        cur = best.get(text[i])
        if cur is None or (n_chars[i], -i) > (n_chars[cur], -cur):
            best[text[i]] = i
    exact = sorted(best.values())

    parent = {i: i for i in exact}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    grams: dict[tuple, list[int]] = {}
    for i in exact:
        toks = text[i].split()
        for g in {tuple(toks[j:j + 3]) for j in range(len(toks) - 2)}:
            grams.setdefault(g, []).append(i)
    pairs = {(a, b) for members in grams.values() if len(members) > 1
             for x, a in enumerate(members) for b in members[x + 1:]}
    sh = {}
    for a, b in pairs:
        sa = sh.setdefault(a, _shingles(text[a]))
        sb = sh.setdefault(b, _shingles(text[b]))
        if len(sa & sb) / len(sa | sb) >= DEDUP_THRESHOLD:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    near = [i for i in exact if find(i) == i]

    def ngrams(t: str) -> set[tuple]:
        toks = re.findall(r"[a-z0-9]+", t.lower())
        return {tuple(toks[j:j + DECONTAM_N]) for j in range(len(toks) - DECONTAM_N + 1)}

    probe: set[tuple] = set()
    for b in bench:
        probe |= ngrams(text[b])
    clean = [i for i in near if not (ngrams(text[i]) & probe)]
    counts = [len(ids), len(gated), len(exact), len(near), len(clean)]
    return {"counts": counts, "ids_sha256": ids_digest(clean)}


def ids_digest(ids) -> str:
    return hashlib.sha256(",".join(str(i) for i in sorted(ids)).encode()).hexdigest()


# ---------------------------------------------------------------------------
# on-disk cache

def seed_dir(cache: str, seed: int, part: str) -> str:
    """Generate (once) and return the directory holding one part of
    ``seed``'s inputs: ``tpch`` (``<table>.parquet``), ``etl``
    (``orders.csv``, ``customer.json``) or ``curate``
    (``documents.parquet``, ``expected.json``)."""
    d = os.path.join(cache, f"seed{seed}", part)
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if part == "tpch":
        for name, tbl in tpch_tables(seed, OLAP_SF).items():
            papq.write_table(tbl, os.path.join(d, f"{name}.parquet"))
    elif part == "etl":
        tables = tpch_tables(seed, ETL_SF)
        orders = tables["orders"]
        pacsv.write_csv(orders.set_column(
            orders.schema.get_field_index("o_orderdate"), "o_orderdate",
            orders.column("o_orderdate").cast(pa.date32())),
            os.path.join(d, "orders.csv"))
        with open(os.path.join(d, "customer.json"), "w", encoding="utf-8") as f:
            for row in tables["customer"].to_pylist():
                f.write(json.dumps(row) + "\n")
    elif part == "curate":
        docs, bench = corpus(seed)
        papq.write_table(docs, os.path.join(d, "documents.parquet"))
        with open(os.path.join(d, "expected.json"), "w", encoding="utf-8") as f:
            json.dump({"bench_ids": bench, **curate_reference(docs, bench)}, f)
    else:
        raise ValueError(f"unknown input part {part!r}")
    open(os.path.join(d, "DONE"), "w").close()
    return d
