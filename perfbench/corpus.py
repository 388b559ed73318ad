"""Seeded corpus generator for the benchmark.

Builds the ten-table corpus the operators read (the TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``; schemas and
value domains as FIXTURES.md describes them) from scratch, in DuckDB, so
the benchmark needs no input outside its checkout.

What the seed controls, and what it does not:

- Values, row counts and foreign-key integrity depend only on the scale
  factor. Every column is a pure function of the row's key through
  DuckDB's ``hash``, so two seeds produce the same multiset of rows and
  every oracle answers the same.
- The seed sets the physical row order of every table file. Scans,
  partition assignment, shuffle order and the bytes on disk therefore
  differ between seeds.

A corpus is written once per (scale factor, seed) under the cache
directory and reused by later processes. Its fingerprint is a digest of
the file bytes, recorded in ``_CORPUS.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

# Bump when the generated values or layout change, so stale caches are
# rebuilt instead of reused.
VERSION = 1

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = "large hot blue old cold small green bright".split()
_NOUN = "ring bolt plate gear widget nut spring valve".split()


def _u(key: str, salt: int) -> str:
    """SQL for a uniform draw in [0, 1) fixed by ``key`` and ``salt``."""
    return f"((hash({key}, {salt}) % 1000003) / 1000003.0)"


def _pick(key: str, salt: int, values: list[str]) -> str:
    """SQL picking one of ``values`` uniformly for ``key``."""
    lst = ", ".join(f"'{v}'" for v in values)
    return f"([{lst}])[1 + floor({_u(key, salt)} * {len(values)})::INT]"


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.1 = 600k lineitem)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _select(table: str, n: dict[str, int]) -> str:
    """SELECT producing ``table``'s rows in key order, seed-independent."""
    i = "i"
    if table == "region":
        return (
            "SELECT i::INT AS r_regionkey, "
            "(['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] AS r_name "
            "FROM range(5) t(i)"
        )
    if table == "nation":
        return (
            "SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, "
            "(i % 5)::INT AS n_regionkey FROM range(25) t(i)"
        )
    if table == "customer":
        segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        return (
            f"SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
            f"floor({_u(i, 1)} * 25)::INT AS c_nationkey, "
            f"round(-999.99 + {_u(i, 2)} * 10999.98, 2)::DOUBLE AS c_acctbal, "
            f"{_pick(i, 3, segs)} AS c_mktsegment "
            f"FROM range({n['customer']}) t(i)"
        )
    if table == "supplier":
        return (
            f"SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
            f"floor({_u(i, 11)} * 25)::INT AS s_nationkey, "
            f"round(-999.99 + {_u(i, 12)} * 10999.98, 2)::DOUBLE AS s_acctbal "
            f"FROM range({n['supplier']}) t(i)"
        )
    if table == "part":
        types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        return (
            f"SELECT i::BIGINT AS p_partkey, "
            f"{_pick(i, 21, _ADJ)} || ' ' || {_pick(i, 22, _NOUN)} AS p_name, "
            f"'Brand#' || (1 + floor({_u(i, 23)} * 25)::INT) AS p_brand, "
            f"{_pick(i, 24, types)} AS p_type, "
            f"(1 + floor({_u(i, 25)} * 50))::INT AS p_size, "
            f"round(900 + (i % 1000) / 10.0, 1)::DOUBLE AS p_retailprice "
            f"FROM range({n['part']}) t(i)"
        )
    if table == "orders":
        return (
            f"SELECT i::BIGINT AS o_orderkey, "
            f"floor({_u(i, 31)} * {n['customer']})::BIGINT AS o_custkey, "
            f"{_pick(i, 32, ['F', 'O', 'P'])} AS o_orderstatus, "
            f"round(1000 + {_u(i, 33)} * 499000, 2)::DOUBLE AS o_totalprice, "
            f"(DATE '1995-01-01' + floor({_u(i, 34)} * 2404)::INT)::TIMESTAMP AS o_orderdate, "
            f"{_pick(i, 35, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} "
            f"AS o_orderpriority "
            f"FROM range({n['orders']}) t(i)"
        )
    if table == "lineitem":
        return (
            f"SELECT i AS _rid, floor({_u(i, 41)} * {n['orders']})::BIGINT AS l_orderkey, "
            f"floor({_u(i, 42)} * {n['part']})::BIGINT AS l_partkey, "
            f"floor({_u(i, 43)} * {n['supplier']})::BIGINT AS l_suppkey, "
            f"(1 + floor({_u(i, 44)} * 7))::INT AS l_linenumber, "
            f"(1 + floor({_u(i, 45)} * 50))::DOUBLE AS l_quantity, "
            f"round(900 + {_u(i, 46)} * 104100, 2)::DOUBLE AS l_extendedprice, "
            f"(floor({_u(i, 47)} * 11) / 100)::DOUBLE AS l_discount, "
            f"(floor({_u(i, 48)} * 9) / 100)::DOUBLE AS l_tax, "
            f"{_pick(i, 49, ['A', 'N', 'R'])} AS l_returnflag, "
            f"{_pick(i, 50, ['F', 'O'])} AS l_linestatus, "
            f"(DATE '1995-01-02' + floor({_u(i, 51)} * 2498)::INT)::TIMESTAMP AS l_shipdate "
            f"FROM range({n['lineitem']}) t(i)"
        )
    if table == "events":
        users = max(1, n["customer"] // 10)
        step_us = 30 * 86_400_000_000 // n["events"]
        return (
            f"SELECT i::BIGINT AS event_id, "
            f"TIMESTAMP '2024-01-01' + to_microseconds((i * {step_us} "
            f"+ floor({_u(i, 61)} * {step_us}))::BIGINT) AS ts, "
            f"floor({_u(i, 62)} * {users})::BIGINT AS user_id, "
            f"{_pick(i, 63, ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type, "
            f"round({_u(i, 64)} * 500, 2)::DOUBLE AS value, "
            f"'{{\"k\": ' || floor({_u(i, 65)} * 100)::INT || '}}' AS props "
            f"FROM range({n['events']}) t(i)"
        )
    if table == "documents":
        vocab = "[" + ", ".join(f"'{w}'" for w in _VOCAB) + "]"
        langs = ["en", "en", "en", "en", "fr", "zh", "de", "es"]
        return (
            f"SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM ("
            f"SELECT i::BIGINT AS doc_id, array_to_string(list_transform("
            f"range(10 + floor({_u(i, 71)} * 91)::BIGINT), "
            f"j -> {vocab}[1 + floor(((hash(i, j, 72) % 1000003) / 1000003.0) * {len(_VOCAB)})::INT]"
            f"), ' ') AS text, "
            f"{_pick(i, 73, langs)} AS lang, "
            f"'src' || floor({_u(i, 74)} * 20)::INT AS source "
            f"FROM range({n['documents']}) t(i))"
        )
    if table == "embeddings":
        # label-centred gaussian-ish vectors, L2-normalised (cosine == dot)
        raw = (
            "list_transform(range(64), j -> "
            "((hash(lbl, j, 81) % 1000003) / 1000003.0 - 0.5) "
            "+ 0.6 * ((hash(i, j, 82) % 1000003) / 1000003.0 - 0.5))"
        )
        return (
            "SELECT vec_id, list_transform(v, x -> (x / sqrt(list_sum("
            "list_transform(v, y -> y * y))))::FLOAT) AS embedding, label FROM ("
            f"SELECT i::BIGINT AS vec_id, lbl::INT AS label, {raw} AS v FROM ("
            f"SELECT i, floor({_u(i, 80)} * 10)::INT AS lbl "
            f"FROM range({n['embeddings']}) t(i)))"
        )
    raise KeyError(table)


_ORDER_KEY = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def corpus_name(sf: float, seed: int) -> str:
    """Directory name; Spark-side catalog names are derived from it, so
    it holds only letters, digits and underscores."""
    sf_tag = f"{sf:g}".replace(".", "_")
    seed_tag = f"{seed}" if seed >= 0 else f"n{-seed}"
    return f"pb_v{VERSION}_sf{sf_tag}_s{seed_tag}"


def fingerprint(corpus_dir: str) -> str:
    """Digest of every table file's bytes."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(corpus_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode())
            h.update(fh.read())
    return h.hexdigest()[:16]


def generate(out: str, sf: float, seed: int) -> None:
    """Write the corpus for (``sf``, ``seed``) to ``out`` (replaced)."""
    import duckdb

    n = sizes(sf)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        # one writer thread: the file bytes, and so the fingerprint,
        # must not depend on thread scheduling
        con.execute("SET threads = 1")
        for t in TABLES:
            # _rid: the row's unique key; lineitem has no unique column,
            # so its SELECT carries the generating row id instead
            src = _select(t, n)
            if t in _ORDER_KEY:
                src = f"SELECT *, {_ORDER_KEY[t]} AS _rid FROM ({src})"
            con.execute(
                f"COPY (SELECT * EXCLUDE (_rid) FROM ({src}) "
                f"ORDER BY hash(_rid, {seed}), _rid) "
                f"TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()
    meta = {"version": VERSION, "sf": sf, "seed": seed, "rows": n,
            "fingerprint": fingerprint(tmp)}
    with open(os.path.join(tmp, "_CORPUS.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure(cache_dir: str, sf: float, seed: int) -> tuple[str, dict, float]:
    """Return ``(corpus_dir, meta, gen_s)``; ``gen_s`` is 0.0 on a cache
    hit. The corpus is reused across processes once complete."""
    out = os.path.join(cache_dir, corpus_name(sf, seed))
    meta_path = os.path.join(out, "_CORPUS.json")
    gen_s = 0.0
    if not os.path.exists(meta_path):
        os.makedirs(cache_dir, exist_ok=True)
        t0 = time.perf_counter()
        generate(out, sf, seed)
        gen_s = time.perf_counter() - t0
    with open(meta_path) as fh:
        return out, json.load(fh), gen_s
