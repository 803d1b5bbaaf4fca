"""Seeded generator for the benchmark's input tables.

Writes the tables of the query registry's schema that the benchmarked ops
read (the seven TPC-H-shaped tables and ``documents``) as parquet, with the
value distributions of the fixtures the registry's oracles were written
against: uniform keys and measures, exact two-decimal money columns (the
integer-cents oracles depend on it), timestamps without a time zone, and
10-100-word documents over a 30-word vocabulary with 5 % planted
near-duplicates (``<source text> dup``).

Row counts scale with ``sf`` like TPC-H (6 M lineitem rows at sf 1).  The
same (seed, sf) always writes the same values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
LLM_TABLES = ("documents",)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    """Exact two-decimal doubles: integer cents divided once."""
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _timestamps(rng: np.random.Generator, first_day: int, last_day: int, n: int) -> pa.Array:
    days = rng.integers(first_day, last_day + 1, n)
    return pa.array(_EPOCH_1995 + days * _DAY_US, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def write_tpch(out_dir: str, sf: float, seed: int) -> None:
    """Write the seven TPC-H-shaped tables."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -99_999, 1_000_000, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -99_999, 1_000_000, n_supp)})
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": (90_000 + (np.arange(n_part) % 1000) * 10) / 100.0})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _timestamps(rng, 0, 2404, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 90_000, 10_500_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _timestamps(rng, 1, 2499, n_line)})


def document_texts(rng: np.random.Generator, n_docs: int) -> tuple[list[str], list[tuple[int, int]]]:
    """Word-salad texts with 5 % planted near-duplicates.

    Returns the texts and the planted (source doc, copy doc) pairs."""
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    copies = rng.choice(np.arange(1, n_docs), size=n_docs // 20, replace=False)
    planted = []
    for c in sorted(int(x) for x in copies):
        src = int(rng.integers(0, c))
        texts[c] = texts[src] + " dup"
        planted.append((src, c))
    return texts, planted


def write_documents(path: str, doc_ids: np.ndarray, texts: list[str], langs: pa.Array) -> None:
    text = pa.array(texts, pa.string())
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": text,
        "lang": langs,
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    }), path)


def languages(rng: np.random.Generator, n: int) -> pa.Array:
    """Document language labels: 41 % ``en``, the rest split evenly."""
    return _pick(rng, _LANGS, n, _LANG_P)


def write_llm(out_dir: str, sf: float, seed: int) -> None:
    """Write ``documents``."""
    rng = np.random.default_rng([seed, 2])
    n_docs = max(500, int(50_000 * sf))
    texts, _ = document_texts(rng, n_docs)
    write_documents(os.path.join(out_dir, "documents.parquet"),
                    np.arange(n_docs), texts, languages(rng, n_docs))
