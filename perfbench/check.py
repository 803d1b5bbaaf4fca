"""Output checks for every timed operation (run outside the timed region).

* Queries with a registered DuckDB oracle: row count and an
  order-insensitive SHA-256 over canonicalised rows, columns sorted by name
  (the same canonical form the registry's parity suite uses).
* ``q_dedup_near`` (LSH, no oracle): every reported pair must be a true
  pair of the exact word-5-shingle Jaccard relation computed here with its
  Jaccard rounded to 4 places, and every planted near-duplicate pair whose
  Jaccard is at least 0.8 must be found (LSH misses such a pair with
  probability below 1e-4).
* Engine jobs: ``docs_in`` equals the shard's rows and ``docs_out`` equals
  the rows actually written.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import pyarrow.parquet as pq


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return tuple(sorted(cols)), len(lines), digest


class OracleBook:
    """DuckDB views over one fixture directory; expected hashes per op."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        import duckdb

        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
            )
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str, sql: str) -> tuple:
        if name not in self._expected:
            res = self._con.execute(sql)
            self._expected[name] = table_hash([d[0] for d in res.description], res.fetchall())
        return self._expected[name]

    def close(self) -> None:
        self._con.close()


def _shingles(text: str, k: int = 5) -> set[str]:
    toks = text.lower().split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def near_dup_problems(rows: list[tuple], cols: list[str], docs_path: str,
                      threshold: float = 0.5, must_find: float = 0.8) -> list[str]:
    t = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pydict()
    sh = {i: _shingles(x) for i, x in zip(t["doc_id"], t["text"]) if x is not None}
    index: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    exact: dict[tuple[int, int], float] = {}
    for ids in index.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = min(ids[x], ids[y]), max(ids[x], ids[y])
                if (a, b) not in exact:
                    sa, sb = sh[a], sh[b]
                    exact[(a, b)] = len(sa & sb) / len(sa | sb)
    ia, ib, ij = cols.index("id_a"), cols.index("id_b"), cols.index("jaccard")
    got = {(r[ia], r[ib]): r[ij] for r in rows}
    problems = []
    if len(got) != len(rows):
        problems.append("duplicate pairs")
    for pair, jac in got.items():
        ref = exact.get(pair)
        if ref is None or ref < threshold or not math.isclose(jac, round(ref, 4), abs_tol=1e-9):
            problems.append(f"pair {pair} jaccard {jac} vs exact {ref}")
    missed = [p for p, j in exact.items() if j >= must_find and p not in got]
    if missed:
        problems.append(f"{len(missed)} pairs with jaccard >= {must_find} missed, e.g. {missed[:3]}")
    return problems[:5]


def written_rows(out_dir: str) -> int:
    """Rows in every parquet part file under ``out_dir``."""
    n = 0
    for root, _dirs, files in os.walk(out_dir):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n
