"""Output checks.  Each returns a list of mismatch descriptions (empty when
the output is right), so a caller can count failures and still report.

All of them read what the program wrote (parquet tables read with pyarrow,
or rows it returned) and compare against an answer computed without the
code under test wherever that is possible: chunk and window counts from
the generator's texts, top-k from a NumPy brute force, near-duplicate
champions from the query's registered DuckDB oracle.  The incremental
table is compared against the program's own from-scratch extraction,
which shares no code with the sink's merge path.
"""

from __future__ import annotations

import os
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

CHUNK_PARTITIONING = ds.partitioning(
    pa.schema([("channel_name", pa.string()), ("msg_date", pa.string())]),
    flavor="hive",
)


def read_chunk_table(path: str) -> pa.Table:
    """The keyed chunk table, partition columns kept as the strings Spark
    wrote into the directory names."""
    return ds.dataset(path, format="parquet", partitioning=CHUNK_PARTITIONING).to_table()


def rows(table: pa.Table, columns: list[str]) -> Counter:
    return Counter(zip(*(table.column(c).to_pylist() for c in columns)))


def check_table_equals(actual: Counter, expected: Counter, label: str) -> list[str]:
    if actual == expected:
        return []
    missing = expected - actual
    extra = actual - expected
    return [
        f"{label}: {sum(missing.values())} rows missing, {sum(extra.values())} "
        f"unexpected (e.g. missing {next(iter(missing), None)!r}, "
        f"unexpected {next(iter(extra), None)!r})"
    ]


def check_count(actual: int, expected: int, label: str) -> list[str]:
    if actual == expected:
        return []
    return [f"{label} has {actual} rows, expected {expected}"]


# --- top-k -----------------------------------------------------------------

def _round6(x: float) -> float:
    # Spark's round(double, 6): HALF_UP on the shortest decimal repr
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


class TopkReference:
    """NumPy brute-force cosine over the vector table, computed with the
    program's arithmetic (float32 inputs widened to double, left-to-right
    folds over the dimensions, a zero norm scores NULL)."""

    def __init__(self, path: str, id_col: str = "chunk_id", vec_col: str = "embedding"):
        t = pq.read_table(path, columns=[id_col, vec_col, "channel_name"])
        self.ids = np.array(t.column(id_col).to_pylist(), dtype=object)
        self.channels = np.array(t.column("channel_name").to_pylist(), dtype=object)
        flat = t.column(vec_col).combine_chunks()
        dim = len(flat[0]) if len(flat) else 0
        self.vecs = (
            np.asarray(flat.flatten(), dtype=np.float32).astype(np.float64).reshape(-1, dim)
        )
        self.norms = np.sqrt(self._fold(self.vecs * self.vecs))

    @staticmethod
    def _fold(m: np.ndarray) -> np.ndarray:
        acc = np.zeros(m.shape[0])
        for j in range(m.shape[1]):
            acc = acc + m[:, j]
        return acc

    def topk(self, qvec: list[float], k: int, channel: str | None = None):
        q = np.asarray(qvec, dtype=np.float32).astype(np.float64)
        qn = np.sqrt(self._fold((q * q)[None, :]))[0]
        rows = np.arange(len(self.ids))
        if channel is not None:
            rows = rows[self.channels == channel]
        dots = self._fold(self.vecs[rows] * q[None, :])
        denom = self.norms[rows] * qn
        scored = []
        for r, d, n in zip(rows, dots, denom):
            s = None if n == 0 else _round6(float(d / n))
            scored.append((s is None, -(s or 0.0), self.ids[r], s))
        scored.sort()
        return [(i, s) for _, _, i, s in scored[:k]]


def check_topk(actual: list[tuple], expected: list[tuple], label: str) -> list[str]:
    if [tuple(r) for r in actual] == [tuple(r) for r in expected]:
        return []
    return [f"{label}: top-k {actual!r} != reference {expected!r}"]


# --- near-duplicate curation ----------------------------------------------

def check_champions(actual: pa.Table, oracle_sql: str, sf_dir: str) -> list[str]:
    """``llm_dedup_champion``'s rows must equal its DuckDB oracle over the
    same input tables, and the planted clusters must have been found."""
    con = duckdb.connect()
    try:
        for name in ("documents", "customer", "region"):
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        expected = Counter(tuple(r) for r in con.execute(oracle_sql).fetchall())
    finally:
        con.close()
    label = "llm_dedup_champion vs its DuckDB oracle"
    errs = check_table_equals(rows(actual, actual.column_names), expected, label)
    if not expected:
        errs.append(f"{label}: no near-duplicate cluster found")
    return errs
