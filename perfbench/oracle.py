"""Output oracles, run outside every timed region.

* kv_text_sum: a numpy model of the reference query (SURVEY.md §0): sort
  by (key, value), 0-based rank, then the trailing-window sum over ranks
  [max(0, r-l+1), r] as a prefix-sum difference.  Results are compared
  by a hash of the (rank, key, agg) rows taken in rank order, so the row
  order a sink writes does not matter.
* catalog queries: the DuckDB ``ORACLE`` SQL over the same parquet
  files, compared with ``tests/oracle_harness.table_hash`` (row count,
  column names, order-insensitive value hash).
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np


def kv_sum_model(keys: np.ndarray, values: np.ndarray, window: int) -> np.ndarray:
    """(n, 3) int64 rows (rank, key, sum over the trailing ``window`` rows)."""
    order = np.lexsort((values, keys))
    k, v = keys[order].astype(np.int64), values[order].astype(np.int64)
    rank = np.arange(len(k), dtype=np.int64)
    prefix = np.concatenate([[0], np.cumsum(v)])
    return np.stack([rank, k, prefix[rank + 1] - prefix[np.maximum(0, rank - window + 1)]], axis=1)


def kv_hash(rows: np.ndarray) -> str:
    """Hash of (rank, key, agg) rows, independent of their input order."""
    rows = np.asarray(rows, dtype=np.int64)
    rows = rows[np.argsort(rows[:, 0], kind="stable")]
    return hashlib.sha256(np.ascontiguousarray(rows).astype("<i8").tobytes()).hexdigest()[:16]


def read_kv_text_output(path: str) -> np.ndarray:
    """Rows of a ``rank\\tkey\\tagg`` text output directory."""
    import pandas as pd

    parts = [
        pd.read_csv(p, sep="\t", header=None, dtype=np.int64).to_numpy()
        for p in sorted(glob.glob(os.path.join(path, "part-*")))
        if os.path.getsize(p) > 0
    ]
    return np.concatenate(parts) if parts else np.empty((0, 3), dtype=np.int64)


class CatalogOracle:
    """DuckDB views over one catalog directory; hashes each query's oracle."""

    def __init__(self, sf_dir: str, table_names: list[str]):
        import duckdb

        self._con = duckdb.connect()
        for t in table_names:
            self._con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def signature(self, sql: str) -> tuple[int, str, str]:
        from tests.oracle_harness import table_hash

        rel = self._con.sql(sql)
        return table_hash([d[0] for d in rel.description], rel.fetchall())

    def close(self) -> None:
        self._con.close()


def spark_signature(df) -> tuple[int, str, str]:
    from tests.oracle_harness import table_hash

    return table_hash(df.columns, [tuple(r) for r in df.collect()])
