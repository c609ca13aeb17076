"""Output checks: catalog queries against their DuckDB twins, row-count
pins for the two rows-only queries, and the ingest stores against their
batch twins.

The comparison reuses the canonicalisation of ``tools/full_oracle_check``
(columns ordered by name, rows sorted through pandas, floats compared by
``repr``), imported from the checkout rather than copied.
"""

from __future__ import annotations

import importlib.util
import math
import os

# rows-only catalog entries, checked against pins on the generated tables
PIN_PI = "pi_estimate"
PIN_NEARDUP = "dedup_embedding_neardup"
NEARDUP_THRESHOLD = 0.3  # the catalog entry's cosine threshold
NEARDUP_PAIRS = 22  # pairs the entry finds on the generated tables


def _load_canon(root: str):
    path = os.path.join(root, "tools", "full_oracle_check.py")
    spec = importlib.util.spec_from_file_location("full_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


class OracleChecker:
    """Compares Spark results with DuckDB over the same parquet tables."""

    def __init__(self, root: str, data_dir: str, tables: list[str]):
        import duckdb

        self._canon = _load_canon(root)
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        self._data_dir = data_dir

    def close(self) -> None:
        self._con.close()

    def check(self, name: str, columns: list[str], rows: list[tuple], oracle: dict) -> str | None:
        """None when ``rows`` are right, else a one-line reason."""
        if name == PIN_PI:
            return self._check_pi(rows)
        if name == PIN_NEARDUP:
            return self._check_neardup(columns, rows)
        if name not in oracle:
            return "no oracle twin"
        rel = self._con.sql(oracle[name])
        want = list(rel.df().itertuples(index=False, name=None))
        if sorted(columns) != sorted(rel.columns):
            return f"columns {sorted(columns)} != {sorted(rel.columns)}"
        if len(rows) != len(want):
            return f"{len(rows)} rows, oracle {len(want)}"
        if self._canon(rows, columns) != self._canon(want, list(rel.columns)):
            return "values differ from oracle"
        return None

    @staticmethod
    def _check_pi(rows: list[tuple]) -> str | None:
        if len(rows) != 1:
            return f"{len(rows)} rows, pinned 1"
        est, n = rows[0]
        if n != 1_000_000 or abs(est - math.pi) > 0.01:
            return f"estimate {est} over {n} samples"
        return None

    def _check_neardup(self, columns: list[str], rows: list[tuple]) -> str | None:
        """The pinned number of pairs, each ordered, distinct, and with the
        reported cosine equal to the exact cosine (numpy) above the
        threshold."""
        import numpy as np
        import pyarrow.parquet as pq

        if len(rows) != NEARDUP_PAIRS:
            return f"{len(rows)} pairs, pinned {NEARDUP_PAIRS}"
        t = pq.read_table(f"{self._data_dir}/embeddings.parquet").to_pydict()
        vec = {i: np.asarray(v, dtype=np.float64) for i, v in zip(t["vec_id"], t["embedding"])}
        ia, ib, ic = (columns.index(c) for c in ("id_a", "id_b", "cosine"))
        if len({(r[ia], r[ib]) for r in rows}) != len(rows):
            return "repeated pair"
        for r in rows:
            va, vb = vec[r[ia]], vec[r[ib]]
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if r[ia] >= r[ib] or cos < NEARDUP_THRESHOLD or abs(cos - r[ic]) > 1e-5:
                return f"pair ({r[ia]}, {r[ib]}) cosine {r[ic]} vs exact {cos:.6f}"
        return None
