"""Correctness of each key's output against its DuckDB oracle answer.

The comparison is ``tests/oracle.py``'s ``compare_frames``, imported as is.
Oracle answers are cached as pickles under the benchmark's scratch, keyed on
the oracle SQL and the fixture's content fingerprint, so a fixture seen
before costs no DuckDB query.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd

from tests.oracle import compare_frames, container_columns, duckdb_connect


class Oracle:
    def __init__(self, sf_dir: str, fingerprint: str, cache_dir: str):
        from __spark_entry__ import oracle_sql

        self.sf_dir = sf_dir
        self.fingerprint = fingerprint
        self.cache_dir = cache_dir
        self.sql = oracle_sql()
        self.hits = 0
        self.misses = 0
        os.makedirs(cache_dir, exist_ok=True)

    def answer(self, key: str) -> pd.DataFrame | None:
        sql = self.sql.get(key)
        if sql is None:
            return None
        digest = hashlib.sha256(f"{sql}\0{self.fingerprint}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}-{digest[:20]}.pkl")
        if os.path.exists(path):
            self.hits += 1
            return pd.read_pickle(path)
        self.misses += 1
        con = duckdb_connect(self.sf_dir)
        try:
            pdf = con.sql(sql).df()
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        pdf.to_pickle(tmp)
        os.replace(tmp, path)
        return pdf

    def problems(self, key: str, df, spark_pdf: pd.DataFrame) -> list[str]:
        """Mismatches of one key's collected output; empty means correct."""
        bad = container_columns(df.schema)
        if bad:
            return [f"container-typed output columns: {bad}"]
        expected = self.answer(key)
        if expected is None:
            return []
        return compare_frames(spark_pdf, expected)
