"""Correctness checks for every benchmark operation, run outside the timed
span.

A query is compared with its DuckDB oracle over the same parquet files:
sorted column names, result types, row count and order-insensitive
canonical values. The canonical forms are those of ``tools/drive_driver.py``
(integer widths merge, timestamp time zone flavors merge, floats compare by
``repr``), imported from it so the benchmark grades results by the same
rules as the driver mimic.

A pipeline run is compared with the counts the input generator recorded.
"""

from __future__ import annotations

import os

from tools.drive_driver import arrow_canon, canon_rows, spark_canon


class OracleChecker:
    """Compares collected Spark results with DuckDB oracle results over the
    tables in ``data_dir``. Each oracle runs once; its canonical result is
    reused for every later run of the same query."""

    def __init__(self, data_dir: str, oracles: dict[str, str]):
        import duckdb

        self._oracles = oracles
        self._con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self._con.execute(
                    f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{path}')"
                )
        self._expected: dict[str, tuple[dict, list]] = {}

    def close(self) -> None:
        self._con.close()

    def _expect(self, name: str) -> tuple[dict, list]:
        if name not in self._expected:
            tbl = self._con.execute(self._oracles[name]).arrow()
            types = {f.name: arrow_canon(f.type) for f in tbl.schema}
            rows = canon_rows(tbl.to_pylist(), sorted(types))
            self._expected[name] = (types, rows)
        return self._expected[name]

    def problems(self, name: str, schema, rows) -> list[str]:
        """Empty when the Spark result (``schema``, collected ``rows``)
        equals the oracle's; otherwise what differs."""
        if name not in self._oracles:
            return [f"{name}: no oracle"]
        o_types, o_rows = self._expect(name)
        s_types = {f.name: spark_canon(f.dataType) for f in schema.fields}
        if sorted(s_types) != sorted(o_types):
            return [f"columns spark={sorted(s_types)} oracle={sorted(o_types)}"]
        out = []
        mismatch = {c: (s_types[c], o_types[c]) for c in s_types if s_types[c] != o_types[c]}
        if mismatch:
            out.append(f"types {mismatch}")
        if len(rows) != len(o_rows):
            out.append(f"rows spark={len(rows)} oracle={len(o_rows)}")
        else:
            s_rows = canon_rows(rows, sorted(s_types))
            if s_rows != o_rows:
                i = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
                out.append(f"values differ at sorted row {i}: spark={s_rows[i]} oracle={o_rows[i]}")
        return out


def pipeline_problems(report: dict, expected: dict[str, int]) -> list[str]:
    """Empty when a ``run_pipeline`` report matches the generator's counts:
    success, every row entering the transform, exactly the survivors
    written."""
    out = []
    stats = report.get("stats", {})
    if report.get("success") is not True:
        out.append(f"success={report.get('success')!r}")
    if stats.get("original_rows") != expected["rows"]:
        out.append(f"original_rows={stats.get('original_rows')} expected {expected['rows']}")
    if stats.get("processed_rows") != expected["survivors"]:
        out.append(
            f"processed_rows={stats.get('processed_rows')} expected {expected['survivors']}"
        )
    return out
