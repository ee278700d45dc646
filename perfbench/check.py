"""Output check: engine results against oracle-verified hashes.

Batch results are compared by the strictcheck canon
(``tools/strictcheck.py``): order-insensitive strict value hash, sorted
column names, row count and per-column dtype family. The expected side
is each query's DuckDB ``oracle_sql()`` twin over the same generated
corpus. All of this runs outside the timed region.
"""

from __future__ import annotations

import os

from tools.canon import family_mismatches
from tools.strictcheck import frame_cells, table_hash


def frame_hash(pdf) -> tuple[str, list[str], int]:
    cols, rows = frame_cells(pdf)
    return table_hash(rows, cols), sorted(cols), len(rows)


def mismatch(got, want, want_key=None) -> str | None:
    """Why result frame ``got`` differs from oracle frame ``want``, or
    None when they agree. ``want_key`` is ``frame_hash(want)`` when the
    caller already has it."""
    gh, gc, gn = frame_hash(got)
    wh, wc, wn = want_key or frame_hash(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    fams = family_mismatches(got, want)
    if fams:
        return f"dtype families differ: {fams}"
    if gn != wn:
        return f"{gn} rows != {wn}"
    if gh != wh:
        return f"hash {gh} != {wh}"
    return None


def corrupt(pdf):
    """A copy of ``pdf`` with one row dropped, or one added when it is
    empty: a result the check must reject."""
    if len(pdf):
        return pdf.iloc[1:]
    return pdf.reindex(range(1))


class Oracle:
    """DuckDB over one corpus directory, one view per engine table."""

    def __init__(self, sf_dir: str):
        import duckdb

        from bigdata_riveranalysis_spark.sources.tables import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def frame(self, sql: str):
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()
