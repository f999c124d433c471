"""Result check against the DuckDB oracle, outside the timed passes.

Each operation's collected rows are compared with ``QuerySpec.oracle`` run
by DuckDB over the same parquet: order-insensitive, columns matched by
name, values in the canonical form of ``tests/oracle_check.py``.
"""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_check():
    # loaded by path: a ``tests`` package elsewhere on sys.path must not
    # shadow the repo's own
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_check", os.path.join(_ROOT, "tests", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, data_dir: str, threads: int) -> None:
        from bench_compare import _duck_con

        self._con = _duck_con(data_dir, str(threads))
        self._rows = _oracle_check()._rows

    def mismatch(self, spec, columns: list[str], records: list[tuple]) -> str | None:
        """None when the rows match the oracle, else a one-line reason.
        An operator without oracle SQL (a probabilistic sketch) is checked
        by row count: one output row per input document."""
        if spec.oracle is None:
            want = self._con.sql("SELECT count(*) FROM documents").fetchone()[0]
            if len(records) != want:
                return f"row count {len(records)} != {want} documents"
            return None
        cur = self._con.sql(spec.oracle)
        du_cols, du_recs = cur.columns, cur.fetchall()
        if sorted(columns) != sorted(du_cols):
            return f"columns {sorted(columns)} != oracle {sorted(du_cols)}"
        got, want = self._rows(records, columns), self._rows(du_recs, du_cols)
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        for a, b in zip(got, want):
            if a != b:
                return f"row {a} != oracle {b}"
        return None
