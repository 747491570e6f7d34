"""Correctness checks run after each timed call, outside the clock.

Per turn, the output row must equal the oracle written by
``sources.generate_expected`` on ``(conv_id, turn_idx, extracted_text,
spans, status, error_class)``; a ``status='error'`` row that matches the
oracle is a correct row. The lineage table must account for every
whitelisted input turn, with each commit unit recorded exactly once.
"""

from __future__ import annotations

import os

_KEY = ("conv_id", "turn_idx")
_VALUE = ("extracted_text", "spans", "status", "error_class")


def rows(path: str, columns) -> list:
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=list(columns)
    )
    return table.to_pylist()


def _spans(spans) -> tuple:
    return tuple((s["start"], s["end"], s["kind"]) for s in spans or ())


def load_expected(path: str) -> dict:
    """(conv_id, turn_idx) -> oracle value tuple."""
    return {
        (r["conv_id"], r["turn_idx"]): (
            r["extracted_text"], _spans(r["spans"]), r["status"], r["error_class"]
        )
        for r in rows(path, _KEY + _VALUE)
    }


def failed_turns(table_path: str, expected: dict) -> int:
    """Oracle turns missing from the output table, output rows unequal to
    the oracle, and duplicate or unexpected output rows."""
    seen = set()
    failed = 0
    for r in rows(table_path, _KEY + _VALUE):
        key = (r["conv_id"], r["turn_idx"])
        value = (
            r["extracted_text"], _spans(r["spans"]), r["status"], r["error_class"]
        )
        if key in seen or expected.get(key) != value:
            failed += 1
        seen.add(key)
    return failed + sum(1 for k in expected if k not in seen)


def lineage_problems(
    metrics_path: str, units: tuple, expected_rows: int, version: str
) -> list:
    """Problems with a lineage table: ``units`` are the columns naming one
    commit (``partition_id`` for batch, plus ``batch_id`` for the stream).
    Each unit must appear once for ``version`` and the rows must sum to
    ``expected_rows``."""
    recs = [
        r
        for r in rows(metrics_path, units + ("rows", "extractor_version"))
        if r["extractor_version"] == version
    ]
    problems = []
    keys = [tuple(r[u] for u in units) for r in recs]
    if len(set(keys)) != len(keys):
        problems.append(f"{len(keys) - len(set(keys))} units committed twice")
    total = sum(r["rows"] for r in recs)
    if total != expected_rows:
        problems.append(f"lineage rows {total} != whitelisted turns {expected_rows}")
    return problems


def file_snapshot(root: str) -> dict:
    """relative path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out
