"""Output checks, counted into ``attempted`` / ``failed`` (``failed_frac`` is
their ratio). Job outputs are read back from disk with pyarrow,
independently of Spark.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pyarrow.dataset as ds

EXPECTED_DEDUP = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "expected_dedup.json")


def read_table(path: str, columns: list[str]):
    """A parquet table as written by ``scale.write_table`` (hive-style
    ``url_bucket=`` directories or flat files) -> pandas."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns).to_pandas()


def check_rows(results, text_col: str, truth: dict[str, str],
               metrics_pages: int | None = None) -> tuple[int, int]:
    """Every truth url appears exactly once, with its text byte-identical to
    the input and a NULL error; no other url appears; and, when given, the
    metrics table's page total equals the rows written. Attempted = truth
    rows; a url counts as failed once however many ways it is wrong."""
    bad: set[str] = set()
    seen: dict[str, int] = {}
    for url, text, err in zip(results["url"], results[text_col], results["error"]):
        seen[url] = seen.get(url, 0) + 1
        if url not in truth or err is not None or text != truth[url]:
            bad.add(url)
    bad.update(u for u, n in seen.items() if n > 1)
    bad.update(u for u in truth if u not in seen)
    failed = len(bad)
    if metrics_pages is not None:
        failed += abs(metrics_pages - len(results))
    return len(truth), min(failed, len(truth))


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[dict], cols: list[str]) -> str:
    """Order-insensitive value hash, the canonical form of
    ``tools/check_parity.value_hash``. Kept beside the committed expected
    values so the two cannot drift apart."""
    cols_sorted = sorted(cols)
    canon = sorted("|".join(_norm(row[c]) for c in cols_sorted) for row in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def load_expected() -> dict[str, dict]:
    with open(EXPECTED_DEDUP) as fh:
        return json.load(fh)


def check_leaf(rows: list[dict], cols: list[str], expected: dict) -> bool:
    return len(rows) == expected["rows"] and value_hash(rows, cols) == expected["hash"]
