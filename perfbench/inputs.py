"""Seeded workload inputs. The same seed gives the same tables; the program
only ever sees the parquet files written here.

Page tables come from the package's seeded generators (``fixture_rows``,
``degraded_rows``, ``mixed_corpus_df``). The OCR corpus is stratified:
exactly one page in eight is a large page, so the heavy tail of page sizes is
the same share on every seed and seeds differ in content, not in total work.
The dedup tables are the committed ``documents`` / ``embeddings`` tables with
a seed-permuted row order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: a page rendered from this many text lines or more is a large page (the
#: corpus generators draw 40-89 lines for large pages, 4-13 for the rest)
BIG_PAGE_LINES = 40
BIG_SHARE = 8  # one page in BIG_SHARE is large
PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


def rng_seed(seed: int) -> int:
    """Any ``--seed`` as a seed the generators accept: non-negative and, for
    ``mixed_corpus_df``, small enough for its ``int`` seed column."""
    return seed & 0x7FFFFFFF


def _write_files(table: pa.Table, path: str, files: int) -> None:
    """``table`` as ``files`` parquet files under the directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                           coerce_timestamps="us")  # Spark reads no nanosecond timestamps


def truth(path: str) -> dict[str, str]:
    """url -> ground-truth text, read straight from the written table."""
    t = pq.read_table(path, columns=["url", "text"]).to_pydict()
    return dict(zip(t["url"], t["text"]))


def ocr_pages(path: str, seed: int, n_pages: int, degraded_share: int, files: int) -> None:
    """``n_pages`` pages: one in ``degraded_share`` a blurred scan from
    ``degraded_rows``, the rest seeded corpus pages from ``fixture_rows`` of
    which one in ``BIG_SHARE`` is large, picked from a pool twice the size
    needed. Rendered in this process, without Spark."""
    from tesseract_wasm_spark.fixtures import degraded_rows, fixture_rows  # noqa: PLC0415

    sd = rng_seed(seed)
    n_deg = n_pages // degraded_share
    n_clean = n_pages - n_deg
    n_big = n_clean // BIG_SHARE
    pool = [r for r in fixture_rows(2 * n_clean, sd) if "/page/page-" in r["url"]]
    big = [r for r in pool if r["text"].count("\n") >= BIG_PAGE_LINES][:n_big]
    small = [r for r in pool if r["text"].count("\n") < BIG_PAGE_LINES][: n_clean - len(big)]
    degraded = [r for r in degraded_rows(n_deg, sd) if "/degraded/page-" in r["url"]]
    rows = sorted(big + small + degraded, key=lambda r: r["url"])
    t = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
    _write_files(t, path, files)


def mixed_pages(spark, path: str, seed: int, n_pages: int, files: int) -> None:
    """``mixed_corpus_df``: half DRF pages, a quarter HTML, a quarter PDF."""
    from tesseract_wasm_spark.fixtures import mixed_corpus_df  # noqa: PLC0415

    mixed_corpus_df(spark, n_pages, seed=rng_seed(seed), partitions=files).write.mode(
        "overwrite").parquet(path)


def dedup_tables(sf_dir: str, seed: int, limit: int | None = None) -> dict[str, int]:
    """Seed-permuted copies of the committed ``documents`` and ``embeddings``
    tables (their first ``limit`` rows, if given) under ``sf_dir``, the
    layout ``queries.REGISTRY`` leaves read. Returns table -> rows."""
    rng = np.random.default_rng(rng_seed(seed))
    rows = {}
    os.makedirs(sf_dir, exist_ok=True)
    for name in ("documents", "embeddings"):
        t = pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))
        t = t.take(rng.permutation(t.num_rows)).slice(0, limit)
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
