"""Per-layer measurements for the traced run, all taken from outside the
package: timing wrappers at the names callers resolve, noop-sink stage
isolation, and counts of what each layer produced.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench.spans import Tracer

#: (module, attribute, span name): each public engine function, wrapped at
#: every name its callers resolve. ``page`` imports label_components, binarize,
#: segment and recognize_words at load time; deskew, find_blocks and
#: orientation_scores are looked up on their modules at call time;
#: orientation imports label_components and segment at load time.
ENGINE_HOOKS = (
    ("tesseract_wasm_spark.drf", "decode", "drf.decode"),
    ("tesseract_wasm_spark.engine.page", "binarize", "engine.otsu.binarize"),
    ("tesseract_wasm_spark.engine.page", "label_components",
     "engine.components.label_components"),
    ("tesseract_wasm_spark.engine.orientation", "label_components",
     "engine.components.label_components"),
    ("tesseract_wasm_spark.engine.deskew", "detect_shear_per_mille",
     "engine.deskew.detect_shear_per_mille"),
    ("tesseract_wasm_spark.engine.deskew", "unshear", "engine.deskew.unshear"),
    ("tesseract_wasm_spark.engine.segment", "find_blocks", "engine.segment.find_blocks"),
    ("tesseract_wasm_spark.engine.page", "segment", "engine.segment.segment"),
    ("tesseract_wasm_spark.engine.orientation", "segment", "engine.segment.segment"),
    ("tesseract_wasm_spark.engine.page", "recognize_words",
     "engine.recognize.recognize_words"),
    ("tesseract_wasm_spark.engine.orientation", "orientation_scores",
     "engine.orientation.orientation_scores"),
)

ENGINE_SELF = (
    "drf.decode", "engine.otsu.binarize", "engine.components.label_components",
    "engine.deskew.detect_shear_per_mille", "engine.deskew.unshear",
    "engine.segment.find_blocks", "engine.segment.segment",
    "engine.recognize.recognize_words", "engine.page.process_page",
    "engine.orientation.orientation_scores",
)
ENGINE_CALLS = ("engine.components.label_components", "engine.deskew.unshear",
                "engine.segment.segment")
PROCESS_PAGE = "engine.page.process_page"
ORIENTATION = "engine.orientation.orientation_scores"
PDF = "datapipe.pdftext.extract_pdf_bytes"


def _module(name: str):
    import importlib  # noqa: PLC0415

    return importlib.import_module(name)


def _pct(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(round(q * (len(s) - 1))))]


def engine_replay(rows: list[tuple[str, bytes, str]], tr: Tracer) -> dict:
    """Single-process replay of (kind, payload, lang) rows the way the UDFs
    call the engine: DRF pages through ``process_page`` with orientation on,
    PDFs through ``extract_pdf_bytes``; other kinds never reach Python.
    Per-page figures are averages over the replayed rows of that kind and
    count only the spans this call recorded."""
    from tesseract_wasm_spark.datapipe.pdftext import extract_pdf_bytes  # noqa: PLC0415
    from tesseract_wasm_spark.engine import page  # noqa: PLC0415

    ocr = [(p, lg) for k, p, lg in rows if k == "ocr"]
    pdfs = [p for k, p, _ in rows if k == "pdf"]
    if ocr:  # template banks and other lazy state fill before timing
        page.process_page(bytes(ocr[0][0]), lang=ocr[0][1])
    first = len(tr.spans)
    for mod, attr, name in ENGINE_HOOKS:
        tr.install(_module(mod), attr, name)
    try:
        for payload, lang in ocr:
            with tr.span(PROCESS_PAGE):
                page.process_page(bytes(payload), with_text=True, with_orientation=True,
                                  recognizer="template", lang=lang)
        for payload in pdfs:
            with tr.span(PDF):
                extract_pdf_bytes(bytes(payload), order="stream")
    finally:
        tr.restore()
    table = tr.table(first)
    n_ocr, n_pdf = max(1, len(ocr)), max(1, len(pdfs))
    out: dict[str, float] = {}
    for name in ENGINE_SELF:
        out[f"{name}.self_ms"] = table.get(name, {}).get("self_s", 0.0) * 1000 / n_ocr
    for name in ENGINE_CALLS:
        out[f"{name}.calls_per_page"] = table.get(name, {}).get("calls", 0) / n_ocr
    out[f"{ORIENTATION}.total_ms"] = table.get(ORIENTATION, {}).get("total_s", 0.0) * 1000 / n_ocr
    pages_ms = [d * 1000 for d in tr.durations(PROCESS_PAGE, first)] or [0.0]
    out[f"{PROCESS_PAGE}.p50_ms"] = _pct(pages_ms, 0.5)
    out[f"{PROCESS_PAGE}.p99_ms"] = _pct(pages_ms, 0.99)
    out[f"{PDF}.self_ms"] = table.get(PDF, {}).get("self_s", 0.0) * 1000 / n_pdf
    out["engine.replay.pages"] = len(ocr)
    out["engine.replay.pdfs"] = len(pdfs)
    return out


def _median_noop(tr: Tracer, name: str, make, reps: int) -> float:
    """Median wall of ``reps`` noop-sink writes of ``make()``."""
    times = []
    for _ in range(reps):
        df = make()
        t0 = time.perf_counter()
        with tr.span(name):
            df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stage_isolation(spark, tr: Tracer, pages_path: str, operator: str,
                    reps: int) -> tuple[dict, float]:
    """Noop-sink isolation of the operator's plan, one stage added at a time:
    scan of the shipped columns -> salt exchange -> identity ``mapInPandas``
    over those columns (Arrow JVM->Python->JVM) -> the operator itself.
    Returns each stage net of the stage below it, and the whole operator's
    wall."""
    from tesseract_wasm_spark.pipeline import extract_any, ocr_pages, rebalance_pages  # noqa: PLC0415

    def scan():
        return spark.read.parquet(pages_path).select("url", "html", "lang")

    def identity(batches):
        yield from batches

    def arrow():
        ex = rebalance_pages(scan())
        return ex.mapInPandas(identity, schema=ex.schema)

    def op():
        pages = spark.read.parquet(pages_path)
        return ocr_pages(pages) if operator == "ocr_pages" else extract_any(pages)

    tag = f"isolate.{operator}"
    t_scan = _median_noop(tr, f"{tag}.scan", scan, reps)
    t_ex = _median_noop(tr, f"{tag}.exchange", lambda: rebalance_pages(scan()), reps)
    t_arrow = _median_noop(tr, f"{tag}.arrow", arrow, reps)
    t_op = _median_noop(tr, f"{tag}.operator", op, reps)
    return {
        "spark.scan_s": t_scan,
        "pipeline.rebalance_pages.exchange_s": t_ex - t_scan,
        "arrow.roundtrip_s": t_arrow - t_ex,
        f"pipeline.{operator}.udf_s": t_op - t_arrow,
    }, t_op


def lineage(metrics_path: str, run_id: str, udf_wall_s: float, cores: int) -> dict:
    """UDF busy share and partition skew from the metrics table the job
    wrote (one row per partition x batch, with the batch's wall ms)."""
    from perfbench.checks import read_table  # noqa: PLC0415

    m = read_table(metrics_path, ["partition_id", "elapsed_ms", "run_id"])
    m = m[m["run_id"] == run_id]
    per_part = m.groupby("partition_id")["elapsed_ms"].sum()
    busy = float(m["elapsed_ms"].sum()) / 1000.0
    return {
        "pipeline.udf_busy_frac": busy / (udf_wall_s * cores) if udf_wall_s > 0 else 0.0,
        "pipeline.partition_skew": float(per_part.max() / per_part.median())
        if len(per_part) else 0.0,
    }


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, every regular file counted."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def completed_urls_layer(spark, pages_path: str, results_path: str, mode: str) -> dict:
    """The resume read on its own: ``completed_urls`` plus the anti-join the
    resume driver applies, into a noop sink; and how many rows it skips."""
    from tesseract_wasm_spark.scale import completed_urls, url_bucket_col  # noqa: PLC0415

    t0 = time.perf_counter()
    pages = spark.read.parquet(pages_path)
    done = completed_urls(spark, results_path, mode)
    todo = pages if done is None else (
        pages.withColumn("url_bucket", url_bucket_col())
        .join(done, ["url_bucket", "url"], "left_anti").drop("url_bucket"))
    todo.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    skipped = pages.count() - todo.count()
    return {"scale.completed_urls_s": dt, "scale.rows_skipped": skipped}


def dedup_stages(spark, tr: Tracer, sf_dir: str, leaf_rows: dict[str, int],
                 reps: int) -> dict:
    """Signature stages through a noop sink, and candidate counts from the
    public banding helper, with the parameters the registry leaves use."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from tesseract_wasm_spark.datapipe import dedup as dd  # noqa: PLC0415
    from tesseract_wasm_spark.datapipe import similarity as sim  # noqa: PLC0415

    def docs():
        return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def emb():
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def srp():
        return sim.srp_multi_signatures(emb(), n_bits=3, n_tables=64, seed=9,
                                        carry_cols=("label", "embedding"))

    out = {
        "datapipe.dedup.minhash_banded_s": _median_noop(
            tr, "isolate.minhash_banded",
            lambda: dd.minhash_banded(docs(), num_perm=64, bands=16), reps),
        "datapipe.dedup.simhash_signatures_s": _median_noop(
            tr, "isolate.simhash_signatures", lambda: dd.simhash_signatures(docs()), reps),
        "datapipe.similarity.srp_multi_signatures_s": _median_noop(
            tr, "isolate.srp_multi_signatures", srp, reps),
    }
    mh = dd.bucket_pairs(dd.minhash_banded(docs(), num_perm=64, bands=16),
                         ["band_id", "bucket"]).count()
    banded = srp().select("vec_id", "label", F.posexplode("buckets").alias("table_id", "bucket"))
    sp = dd.bucket_pairs(banded, ["table_id", "bucket", "label"], id_col="vec_id",
                         max_bucket=None).count()
    out["datapipe.dedup.candidate_pairs"] = mh
    out["datapipe.dedup.verify_yield"] = leaf_rows["dedup_minhash"] / mh if mh else 0.0
    out["datapipe.similarity.candidate_pairs"] = sp
    out["datapipe.similarity.verify_yield"] = leaf_rows["dedup_embedding"] / sp if sp else 0.0
    return out
