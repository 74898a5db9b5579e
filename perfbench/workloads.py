"""The workloads. Each drives one public entry point the way a user's job
does and checks every output it produced.

A workload object owns its inputs under ``work`` and exposes:
  prepare(spark)            generate the seeded inputs (untimed benchmark input)
  warm(spark)               one call on the full input, timed as part of set-up:
                            after a warm call on a small slice the first full
                            call still ran up to 1.9x the later ones (cold JIT,
                            Python workers not yet started)
  before(i)                 untimed per-iteration preparation; returns a handle
  call(spark, h, tracer)    the timed call; returns what the entry point returned
  check(h, result)          -> (attempted, failed)
  after(spark, h, last, tracer)  untimed cleanup; final checks of the
                            traced run -> (attempted, failed)
  layers(spark, tracer, h, result, wall_s)   per-layer metrics (traced run)
"""

from __future__ import annotations

import os
import shutil
import statistics
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, inputs, layers

#: input pages per call: "full" is what the benchmark runs, "tiny" is for
#: the self-test. Small enough that a JVM start, three set-ups and two calls
#: fit the run budget; large enough that the engine, the Arrow boundary and
#: the url-bucketed write all carry real work.
PAGES = {"full": 128, "tiny": 16}
DEGRADED_SHARE = 8  # one ocr_job page in eight is a blurred scan
DOCS = {"full": None, "tiny": 60}  # dedup_lsh documents and vectors; None = all
REPLAY_PAGES = {"full": 64, "tiny": 8}
ISOLATION_REPS = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _span_sum_per_root(tracer, root: str, name: str) -> list[float]:
    """For each closed ``root`` span, the summed duration of ``name`` spans
    nested anywhere below it."""
    spans = tracer.closed()
    by_id = {s["id"]: s for s in spans}
    sums = {s["id"]: 0.0 for s in spans if s["name"] == root}
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and p not in sums:
            p = by_id[p]["parent"]
        if p is not None:
            sums[p] += s["end"] - s["start"]
    return list(sums.values())


def _scale_hooks(spark):
    """Where ``run_with_resume`` spends its wall: the resume read, the plan
    build, each count it triggers and each table write."""
    from tesseract_wasm_spark import scale  # noqa: PLC0415

    return (
        (scale, "completed_urls", "scale.completed_urls"),
        (scale, "ocr_pages", "pipeline.ocr_pages.plan"),
        (scale, "write_table", "scale.write_table"),
        (type(spark.range(0)), "count", "spark.action.count"),
    )


class OcrJob:
    """``scale.run_with_resume`` with its defaults (orientation on) over a
    seeded OCR page table, into a fresh output directory each call: the
    ``jobs/extract_job.py`` default path. After the last call, an immediate
    re-run over the same output must write nothing (resume)."""

    name = "ocr_job"

    def __init__(self, work: str, seed: int, size: str, cores: int) -> None:
        self.work, self.seed, self.size, self.cores = work, seed, size, cores
        self.n_pages = PAGES[size]
        self.input = os.path.join(work, "input", "pages")
        self.truth: dict[str, str] = {}

    @property
    def rows(self) -> int:
        return len(self.truth)

    def prepare(self, spark) -> None:
        inputs.ocr_pages(self.input, self.seed, self.n_pages, DEGRADED_SHARE, self.cores)
        self.truth = inputs.truth(self.input)

    @staticmethod
    def run_entry(spark, pages_path: str, out_dir: str) -> dict:
        from tesseract_wasm_spark.scale import run_with_resume  # noqa: PLC0415

        return run_with_resume(spark, spark.read.parquet(pages_path), out_dir)

    def warm(self, spark) -> None:
        out = os.path.join(self.work, "warm-out")
        shutil.rmtree(out, ignore_errors=True)
        self.run_entry(spark, self.input, out)
        shutil.rmtree(out, ignore_errors=True)

    def before(self, i: int) -> str:
        out = os.path.join(self.work, f"out-{i}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def call(self, spark, out: str, tracer=None) -> dict:
        if tracer is None:
            return self.run_entry(spark, self.input, out)
        for owner, attr, name in _scale_hooks(spark):
            tracer.install(owner, attr, name)
        try:
            with tracer.span("job"):
                return self.run_entry(spark, self.input, out)
        finally:
            tracer.restore()

    def check(self, out: str, summary: dict) -> tuple[int, int]:
        results = checks.read_table(os.path.join(out, "results"),
                                    ["url", "page_text", "error"])
        pages = checks.read_table(os.path.join(out, "metrics"), ["pages"])["pages"].sum()
        return checks.check_rows(results, "page_text", self.truth, int(pages))

    def after(self, spark, out: str, last: bool, tracer) -> tuple[int, int]:
        """Delete the output, except the last one, which the traced run
        inspects after the resume check: an immediate re-run over the same
        output must write nothing."""
        if not last:
            shutil.rmtree(out, ignore_errors=True)
            return 0, 0
        if tracer is None:
            return 0, 0
        with tracer.span("resume_rerun"):
            again = self.run_entry(spark, self.input, out)
        return 1, int(again["pages"] != 0)

    # ---- traced run -------------------------------------------------------

    def replay_rows(self, path: str) -> list[tuple[str, bytes, str]]:
        """A seeded sample of the rows at ``path``, tagged by payload kind."""
        from tesseract_wasm_spark import drf  # noqa: PLC0415

        t = pq.read_table(path, columns=["html", "lang"]).to_pydict()
        rng = np.random.default_rng(self.seed)
        pick = sorted(rng.permutation(len(t["html"]))[: REPLAY_PAGES[self.size]].tolist())
        rows = []
        for i in pick:
            payload = t["html"][i]
            kind = ("ocr" if payload.startswith(drf.MAGIC)
                    else "pdf" if payload.startswith(b"%PDF-") else "html")
            rows.append((kind, payload, t["lang"][i]))
        return rows

    def layers(self, spark, tracer, out: str, summary: dict, wall_s: float) -> dict:
        res = layers.engine_replay(self.replay_rows(self.input), tracer)
        stages, op_s = layers.stage_isolation(spark, tracer, self.input, "ocr_pages",
                                              ISOLATION_REPS)
        res.update(stages)
        writes = _median(_span_sum_per_root(tracer, "job", "scale.write_table"))
        res["scale.write_s"] = writes
        files = size = 0
        for table in ("results", "metrics"):
            f, b = layers.dir_stats(os.path.join(out, table))
            files, size = files + f, size + b
        res["scale.files_written"] = files
        res["scale.bytes_written_per_row"] = size / self.rows
        # the resume read over an output that already holds every url
        res.update(layers.completed_urls_layer(
            spark, self.input, os.path.join(out, "results"), "full"))
        res.update(layers.lineage(os.path.join(out, "metrics"), summary["run_id"],
                                  op_s, self.cores))
        res["ledger.unattributed_frac"] = 1.0 - (op_s + writes) / wall_s
        res.update(self.mixed_probe(spark, tracer))
        return res

    def mixed_probe(self, spark, tracer) -> dict:
        """The mixed-payload layers: ``extract_any``'s Python stage (noop
        isolation, net of scan, exchange and Arrow) and the PDF parser
        (replay of the PDF rows), on a seeded ``mixed_corpus_df`` table of
        the same size: half DRF pages, a quarter HTML, a quarter PDF."""
        path = os.path.join(self.work, "input", "mixed")
        inputs.mixed_pages(spark, path, self.seed, self.n_pages, self.cores)
        stages, _ = layers.stage_isolation(spark, tracer, path, "extract_any", ISOLATION_REPS)
        pdfs = [r for r in self.replay_rows(path) if r[0] == "pdf"]
        pdf = layers.engine_replay(pdfs, tracer)
        return {"pipeline.extract_any.udf_s": stages["pipeline.extract_any.udf_s"],
                layers.PDF + ".self_ms": pdf[layers.PDF + ".self_ms"]}


class DedupLsh:
    """The ``dedup_minhash`` and ``dedup_simhash`` leaves of
    ``queries.REGISTRY`` over a seed-permuted row order of the committed
    documents table, each result collected. The ``dedup_embedding`` leaf
    (over the committed embeddings table) runs once, after the calls, in the
    traced run only: it costs 7-17 s a call on a 4-vCPU host, mostly fixed per-bucket
    Python overhead, which the run budget cannot carry in every run."""

    name = "dedup_lsh"
    timed = ("dedup_minhash", "dedup_simhash")
    traced_only = "dedup_embedding"

    def __init__(self, work: str, seed: int, size: str, cores: int) -> None:
        self.work, self.seed, self.size, self.cores = work, seed, size, cores
        self.sf_dir = os.path.join(work, "input", "sf")
        self.rows = 0
        self.expected = checks.load_expected()
        self.leaf_rows: dict[str, int] = {}

    def prepare(self, spark) -> None:
        self.rows = inputs.dedup_tables(self.sf_dir, self.seed, DOCS[self.size])["documents"]
        if DOCS[self.size] is not None:  # no committed answers for a slice
            self.expected = {}

    def _leaves(self, spark, sf_dir: str, leaves, tracer=None) -> dict[str, tuple]:
        from tesseract_wasm_spark.queries import REGISTRY  # noqa: PLC0415

        out = {}
        for leaf in leaves:
            fn, _sql = REGISTRY[leaf]
            with tracer.span(f"queries.{leaf}") if tracer else nullcontext():
                df = fn(spark, sf_dir)
                out[leaf] = (df.columns, df.collect())
        return out

    def warm(self, spark) -> None:
        self._leaves(spark, self.sf_dir, self.timed)

    def before(self, i: int):
        return None

    def call(self, spark, _h, tracer=None) -> dict:
        return self._leaves(spark, self.sf_dir, self.timed, tracer)

    def check(self, _h, result: dict) -> tuple[int, int]:
        failed = 0
        for leaf, (cols, rows) in result.items():
            self.leaf_rows[leaf] = len(rows)
            exp = self.expected.get(leaf)
            if exp is not None and not checks.check_leaf([r.asDict() for r in rows], cols, exp):
                failed += 1
        return len(result), failed

    def after(self, spark, _h, last: bool, tracer) -> tuple[int, int]:
        if not (last and tracer):
            return 0, 0
        return self.check(None, self._leaves(spark, self.sf_dir, (self.traced_only,), tracer))

    def layers(self, spark, tracer, _h, _result, _wall_s: float) -> dict:
        res = {f"queries.{leaf}_s": _median(tracer.durations(f"queries.{leaf}"))
               for leaf in (*self.timed, self.traced_only)}
        res.update(layers.dedup_stages(spark, tracer, self.sf_dir, self.leaf_rows,
                                       ISOLATION_REPS))
        return res


WORKLOADS = {w.name: w for w in (OcrJob, DedupLsh)}
