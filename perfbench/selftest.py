"""Self-test of the benchmark on tiny seeded inputs.

    python3 perfbench/selftest.py

Checks that
  - the output checker counts a flipped text, a duplicated url, a missing
    url, an extra url and a metrics total that disagrees as failures, and a
    wrong dedup leaf as a failed query;
  - the same seed gives identical inputs and two seeds give different ones;
  - every workload, run tiny, prints every metric BENCHMARK.json names
    (end-to-end with --trace 0, per-layer with --trace 1) and fails nothing;
  - in a directory holding only BENCHMARK.json and perfbench/, the benchmark
    exits non-zero without printing a result;
  - no process the benchmark started outlives it.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0] = ROOT

from perfbench import checks, host, inputs  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work", "selftest")


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def checker() -> None:
    import pandas as pd  # noqa: PLC0415

    truth = {f"u{i}": f"text {i}\n" for i in range(8)}
    good = pd.DataFrame({"url": list(truth), "page_text": list(truth.values()),
                         "error": [None] * 8})
    expect(checks.check_rows(good, "page_text", truth, 8) == (8, 0), "clean output: 0 failed")
    flipped = good.copy()
    flipped.loc[3, "page_text"] = "text 3 \n"
    expect(checks.check_rows(flipped, "page_text", truth)[1] == 1, "flipped text: 1 failed")
    dup = pd.concat([good, good.iloc[[2]]], ignore_index=True)
    expect(checks.check_rows(dup, "page_text", truth)[1] == 1, "duplicated url: 1 failed")
    expect(checks.check_rows(good.drop(index=5), "page_text", truth)[1] == 1,
           "missing url: 1 failed")
    extra = pd.concat([good, pd.DataFrame({"url": ["zz"], "page_text": ["x"], "error": [None]})],
                      ignore_index=True)
    expect(checks.check_rows(extra, "page_text", truth)[1] == 1, "extra url: 1 failed")
    errored = good.copy()
    errored.loc[0, "error"] = "boom"
    expect(checks.check_rows(errored, "page_text", truth)[1] == 1, "error value: 1 failed")
    expect(checks.check_rows(good, "page_text", truth, 7)[1] == 1, "metrics total off by one")
    rows = [{"doc_a": 1, "doc_b": 2, "jaccard": 0.5}, {"doc_a": 1, "doc_b": 3, "jaccard": 0.25}]
    exp = {"rows": 2, "hash": checks.value_hash(rows, ["doc_a", "doc_b", "jaccard"])}
    expect(checks.check_leaf(rows[::-1], ["doc_a", "doc_b", "jaccard"], exp),
           "dedup leaf: row order does not matter")
    expect(not checks.check_leaf([rows[0], {**rows[1], "jaccard": 0.26}],
                                 ["doc_a", "doc_b", "jaccard"], exp),
           "dedup leaf: a changed value fails")


def _digest(path: str) -> str:
    import pyarrow.parquet as pq  # noqa: PLC0415

    t = pq.read_table(path)
    rows = sorted(zip(*(t.column(c).to_pylist() for c in sorted(t.column_names))), key=repr)
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def seeded_inputs() -> None:
    from tesseract_wasm_spark.session import get_spark  # noqa: PLC0415

    host.pin(WORK)
    spark = get_spark("perfbench-selftest", cores=host.cores())
    try:
        for gen in ("ocr", "mixed", "dedup"):
            digests = []
            for run, seed in enumerate((1, 1, 2)):
                d = os.path.join(WORK, f"{gen}-{run}")
                if gen == "ocr":
                    inputs.ocr_pages(d, seed, 16, 8, 2)
                elif gen == "mixed":
                    inputs.mixed_pages(spark, d, seed, 16, 2)
                else:
                    inputs.dedup_tables(d, seed, 50)
                    d = os.path.join(d, "documents.parquet")
                digests.append(_digest(d))
            if gen == "dedup":  # a permutation: same rows, different order
                import pyarrow.parquet as pq  # noqa: PLC0415

                orders = [pq.read_table(os.path.join(WORK, f"dedup-{r}", "documents.parquet"),
                                        columns=["doc_id"]).column("doc_id").to_pylist()
                          for r in range(3)]
                expect(orders[0] == orders[1] and orders[0] != orders[2],
                       "dedup: same seed same row order, another seed another order")
            else:
                expect(digests[0] == digests[1], f"{gen}: same seed gives identical inputs")
                expect(digests[0] != digests[2], f"{gen}: two seeds give different inputs")
    finally:
        spark.stop()
        host.stop_children()


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    """One benchmark run. This process reaps orphans (see ``main``), so a
    process the run left behind shows up as a child here."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    left = host._children(os.getpid())
    expect(not left, f"{workload} --trace {trace}: no process left running"
           + (f" (found {left})" if left else ""))
    return p


def runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(ROOT, w["name"], trace)
            expect(p.returncode == 0, f"{w['name']} --trace {trace}: exit 0"
                   + ("" if p.returncode == 0 else "\n" + p.stderr[-3000:]))
            result = json.loads(p.stdout.strip().splitlines()[-1])
            expect(set(result) == {"correct", "attempted", "failed", "metrics"},
                   f"{w['name']} --trace {trace}: result keys")
            names = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == names, f"{w['name']} --trace {trace}: every {key} metric, units")
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
                   f"{w['name']} --trace {trace}: nothing failed")


def bare_dir() -> None:
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(bare, "ocr_job", 0)
    expect(p.returncode != 0 and not p.stdout.strip(),
           "without the package: non-zero exit, no result")


def main() -> None:
    host.adopt_orphans()
    try:
        checker()
        bare_dir()
        seeded_inputs()
        runs()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
