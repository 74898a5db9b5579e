"""Job-level benchmark: one closed-loop client drives a public entry point of
the package, one job at a time, and checks every output.

    python3 perfbench/run.py --workload ocr_job --seed 1 --seconds 10 --trace 0

Workloads: ocr_job, mixed_job, resume_job, dedup_lsh (see perfbench/LEDGER.md).
With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the run also records spans and carries the per-layer metrics.
Spans and the per-workload self-time table go to ``.perfbench_out/``.
Everything the run writes stays inside the checkout it runs from, and every
process it starts has ended when it exits, on every path out of it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_ITERS = 2


def declared(kind: str) -> dict[str, str]:
    """name -> unit of every ``kind`` ("end_to_end" or "per_layer") metric
    BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test only")
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def setup(wl, reps: int):
    """Session start, ship_package and one warm call, ``reps`` times; inputs
    are generated (untimed) after the first session start. Returns the live
    session and the per-rep timings."""
    from tesseract_wasm_spark.session import get_spark, ship_package  # noqa: PLC0415

    spark, reps_out = None, []
    for rep in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=wl.cores)
        t1 = time.perf_counter()
        ship_package(spark)
        t2 = time.perf_counter()
        if rep == 0:
            wl.prepare(spark)
        t3 = time.perf_counter()
        wl.warm(spark)
        t4 = time.perf_counter()
        reps_out.append({"get_spark": t1 - t0, "ship_package": t2 - t1, "warm": t4 - t3})
        _log(f"setup {rep}: inputs {t3 - t2:.2f}s, {reps_out[-1]}")
    return spark, reps_out


def measure(spark, wl, seconds: float, tracer=None) -> dict:
    """Closed loop: call, wait, check, repeat until ``seconds`` of timed
    calls and at least MIN_ITERS calls. With a tracer, calls alternate
    untraced / traced, at least MIN_ITERS of each."""
    walls: dict[bool, list[float]] = {False: [], True: []}
    attempted = failed = 0
    i, last = 0, None
    while True:
        traced = tracer is not None and i % 2 == 1
        h = wl.before(i)
        t0 = time.perf_counter()
        summary = wl.call(spark, h, tracer if traced else None)
        walls[traced].append(time.perf_counter() - t0)
        _log(f"call {i}{' traced' if traced else ''}: {walls[traced][-1]:.3f}s")
        a, f = wl.check(h, summary)
        attempted, failed = attempted + a, failed + f
        done = (sum(walls[False]) + sum(walls[True]) >= seconds
                and min(len(walls[False]), len(walls[tracer is not None])) >= MIN_ITERS)
        a, f = wl.after(spark, h, done, tracer)
        attempted, failed = attempted + a, failed + f
        last = (h, summary)
        i += 1
        if done:
            break
    return {"walls": walls[False], "traced_walls": walls[True], "attempted": attempted,
            "failed": failed, "last": last}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[0] = ROOT  # import the package and this benchmark from the checkout
    try:
        import tesseract_wasm_spark  # noqa: F401, PLC0415
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import host  # noqa: PLC0415
    from perfbench.spans import Tracer, format_table  # noqa: PLC0415
    from perfbench.workloads import WORKLOADS  # noqa: PLC0415

    host.adopt_orphans()
    # a SIGTERM unwinds through the ``finally`` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    pinned = host.pin(work)
    wl = WORKLOADS[args.workload](work, args.seed, args.size, pinned["cores"])
    tracer = Tracer(f"{args.workload}-seed{args.seed}") if args.trace else None
    spark = None
    try:
        spark, reps = setup(wl, SETUP_REPS)
        pinned["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        with host.PeakRss() as rss:
            m = measure(spark, wl, args.seconds, tracer)
        wall = statistics.median(m["walls"])
        setup_s = statistics.median(sum(r.values()) for r in reps)
        report = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "peak_rss_mb": rss.peak,
        }
        if tracer is not None:
            layer = {f"session.{k}_s": statistics.median(r[k] for r in reps)
                     for k in ("get_spark", "ship_package", "warm")}
            layer.update(wl.layers(spark, tracer, m["last"][0], m["last"][1], wall))
            layer["trace.overhead_frac"] = statistics.median(m["traced_walls"]) / wall - 1.0
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            t0 = time.perf_counter()
            host.stop_children()
            shutil.rmtree(work, ignore_errors=True)
            _log(f"stopped; {time.perf_counter() - t0:.2f}s to stop the JVM and workers")

    print(f"host: {json.dumps(pinned)}")
    print(f"samples: {len(m['walls'])} untraced calls {[round(w, 3) for w in m['walls']]}"
          + (f", {len(m['traced_walls'])} traced" if tracer else "")
          + f", {SETUP_REPS} setups {[round(sum(r.values()), 3) for r in reps]}"
          + f"; rows per call {wl.rows}")
    failed_frac = m["failed"] / m["attempted"]
    print(f"failed_frac {failed_frac:.6f} ratio ({m['failed']}/{m['attempted']})")
    if tracer is None:
        metrics = {k: {"value": report[k], "unit": u} for k, u in declared("end_to_end").items()}
    else:
        names = declared("per_layer")
        missing = sorted(set(names) - set(layer))
        for k in missing:
            layer[k] = 0.0  # layer not on this workload's path
        for k in sorted(set(layer) - set(names)):
            print(f"{k} {layer[k]}")
        metrics = {k: {"value": layer[k], "unit": names[k]} for k in names}
        base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tracer.write(base + ".spans.json")
        table = format_table(tracer.table())
        with open(base + ".ledger.txt", "w") as fh:
            fh.write(table + "\n")
        print(table)
        print(f"not on this workload's path (reported 0): {', '.join(missing) or '-'}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": m["failed"] == 0, "attempted": m["attempted"],
                      "failed": m["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
