#!/usr/bin/env python3
"""streamtasks_spark benchmark: one command per workload.

    python3 perfbench/run.py --workload llm_sf001 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
record ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics (also written, with the spans, to
``perfbench/.out``). Progress and host context go to stderr.

Workloads:

- ``llm_sf001``, ``operator_sf001``: closed loop, one client, the
  repository's sf0.01 test data (``batch.py``).
- ``stream_twins``: open loop, three streaming twins fed one parquet
  file per trigger on a fixed schedule (``stream.py``).

The run sizes the Spark driver heap as a fixed fraction of ``MemTotal``
through ``SPARK_GRAFT_DRIVER_MEM`` and runs Spark at ``local[4]``.
Stream inputs, Spark scratch space and event logs live under
``perfbench/.work`` and are removed at exit. A JVM that dies mid-run
turns every remaining operation into a failure; the record is still
printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import traceback

from harness import CORES, HERE, ROOT, Bench, log, process_age

WATCHDOG_S = 170.0  # every run must exit within 180 s
OUT = os.path.join(HERE, ".out")  # spans and per-layer records of traced runs


def load_names() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def record(b: Bench, metrics: dict[str, float], names: dict[str, str],
           correct: bool) -> dict:
    """The result line. A layer the workload does not touch reads 0."""
    return {
        "correct": bool(correct and b.failed == 0),
        "attempted": max(1, b.attempted),
        "failed": b.failed if b.attempted else 1,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in names.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001 tables and one timed stream file "
                         "per twin (the self-test)")
    args = ap.parse_args()

    names = load_names()
    if args.workload not in names["workloads"]:
        log(f"unknown workload {args.workload!r}; have {names['workloads']}")
        return 2
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no streamtasks_spark checkout at {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import batch
    import layers
    import stream

    b = Bench(args)
    os.makedirs(b.work, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = b.heap
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.work, "spark-local")

    def overtime() -> None:
        if b.jvm_alive():
            log("watchdog: run over time, killing the JVM")
            b.jvm.kill()

    watchdog = threading.Timer(WATCHDOG_S, overtime)
    watchdog.daemon = True
    watchdog.start()
    spans = layers.Spans() if args.trace else None
    try:
        if spans:
            spans.install()  # records the cold get_spark call
        b.start_session(event_log=bool(args.trace))
        setup_s = process_age()
        if spans:
            spans.uninstall()
            spans.sc = b.spark.sparkContext
        log(f"setup {setup_s:.3f}s, heap {b.heap}, local[{CORES}], "
            f"seed {args.seed}, workload {args.workload}")
        runner = stream.run if args.workload == "stream_twins" else batch.run
        try:
            e2e, per_layer, correct = runner(b, spans)
        except Exception:
            if b.jvm_alive():
                raise
            b.fail("JVM died outside an operation")
            e2e, per_layer, correct = {}, {}, False
        e2e["setup_s"] = setup_s
        host = {"cores": CORES, "driver_heap": b.heap}
        if b.jvm_alive():
            try:
                host["calib_md5_sec"] = round(b.calib_md5_sec(), 4)
            except Exception:  # host context only; the record still prints
                log("calibration failed:\n" + traceback.format_exc())
        if per_layer is not None:
            per_layer["session.get_spark_s"] = layers.span_total(
                spans.records, "streamtasks_spark.session.get_spark",
                0.0, float("inf"))[0]
        print(json.dumps({"host": host, "setup_s": setup_s,
                          "attempted": b.attempted, "failed": b.failed}),
              file=sys.stderr, flush=True)
    finally:
        watchdog.cancel()
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)
    if args.trace:
        out = record(b, per_layer, names["per_layer"], correct)
        os.makedirs(OUT, exist_ok=True)
        stem = os.path.join(OUT, f"{args.workload}-{args.seed}")
        spans.dump(stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w") as f:
            json.dump(out, f, indent=1)
    else:
        out = record(b, e2e, names["end_to_end"], correct)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
