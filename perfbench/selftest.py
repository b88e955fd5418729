#!/usr/bin/env python3
"""Fast self-test of the benchmark: checks ``BENCHMARK.json`` against
the limits its runner relies on, then runs every workload once untraced
and once traced on tiny inputs (sf0.001 tables, one timed stream file
per twin after the warm-up files) and checks each result line: its
keys, that it is correct with no failed operation, and that it carries
exactly the metric names and units ``BENCHMARK.json`` declares.

    python3 perfbench/selftest.py        # from the root of a checkout

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_spec(spec: dict) -> list[str]:
    errs = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end",
            "per_layer"}
    if set(spec) != keys:
        errs.append(f"BENCHMARK.json keys {sorted(spec)}")
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            names.append(m["name"])
            if not UNIT.fullmatch(m["unit"]) or m["better"] not in (
                    "higher", "lower"):
                errs.append(f"bad metric {m}")
            if group == "end_to_end" and not 0 < m["bound"] <= 0.25:
                errs.append(f"bad bound {m}")
    errs += [f"bad or repeated name {n}" for n in names
             if not NAME.fullmatch(n) or names.count(n) > 1]
    if not any(m["name"] == "setup_s" and m["unit"] == "s"
               and m["better"] == "lower" for m in spec["end_to_end"]):
        errs.append("no setup_s metric")
    if not 2 <= len(spec["workloads"]) <= 8 or any(
            len(w["why"]) > 200 for w in spec["workloads"]):
        errs.append("workloads out of limits")
    return errs


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "1",
                             "--seconds", "1", "--trace", str(trace),
                             "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=180)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0 or not p.stdout.strip():
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    rec = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(rec) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{where}: record keys {sorted(rec)}")
    if rec.get("correct") is not True or rec.get("failed") != 0 or not (
            isinstance(rec.get("attempted"), int) and rec["attempted"] >= 1):
        errs.append(f"{where}: correct={rec.get('correct')} "
                    f"attempted={rec.get('attempted')} "
                    f"failed={rec.get('failed')}\n{p.stderr[-2000:]}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = rec.get("metrics", {})
    if set(got) != set(want):
        errs.append(f"{where}: metric names differ: "
                    f"{sorted(set(got) ^ set(want))}")
    for name, m in got.items():
        if set(m) != {"value", "unit"} or m["unit"] != want.get(name) or (
                not isinstance(m["value"], (int, float))):
            errs.append(f"{where}: bad metric {name}: {m}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = check_spec(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            found = check_run(spec, w["name"], trace)
            print(f"{w['name']} --trace {trace}: "
                  f"{'ok' if not found else 'FAILED'}", flush=True)
            errs += found
    for e in errs:
        print(e, file=sys.stderr)
    print("selftest " + ("ok" if not errs else f"{len(errs)} problems"))
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
