"""Closed-loop batch workloads: one client runs ``__spark_entry__``
queries back to back at ``local[4]`` over the repository's sf0.01 test
data (read only; ``scripts/oracle_manifest.py``'s ``SF_DIR``, the data
the oracle manifest is pinned to).

Per run:

1. Correctness, untimed: each query runs once to pandas and is compared
   with its DuckDB ``oracle_sql()`` by ``scripts/check_oracle.py``'s
   ``audit_types`` and ``compare``. This is also the query's warm-up
   (whole-stage codegen, JIT), followed by ``WARM_PASSES`` untimed
   passes.
2. Timed window of ``--seconds``: whole passes over the queries in a
   seed-shuffled order, each execution being the query function plus a
   ``noop``-sink write (``bench.py``'s ``run_query``), until the window
   is over and at least ``MIN_SAMPLES`` passes ran. The window ends
   only at a pass boundary, so every query has the same number of
   executions; a pass past ``MIN_SAMPLES`` starts only if one as long
   as the last still ends inside the window. ``batch_total_s`` is the sum over queries of each
   query's median wall; ``latency_p50_s`` the median of those per-query
   medians, so neither depends on the mix of executions.

A traced run (``--trace 1``) has the event log on from the start and
alternates traced passes (layer spans installed) with untraced ones for
``--seconds`` each. Every per-layer number is a per-query median over
the traced passes, summed over queries like ``batch_total_s``;
``trace.overhead_s`` is the traced ``batch_total_s`` minus the untraced
one.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import layers
from harness import CORES, log, tail
from oracle_manifest import SF_DIR

# The tables are the same on every run; the run's seed decides the
# query order.
TINY_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
# Timed passes, however short the window. Three, so that each query's
# median drops one slow pass; with two, the median is a mean, and a run
# whose pass count fell from three to two read up to 1.7x slower.
MIN_SAMPLES = 3
# Untimed passes between the oracle checks and the window. The checks
# run each query once to pandas; the operator queries are short, and
# without one more pass their noop-sink executions were still speeding
# up by about 20% from the first timed pass to the third.
WARM_PASSES = {"llm_sf001": 0, "operator_sf001": 1}

# Each workload stresses different layers; see BENCHMARK.json for why.
QUERIES = {
    "llm_sf001": [
        "ann_ivf_topk", "approx_distinct", "ngram_jaccard", "split_assign",
        "quality_filter", "bpe_token_count",
    ],
    "operator_sf001": [
        "calculator", "fn_task", "gate", "sr_latch", "synchronizer",
        "asof_join", "time_buffer", "audio_mixer", "codec_roundtrip",
        "q1_pricing_summary", "q9_product_profit", "events_hourly_stats",
        "events_session_windows",
    ],
}


def oracle(con, sql: str):
    """The DuckDB oracle's frame and column types."""
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE ({sql})").fetchall()}
    return con.execute(sql).df(), types


def check(b, name: str, sdf, want) -> bool:
    """Compare Spark's result with the oracle's, as
    ``scripts/check_oracle.py`` does; one operation."""
    import check_oracle

    b.attempted += 1
    odf, duck_types = want
    problems = (check_oracle.audit_types(sdf, odf, duck_types)
                + check_oracle.compare(name, sdf, odf))
    if problems:
        b.failed += 1
        log(f"{name} does not match its oracle: {problems}")
        return False
    return True


def check_all(b, order, qs, sf_dir: str) -> bool:
    """Run every query once to pandas (its warm-up) and compare it with
    its DuckDB ``oracle_sql()``. The oracles run on a second thread
    while Spark works."""
    import check_oracle
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = check_oracle.duck_conn(sf_dir)
    try:
        with ThreadPoolExecutor(1) as pool:
            wants = [pool.submit(oracle, con, oracles[q]) for q in order]
            got = [b.op(f"{q} (to pandas)",
                        lambda q=q: qs[q](b.spark, sf_dir).toPandas())
                   for q in order]
            return all([sdf is not None and check(b, q, sdf, w.result())
                        for q, sdf, w in zip(order, got, wants)])
    finally:
        con.close()


def one_pass(b, order, qs, sf_dir: str, counts) -> list[tuple]:
    """Run each query once, in order. One tuple per execution:
    ``(name, wall, build_s, exec_s, wall_t0, wall_t_build, wall_t_end,
    job_group)``."""
    sc = b.spark.sparkContext
    done = []
    for name in order:
        group = f"perfbench:{name}:{counts[name]}"
        counts[name] += 1

        def run_query(fn=qs[name], group=group):
            sc.setJobGroup(group, group)
            b.spark.catalog.clearCache()
            w0, t0 = time.time(), time.perf_counter()
            df = fn(b.spark, sf_dir)
            w1, t1 = time.time(), time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            w2, t2 = time.time(), time.perf_counter()
            return (t2 - t0, t1 - t0, t2 - t1, w0, w1, w2, group)

        r = b.op(name, run_query)
        if r is not None:
            done.append((name,) + r)
    return done


def timed(b, order, qs, sf_dir: str, counts) -> list[tuple]:
    """The closed loop of an untraced run: ``MIN_SAMPLES`` passes, then
    another only while one as long as the last still fits in the window,
    so that the pass count (and with it how warm the medians are) does
    not flip from run to run when a pass takes about a third of it."""
    t_end = time.perf_counter() + b.seconds
    samples: list[tuple] = []
    n = 0
    last = 0.0
    while not b.dead and (
            n < MIN_SAMPLES or time.perf_counter() + last <= t_end):
        p0 = time.perf_counter()
        samples += one_pass(b, order, qs, sf_dir, counts)
        last = time.perf_counter() - p0
        n += 1
    missing = len(order) * max(0, MIN_SAMPLES - n)
    if missing:
        b.fail("executions the dead JVM did not run", missing)
    return samples


def alternating(b, order, qs, sf_dir: str, spans, counts):
    """The closed loop of a traced run: traced and untraced passes in
    turn until each kind has run ``--seconds`` and ``MIN_SAMPLES``
    passes."""
    import __spark_entry__ as entry

    traced: list[tuple] = []
    plain: list[tuple] = []
    spent = [0.0, 0.0]
    n = 0
    while not b.dead and (min(spent) < b.seconds or n < MIN_SAMPLES):
        for k, dest in enumerate((traced, plain)):
            t0 = time.perf_counter()
            if k == 0:
                spans.install()
            try:
                # queries() binds some layer functions when it is called,
                # so the traced pass takes a fresh one
                dest += one_pass(b, order, entry.queries() if k == 0 else qs,
                                 sf_dir, counts)
            finally:
                if k == 0:
                    spans.uninstall()
            spent[k] += time.perf_counter() - t0
        n += 1
    return traced, plain


def query_medians(samples: list[tuple], value) -> list[float]:
    """Each query's median of ``value(sample)``."""
    by_q: dict[str, list[float]] = defaultdict(list)
    for s in samples:
        by_q[s[0]].append(value(s))
    return [statistics.median(v) for v in by_q.values()]


def per_query_median(samples: list[tuple], value) -> float:
    """Sum over queries of the median of ``value(sample)``."""
    return sum(query_medians(samples, value))


def traced_layers(samples, spans, jobs) -> dict[str, float]:
    """Layer and engine numbers of each traced execution, as per-query
    medians summed over queries."""
    by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        by_group[j["group"]].append(j)
    per_exec = []
    for _, _, build_s, exec_s, w0, w1, w2, group in samples:
        gj = by_group.get(group, [])
        m = layers.layer_totals(spans.records, w0, w2, gj)
        m.update(layers.engine_totals(
            [j for j in gj if j["submit"] >= w1], exec_s, CORES))
        m["driver.build_s"] = build_s
        m["driver.build_jobs"] = float(sum(j["submit"] < w1 for j in gj))
        rp_s, rp_n = layers.span_total(
            spans.records, "streamtasks_spark.session.read_parquet", w0, w2)
        m["session.read_parquet_s"] = rp_s
        m["session.read_parquet.calls"] = float(rp_n)
        per_exec.append(m)
    keys = set().union(*per_exec) if per_exec else set()
    return {k: per_query_median(
        [(s[0], m.get(k, 0.0)) for s, m in zip(samples, per_exec)],
        lambda x: x[1]) for k in keys}


def end_to_end(samples: list[tuple]) -> tuple[dict, dict]:
    """``(end_to_end, latency_tail)`` metrics of a set of executions."""
    walls = [s[1] for s in samples] or [0.0]
    tail_v, tail_p = tail(walls)
    medians = query_medians(samples, lambda s: s[1]) or [0.0]
    e2e = {"batch_total_s": sum(medians),
           "latency_p50_s": statistics.median(medians)}
    log(f"batch_total_s {e2e['batch_total_s']:.4f}; latency p50 "
        f"{e2e['latency_p50_s']:.4f}s, p{tail_p:.1f} {tail_v:.4f}s over "
        f"{len(samples)} executions")
    return e2e, {"latency.tail_s": tail_v, "latency.tail_pct": tail_p,
                 "latency.samples": float(len(samples))}


def run(b, spans):
    """Run the workload; return ``(end_to_end, per_layer, correct)``."""
    import __spark_entry__ as entry

    sf_dir = TINY_SF_DIR if b.tiny else SF_DIR
    qs = entry.queries()
    order = list(QUERIES[b.args.workload])
    random.Random(b.seed).shuffle(order)
    t0 = time.perf_counter()
    correct = check_all(b, order, qs, sf_dir)
    log(f"oracle checks + warm-up {time.perf_counter() - t0:.2f}s")
    counts: dict[str, int] = defaultdict(int)  # executions per query
    for _ in range(WARM_PASSES[b.args.workload]):
        one_pass(b, order, qs, sf_dir, counts)
    if b.dead:
        return {}, {}, False
    b.reset_peak_rss()
    if spans is None:
        samples = timed(b, order, qs, sf_dir, counts)
        peak_rss = b.peak_rss_mb()
        e2e, _ = end_to_end(samples)
        e2e["peak_rss_mb"] = peak_rss
        return e2e, None, correct

    traced, plain = alternating(b, order, qs, sf_dir, spans, counts)
    peak_rss = b.peak_rss_mb()
    e2e, per_layer = end_to_end(plain)
    e2e["peak_rss_mb"] = peak_rss
    if b.dead:
        return e2e, per_layer, correct
    b.flush_event_log()
    per_layer.update(traced_layers(
        traced, spans, layers.read_event_log(b.event_dir)))
    per_layer["trace.overhead_s"] = per_query_median(
        traced, lambda s: s[1]) - e2e["batch_total_s"]
    return e2e, per_layer, correct
