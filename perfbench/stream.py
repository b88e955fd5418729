"""Open-loop streaming workload: three streaming twins run concurrently
in one Spark application, as the tasks of one deployment do.

Each twin reads its own directory with ``maxFilesPerTrigger=1``. A
generator writes one seeded parquet file per twin every ``INTERVAL_S``
seconds, the twins offset from each other, on a fixed schedule that
does not slow when the engine does. A file's latency runs from its
scheduled write to the commit of the micro-batch that consumed it, so
queue wait behind a slow batch counts. The first ``WARM_FILES`` files
of every twin are a warm-up (codegen, JIT) and are not timed.

Twins:

- ``streaming_approx_distinct``: HLL registers rewritten per batch
  through ``core.state.replace_write`` + ``commit_segments``;
- ``streaming_bloom_dedup``: a ``BloomIndex`` probed against its
  durable history and appended through ``append_write`` +
  ``append_commit``;
- ``streaming_hourly_stats`` over an event stream, on Spark's own state
  store (no manifest commit), for contrast.

After the window each twin's final state is compared with its batch
one-shot over the same files.

Spark runs each query's micro-batches under the query's run id as job
group and tags their jobs with the batch id; a traced run counts a
span's jobs by that group (``layers.current_group``), so a twin's
spans do not pick up the jobs of the twins running beside it.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import layers
from harness import CORES, log, tail

# Seconds between two files of a twin: about three times the slowest
# twin's (bloom_dedup's) warm batch time at ROWS rows with the other two
# running beside it, so that no twin queues behind its own last batch
# even when the host slows. At 3 s bloom_dedup runs at about 90% of
# its capacity, and its queue wait makes the latency swing between runs.
INTERVAL_S = 5.0
TWINS = ("approx_distinct", "bloom_dedup", "hourly_stats")
ROWS = 100  # rows per file
# Untimed files at the start of each twin: the first compiles its plans,
# the second lets the JIT catch up with the new code paths.
WARM_FILES = 2
DRAIN_S = 10.0  # how long a file may still commit after the schedule ends
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")
DOC_SCHEMA = "doc_id bigint, text string"
HLL = dict(n=3, p=8)
BLOOM_BITS = 1 << 16


class Twin:
    """One streaming query with its source directory and its files."""

    def __init__(self, name: str, root: str, frames: list) -> None:
        self.name = name
        self.dir = os.path.join(root, name)
        self.src = os.path.join(self.dir, "src")
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.src)
        os.makedirs(self.tmp)
        self.frames = frames  # file k holds frames[k]
        self.due: list[float] = []  # scheduled write times of timed files
        self.query = None

    def path(self, sub: str) -> str:
        return os.path.join(self.dir, sub)

    def write(self, k: int) -> None:
        """Write file ``k`` so that the source never sees it partial."""
        tmp = os.path.join(self.tmp, f"f{k:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(self.frames[k],
                                            preserve_index=False), tmp)
        os.replace(tmp, os.path.join(self.src, f"f{k:05d}.parquet"))

    def start(self, spark, tag: str) -> None:
        from streamtasks_spark.session import read_parquet
        from streamtasks_spark.streaming import stateful as st
        from streamtasks_spark.streaming.windows import streaming_hourly_stats

        if self.name == "hourly_stats":
            schema = read_parquet(
                spark, os.path.join(self.src, "f00000.parquet")).schema
        else:
            schema = DOC_SCHEMA
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(self.src))
        ck = self.path("ckpt")
        if self.name == "approx_distinct":
            self.query = st.streaming_approx_distinct(
                src, state_path=self.path("state"),
                estimates_path=self.path("out"), checkpoint=ck, **HLL)
        elif self.name == "bloom_dedup":
            self.query = st.streaming_bloom_dedup(
                src, index_path=self.path("state"),
                flags_path=self.path("out"), checkpoint=ck,
                m_bits=BLOOM_BITS)
        else:
            self.query = (
                streaming_hourly_stats(src, watermark_delay="2 hours")
                .writeStream.format("memory")
                .queryName(f"perfbench_hourly_{tag}").outputMode("append")
                .option("checkpointLocation", ck).start())

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress]

    def data_batches(self, progress: list[dict]) -> list[dict]:
        """This twin's micro-batches that read a file, in order: batch
        ``k`` consumed file ``k``."""
        qid = str(self.query.id)
        mine = [p for p in progress
                if p["id"] == qid and p.get("numInputRows", 0) > 0]
        return sorted(mine, key=lambda p: p["batchId"])


def commit_time(p: dict) -> float:
    ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = ts.replace(tzinfo=datetime.timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def make_twins(b, root: str) -> list[Twin]:
    rows = 20 if b.tiny else ROWS
    n = WARM_FILES + (1 if b.tiny else max(1, int(b.seconds / INTERVAL_S)))
    docs = datagen.StreamDocs(b.seed)
    twins = []
    for name in TWINS:
        if name == "hourly_stats":
            frames = datagen.stream_events(b.seed, n, rows)
        else:
            frames = [docs.batch(rows) for _ in range(n)]
        twins.append(Twin(name, root, frames))
    return twins


def run_phase(b, tag: str, listener=None) -> dict:
    """Start the twins, warm them up, feed their files on the schedule,
    drain, and return what was measured. ``peak_rss_mb`` covers the
    timed window and the drain."""
    spark = b.spark
    twins = make_twins(b, os.path.join(b.work, f"stream-{tag}"))
    if listener is not None:
        spark.streams.addListener(listener)
    for k in range(WARM_FILES):
        for t in twins:
            t.write(k)
            if k == 0:
                b.op(f"{t.name} start", lambda t=t: t.start(spark, tag))
        for t in twins:
            if t.query is not None:
                b.op(f"{t.name} warm-up", t.query.processAllAvailable)
    log(f"stream {tag}: twins warm")
    live = [t for t in twins if t.query is not None]

    if b.jvm_alive():
        b.reset_peak_rss()
    t0 = time.time() + 0.5
    plan = []
    for j, t in enumerate(twins):
        t.due = [t0 + (j / len(twins) + i) * INTERVAL_S
                 for i in range(len(t.frames) - WARM_FILES)]
        plan += [(due, j, k) for k, due in enumerate(t.due, WARM_FILES)]
    plan.sort()
    late = []
    for due, j, k in plan:  # the generator: on schedule, never waits
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        late.append(max(0.0, time.time() - due))
        twins[j].write(k)
    drain_end = time.time() + DRAIN_S
    while time.time() < drain_end and not b.dead and b.jvm_alive():
        if all(len(t.data_batches(t.progress())) >= len(t.frames)
               for t in live):
            break
        time.sleep(0.1)
    t1 = time.time()
    log(f"stream {tag}: drained {t1 - plan[-1][0]:.2f}s after the last file")
    settle(b, live, listener, t1 + 5.0)
    peak_rss = b.peak_rss_mb()

    progress, latency, backlog = [], {}, 0
    for t in twins:
        if t.query is not None and b.jvm_alive():
            if not t.query.isActive:
                b.fail(f"{t.name} query died: {t.query.exception()}")
            progress += t.progress()
        batches = t.data_batches(progress) if t.query is not None else []
        latency[t.name] = [commit_time(batches[k]) - due
                           for k, due in enumerate(t.due, WARM_FILES)
                           if k < len(batches)]
        backlog += len(t.due) - len(latency[t.name])
    b.attempted += len(plan)
    b.failed += backlog
    return {"tag": tag, "twins": twins, "latency": latency,
            "backlog": backlog, "late": late, "t0": t0, "t1": t1,
            "progress": progress, "peak_rss_mb": peak_rss}


def settle(b, live: list[Twin], listener, deadline: float) -> None:
    """Wait for the hourly twin's closing no-data batch (it emits the
    windows the final watermark closed) and for the listener to have
    seen every progress event."""
    hourly = [t for t in live if t.name == "hourly_stats"]
    while time.time() < deadline and b.jvm_alive():
        closed = True
        for t in hourly:
            data = t.data_batches(t.progress())
            last = t.query.lastProgress
            closed = bool(last and data
                          and last["batchId"] > data[-1]["batchId"])
        caught_up = listener is None or all(
            len(t.data_batches(listener.events))
            >= len(t.data_batches(t.progress())) for t in live)
        if closed and caught_up:
            return
        time.sleep(0.1)


def stop_queries(b, ph: dict) -> None:
    for t in ph["twins"]:
        if t.query is not None:
            b.op(f"{t.name} stop", t.query.stop)


def timed_batches(t: Twin, progress: list[dict]) -> list[dict]:
    return t.data_batches(progress)[WARM_FILES:]


def expect(ok: bool, msg: str) -> None:
    if not ok:
        raise AssertionError(msg)


def check_twins(b, ph: dict) -> bool:
    """Compare each twin's final state with its batch one-shot over the
    same files; each comparison is one operation."""
    from pyspark.sql import functions as F

    from streamtasks_spark.llmdata.dedup import bloom_dedup
    from streamtasks_spark.llmdata.textstats import approx_distinct_hll
    from streamtasks_spark.relational.queries import events_hourly_stats
    from streamtasks_spark.session import read_parquet

    spark = b.spark
    tw = {t.name: t for t in ph["twins"]}

    def docs(*paths: str):
        return spark.read.schema(DOC_SCHEMA).parquet(*paths)

    def hll():
        t = tw["approx_distinct"]
        last = spark.read.parquet(t.path("out")).orderBy(
            F.desc("batch_id")).first()
        want = approx_distinct_hll(docs(t.src), **HLL).first()
        expect((last["raw_estimate"], last["n_buckets_hit"]) == (
            want["raw_estimate"], want["n_buckets_hit"]),
            f"HLL estimate differs from the one-shot: {last} vs {want}")

    def bloom():
        t = tw["bloom_dedup"]
        flags = spark.read.parquet(t.path("out"))
        n = sum(len(f) for f in t.frames)
        expect(flags.count() == flags.select("doc_id").distinct().count() == n,
               "bloom flags are not one row per ingested document")
        last_id = flags.agg(F.max("batch_id")).first()[0]
        *prior, last = [os.path.join(t.src, f)
                        for f in sorted(os.listdir(t.src))]
        cols = ("doc_id", "n_bits_hit", "maybe_dup")
        want = {tuple(r) for r in bloom_dedup(
            docs(last), docs(*prior), m_bits=BLOOM_BITS)
            .select(*cols).collect()}
        got = {tuple(r) for r in flags.filter(F.col("batch_id") == last_id)
               .select(*cols).collect()}
        expect(got == want, "bloom flags of the last batch differ")

    def hourly():
        t = tw["hourly_stats"]
        ev = read_parquet(spark, t.src)
        wm = ev.agg(F.max("ts")).first()[0] - datetime.timedelta(hours=2)
        cols = ("hour", "event_type", "n_events", "sum_value", "avg_value")
        want = {tuple(r) for r in events_hourly_stats({"events": ev})
                .select(*cols).collect()
                if r["hour"] + datetime.timedelta(hours=1) <= wm}
        got = {tuple(r) for r in spark.table(
            f"perfbench_hourly_{ph['tag']}").select(*cols).collect()}
        expect(got == want, f"hourly windows differ: {len(got)} emitted, "
               f"{len(want)} closed")

    ok = True
    for name, fn in (("approx_distinct", hll), ("bloom_dedup", bloom),
                     ("hourly_stats", hourly)):
        before = b.failed
        b.op(f"{name} check", fn)
        ok = ok and b.failed == before
    return ok


def manifest_totals(ph: dict) -> tuple[float, float]:
    """Live state rows and segments over every manifest table."""
    from streamtasks_spark.core.state import MANIFEST_NAME

    rows = segs = 0
    for t in ph["twins"]:
        for d, _, names in os.walk(t.path("state")):
            if MANIFEST_NAME not in names:
                continue
            with open(os.path.join(d, MANIFEST_NAME)) as f:
                live = json.load(f)["segments"]
            segs += len(live)
            for s in live:
                for dp, _, fs in os.walk(os.path.join(d, s)):
                    rows += sum(pq.ParquetFile(os.path.join(dp, x))
                                .metadata.num_rows
                                for x in fs if x.endswith(".parquet"))
    return float(rows), float(segs)


def p50_batch_s(t: Twin, progress: list[dict]) -> float:
    """Median trigger execution of a twin's timed micro-batches."""
    return statistics.median(
        [p["durationMs"]["triggerExecution"] / 1e3
         for p in timed_batches(t, progress)] or [0.0])


def busy_s(ph: dict) -> float:
    """Summed trigger execution of every timed micro-batch."""
    return sum(p["durationMs"]["triggerExecution"] / 1e3
               for t in ph["twins"] if t.query is not None
               for p in timed_batches(t, ph["progress"]))


def rows_in(ph: dict) -> int:
    return sum(len(f) for t in ph["twins"] for f in t.frames[WARM_FILES:])


def run(b, spans):
    """Run the workload; return ``(end_to_end, per_layer, correct)``."""
    a = run_phase(b, "a")
    stop_queries(b, a)
    correct = not b.dead and check_twins(b, a)
    log("stream a: checks done")
    lat = [x for v in a["latency"].values() for x in v]
    tail_v, tail_p = tail(lat or [0.0])
    e2e = {
        "batch_total_s": sum(p50_batch_s(t, a["progress"])
                             for t in a["twins"] if t.query is not None),
        # the median twin's median, so that it does not depend on where
        # the three twins' latencies happen to interleave
        "latency_p50_s": statistics.median(
            [statistics.median(v) for v in a["latency"].values() if v]
            or [0.0]),
        "peak_rss_mb": a["peak_rss_mb"],
    }
    log(f"batch_total_s {e2e['batch_total_s']:.4f}; latency p50 "
        f"{e2e['latency_p50_s']:.3f}s, p{tail_p:.1f} {tail_v:.3f}s over "
        f"{len(lat)} files; backlog {a['backlog']} files; "
        f"capacity {rows_in(a) / max(busy_s(a), 1e-9):.1f} rows/s")
    tail_layer = {"latency.tail_s": tail_v, "latency.tail_pct": tail_p,
                  "latency.samples": float(len(lat))}
    if spans is None or b.dead:
        return e2e, (tail_layer if spans is not None else None), correct

    listener = layers.make_progress_listener()
    spans.install()
    try:
        tb = run_phase(b, "b", listener)
        stop_queries(b, tb)
    finally:
        spans.uninstall()
    if b.dead:
        return e2e, tail_layer, correct
    b.spark.streams.removeListener(listener)
    b.flush_event_log()
    win = (tb["t0"], tb["t1"])
    jobs = [j for j in layers.read_event_log(b.event_dir)
            if win[0] <= j["submit"] <= win[1]]
    tb["progress"] = listener.events
    busy = busy_s(tb)
    per_layer = layers.layer_totals(spans.records, *win, jobs)
    per_layer.update(layers.engine_totals(jobs, busy, CORES))
    batches = [p for t in tb["twins"] if t.query is not None
               for p in timed_batches(t, listener.events)]
    for phase in PHASES:
        per_layer[f"streaming.trigger.{phase}_ms"] = sum(
            p["durationMs"].get(phase, 0) for p in batches) / max(
                1, len(batches))
    for t in tb["twins"]:
        if t.query is not None:
            per_layer[f"streaming.{t.name}.batch_s_p50"] = p50_batch_s(
                t, listener.events)
    per_layer["streaming.capacity_rows_per_s"] = rows_in(tb) / max(busy, 1e-9)
    per_layer["streaming.rows_in"] = float(rows_in(tb))
    per_layer["streaming.gen_late_max_s"] = max(tb["late"] or [0.0])
    per_layer["streaming.backlog_end_files"] = float(tb["backlog"])
    for key, names in (
            ("core.state.commit", ("commit_segments", "append_commit")),
            ("core.state.write", ("replace_write", "append_write")),
            ("core.state.manifest_read", ("manifest_read",))):
        tot = [layers.span_total(spans.records,
                                 f"streamtasks_spark.core.state.{f}", *win)
               for f in names]
        per_layer[f"{key}_s"] = sum(s for s, _ in tot)
        if key == "core.state.commit":
            per_layer["core.state.commits"] = float(sum(c for _, c in tot))
    per_layer["llmdata.dedup.snapshot_read_s"] = layers.span_total(
        spans.records, "streamtasks_spark.llmdata.dedup.snapshot_read",
        *win)[0]
    rows_end, segs_end = manifest_totals(tb)
    per_layer["core.state.state_rows_end"] = rows_end
    per_layer["core.state.segments_end"] = segs_end
    # an untraced phase on each side of the traced one, so that the JIT
    # warming over the run does not bias the difference
    c = run_phase(b, "c")
    stop_queries(b, c)
    per_layer["trace.overhead_s"] = busy - (busy_s(a) + busy_s(c)) / 2
    per_layer.update(tail_layer)
    return e2e, per_layer, correct
