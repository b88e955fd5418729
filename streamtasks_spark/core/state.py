"""Versioned-manifest commit protocol for persistent parquet state.

Every persistent index/sketch table in the engine (BloomIndex,
MinHashIndex, IvfIndex, IvfPqIndex, SemDedupIndex, the streaming
sketch states) commits through this module instead of directory
renames. The protocol:

- Data lands in IMMUTABLE segment directories ``seg_<tag>/`` under the
  table path. A writer never modifies a committed segment — each
  ingest/rewrite creates a new one.
- A single small pointer file ``_MANIFEST.json`` names the live
  segment set (``{"version": N, "segments": [...], "schema": {...}}``).
  Readers resolve the table THROUGH the manifest; uncommitted segments
  are invisible.
- ``schema`` is the table's Spark schema (``StructType.jsonValue()``)
  without its directory-partition column, recorded by every data
  commit (:func:`replace_write`, :func:`append_write`,
  :func:`replace_rows`). :func:`manifest_read` reads every segment
  with it, so resolving a table launches no Spark job: inferring the
  schema costs one footer-read job per segment, which on a table that
  appends a segment per micro-batch grows with every batch. Partition
  columns (``__cell=N/``) are still discovered from the directory
  names, so they keep the types inference gives them. A manifest
  written before the field existed has no ``schema``; the same reader
  infers it once, from the first segment. Pointer-only manifests (an
  index root naming its live epoch directory) carry none.
- Commit = write the new manifest to a sibling temp file, fsync, then
  one atomic single-file replace (:func:`os.replace`). A crash at ANY
  point before the flip leaves the previous manifest — and therefore
  the previous table version — fully intact; the only debris is an
  orphan segment directory, which is inert (never resolved) and swept
  by the next successful commit's GC.

Why single-FILE replace and not the directory-rename swap this module
replaces: directory rename is atomic on POSIX/HDFS but is COPY+DELETE
on S3-class object stores, reopening the crash window exactly where a
100 TB deployment keeps its indexes. Atomic replacement of one small
object is the primitive every target filesystem actually provides —
POSIX ``rename(2)``, HDFS rename, an object-store single-object PUT
(S3 has strong read-after-write consistency since 2020). On an object
store, swap the ``open``/``os.replace`` pair in :func:`_flip` for a
PUT of the manifest key; nothing else changes. (This mirrors how
Delta/Iceberg commit: data files first, then one atomic pointer/log
entry — the public commit-protocol pattern.)

The manifest name starts with ``_`` so Spark's file listing ignores it
(the same convention as ``_SUCCESS``/``_temporary``); a plain
``spark.read.parquet(path)`` over a freshly-GC'd table still sees only
live data files, but the CONTRACT is that readers resolve through
:func:`manifest_read` (what ``dedup.snapshot_read`` does when a
manifest is present) — after a crash, unreferenced orphan segments may
sit on disk until the next commit sweeps them.

Concurrency contract (unchanged from the rename era): ONE writer per
table (the MinHashIndex ingest discipline). Readers are
snapshot-isolated for free — segments are immutable and the manifest
read is one atomic file read, so a reader resolves either version N
or N+1, never a torn mix. GC runs inside commit under the single-owner
contract; compaction additionally requires no concurrent reader
mid-query (it deletes superseded segments a long-running plan may
still reference — same exclusivity :func:`dedup.compact_table` always
demanded, minus its crash window).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import reduce

MANIFEST_NAME = "_MANIFEST.json"
_SEG_PREFIX = "seg_"
_TMP_PREFIX = "_MANIFEST.tmp."


def _manifest_file(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def read_manifest(path: str) -> dict | None:
    """The live manifest (``{"version": int, "segments": [str]}``, plus
    ``"schema"`` on data tables), or None when the table has never
    committed through the protocol."""
    try:
        with open(_manifest_file(path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def new_segment(path: str) -> tuple[str, str]:
    """Reserve a fresh (uncommitted, hence invisible) segment directory
    under ``path``; returns (name, absolute path). The caller writes
    parquet into it, then commits the NAME."""
    name = f"{_SEG_PREFIX}{uuid.uuid4().hex[:12]}"
    os.makedirs(path, exist_ok=True)
    return name, os.path.join(path, name)


def _flip(tmp: str, dst: str) -> None:
    """THE commit point: one atomic single-file replacement. Isolated
    so crash-injection tests can fail exactly here, and so an
    object-store deployment can swap in a single-object PUT."""
    os.replace(tmp, dst)


def commit_segments(path: str, segments: list[str], *, schema=None,
                    gc: bool = True) -> None:
    """Atomically point the manifest at exactly ``segments`` (REPLACE
    semantics), recording ``schema`` (a ``StructType``: every
    segment's schema minus its partition column) when given. Data must
    already be fully written. On success, sweeps segment directories
    the new manifest no longer references — superseded versions and
    crash orphans alike (single-owner contract)."""
    prev = read_manifest(path)
    body = {"version": (prev["version"] if prev else 0) + 1,
            "segments": list(segments)}
    if schema is not None:
        body["schema"] = schema.jsonValue()
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f"{_TMP_PREFIX}{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(json.dumps(body))
        f.flush()
        os.fsync(f.fileno())
    _flip(tmp, _manifest_file(path))
    if gc:
        gc_segments(path)


def append_commit(path: str, new_names: list[str], *, schema=None,
                  gc: bool = True) -> None:
    """Atomically extend the live segment set with ``new_names``
    (APPEND semantics — one pointer flip makes the whole batch of new
    segments visible at once)."""
    prev = read_manifest(path)
    base = prev["segments"] if prev else []
    commit_segments(path, base + list(new_names), schema=schema, gc=gc)


def gc_segments(path: str) -> None:
    """Remove segment directories and manifest temp files not
    referenced by the live manifest. Safe only under the single-owner
    write contract (an unreferenced segment is either superseded or a
    crash orphan — never a concurrent writer's work in flight, because
    there is no concurrent writer)."""
    m = read_manifest(path)
    live = set(m["segments"]) if m else set()
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return
    for entry in entries:
        full = os.path.join(path, entry)
        if entry.startswith(_SEG_PREFIX) and entry not in live and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        elif entry.startswith(_TMP_PREFIX) and os.path.isfile(full):
            try:
                os.remove(full)
            except OSError:
                pass


def manifest_read(spark, path: str):
    """DataFrame over the committed segments (None before the first
    commit or when the live set is empty). Every segment reads with
    the manifest's recorded schema, so no Spark job runs here; a
    manifest without one infers it once, from the first segment. Each
    segment reads with its own ``basePath`` so directory-partitioned
    layouts (``__cell=N/``) keep their partition column AND
    per-segment partition pruning; segments then union by name.
    Snapshot isolation is structural: segments are immutable, so the
    set resolved here cannot change under the plan. Segment count is
    bounded by compaction (one compact = one segment), keeping the
    union shallow."""
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType

    m = read_manifest(path)
    if m is None or not m["segments"]:
        return None
    segs = [os.path.join(path, name) for name in m["segments"]]
    if "schema" in m:
        schema = StructType.fromJson(m["schema"])
    else:
        schema = spark.read.option("basePath", segs[0]).parquet(segs[0]).schema
    return reduce(DataFrame.unionByName, [
        spark.read.schema(schema).option("basePath", seg).parquet(seg)
        for seg in segs
    ])


def adopt_legacy(path: str) -> list[str]:
    """One-time migration hook: fold a pre-manifest directory's loose
    content (part files or partition dirs written by the old
    rename-swap protocol) into a synthetic segment and return its name
    for inclusion in the first commit. NOT crash-atomic (it moves
    files) — run it offline relative to readers, once, at upgrade.
    Returns [] when there is nothing to adopt."""
    try:
        entries = [
            e for e in os.listdir(path)
            if not e.startswith(_SEG_PREFIX)
            and not e.startswith("_MANIFEST")
            and not e.startswith(".")
        ]
    except FileNotFoundError:
        return []
    if not entries:
        return []
    name, seg = new_segment(path)
    os.makedirs(seg)
    for e in entries:
        shutil.move(os.path.join(path, e), os.path.join(seg, e))
    return [name]


def _data_schema(df, partition_by: str | None):
    """The schema a manifest records for ``df``: the partition column
    is left to directory discovery, as plain inference always did."""
    from pyspark.sql.types import StructType

    return StructType([f for f in df.schema.fields if f.name != partition_by])


def _commit_replace(path: str, name: str, schema) -> None:
    if read_manifest(path) is None:
        # pre-manifest loose files are being REPLACED, not kept: fold
        # them into an (unreferenced) segment so the flip's GC sweeps
        # them instead of leaving them to shadow plain directory reads
        adopt_legacy(path)
    commit_segments(path, [name], schema=schema)


def replace_write(df, path: str, *, partitions: int | None = None,
                  partition_by: str | None = None) -> None:
    """Write ``df`` as the table's new (sole) version: land a segment,
    flip the pointer, sweep the old version. The crash-safe successor
    of the ``write.mode('overwrite')``-then-rename-swap pattern — a
    crash anywhere before the flip leaves the previous version the
    live one. ``partitions`` caps the segment's file count (per
    partition directory when ``partition_by`` is set)."""
    name, seg = new_segment(path)
    # repartition, NOT coalesce (r12, measured): every caller that asks
    # for file-count control here passes a codebook/sketch-sized frame,
    # but its upstream can be a full corpus scan (an IVF seed is a
    # filter over the ingest batch). coalesce(1) has no shuffle
    # boundary, so it folds that whole upstream stage into ONE task;
    # r12 measured ~5 s per tiny state write that way, when the
    # upstream was a Python-worker map over pickled row slices (such
    # frames are JVM local relations now, core.frames.local_frame).
    # repartition keeps the upstream parallel on the map side and
    # funnels rows through one reduce task: 0.6 s vs 5.2 s on a 32-row
    # register table. Row order within the file can differ between
    # the two; every reader of these tables is row-order-insensitive.
    w = df.repartition(partitions) if partitions else df
    writer = w.write
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(seg)
    _commit_replace(path, name, _data_schema(df, partition_by))


def replace_rows(rows, schema, path: str) -> None:
    """:func:`replace_write` for a small driver-resident row list (a
    sketch's registers or counters): the rows go straight from the
    driver into the new segment as ONE parquet file, with the physical
    types and the Spark schema metadata Spark's own writer puts there,
    then commit through the same pointer flip. No Spark job runs: the
    rows are already on the driver, and sending them through
    ``parallelize``, a Python-worker task and a write job costs
    ~0.2 s per micro-batch.
    ``schema`` is a ``StructType``; ``rows`` are tuples in its field
    order. Local filesystem, like the rest of this module's
    ``os.replace`` commit."""
    import pyarrow.parquet as pq

    from streamtasks_spark.core.frames import arrow_table

    table = arrow_table(rows, schema).replace_schema_metadata(
        {"org.apache.spark.sql.parquet.row.metadata": schema.json()}
    )
    name, seg = new_segment(path)
    os.makedirs(seg)
    pq.write_table(table, os.path.join(seg, "part-00000.snappy.parquet"))
    _commit_replace(path, name, schema)


def append_write(df, path: str, *, partition_by: str | None = None) -> str:
    """Append ``df`` as a new committed segment (the crash-safe
    successor of ``write.mode('append')``): the segment becomes
    visible only at the pointer flip. Pre-manifest loose content is
    adopted into the live set on the first commit so an upgraded index
    keeps its history. Returns the segment name."""
    name, seg = new_segment(path)
    writer = df.write
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(seg)
    legacy = [] if read_manifest(path) is not None else adopt_legacy(path)
    append_commit(path, legacy + [name], schema=_data_schema(df, partition_by))
    return name
