"""Container demux/mux (reference media/inputcontainer.py:56-110,
outputcontainer.py:116-161, container.py:38-189).

The reference demuxes files/URLs via PyAV into per-track packet streams
and muxes N packet streams back, interleaving by accumulated duration.
Here the engine-native container is a PACKET TABLE — one row per packet:

    (track STRING, ts TIMESTAMP, seq BIGINT, duration DOUBLE,
     data BINARY, is_keyframe BOOLEAN)

which is what a PyAV demux loop yields when such a loop can run
(import-gated; this environment ships no media libs). A packet table in
parquet IS the container for the Spark engine: splittable, columnar,
predicate-pushdown-friendly — the shape a 100 TB media corpus should be
in anyway.

- :func:`input_container` — demux: read a packet table, return one
  DataFrame per requested track (reference per-track out-topics).
- :func:`output_container` — mux: interleave N track DataFrames by
  accumulated duration (the reference's cross-track rule,
  outputcontainer.py:70-101) and write one packet table.
- :func:`demux_file_pyav` — the real-file path, available when PyAV is
  installed; raises NotImplementedError otherwise with the exact
  drop-in point documented.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamtasks_spark.core.frames import local_frame
from streamtasks_spark.media.codec import pyav_available
from streamtasks_spark.operators.timing import interleave_by_duration

PACKET_SCHEMA = (
    "track string, ts timestamp, seq bigint, duration double, "
    "data binary, is_keyframe boolean"
)

# a demuxed packet row as built on the driver: ``ts`` in float seconds,
# converted by :func:`packet_frame`
_PACKET_ROW_SCHEMA = PACKET_SCHEMA.replace("ts timestamp", "ts double")

# container header sidecar: the stream-layout record that keeps an
# EMPTY container readable (writer and reader must agree on the name)
_HEADER_NAME = "_container_header.json"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works
    for local, hdfs://, s3a://, any configured scheme, unlike driver
    os.makedirs/open which would create bogus LOCAL directories for a
    remote container path."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _write_header(spark: SparkSession, path: str, payload: dict) -> None:
    import json

    fs, base = _hadoop_fs(spark, path)
    jvm = spark._jvm
    out = fs.create(jvm.org.apache.hadoop.fs.Path(base, _HEADER_NAME), True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def _read_header(spark: SparkSession, path: str) -> dict | None:
    import json

    fs, base = _hadoop_fs(spark, path)
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path(base, _HEADER_NAME)
    if not fs.exists(hp):
        return None
    stream = fs.open(hp)
    baos = jvm.java.io.ByteArrayOutputStream()
    # hadoop's own IOUtils — guaranteed on the classpath (commons-io is
    # not); closeStreams=True closes BOTH ends
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return json.loads(bytes(baos.toByteArray()).decode("utf-8"))


def input_container(
    spark: SparkSession,
    path: str,
    *,
    tracks: Sequence[str] | None = None,
) -> dict[str, DataFrame]:
    """Demux a packet table into per-track packet streams. Filters push
    down to the parquet scan, so reading one track of a many-track
    container scans only that track's row groups (when the table is
    written sorted/partitioned by track, as output_container does).

    An EMPTY container (zero packets → no parquet data files) is
    demuxed from the header sidecar output_container writes: each
    requested track resolves to an empty DataFrame with the container's
    schema instead of an UNABLE_TO_INFER_SCHEMA failure (r07
    empty-input sweep). ONLY that schema-inference failure takes the
    header path — any other read error (corrupt footer, permissions,
    transient FS fault) on a populated container re-raises rather than
    silently demuxing to zero packets. Fallback schema note: the header
    stores columns in the partitioned READ layout (track last), but a
    numeric-looking track name read from a NON-empty container gets
    partition-column type inference (directory names), which the
    header cannot reproduce — use string track names (the reference
    does: "audio0"/"video1")."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
            raise
        from pyspark.sql.types import StructType

        header = _read_header(spark, path)
        if header is None:
            raise
        schema = StructType.fromJson(header["schema"])
        df = local_frame(spark, [], schema)
    if tracks is None:
        tracks = [r["track"] for r in df.select("track").distinct().collect()]
    return {t: df.filter(F.col("track") == t) for t in tracks}


def output_container(
    track_streams: dict[str, DataFrame],
    path: str,
    *,
    seq_col: str = "seq",
    duration_col: str = "duration",
) -> None:
    """Mux per-track packet streams into one packet table, ordered by the
    reference's accumulated-duration interleave. The mux order is
    materialized as a column and the table is written partitioned by
    track (pushdown-friendly demux later)."""
    streams = []
    for name, df in track_streams.items():
        streams.append(df.withColumn("track", F.lit(name)))
    # keys=() is intentional: one container = one globally interleaved
    # sequence (a single mux window is the semantic, as in the reference)
    muxed = interleave_by_duration(
        streams,
        keys=(),
        duration_col=duration_col,
        seq_col=seq_col,
        stream_col="__track_idx",
    )
    packets = muxed.drop("__track_idx")
    (
        packets.repartition("track")
        .sortWithinPartitions("mux_order")
        .write.mode("overwrite")
        .partitionBy("track")
        .parquet(path)
    )
    # container HEADER (r07 empty-input sweep): with zero packets the
    # partitioned write produces no data files and a later
    # input_container dies on UNABLE_TO_INFER_SCHEMA — a real container
    # format carries its stream layout in a header exactly so an empty
    # container stays readable (the reference's OutputContainer writes
    # codec metadata up front; media/container.py:116-161). Written via
    # the Hadoop FS API so hdfs://-style container paths get the header
    # next to their data, not a bogus local directory. The stored
    # column order mirrors the partitioned READ layout (track last).
    spark = packets.sparkSession
    read_layout = packets.select(
        *[c for c in packets.columns if c != "track"], "track"
    )
    _write_header(
        spark, path, {"schema": read_layout.schema.jsonValue()}
    )


def demux_file_pyav(
    spark: SparkSession, url: str
) -> DataFrame:  # pragma: no cover - PyAV absent in this environment
    """Real-file demux via PyAV → packet-table DataFrame. The loop shape
    matches reference media/container.py:38-116 (demux → packets with
    pts/duration/keyframe)."""
    if not pyav_available():
        raise NotImplementedError(
            "PyAV is not installed in this environment. When available: "
            "av.open(url), iterate container.demux(), and build rows "
            "(track=stream.type+str(stream.index), ts=packet.pts*tb, "
            "seq=i, duration=packet.duration*tb, data=bytes(packet), "
            "is_keyframe=packet.is_keyframe) → packet_frame(spark, rows)."
        )
    import av

    rows = []
    with av.open(url) as container:
        for i, packet in enumerate(container.demux()):
            if packet.pts is None:
                continue
            tb = float(packet.time_base) if packet.time_base else 0.0
            rows.append(
                (
                    f"{packet.stream.type}{packet.stream.index}",
                    packet.pts * tb,
                    i,
                    float(packet.duration or 0) * tb,
                    bytes(packet),
                    bool(packet.is_keyframe),
                )
            )
    return packet_frame(spark, rows)


def packet_frame(spark: SparkSession, rows) -> DataFrame:
    """Demuxed packet rows ``(track, ts, seq, duration, data,
    is_keyframe)``, ``ts`` in float seconds (``pts * time_base``), as a
    :data:`PACKET_SCHEMA` packet table. A timestamp column accepts no
    float, so ``ts`` lands as a double and ``timestamp_seconds``
    converts it in the JVM, as the capture sources do."""
    return local_frame(spark, rows, _PACKET_ROW_SCHEMA).withColumn(
        "ts", F.timestamp_seconds("ts")
    )
