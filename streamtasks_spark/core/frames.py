"""Driver-resident rows as Spark frames.

Codebooks, vocabularies, merge tables, component maps and one-row
reports are computed on the driver and then joined or written by Spark.
``spark.createDataFrame(<python list>, ddl)`` would ``parallelize`` the
list into defaultParallelism pickled slices and map them through a
Python worker back into JVM rows, and it re-runs that map on every job
that reads the frame (the plan leaf is a ``LogicalRDD``).
:func:`local_frame` instead converts the rows to one Arrow table on the
driver and hands it to the JVM, which decodes it into a
``LocalRelation``: no Python worker, no per-job replay, and Catalyst
sees the rows (an empty input is an empty relation it can prune).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def arrow_table(rows, schema: StructType):
    """``rows`` (tuples in ``schema`` field order) as a pyarrow Table
    typed by the Spark ``schema``'s Arrow mapping. ``None`` is a null
    cell in any column."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )


def local_frame(spark, rows, schema: str | StructType) -> DataFrame:
    """A frame over small driver-resident ``rows`` (tuples in field
    order; empty is fine) with ``schema`` (a DDL string or a
    ``StructType``), built in the JVM as a ``LocalRelation``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
