"""Small driver-side DataFrames handed to the JVM in one Arrow batch.

Seeds, fixtures and driver-computed results are built as one typed
``pyarrow.Table`` and passed to ``spark.createDataFrame`` in a single
serialized hand-off. The plan leaf is a JVM ``LocalRelation``: no
per-cell py4j calls and no pickled Python collection, so no
Python-runner stage in any downstream job. Measured on a 4-core host:
724 five-column edge rows build in 0.02-0.04 s (8.0-8.3 s as a
``F.lit``/``F.struct`` expression tree), 33,000 rows in 0.17 s. The
rows live in the plan, so keep this to driver-sized data; anything
that grows with the corpus is a table.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_df(
    spark: SparkSession, rows: Sequence[tuple], schema: str | StructType
) -> DataFrame:
    """``rows`` as a DataFrame with exactly ``schema`` (a DDL string or a
    ``StructType``); an empty ``rows`` gives a typed empty frame. Works
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(arrow)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)]
    for a, f in zip(arrays, arrow):
        if not f.nullable and a.null_count:
            raise ValueError(f"local_df: null in non-nullable column {f.name!r}")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
