"""Driver-side small frames.

``spark.createDataFrame(list)`` plans a ``LogicalRDD``: every action on it
runs a scan in Python workers, its size estimate is Long.MAX (so it never
auto-broadcasts) and ``PropagateEmptyRelation`` cannot see through it.
An Arrow table typed by the Spark schema plans a ``LocalRelation`` with an
exact size and the given nullability, whether or not
``spark.sql.execution.arrow.pyspark.enabled`` is set — collects and limits
on it run on the driver with no Spark job. Every frame the engine builds
from driver-side rows goes through :func:`local_frame`.
"""

from __future__ import annotations

import typing

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows: typing.Iterable[typing.Sequence],
                schema: typing.Union[T.StructType, str]) -> DataFrame:
    """``rows`` (positional tuples) as a LocalRelation with ``schema`` (a
    StructType or a DDL string, parsed exactly as createDataFrame does)."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    cols = []
    for i, (field, arrow_field) in enumerate(zip(schema.fields, arrow_schema)):
        vals = [r[i] for r in rows]
        if isinstance(field.dataType, T.TimestampType):
            # naive datetimes read as local time, as the list path does
            # (pyarrow alone would read them as UTC)
            cols.append(pa.array([field.dataType.toInternal(v) for v in vals],
                                 pa.int64()).cast(arrow_field.type))
        else:
            cols.append(pa.array(vals, arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow_schema), schema)
