"""Driver-built frames: rows the driver computed (a trained model, a
round loop's audit trail, a literal lookup table) re-entering a plan.

``spark.createDataFrame(<list>, schema)`` plans such rows as a
``LogicalRDD`` over a PythonRDD, so every evaluation of the frame
starts Python-worker tasks that re-serialize the rows.
:func:`local_frame` ships the same rows as one Arrow table instead:
the frame is a ``LocalRelation`` whose rows sit in the plan, and no
Python worker ever runs for it.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(
    spark: SparkSession,
    rows: Sequence[Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as an
    Arrow-backed ``LocalRelation`` with exactly ``schema``. ``schema``
    is a ``StructType`` or a DDL string. Values are converted by
    Arrow, which raises on a value its column type cannot hold (an
    int32 overflow, a string in a numeric column)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
