"""Driver-side row lists as DataFrames — the one way the program turns
rows it holds in Python (manifest rows, label mappings, small dims)
into a DataFrame.

`spark.createDataFrame(list, schema)` pickles the list into a Python
RDD: every action over it (a one-row manifest append included) runs one
task per default-parallelism slot, each waiting on a Python worker for
a few ms of work. Built through a pyarrow Table instead, the rows reach
the JVM once as an Arrow stream and plan as a JVM-only `LocalTableScan`
(one partition per row up to the default parallelism, so a one-row
append writes one file and starts no Python worker).

Callers that would otherwise hand a row list to `createDataFrame` go
through `driver_rows_df`; tests/test_driver_rows.py fails if
`createDataFrame(` appears anywhere else in io/, operators/ or jobs/.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def driver_rows_df(spark: SparkSession, rows: Iterable, schema: StructType) -> DataFrame:
    """DataFrame of `rows` under `schema`. A row is a tuple — or a
    `Row` from `collect()` — in schema field order; map columns take
    Python dicts, and None is NULL at any level. An empty `rows` gives
    an empty DataFrame with the schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.names
    records = [dict(zip(names, r)) for r in rows]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
