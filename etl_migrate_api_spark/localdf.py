"""JVM-local DataFrames for small driver-built tables.

``spark.createDataFrame(list)`` plans a ``Scan ExistingRDD`` over a
``parallelize``d, pickled RDD. PySpark re-serializes that RDD through an
identity ``map``, so every job that scans the relation runs a Python
worker task per slice — on a 1,000-record contact page that was 7 jobs
and 5-6 s of worker CPU (two audit-log appends at ~300 ms each).

``local_df`` instead converts the rows on the driver into one Arrow
table and hands it to ``spark.createDataFrame(pyarrow.Table, schema)``
(public API since PySpark 4.0). The JVM reads the Arrow batches once
and plans a ``LocalTableScan``: no Python task runs on any later scan,
and a small relation is a broadcast candidate with exact statistics.

The rows are exactly those ``createDataFrame(rows, schema)`` would give:
each row is checked and converted by the same PySpark steps the row
path runs (type verification; dict fields matched by name, tuples and
``Row``s by position; ``toInternal``). Dates and timestamps therefore
enter Arrow as their internal integers — a naive ``datetime`` in a
``TimestampType`` column means driver-local time, as on the row path,
where a plain Arrow timestamp column would be read as session-timezone
wall-clock time instead.

At cluster scale nothing changes: these tables are bounded driver-built
rows (micro-batch pages, audit records, centroids, query sets, quantile
specs) whose correct physical shape is a local relation feeding a
broadcast."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    IntegerType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
    _create_converter,
    _make_type_verifier,
)


def _internal_type(dt: DataType) -> DataType:
    """The Spark type whose Arrow form holds ``dt.toInternal`` values:
    dates are epoch days, timestamps epoch microseconds."""
    if isinstance(dt, DateType):
        return IntegerType()
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return LongType()
    if isinstance(dt, ArrayType):
        return ArrayType(_internal_type(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _internal_type(dt.keyType), _internal_type(dt.valueType), dt.valueContainsNull
        )
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _internal_type(f.dataType), f.nullable) for f in dt.fields]
        )
    return dt


def local_df(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a JVM-local relation
    (``LocalTableScan``). ``rows`` may be any iterable; it is consumed
    once. A value of the wrong type raises here, like the row path."""
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if not isinstance(struct, StructType):
        raise TypeError(f"local_df needs a struct schema, got {schema!r}")
    verify = _make_type_verifier(struct)
    convert = _create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    columns = [
        pa.array(
            [r[i] for r in internal], type=to_arrow_type(_internal_type(f.dataType))
        ).cast(to_arrow_type(f.dataType))
        for i, f in enumerate(struct.fields)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, names=struct.names), struct)
