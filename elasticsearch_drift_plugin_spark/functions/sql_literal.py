"""Spark SQL string literals for text built as SQL strings, and the one way
to build a DataFrame from literal driver-side rows."""

from __future__ import annotations

import re


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string expression that reads back as ``s`` under
    both settings of ``spark.sql.parser.escapedStringLiterals``.

    A quoted ``'`` or ``\\`` has no spelling both parser modes read the same
    way, so each is spliced in as ``chr(39)`` / ``chr(92)``; the quoted
    pieces around them contain neither."""
    parts = [
        f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'"
        for p in re.split(r"(['\\])", s)
        if p
    ]
    if not parts:
        return "''"
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"


def literal_frame(spark, rows, schema):
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` order, or a
    ``pyarrow.Table``) typed by ``schema`` (a DDL string or ``StructType``),
    built from an Arrow table so the plan leaf is a ``LocalRelation``.

    ``createDataFrame(<list>, ddl)`` decodes through a Python-RDD scan, so
    every action on the frame runs ``defaultParallelism`` Python-worker
    tasks even when they do no work. Each costs ~70 ms of worker CPU on
    Python 3.11: ``setup_spark_files`` calls ``importlib.invalidate_caches()``
    per task, and with pyspark imported from ``pyspark.zip`` that re-reads
    the archive's directory once per cached zipimporter. The pandas route
    avoids the RDD only while ``spark.sql.execution.arrow.pyspark.enabled``
    holds (else it silently takes the tuple path) and turns int columns
    holding ``None`` into floats; an Arrow table needs neither. The DDL is
    parsed without running a job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) or [()] * len(arrow)
        rows = pa.table(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(rows, schema)
