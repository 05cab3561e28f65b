"""Driver-side values planned as SQL literals.

A few dozen driver rows (a query's expansion, a batch's needles, a
partition's base offset) enter a plan as a local relation or an inlined
literal: collecting such a frame runs no Spark job, where
``createDataFrame(rows, schema)`` parallelizes an RDD and costs one, and
the relation it plans carries no size statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _ddl_fields(schema: str) -> list[list[str]]:
    """[name, type] per top-level field of a DDL schema ("name type, ...");
    commas inside ``struct<...>``, ``map<...>`` or ``decimal(...)`` stay in
    their field's type."""
    fields, depth, start = [], 0, 0
    for i, c in enumerate(schema + ","):
        depth += (c in "<(") - (c in ">)")
        if c == "," and depth == 0:
            fields.append(schema[start:i].split(None, 1))
            start = i + 1
    return fields


def local_frame(spark: SparkSession, schema: str, rows=()) -> DataFrame:
    """Frame of a DDL schema ("name type, ...") holding ``rows`` (tuples
    of str / int / float values), planned as a local relation. With no
    rows, any column type the DDL names is kept."""
    cols = _ddl_fields(schema)
    if not rows:
        select = ", ".join(f"CAST(NULL AS {typ}) AS `{name}`" for name, typ in cols)
        return spark.sql(f"SELECT {select} WHERE false")
    select = ", ".join(
        f"CAST(col{i} AS {typ}) AS `{name}`" for i, (name, typ) in enumerate(cols, 1)
    )
    values = ", ".join(
        "(" + ", ".join(map(_sql_value, r)) + ")"
        for r in rows
    )
    return spark.sql(f"SELECT {select} FROM VALUES {values}")


def array_map(entries: dict) -> Column:
    """Map literal from each key to the array of its values (Python
    values or literal columns): indexed by a column and exploded, it fans
    each row out to its key's values with no join."""
    return F.create_map(
        *[c for k, vs in entries.items() for c in (F.lit(k), F.array(*map(F.lit, vs)))]
    )


def _sql_str(s: str) -> str:
    """Spark SQL string literal. Each ``$`` is its own adjacent literal
    (``'a' '$' '{x}'``): with ``spark.sql.variable.substitute`` on, a
    ``${x}`` inside one literal would be read back as the variable's value
    (``''`` when unset)."""
    body = s.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + body.replace("$", "' '$' '") + "'"


def _sql_double(x: float) -> str:
    """Exact double literal: Spark SQL reads a bare ``1.5`` as DECIMAL, and
    repr() round-trips every finite double."""
    return f"{float(x)!r}D"


def _sql_value(v: str | int | float) -> str:
    if isinstance(v, str):
        return _sql_str(v)
    return _sql_double(v) if isinstance(v, float) else str(int(v))
