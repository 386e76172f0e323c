"""Tiny driver-side row sets as JVM literal relations.

`spark.createDataFrame(py_rows, schema)` compiles to `Scan ExistingRDD` over a
PICKLED Python RDD sliced to defaultParallelism: EVERY execution of any plan
that contains it launches a fleet of Python workers (32 on local[32]) just to
unpickle a KB-sized table, and the executor threads block on the worker socket
(measured: the schema-registry build inside the mapper pipeline accounted for
roughly half of q_mapper_split_events' executor task time, and recurs per
micro-batch in streaming). `local_rows` builds the same rows as a pure JVM
literal expression instead — `inline` of an array of struct literals over a
one-partition range — so execution is a single trivial JVM task with no Python
boundary, and an empty input optimizes to `LocalRelation <empty>` (zero tasks).

The literal is ONE serialized SQL text, `inline(array(CAST(struct(...) AS
struct<...>), ...))`, handed to the JVM in a single `F.expr` call, so building
it costs a constant number of py4j round trips whatever the row count. (The
previous form built one `F.lit`/`F.struct`/`cast` Column per value — about 15k
round trips, 1.5 s, for the 30-sensor stream registry.) Each value is rendered
exactly from its Python form: integers and decimals as digits, floats as their
round-trip `repr` cast to DOUBLE, dates and timestamps through the same
`toInternal` conversion `createDataFrame` uses (`DATE_FROM_UNIX_DATE`,
`TIMESTAMP_MICROS`), bytes as `X'..'`, and every string as its UTF-8 bytes,
`CAST(X'..' AS STRING)`. No string reaches the parser as text, so neither
its escape rules nor its `${...}` variable substitution
(`spark.sql.variable.substitute`, on by default) can change one; a field
name holding `$` takes the fallback for the same reason. The per-row CAST
to the declared struct type fixes every nested type and nullability to the
declared one.

Scope guard: literal expression trees grow with the row count, so inputs
larger than `max_literal_rows` fall back to the classic builder on a
1-PARTITION RDD (one Python round trip instead of defaultParallelism; no
driver-side row verification on that path). This helper is for
REGISTRY/GRID/RESULT tables that are small by construction — never for data.

Schema fidelity: the result's schema equals the declared one, or the call
falls back to `createDataFrame`. A Python value whose type `createDataFrame`
would not accept for its field (or a type this renderer does not cover, such
as TIMESTAMP_NTZ or intervals), a NULL in a non-nullable slot, and a nested
non-nullable array element or map value (which a DDL type cannot declare) all
take that fallback, which either builds the frame or raises its own
verification error.

Literal frames keep their rows on the driver as `_plenario_rows`: Python
values in `collect()` shape (structs as `Row`, arrays as lists, maps as
dicts), so a registry consumer (`metadata`) reads them without a Spark job.
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import DataFrame, Row, SparkSession, functions as F, types as T

_MAX_LITERAL_ROWS = 512

_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}
_ATOMIC = (
    T.StringType, T.BooleanType, T.FloatType, T.DoubleType, T.DecimalType,
    T.DateType, T.TimestampType, T.BinaryType, *_INT_BITS,
)


def _ddl(dt: T.DataType) -> str:
    """SQL type text for `dt`; nested nullability is only expressible on
    struct fields (NOT NULL). Field names are the only text the literal does
    not hex-encode, so one the parser's variable substitution could rewrite
    is refused."""
    if isinstance(dt, T.StructType):
        if any("$" in f.name for f in dt.fields):
            raise ValueError("'$' in a field name")
        return "struct<%s>" % ",".join(
            "`%s`:%s%s" % (f.name.replace("`", "``"), _ddl(f.dataType),
                           "" if f.nullable else " NOT NULL")
            for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return f"array<{_ddl(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_ddl(dt.keyType)},{_ddl(dt.valueType)}>"
    if type(dt) in _ATOMIC:
        return dt.simpleString()
    raise TypeError(f"no literal rendering for {dt.simpleString()}")


def _literal(v, dt: T.DataType, nullable: bool = True) -> tuple[str, object]:
    """(SQL literal text, collect()-shaped Python value) for `v` of type `dt`.
    Raises on any value `createDataFrame` would reject or convert differently,
    so the caller falls back to it."""
    if v is None:
        if not nullable:
            raise ValueError("null value in a non-nullable slot")
        return "NULL", None
    t = type(v)
    if isinstance(dt, T.StructType):
        if isinstance(v, Row) and hasattr(v, "__fields__"):
            vals = [v[f.name] for f in dt.fields]
        elif t is dict:
            vals = [v.get(f.name) for f in dt.fields]
        elif t in (tuple, list) or isinstance(v, Row):
            vals = list(v)
            if len(vals) != len(dt.fields):
                raise ValueError(f"row arity {len(vals)} != schema arity {len(dt.fields)}")
        else:
            raise TypeError(f"{t.__name__} for a struct")
        parts = [_literal(x, f.dataType, f.nullable) for x, f in zip(vals, dt.fields)]
        return (
            "struct(%s)" % ",".join(s for s, _ in parts),
            Row(*dt.names)(*(p for _, p in parts)),
        )
    if isinstance(dt, T.ArrayType) and t in (list, tuple):
        parts = [_literal(x, dt.elementType, dt.containsNull) for x in v]
        return "array(%s)" % ",".join(s for s, _ in parts), [p for _, p in parts]
    if isinstance(dt, T.MapType) and t is dict:
        texts, out = [], {}
        for k, x in v.items():
            ks, kp = _literal(k, dt.keyType, False)
            xs, xp = _literal(x, dt.valueType, dt.valueContainsNull)
            texts += [ks, xs]
            out[kp] = xp
        return "map(%s)" % ",".join(texts), out
    if isinstance(dt, T.StringType) and t is str:
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)", v
    if type(dt) in _INT_BITS and t is int:
        half = 1 << (_INT_BITS[type(dt)] - 1)
        if not -half <= v < half:
            raise ValueError(f"{v} out of range for {dt.simpleString()}")
        return str(v), v
    if isinstance(dt, (T.FloatType, T.DoubleType)) and t is float:
        return f"CAST('{v!r}' AS DOUBLE)", v
    if isinstance(dt, T.BooleanType) and t is bool:
        return ("true" if v else "false"), v
    if isinstance(dt, T.DecimalType) and t is decimal.Decimal and v.is_finite():
        q = v.quantize(decimal.Decimal(1).scaleb(-dt.scale), decimal.ROUND_HALF_UP)
        if len(q.as_tuple().digits) > dt.precision:
            raise ValueError(f"{v} overflows {dt.simpleString()}")
        return f"'{q}'", v
    if isinstance(dt, T.DateType) and t in (datetime.date, datetime.datetime):
        return f"DATE_FROM_UNIX_DATE({dt.toInternal(v)})", v
    if isinstance(dt, T.TimestampType) and t is datetime.datetime:
        return f"TIMESTAMP_MICROS({dt.toInternal(v)})", v
    if isinstance(dt, T.BinaryType) and t in (bytes, bytearray):
        return f"X'{v.hex()}'", bytes(v)
    raise TypeError(f"{t.__name__} for {dt.simpleString()}")


def _match_top_nullability(df: DataFrame, schema_t: T.StructType) -> DataFrame:
    """Widen literal-derived non-nullable top-level columns to the schema's
    declared nullability by unionAll with an EMPTY all-covering template —
    union nullability is the OR of both sides, and the optimizer prunes the
    empty branch (PropagateEmptyRelation), so the physical plan is unchanged.
    Raises when a declared NON-nullable field came out nullable (a None value
    in the rows), or when a column's type differs from the declared one, so
    the caller falls back to createDataFrame."""
    widen = []
    for want, got in zip(schema_t.fields, df.schema.fields):
        if got.dataType != want.dataType:
            raise ValueError(f"field {want.name}: literal type {got.dataType} != {want.dataType}")
        if got.nullable and not want.nullable:
            raise ValueError(f"field {want.name}: null value in non-nullable field")
        widen.append(want.nullable and not got.nullable)
    if not any(widen):
        return df
    fixes = [
        F.lit(None).cast(want.dataType).alias(want.name) if w else F.col(want.name)
        for want, w in zip(schema_t.fields, widen)
    ]
    return df.unionAll(df.limit(0).select(*fixes))


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame over driver-local `rows` with `schema` (DDL string or
    StructType), built as a JVM literal relation when small enough; falls back
    to a 1-partition `spark.createDataFrame` past `_MAX_LITERAL_ROWS`, or to the
    classic builder on any unsupported/malformed value. Row order preserved.

    The result is tagged `_plenario_local = True` on the literal paths so
    `metadata._pin_local` can skip re-collecting a frame that is already a
    driver-local relation with exact size estimates, and carries the rows as
    `_plenario_rows` (see the module docstring)."""
    if isinstance(schema, str):
        schema_t = T._parse_datatype_string(schema)
    else:
        schema_t = schema
    rows = list(rows)
    if len(rows) > _MAX_LITERAL_ROWS:
        # one Python round trip (1 slice), not a defaultParallelism unpickle
        # fleet — these tables are registry-sized, never data
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema_t
        )
    if not rows:
        if any(not f.nullable for f in schema_t.fields):
            # a zero-row literal template cannot express a non-nullable column
            # (lit(NULL) is nullable); createDataFrame([], schema) honors the
            # declared nullability and its empty RDD runs zero tasks
            return spark.createDataFrame([], schema_t)
        # zero-row literal: a one-row template limited to 0 optimizes to
        # LocalRelation <empty> (zero tasks, no Python)
        tmpl = spark.range(0, 1, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema_t.fields]
        )
        out = tmpl.limit(0)
        out._plenario_local = True
        out._plenario_rows = []
        return out
    try:
        row_type = _ddl(schema_t)
        texts, kept = [], []
        for r in rows:
            text, value = _literal(r, schema_t)
            texts.append(f"CAST({text} AS {row_type})")
            kept.append(value)
        out = spark.range(0, 1, 1, 1).select(
            F.expr("inline(array(%s))" % ",".join(texts))
        )
        out = _match_top_nullability(out, schema_t)
    except Exception:
        return spark.createDataFrame(rows, schema)
    out._plenario_local = True
    out._plenario_rows = kept
    return out
