"""JVM-side rendering of values/type-names that byte-matches the kernel's
Python ``repr`` for the scalar types that appear in violation messages.

The violation message format (kernel parity, core/errors.py) is::

    Invalid value <repr(value)> (<type name>): <msg> (at <path>)

Building the repr in pure Spark SQL expressions keeps violation-row
construction JVM-side for all scalar column types, with no Python UDF.
Array and map reprs (and every repr under an array check) sit inside
higher-order-function lambdas, which Spark 4.1 interprets
(``CodegenFallback``).
Non-printable escaping inside strings is limited to backslash + quote
(tame data); exotic strings fall back byte-identical via the kernel pandas
path used in parity tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def python_type_name(dtype: T.DataType) -> str:
    """Python type name of a non-null value of this Spark type (kernel's
    ``get_type_name(value.__class__)`` equivalent)."""
    if isinstance(dtype, T.StringType):
        return "str"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dtype, T.BooleanType):
        return "bool"
    if isinstance(dtype, T.DecimalType):
        return "Decimal"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, T.TimestampType):
        return "datetime"
    if isinstance(dtype, T.ArrayType):
        return "list"
    if isinstance(dtype, (T.MapType, T.StructType)):
        return "dict"
    if isinstance(dtype, T.BinaryType):
        return "bytes"
    return dtype.simpleString()


def type_name_col(col: Column, dtype: T.DataType) -> Column:
    """Runtime type name: ``NoneType`` for nulls, else the static name."""
    return F.when(col.isNull(), F.lit("NoneType")).otherwise(
        F.lit(python_type_name(dtype))
    )


def _repr_string(col: Column) -> Column:
    escaped = F.regexp_replace(col, r"\\", r"\\\\")
    escaped = F.regexp_replace(escaped, r"'", r"\\'")
    return F.concat(F.lit("'"), escaped, F.lit("'"))


def _repr_float(col: Column) -> Column:
    # Python repr(2.0) == '2.0'; JVM double→string agrees for ordinary
    # magnitudes (no exponent). Known limitation: outside ~[1e-3, 1e7) the
    # JVM renders scientific notation ('1.0E-4') where Python writes
    # '0.0001' — violation-row *messages* for such floats differ from the
    # kernel; verdicts and adapted values are unaffected.
    return col.cast("string")


def py_repr(col: Column, dtype: T.DataType) -> Column:
    """Spark expression producing ``repr(value)`` as Python would print it."""
    if isinstance(dtype, T.StringType):
        body = _repr_string(col)
    elif isinstance(dtype, T.BooleanType):
        body = F.when(col, F.lit("True")).otherwise(F.lit("False"))
    elif isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        body = col.cast("string")
    elif isinstance(dtype, (T.FloatType, T.DoubleType)):
        body = _repr_float(col.cast("double"))
    elif isinstance(dtype, T.DecimalType):
        body = F.concat(F.lit("Decimal('"), col.cast("string"), F.lit("')"))
    elif isinstance(dtype, T.DateType):
        body = F.format_string(
            "datetime.date(%d, %d, %d)",
            F.year(col), F.month(col), F.dayofmonth(col),
        )
    elif isinstance(dtype, T.ArrayType):
        inner = F.transform(col, lambda x: py_repr(x, dtype.elementType))
        body = F.concat(F.lit("["), F.array_join(inner, ", "), F.lit("]"))
    elif isinstance(dtype, T.MapType):
        # a dict repr in the map's entry order: {'a': 1, 'b': None}
        inner = F.transform(
            F.map_entries(col),
            lambda e: F.concat(
                py_repr(e.getField("key"), dtype.keyType),
                F.lit(": "),
                py_repr(e.getField("value"), dtype.valueType),
            ),
        )
        body = F.concat(F.lit("{"), F.array_join(inner, ", "), F.lit("}"))
    elif isinstance(dtype, T.StructType):
        # NULL struct field ≡ absent property (engine convention), so nulls
        # are omitted from the dict repr — concat_ws skips null elements.
        parts = []
        for f in dtype.fields:
            value = col.getField(f.name)
            parts.append(
                F.when(
                    value.isNotNull(),
                    F.concat(
                        F.lit("%r: " % f.name),
                        py_repr(value, f.dataType),
                    ),
                )
            )
        body = F.concat(
            F.lit("{"), F.concat_ws(", ", *parts), F.lit("}")
        ) if parts else F.lit("{}")
    else:
        body = col.cast("string")
    return F.when(col.isNull(), F.lit("None")).otherwise(body)


def py_list_repr_of_strings(arr: Column) -> Column:
    """``['a', 'b']`` — Python repr of a list of strings (for the
    "missing required properties" message)."""
    return F.concat(
        F.lit("["),
        F.array_join(F.transform(arr, _repr_string), ", "),
        F.lit("]"),
    )
