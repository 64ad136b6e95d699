"""Declarative field/type system: the reference's marshmallow-field
surface (reference: flask_data_pipes/data_pipes/fields.py) re-expressed
as Spark column-expression factories.

Each Field compiles to a Column expression at plan-build time (no
per-row Python): `field.expr(df) -> Column`. The reference's lenient
serialization contracts are preserved:

- Date/DateTime/Time (fields.py:45-82): values that are already strings
  (or NULL) pass through unchanged; typed values are ISO-formatted.
  In Spark the input dtype is static, so the pass-through decision is
  made at compile time — same observable behavior, zero runtime cost.
- Case-folding strings (fields.py:30-42) are null-safe.
- HostName (fields.py:85-105): the `_domain`/`_fqdn` side-channel
  attributes become explicit companion output columns (the reference's
  setattr-on-dict bug is documented there; we keep the *intent*).
- Denormalized* markers (fields.py:108-117): flag the one list column
  the model explodes after projection (model.py enforces single-field).
"""

from __future__ import annotations

from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..functions import scalars as S

__all__ = [
    "Field",
    "Raw",
    "String",
    "Str",
    "Integer",
    "Int",
    "Float",
    "Number",
    "Decimal",
    "Boolean",
    "Bool",
    "UUID",
    "Url",
    "URL",
    "Email",
    "Date",
    "DateTime",
    "Time",
    "TimeDelta",
    "List",
    "Dict",
    "Nested",
    "Constant",
    "Method",
    "Function",
    "LowercaseString",
    "UppercaseString",
    "TitlecaseString",
    "HostName",
    "DenormalizedList",
    "DenormalizedMethod",
    "DenormalizedFunction",
]


class Field:
    """Base declarative field.

    :param attribute: source column name (defaults to the declared name)
    :param data_key:  output column name (defaults to the declared name)
    """

    spark_type: ST.DataType = ST.StringType()
    _creation_counter = 0

    def __init__(
        self,
        attribute: Optional[str] = None,
        data_key: Optional[str] = None,
        **_: Any,
    ) -> None:
        self.attribute = attribute
        self.data_key = data_key
        self.name: Optional[str] = None  # set by ModelMeta
        Field._creation_counter += 1
        self._order = Field._creation_counter

    # -- wiring -----------------------------------------------------------
    def bind(self, name: str) -> None:
        self.name = name

    @property
    def source(self) -> str:
        return self.attribute or self.name  # type: ignore[return-value]

    @property
    def output(self) -> str:
        return self.data_key or self.name  # type: ignore[return-value]

    # -- compilation ------------------------------------------------------
    def expr(self, df: DataFrame) -> Column:
        """Compile to a Column over the input DataFrame.

        Missing source column → NULL of the field's type (lenient: the
        reference's marshmallow dump tolerates absent keys). Spark's
        JSON writer omits null fields, so schema inference loses a
        column that is null in every row; pipeline stages read their
        own staged files with the writer's schema sidecar and keep it."""
        if self.source not in df.columns:
            return F.lit(None).cast(self.spark_type)
        return self._serialize(F.col(self.source), self._dtype(df))

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return col

    def _dtype(self, df: DataFrame) -> Optional[str]:
        return dict(df.dtypes).get(self.source)

    def companions(self, df: DataFrame) -> list[Column]:
        """Extra output columns (HostName side channels)."""
        return []


class Raw(Field):
    pass


class String(Field):
    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return col.cast("string")


Str = String


class Integer(Field):
    spark_type = ST.LongType()

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return col.cast("long")


Int = Integer


class Float(Field):
    spark_type = ST.DoubleType()

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return col.cast("double")


Number = Float


class Decimal(Field):
    def __init__(self, precision: int = 38, scale: int = 18, **kw: Any) -> None:
        super().__init__(**kw)
        self.precision, self.scale = precision, scale
        self.spark_type = ST.DecimalType(precision, scale)

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return col.cast(f"decimal({self.precision},{self.scale})")


class Boolean(Field):
    spark_type = ST.BooleanType()

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        if dtype == "string":
            return S.booler(col, strict=False)
        return col.cast("boolean")


Bool = Boolean


class UUID(String):
    """Canonical 36-char lowercase UUID string; invalid → NULL."""

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        s = F.lower(col.cast("string"))
        ok = s.rlike(r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
        return F.when(ok, s).otherwise(F.lit(None).cast("string"))


class Url(String):
    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        s = col.cast("string")
        return F.when(s.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://\S+$"), s).otherwise(
            F.lit(None).cast("string")
        )


URL = Url


class Email(String):
    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        s = col.cast("string")
        return F.when(s.rlike(r"^[^@\s]+@[^@\s]+\.[^@\s]+$"), s).otherwise(
            F.lit(None).cast("string")
        )


class Date(Field):
    """Lenient Date (reference fields.py:45-53): string/NULL input passes
    through unchanged; date/timestamp input → ISO 'yyyy-MM-dd'."""

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        if dtype == "string" or dtype is None:
            return col
        return F.date_format(col.cast("date"), "yyyy-MM-dd")


class DateTime(Field):
    """Lenient DateTime (reference fields.py:56-69) with configurable
    pattern (the reference's `dateformat` attr → Spark format string)."""

    def __init__(self, dateformat: str = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS", **kw: Any):
        super().__init__(**kw)
        self.dateformat = dateformat

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        if dtype == "string" or dtype is None:
            return col
        return F.date_format(col.cast("timestamp"), self.dateformat)


class Time(Field):
    """Lenient Time (reference fields.py:72-82): HH:mm:ss, microseconds
    truncated to 15 chars."""

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        if dtype == "string" or dtype is None:
            return col
        return S.lenient_time(col)


class TimeDelta(Field):
    spark_type = ST.DayTimeIntervalType()

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return col.cast("interval day to second")


class List(Field):
    def __init__(self, inner: Optional[Field] = None, **kw: Any) -> None:
        super().__init__(**kw)
        self.inner = inner
        self.spark_type = ST.ArrayType(
            inner.spark_type if inner else ST.StringType()
        )


class Dict(Field):
    spark_type = ST.MapType(ST.StringType(), ST.StringType())


class Nested(Field):
    def __init__(self, model: Any, **kw: Any) -> None:
        super().__init__(**kw)
        self.model = model


class Constant(Field):
    def __init__(self, constant: Any, **kw: Any) -> None:
        super().__init__(**kw)
        self.constant = constant

    def expr(self, df: DataFrame) -> Column:
        return F.lit(self.constant)


class Method(Field):
    """Computed column from a model method (reference README.md:113-118
    `define_email`). The method receives the input DataFrame and returns
    a Column — the distributed analog of receiving the whole record."""

    def __init__(self, method_name: str, **kw: Any) -> None:
        super().__init__(**kw)
        self.method_name = method_name
        self._model_cls: Any = None  # bound by ModelMeta

    def expr(self, df: DataFrame) -> Column:
        fn = getattr(self._model_cls, self.method_name)
        return fn(df)


class Function(Field):
    """Computed column from a free function `(DataFrame) -> Column`."""

    def __init__(self, func: Callable[[DataFrame], Column], **kw: Any) -> None:
        super().__init__(**kw)
        self.func = func

    def expr(self, df: DataFrame) -> Column:
        return self.func(df)


class LowercaseString(String):
    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return S.lowercase(col.cast("string"))


class UppercaseString(String):
    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return S.uppercase(col.cast("string"))


class TitlecaseString(String):
    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return S.titlecase(col.cast("string"))


class HostName(String):
    """Hostname parser (reference fields.py:85-105). Output column is
    the upper-cased HOST; companion columns `<name>_domain` /
    `<name>_fqdn` carry the side channels the reference stored as
    instance attributes."""

    def _serialize(self, col: Column, dtype: Optional[str]) -> Column:
        return S.parse_hostname(col).getField("host")

    def companions(self, df: DataFrame) -> list[Column]:
        parsed = S.parse_hostname(F.col(self.source))
        return [
            parsed.getField("domain").alias(f"{self.output}_domain"),
            parsed.getField("fqdn").alias(f"{self.output}_fqdn"),
        ]


class DenormalizedList(List):
    """Marker: explode this list column after projection (X1)."""


class DenormalizedMethod(Method):
    """Marker: computed list column, then explode."""


class DenormalizedFunction(Function):
    """Marker: computed list column, then explode."""
