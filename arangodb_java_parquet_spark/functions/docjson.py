"""Row -> JSON document encoding, the Spark re-expression of the reference's
``GenericRecordJsonEncoder`` (GenericRecordJsonEncoder.java:42-216).

Two modes (SURVEY.md §1.3, §7 "hard parts"):

* ``mode="spark"`` (default, fast path): ``to_json(struct("*"))`` — a JVM-side
  whole-stage-codegen expression; field order follows the schema, nested
  struct/array/map supported natively. Documented divergences from the
  reference encoder: binary columns are base64 (not the ``{"bytes": ...}``
  ISO-8859-1 wrapper), NaN/Infinity doubles are emitted as to_json emits them
  (JSON has no NaN), timestamps/dates are ISO strings (the reference emits raw
  epoch numbers unless a converter is registered).

* ``mode="reference"`` (fidelity path): one recursive Column expression
  (``_enc``) that reproduces the reference encoder's output for FULL nested
  schemas (struct / array / map, recursively — the reference serializer's
  isRecord/isArray/isMap dispatch at GenericRecordJsonEncoder.java:54-108):
    - output field order = schema field order, ``"name": value`` pairs joined
      with ``", "`` (GenericRecordJsonEncoder.java:60-71)
    - arrays as ``[e1, e2]`` (GenericRecordJsonEncoder.java:73-89)
    - maps as ``{key: value, ...}`` with keys serialized exactly like values
      (GenericRecordJsonEncoder.java:90-108) — string keys are quoted+escaped;
      a non-string-keyed Spark map is emitted with raw keys, faithfully
      reproducing the reference's fallback (which never quotes non-strings).
      Entry order is the data's own entry order (the reference iterates a
      HashMap, whose order is unspecified — any order is reference-valid).
    - bytes -> ``{"bytes": "<ISO-8859-1-decoded, escaped>"}`` wrapper at any
      nesting depth (GenericRecordJsonEncoder.java:113-117,174-176)
    - NaN / ±Infinity quoted as JSON strings ("NaN", "Infinity",
      "-Infinity") (GenericRecordJsonEncoder.java:118-124)
    - string escaping of ", \\, \\b \\f \\n \\r \\t plus \\uXXXX
      (uppercase hex) for U+0000–U+001F, U+007F–U+009F and U+2000–U+20FF
      (GenericRecordJsonEncoder.java:178-216), field names included
    - finite float/double text is Spark's ``CAST(... AS STRING)``, which
      is the JVM's own ``Double.toString``/``Float.toString`` — the
      reference's ``buffer.append(datum)`` fall-through at
      GenericRecordJsonEncoder.java:136, digit for digit (pinned against
      ``java.lang.Double``/``Float`` in tests/test_encoder_properties.py)
    - unconverted timestamp/date columns emit raw epoch numbers, matching the
      reference's fall-through for unregistered logical types
      (GenericRecordJsonEncoder.java:133-137): timestamps as epoch
      microseconds, dates as days since epoch, ``timestamp_ntz`` as the
      epoch microseconds of its wall clock read as UTC (whatever the
      session zone)
    - circular references (GenericRecordJsonEncoder.java:55-58) cannot occur
      in Spark data — the guard has no Spark analog.

Type converters (``converters=``) apply to top-level fields only, in both
modes, as the reference's registry does (GenericRecordJsonEncoder.java:28-32).

Both paths plan entirely in the JVM: the encode adds no Python stage, so a
loader write is the only one. SQL NULL -> ``null`` and NaN -> ``"NaN"`` at
every nesting depth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOC_COL = "__doc__"

# ---------------------------------------------------------------------------
# fast path: to_json
# ---------------------------------------------------------------------------


def encode_documents(df: DataFrame, mode: str = "spark",
                     converters: dict | None = None) -> DataFrame:
    """Return a single-column (``__doc__`` string) DataFrame of JSON documents.

    ``converters`` maps a Spark DataType *simpleString* (e.g. ``"timestamp"``,
    ``"date"``, ``"binary"``, ``"decimal(18,2)"``) to a ``Column -> Column``
    function applied to every top-level field of that type before encoding —
    the Spark analog of the reference's per-LogicalType converter registry
    (ParquetArangoLoader.java:34,74-76), top-level-only like
    GenericRecordJsonEncoder.java:28-32 (see apply_type_converters).
    """
    if converters:
        df = apply_type_converters(df, converters)
    if mode == "spark":
        return df.select(F.to_json(F.struct("*")).alias(DOC_COL))
    if mode == "reference":
        return df.select(_enc(F.struct("*"), df.schema).alias(DOC_COL))
    raise ValueError(f"unknown encode mode: {mode!r}")


def apply_type_converters(df: DataFrame, converters: dict) -> DataFrame:
    """Apply ``{type_simple_string: Column->Column}`` to matching fields.

    TOP-LEVEL-ONLY on purpose: the reference consults its logical-type
    converter registry per top-level Avro field only
    (GenericRecordJsonEncoder.java:28-32 via ParquetArangoLoader.java:74-76),
    so a timestamp buried inside a struct/array/map is serialized RAW even
    when a timestamp converter is registered — exact parity, pinned in
    tests/test_encoder_properties.py. A field whose own type matches is
    converted whole, complex types included."""
    cols: list[Column] = []
    for field in df.schema.fields:
        fn = converters.get(field.dataType.simpleString())
        col = _top_col(field.name)
        cols.append(fn(col).alias(field.name) if fn else col)
    return df.select(*cols)


def _top_col(name: str) -> Column:
    """A top-level column by its exact name: quoted, so a ``.`` or a
    backtick in the name is not read as a path or a quote."""
    return F.col("`" + name.replace("`", "``") + "`")


# ---------------------------------------------------------------------------
# fidelity path: exact reference-encoder semantics (nested schemas)
# ---------------------------------------------------------------------------

_ESCAPES = {'"': '\\"', "\\": "\\\\", "\b": "\\b", "\f": "\\f",
            "\n": "\\n", "\r": "\\r", "\t": "\\t"}

# The three \uXXXX control ranges (GenericRecordJsonEncoder.java:178-216),
# built from chr() so the class reads as codepoints.
_CONTROL = (chr(0x00) + "-" + chr(0x1F) + chr(0x7F) + "-" + chr(0x9F)
            + chr(0x2000) + "-" + chr(0x20FF))


def _esc(s: Column) -> Column:
    """Reference string escaping: named escapes plus uppercase \\uXXXX for
    the control ranges. Strings with nothing to escape pass through; the
    rest are split by code point (surrogate pairs survive) and mapped."""
    named = F.create_map(*[F.lit(x) for kv in _ESCAPES.items() for x in kv])

    def char(ch: Column) -> Column:
        return F.coalesce(
            F.try_element_at(named, ch),
            F.when(ch.rlike(f"[{_CONTROL}]"), F.concat(
                F.lit("\\u"), F.hex(F.encode(ch, "UTF-16BE")))),
            ch)
    escaped = F.array_join(F.transform(F.split(s, ""), char), "")
    return F.when(s.rlike(f'["\\\\{_CONTROL}]'), escaped).otherwise(s)


def _enc(c: Column, dt: T.DataType) -> Column:
    """The JSON text of ``c`` (SQL NULL -> ``null``) — the Column analog of
    the reference's isRecord/isArray/isMap dispatch
    (GenericRecordJsonEncoder.java:53-137)."""
    if isinstance(dt, T.StructType):
        # field order = schema order (GenericRecordJsonEncoder.java:60-71);
        # the guard keeps a null struct at depth null, not {"a": null, ...}
        parts = []
        for i, f in enumerate(dt.fields):
            parts += [F.lit(', "' if i else '"'), _esc(F.lit(f.name)),
                      F.lit('": '),
                      _enc(c.getField(f.name), f.dataType)]
        out = F.when(c.isNotNull(),
                     F.concat(F.lit("{"), *parts, F.lit("}")))
    elif isinstance(dt, T.ArrayType):
        out = F.concat(F.lit("["), F.array_join(F.transform(
            c, lambda e: _enc(e, dt.elementType)), ", "), F.lit("]"))
    elif isinstance(dt, T.MapType):
        # keys serialized like values (GenericRecordJsonEncoder.java:90-108)
        out = F.concat(F.lit("{"), F.array_join(F.transform(
            F.map_entries(c), lambda e: F.concat(
                _enc(e.getField("key"), dt.keyType), F.lit(": "),
                _enc(e.getField("value"), dt.valueType))), ", "),
            F.lit("}"))
    elif isinstance(dt, T.StringType):
        out = F.concat(F.lit('"'), _esc(c), F.lit('"'))
    elif isinstance(dt, T.BinaryType):
        # {"bytes": "<ISO-8859-1-decoded>"} wrapper
        # (GenericRecordJsonEncoder.java:113-117,174-176)
        out = F.concat(F.lit('{"bytes": "'),
                       _esc(F.decode(c, "ISO-8859-1")), F.lit('"}'))
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        # NaN/±Infinity quoted (GenericRecordJsonEncoder.java:118-124); the
        # rest is the JVM's own Double.toString / Float.toString
        out = (F.when(F.isnan(c), '"NaN"')
               .when(c == float("inf"), '"Infinity"')
               .when(c == float("-inf"), '"-Infinity"')
               .otherwise(c.cast("string")))
    elif isinstance(dt, (T.BooleanType, T.ByteType, T.ShortType,
                         T.IntegerType, T.LongType)):
        out = c.cast("string")
    elif isinstance(dt, T.DateType):  # raw epoch days fall-through (§1.3)
        out = F.unix_date(c).cast("string")
    elif isinstance(dt, T.TimestampType):  # raw epoch micros (§1.3)
        out = F.unix_micros(c).cast("string")
    elif isinstance(dt, T.TimestampNTZType):
        # the wall clock read as UTC, from its fields: casts to timestamp
        # and NTZ arithmetic would consult the session zone
        out = (F.unix_date(c.cast("date")).cast("bigint") * 86_400_000_000
               + F.hour(c).cast("bigint") * 3_600_000_000
               + F.minute(c).cast("bigint") * 60_000_000
               + (F.extract(F.lit("SECOND"), c) * 1_000_000)
               .cast("bigint")).cast("string")
    else:
        raise TypeError(
            f"reference-fidelity encoder: unsupported scalar type {dt} "
            "(register a type converter to pre-map it, or use mode='spark')")
    return F.coalesce(out, F.lit("null"))
