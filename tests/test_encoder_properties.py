"""Property-based tests (hypothesis) for the reference-fidelity JSON
encoder: every generated value must encode to parseable JSON that
round-trips under the documented reference semantics
(GenericRecordJsonEncoder.java:42-216). Each hypothesis example draws a
LIST of values and encodes them in one DataFrame, so a property costs at
most ten encodes."""

import json
import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from arangodb_java_parquet_spark.functions.docjson import encode_documents

text = st.text(max_size=50)
_EXAMPLES = settings(max_examples=10, deadline=None)


def enc(spark, values, dtype) -> list[str]:
    """The reference encoding of each value, as column ``v`` of ``dtype``.
    The frame is built from Arrow, which keeps map entry order and tells
    NaN from null."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(T.StructType([T.StructField("v", dtype)]))
    df = spark.createDataFrame(
        pa.Table.from_pylist([{"v": v} for v in values], schema))
    docs = [r[0] for r in encode_documents(df, mode="reference").collect()]
    assert all(d.startswith('{"v": ') and d.endswith("}") for d in docs)
    return [d[len('{"v": '):-1] for d in docs]


@given(st.lists(text, min_size=20, max_size=20))
@_EXAMPLES
def test_escaped_strings_parse_as_json(spark, strings):
    for s, encoded in zip(strings, enc(spark, strings, T.StringType())):
        assert json.loads(encoded) == s


@given(st.lists(st.binary(max_size=40), min_size=20, max_size=20))
@_EXAMPLES
def test_bytes_wrapper_roundtrips_iso88591(spark, blobs):
    for b, out in zip(blobs, enc(spark, blobs, T.BinaryType())):
        doc = json.loads(out)
        # {"bytes": "<ISO-8859-1>"} wrapper; decoding is byte-preserving
        assert doc["bytes"].encode("ISO-8859-1") == b


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True),
                min_size=20, max_size=20))
@_EXAMPLES
def test_float_encoding_reference_semantics(spark, floats):
    for f, out in zip(floats, enc(spark, floats, T.DoubleType())):
        if math.isnan(f):
            assert out == '"NaN"'
        elif math.isinf(f):
            assert out in ('"Infinity"', '"-Infinity"')
        else:
            assert json.loads(out) == f


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=32),
                min_size=20, max_size=20))
@_EXAMPLES
def test_float32_encoding_roundtrips_to_same_float32(spark, floats):
    import numpy as np
    for f, out in zip(floats, enc(spark, floats, T.FloatType())):
        if math.isnan(f):
            assert out == '"NaN"'
        elif math.isinf(f):
            assert out in ('"Infinity"', '"-Infinity"')
        else:
            # shortest-for-float32 digits: parsing back as float32 is lossless
            assert np.float32(json.loads(out)) == np.float32(f)


def test_java_double_tostring_notation(spark):
    """Known Java Double.toString outputs — the notation bands and digit
    layout of GenericRecordJsonEncoder's buffer.append(double) fallback."""
    cases = {1.0: "1.0", -1.5: "-1.5", 1e7: "1.0E7",
             9999999.0: "9999999.0", 1e10: "1.0E10", 0.001: "0.001",
             1e-4: "1.0E-4", 12345.678: "12345.678", 100.0: "100.0",
             2.5e-3: "0.0025", 6.02214076e23: "6.02214076E23",
             1.23e-300: "1.23E-300"}
    got = enc(spark, [*cases, 0.0, -0.0], T.DoubleType())
    for v, expected, out in zip(cases, cases.values(), got):
        assert out == expected, v
    assert got[-2] == "0.0"
    assert got[-1] == "-0.0"
    # Float.toString: digits come from the 32-bit value, not the widened 64
    f32 = {1.1: "1.1", 3.4028235e38: "3.4028235E38", 100.5: "100.5",
           1.17549435e-38: "1.17549435E-38", 0.001: "0.001", 1e-4: "1.0E-4"}
    for v, expected, out in zip(f32, f32.values(),
                                enc(spark, list(f32), T.FloatType())):
        assert out == expected, v


def test_jvm_is_the_float_oracle(spark):
    """Every finite double/float encodes to exactly the text of the live
    JVM's ``Double.toString``/``Float.toString`` (the reference's
    ``buffer.append(datum)``): ~2,000 random-bit values of each width plus
    the zeros, subnormals and the 1e-3/1e7 notation band edges, encoded in
    one job and compared over py4j."""
    import random
    import re
    import struct

    rnd = random.Random(20261019)
    edges = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
             1.4e-45, 1.1754942e-38, 1.17549435e-38,
             1e-3, math.nextafter(1e-3, 0), math.nextafter(1e-3, 1),
             1e7, math.nextafter(1e7, 0), math.nextafter(1e7, math.inf),
             -1e-3, -1e7]

    def random_bits(fmt, n):
        out = []
        while len(out) < n:
            v = struct.unpack(fmt, rnd.randbytes(struct.calcsize(fmt)))[0]
            if math.isfinite(v):
                out.append(v)
        return out

    doubles = edges + random_bits("<d", 2000)
    floats = [struct.unpack("<f", struct.pack("<f", v))[0]
              for v in edges] + random_bits("<f", 2000)
    df = spark.createDataFrame(list(zip(doubles, floats)),
                               "d double, f float")
    docs = [re.fullmatch(r'\{"d": (.*), "f": (.*)\}', r[0]).groups()
            for r in encode_documents(df, mode="reference").collect()]
    jvm = spark.sparkContext._jvm.java.lang
    bad = [(d, f, d_txt, f_txt)
           for d, f, (d_txt, f_txt) in zip(doubles, floats, docs)
           if (d_txt, f_txt) != (jvm.Double.toString(d),
                                 jvm.Float.toString(f))]
    assert bad == [], bad[:10]


@given(st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                min_size=20, max_size=20))
@_EXAMPLES
def test_int_encoding(spark, ints):
    for i, out in zip(ints, enc(spark, ints, T.LongType())):
        assert json.loads(out) == i


@given(st.lists(st.text(max_size=30), min_size=10, max_size=10))
@_EXAMPLES
def test_control_ranges_always_escaped(spark, strings):
    for quoted in enc(spark, strings, T.StringType()):
        encoded = quoted[1:-1]
        for ch in encoded:
            cp = ord(ch)
            # after escaping, no raw control chars or U+2000-U+20FF remain
            assert not (cp <= 0x1F or 0x7F <= cp <= 0x9F
                        or 0x2000 <= cp <= 0x20FF)


def test_nested_struct_array_map_encoding(spark):
    """Recursive fidelity semantics (GenericRecordJsonEncoder.java:54-108):
    schema-ordered structs, ", "-joined arrays, maps with keys serialized
    like values, bytes wrapper and NaN quoting at depth."""
    dt = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("scores", T.ArrayType(T.DoubleType())),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
        T.StructField("raw", T.BinaryType()),
        T.StructField("inner", T.StructType([
            T.StructField("x", T.LongType()),
            T.StructField("y", T.StringType())])),
    ])
    v = {"name": 'a"b', "scores": [1.5, None, float("nan")],
         "attrs": [("k1", 7), ("k2", None)], "raw": b"\x9f",
         "inner": {"x": None, "y": "z"}}
    out, null, all_null = enc(spark, [v, None, dict.fromkeys(
        ["name", "scores", "attrs", "raw", "inner"])], dt)
    assert out == (
        '{"name": "a\\"b", "scores": [1.5, null, "NaN"], '
        '"attrs": {"k1": 7, "k2": null}, '
        '"raw": {"bytes": "\\u009F"}, '
        '"inner": {"x": null, "y": "z"}}')
    # null struct / null array / null map at depth
    assert null == "null"
    assert all_null == \
        ('{"name": null, "scores": null, "attrs": null, "raw": null, '
         '"inner": null}')


def test_spark_encode_nested_rows(spark):
    """Nested rows through the full encode: parse as JSON, field order
    preserved at every level, NULL vs NaN distinguished inside arrays."""
    from arangodb_java_parquet_spark.functions.docjson import (
        DOC_COL, encode_documents)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("meta", T.StructType([
            T.StructField("lang", T.StringType()),
            T.StructField("score", T.DoubleType())])),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ])
    rows = [
        (1, [0.5, None, float("nan")], ("en", 0.25), {"a": "b"}),
        (2, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema).coalesce(1).orderBy("id")
    docs = [r[0] for r in
            encode_documents(df, mode="reference").collect()]
    assert json.loads(docs[1]) == {"id": 2, "vec": None, "meta": None,
                                   "tags": None}
    d0 = docs[0] if '"id": 1' in docs[0] else docs[1]
    assert '"vec": [0.5, null, "NaN"]' in d0
    parsed = json.loads(d0.replace('"NaN"', "0"))
    assert list(parsed.keys()) == ["id", "vec", "meta", "tags"]
    assert list(parsed["meta"].keys()) == ["lang", "score"]
    assert parsed["tags"] == {"a": "b"}


def test_spark_encode_float32_column(spark):
    """FloatType columns format from the 32-bit shortest digits."""
    from arangodb_java_parquet_spark.functions.docjson import (
        encode_documents)
    schema = T.StructType([T.StructField("f", T.FloatType())])
    df = spark.createDataFrame([(1.1,), (None,)], schema).coalesce(1)
    docs = sorted(r[0] for r in
                  encode_documents(df, mode="reference").collect())
    assert '{"f": 1.1}' in docs
    assert '{"f": null}' in docs


def test_spark_encode_random_rows_parse(spark):
    """One Spark-side sweep: random-ish rows through the full encode
    parse as JSON with reference field order."""
    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BinaryType()),
    ])
    rows = [
        ("x y\x00z", 1, 1.25, b"\x00\xff"),
        ("", 0, float("nan"), b""),
        (None, None, None, None),
        ('"quoted"\\back', -2**62, -0.0, bytes(range(16))),
    ]
    from arangodb_java_parquet_spark.functions.docjson import encode_documents
    df = spark.createDataFrame(rows, schema).coalesce(1)
    docs = [r[0] for r in encode_documents(df, mode="reference").collect()]
    for d in docs:
        parsed = json.loads(d)
        assert list(parsed.keys()) == ["s", "i", "d", "b"]


def test_map_nonstring_keys_serialized_like_values(spark):
    """Reference map dispatch serializes KEYS through the same recursive
    serializer as values (GenericRecordJsonEncoder.java:90-108: serialize(
    entry.getKey()) with no string-coercion) — so a long-keyed map emits
    unquoted numeric keys and a double-keyed map emits "NaN"-quoted keys,
    faithfully reproducing the reference's non-standard JSON."""
    long_map = T.MapType(T.LongType(), T.StringType())
    assert enc(spark, [[(7, "a")]], long_map) == ['{7: "a"}']
    # a null key never reaches the encoder: Spark maps cannot hold one
    with pytest.raises(Exception, match="(?i)null"):
        enc(spark, [[(7, "a"), (None, "b")]], long_map)
    dbl_map = T.MapType(T.DoubleType(), T.LongType())
    assert enc(spark, [[(float("nan"), 1), (2.5, None)]], dbl_map) == \
        ['{"NaN": 1, 2.5: null}']
    # struct-keyed map: keys recurse like any value
    skey = T.MapType(
        T.StructType([T.StructField("k", T.LongType())]), T.LongType())
    assert enc(spark, [[({"k": 3}, 9)]], skey) == ['{{"k": 3}: 9}']


def test_deeply_nested_bytes_and_nan(spark):
    """bytes wrapper ({"bytes": "<ISO-8859-1>"}) and NaN/Infinity quoting
    must survive arbitrary nesting depth (the reference dispatches per
    element recursively: GenericRecordJsonEncoder.java:72-108,113-118,
    174-176), including inside map VALUES and map KEYS."""
    dt = T.ArrayType(T.MapType(
        T.StringType(),
        T.StructType([
            T.StructField("payload", T.BinaryType()),
            T.StructField("scores", T.ArrayType(T.DoubleType()))])))
    v = [[("a", {"payload": b"\x00\xff", "scores": [float("-inf"), 1.0]})],
         [("b", None)]]
    assert enc(spark, [v], dt) == [
        '[{"a": {"payload": {"bytes": "\\u0000\u00ff"}, '
        '"scores": ["-Infinity", 1.0]}}, {"b": null}]']
    # binary as a map KEY gets the same wrapper treatment
    bkey = T.MapType(T.BinaryType(), T.LongType())
    assert enc(spark, [[(b"\x01", 5)]], bkey) == \
        ['{{"bytes": "\\u0001"}: 5}']


_LEAVES = {
    T.LongType(): st.integers(min_value=-2**31, max_value=2**31),
    T.StringType(): st.text(max_size=8),
    T.BinaryType(): st.binary(max_size=6),
    T.FloatType(): st.floats(allow_nan=True, allow_infinity=True, width=32),
}


def _values_of(dt):
    """Values conforming to ``dt``, None allowed at every level."""
    if isinstance(dt, T.ArrayType):
        return st.none() | st.lists(_values_of(dt.elementType), max_size=3)
    return st.none() | _LEAVES[dt]


@given(st.data())
@_EXAMPLES
def test_recursive_array_nesting_never_crashes(spark, data):
    """Any depth of array nesting over any scalar leaf must encode without
    raising, and encode null-for-None at every level."""
    dt = data.draw(st.recursive(st.sampled_from(list(_LEAVES)),
                                lambda inner: inner.map(T.ArrayType),
                                max_leaves=4))
    values = data.draw(st.lists(_values_of(dt), min_size=12, max_size=12))
    for v, out in zip(values, enc(spark, values, dt)):
        assert isinstance(out, str) and out
        assert (out == "null") == (v is None)


def test_converters_top_level_only_reference_parity(spark):
    """Reference parity (GenericRecordJsonEncoder.java:28-32 via
    ParquetArangoLoader.java:74-76): the converter registry is consulted
    for TOP-LEVEL fields only — a timestamp inside a struct or array is
    serialized raw even with a 'timestamp' converter registered."""
    import datetime
    import json

    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.functions.docjson import (
        apply_type_converters, encode_documents)

    ts = datetime.datetime(2024, 3, 1, 12, 30, 45)
    df = spark.createDataFrame(
        [(1, ts, (ts, "x"), [ts], {"k": ts}), (2, None, None, None, None)],
        "id long, top timestamp, "
        "st struct<inner:timestamp, tag:string>, "
        "arr array<timestamp>, mp map<string,timestamp>")
    conv = {"timestamp": lambda c: F.unix_timestamp(c)}

    flat = apply_type_converters(df, conv)
    assert dict(flat.dtypes)["top"] == "bigint"
    assert dict(flat.dtypes)["st"] == "struct<inner:timestamp,tag:string>"
    assert dict(flat.dtypes)["arr"] == "array<timestamp>"
    assert dict(flat.dtypes)["mp"] == "map<string,timestamp>"

    r1, r2 = flat.orderBy("id").collect()
    epoch = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert r1.top == epoch
    assert r1.st.inner == r1.arr[0] == r1.mp["k"] == ts
    assert r1.st.tag == "x"
    assert r2.top is None
    assert r2.st is None and r2.arr is None and r2.mp is None

    # the encoder API converts the top-level field
    doc = json.loads(encode_documents(
        df.select("id", "top").filter("id = 1"), converters=conv)
        .collect()[0][0])
    assert doc == {"id": 1, "top": epoch}


def test_timestamp_and_date_edges_encode_as_utc_epoch(spark):
    """Raw epoch fall-through (GenericRecordJsonEncoder.java:133-137) at the
    edges: years 1500 and 9999 inside arrays, one microsecond before the
    epoch, and timestamp_ntz wall clocks inside a DST gap and a DST overlap
    of the session zone — each one the exact epoch value of the instant
    (or wall clock) read as UTC, whatever the session zone."""
    import datetime as dt

    utc = dt.timezone.utc
    row = ([dt.datetime(1500, 1, 1, tzinfo=utc),
            dt.datetime(9999, 12, 31, 23, 59, 59, 999999, tzinfo=utc)],
           [dt.date(1500, 1, 1), dt.date(9999, 12, 31)],
           dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=utc),
           dt.datetime(2024, 3, 10, 2, 30, 0, 7),
           dt.datetime(2024, 11, 3, 1, 30))
    df = spark.createDataFrame(
        [row], "ts array<timestamp>, ds array<date>, pre timestamp, "
               "gap timestamp_ntz, overlap timestamp_ntz")
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        doc, = [r[0] for r in
                encode_documents(df, mode="reference").collect()]
    finally:
        spark.conf.set(key, prev)
    assert json.loads(doc) == {
        "ts": [-14831769600000000, 253402300799999999],
        "ds": [-171664, 2932896],
        "pre": -1,
        "gap": 1710037800000007,
        "overlap": 1730597400000000,
    }


@pytest.mark.parametrize("mode", ["spark", "reference"])
@pytest.mark.parametrize("nested", [None, False])
def test_dotted_and_backtick_column_names(spark, mode, nested):
    """A top-level name holding ``.`` or a backtick is a name, not a path
    or a quote: both modes encode it, without converters (``None``) and
    with top-level (not nested) converters (``False``), and the converter
    reaches the column it names."""
    df = spark.createDataFrame([(1, "x", 2.5)],
                               "`a.b` int, a string, `c``d` double")
    converters = None if nested is None else {"int": lambda c: c + 1,
                                              "double": lambda c: c * 2}
    [doc] = [r[0] for r in encode_documents(
        df, mode=mode, converters=converters).collect()]
    shift = 0 if converters is None else 1
    assert json.loads(doc) == {"a.b": 1 + shift, "a": "x",
                               "c`d": 2.5 * (1 + shift)}
    assert list(json.loads(doc)) == ["a.b", "a", "c`d"]
