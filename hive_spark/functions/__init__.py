"""Hive function gap-fill for Spark SQL.

Hive registers ~360 functions (ref: ql/.../exec/FunctionRegistry.java:286-662).
Almost all exist natively in Spark (SURVEY.md §2.11-2.12); this module adds
the genuinely missing ones so HiveQL text runs unmodified.

Strategy, fastest-path first:
1. **SQL scalar UDFs** (``CREATE FUNCTION ... RETURN <expr>``, Spark 4) —
   pure Catalyst expressions, fully codegen'd JVM-side. Used for every
   fixed-arity gap function.
2. **Python UDFs** only for variadic signatures SQL UDFs can't express
   (``field``, ``likeany``, ``likeall``) — these are cold-path compat
   functions, never used in the 100 TB hot loop.

Gap list from SURVEY.md §7.3:
  field, quote, likeany/likeall, mask/mask_first_n/mask_last_n/
  mask_show_first_n/mask_show_last_n/mask_hash (ref: ql/.../udf/generic/
  GenericUDFMask*.java), floor_year..floor_second (ref:
  FunctionRegistry.java:636-649), to_epoch_milli, sort_array_by,
  parse_url_tuple (ref: GenericUDTFParseUrlTuple), replicate_rows (ref:
  FunctionRegistry.java:654), surrogate_key, bucket_number, tumbling_window
  (ref: GenericUDFTumbledWindow).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# ---------------------------------------------------------------------------
# SQL scalar UDFs (JVM-side, codegen'd — zero Python in the data path)
# ---------------------------------------------------------------------------

# `quote` and `mask` are native in Spark 4 with Hive-matching semantics
# (verified: quote("don't") -> 'don\'t', mask('Abc-123') -> Xxx-nnn);
# the positional mask variants below compose the native `mask`.
_MASK_EXPR = "mask({s})"

_SQL_UDFS: list[str] = [
    # -- masking family (ref: ql/.../udf/generic/GenericUDFMask*.java) ------
    f"""CREATE OR REPLACE TEMPORARY FUNCTION mask_first_n(s STRING, n INT) RETURNS STRING
        RETURN concat({_MASK_EXPR.format(s='substr(s, 1, n)')}, substr(s, n + 1))""",
    f"""CREATE OR REPLACE TEMPORARY FUNCTION mask_last_n(s STRING, n INT) RETURNS STRING
        RETURN concat(substr(s, 1, greatest(length(s) - n, 0)),
                      {_MASK_EXPR.format(s='substr(s, greatest(length(s) - n, 0) + 1)')})""",
    f"""CREATE OR REPLACE TEMPORARY FUNCTION mask_show_first_n(s STRING, n INT) RETURNS STRING
        RETURN concat(substr(s, 1, n), {_MASK_EXPR.format(s='substr(s, n + 1)')})""",
    f"""CREATE OR REPLACE TEMPORARY FUNCTION mask_show_last_n(s STRING, n INT) RETURNS STRING
        RETURN concat({_MASK_EXPR.format(s='substr(s, 1, greatest(length(s) - n, 0))')},
                      substr(s, greatest(length(s) - n, 0) + 1))""",
    # mask_hash: hex digest of the value (ref: GenericUDFMaskHash.java uses
    # DigestUtils.sha256Hex; sha512Hex under hive.masking.algo=sha512)
    """CREATE OR REPLACE TEMPORARY FUNCTION mask_hash(s STRING) RETURNS STRING
        RETURN sha2(s, 256)""",
    # -- date/time ----------------------------------------------------------
    # floor_<unit> family -> date_trunc (ref: FunctionRegistry.java:636-648)
    """CREATE OR REPLACE TEMPORARY FUNCTION floor_year(t TIMESTAMP) RETURNS TIMESTAMP
        RETURN date_trunc('year', t)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION floor_quarter(t TIMESTAMP) RETURNS TIMESTAMP
        RETURN date_trunc('quarter', t)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION floor_month(t TIMESTAMP) RETURNS TIMESTAMP
        RETURN date_trunc('month', t)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION floor_week(t TIMESTAMP) RETURNS TIMESTAMP
        RETURN date_trunc('week', t)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION floor_day(t TIMESTAMP) RETURNS TIMESTAMP
        RETURN date_trunc('day', t)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION floor_hour(t TIMESTAMP) RETURNS TIMESTAMP
        RETURN date_trunc('hour', t)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION floor_minute(t TIMESTAMP) RETURNS TIMESTAMP
        RETURN date_trunc('minute', t)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION floor_second(t TIMESTAMP) RETURNS TIMESTAMP
        RETURN date_trunc('second', t)""",
    # to_epoch_milli (ref: GenericUDFEpochMilli)
    """CREATE OR REPLACE TEMPORARY FUNCTION to_epoch_milli(t TIMESTAMP) RETURNS BIGINT
        RETURN unix_millis(t)""",
    # tumbling_window(ts, interval_seconds) -> window start
    # (ref: GenericUDFTumbledWindow, FunctionRegistry.java:649)
    """CREATE OR REPLACE TEMPORARY FUNCTION tumbling_window(t TIMESTAMP, width_sec BIGINT)
        RETURNS TIMESTAMP
        RETURN timestamp_seconds(floor(unix_seconds(t) / width_sec) * width_sec)""",
    # -- misc ---------------------------------------------------------------
    # bucket_number: which bucket a value hashes to (ref: GenericUDFBucketNumber)
    """CREATE OR REPLACE TEMPORARY FUNCTION bucket_number(v STRING, n INT) RETURNS INT
        RETURN pmod(hash(v), n)""",
]

# find_in_set, sentences, levenshtein, soundex, initcap, elt, conv, bin,
# histogram_numeric, width_bucket, percentile, xpath family: all native in
# Spark — verified by tests/test_functions.py, no registration needed.


def _py_field(value, *args):
    """1-based index of value in args; 0 if absent (Hive `field`,
    ref: ql/.../udf/generic/GenericUDFField.java)."""
    if value is None:
        return 0
    for i, a in enumerate(args):
        if a is not None and a == value:
            return i + 1
    return 0


def _like_to_regex(pattern: str) -> str:
    import re as _re

    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def _py_likeany(value, *patterns):
    """True if value LIKE any pattern (Hive `likeany`,
    ref: ql/.../udf/generic/GenericUDFLikeAny.java)."""
    import re as _re

    if value is None:
        return None
    return any(p is not None and _re.match(_like_to_regex(p), value) for p in patterns)


def _py_likeall(value, *patterns):
    """True if value LIKE all patterns (ref: GenericUDFLikeAll.java)."""
    import re as _re

    if value is None:
        return None
    return all(p is not None and _re.match(_like_to_regex(p), value) for p in patterns)


# -- minimal geospatial subset (ref: the Esri UDF family Hive bundles,
# ql/.../udf/esri; geospatial_binary.q / geospatial_decimal.q surface).
# Geometry binary: b'P' + 2 doubles (point), b'L' + n + 2n doubles
# (linestring). The full WKT/JTS surface (polygons, buffer, GeoJSON)
# stays env-blocked — these are the pure-math pieces.

def _geo_fmt(v: float) -> str:
    return "%g" % v


def _py_st_point(x, y):
    import struct

    if x is None or y is None:
        return None
    return b"P" + struct.pack("<dd", float(x), float(y))


def _py_st_linestring(*args):
    """ST_LineString(x1,y1,x2,y2,...) or ST_LineString(array<point>)."""
    import struct

    if len(args) == 1 and isinstance(args[0], (list, tuple)):
        pts = []
        for b in args[0]:
            if b is None:
                return None
            bb = bytes(b)
            pts.append(struct.unpack("<dd", bb[1:17]))
    else:
        if any(a is None for a in args) or len(args) % 2:
            return None
        it = iter(float(a) for a in args)
        pts = list(zip(it, it))
    return (
        b"L"
        + struct.pack("<i", len(pts))
        + b"".join(struct.pack("<dd", x, y) for x, y in pts)
    )


def _py_st_astext(b):
    import struct

    if b is None:
        return None
    bb = bytes(b)
    if bb[:1] == b"P":
        x, y = struct.unpack("<dd", bb[1:17])
        return f"POINT ({_geo_fmt(x)} {_geo_fmt(y)})"
    if bb[:1] == b"L":
        (n,) = struct.unpack("<i", bb[1:5])
        pts = [
            struct.unpack("<dd", bb[5 + 16 * i : 21 + 16 * i])
            for i in range(n)
        ]
        inner = ", ".join(f"{_geo_fmt(x)} {_geo_fmt(y)}" for x, y in pts)
        return f"LINESTRING ({inner})"
    return None


def _py_st_length(b):
    import math
    import struct

    if b is None:
        return None
    bb = bytes(b)
    if bb[:1] != b"L":
        return None
    (n,) = struct.unpack("<i", bb[1:5])
    pts = [
        struct.unpack("<dd", bb[5 + 16 * i : 21 + 16 * i])
        for i in range(n)
    ]
    return float(
        sum(
            math.hypot(x2 - x1, y2 - y1)
            for (x1, y1), (x2, y2) in zip(pts, pts[1:])
        )
    )


def _py_deserialize(s, fmt):
    """Hive deserialize(str, format) (ref: ql/.../udf/generic/
    GenericUDFDeserialize.java): 'gzip*' formats are base64-encoded
    gzip payloads; json formats pass through verbatim."""
    if s is None or fmt is None:
        return None
    if fmt.lower().startswith("gzip"):
        import base64
        import gzip

        return gzip.decompress(base64.b64decode(s)).decode("utf-8")
    return s


def _topk_ngrams(grams: list[tuple], k: int) -> list:
    from collections import Counter

    counts = Counter(grams)
    # frequency desc, then gram text asc — a deterministic total order
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [
        {"ngram": list(g), "estfrequency": float(c)} for g, c in top
    ]


def _py_ngrams(rows, n, k):
    """ngrams UDAF body over collect_list(sentences) (ref: ql/.../udf/
    generic/GenericUDAFnGrams.java). Cold-path compat: the heavy lift
    (sentence splitting) stays JVM-side in `sentences`; this counts
    qtest-scale gram frequencies exactly (Hive's estimate is exact
    whenever the heap holds all grams, which it does at these sizes)."""
    if rows is None or n is None or k is None:
        return None
    grams: list[tuple] = []
    for sents in rows:
        for s in sents or []:
            words = [w for w in (s or []) if w is not None]
            for i in range(len(words) - n + 1):
                grams.append(tuple(words[i : i + n]))
    return _topk_ngrams(grams, k)


def _py_context_ngrams(rows, context, k):
    """context_ngrams UDAF body (ref: GenericUDAFContextNGrams.java):
    nulls in the context are wildcard slots; output grams are the words
    at those slots for every window matching the non-null words."""
    if rows is None or context is None or k is None:
        return None
    n = len(context)
    holes = [i for i, c in enumerate(context) if c is None]
    grams: list[tuple] = []
    for sents in rows:
        for s in sents or []:
            words = list(s or [])
            for i in range(len(words) - n + 1):
                win = words[i : i + n]
                if any(w is None for w in win):
                    continue
                if all(
                    context[j] is None or win[j] == context[j]
                    for j in range(n)
                ):
                    grams.append(tuple(win[j] for j in holes))
    return _topk_ngrams(grams, k)


def register_all(spark: SparkSession) -> None:
    """Install the gap functions into this session's SQL namespace."""
    from pyspark.sql import types as T

    for stmt in _SQL_UDFS:
        spark.sql(stmt)

    # Variadic compat shims — Python UDFs accept *args through a wrapped
    # signature; registered row-at-a-time because they're cold-path only.
    spark.udf.register("field", _py_field, T.IntegerType())
    spark.udf.register("likeany", _py_likeany, T.BooleanType())
    spark.udf.register("likeall", _py_likeall, T.BooleanType())

    # ngrams/context_ngrams UDAF bodies: the dialect layer folds the
    # Hive aggregate call to __hive_ngrams(collect_list(...), n, k) —
    # one Python row per GROUP, never per data row
    gram_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("ngram", T.ArrayType(T.StringType())),
                T.StructField("estfrequency", T.DoubleType()),
            ]
        )
    )
    spark.udf.register("__hive_ngrams", _py_ngrams, gram_t)
    spark.udf.register("__hive_context_ngrams", _py_context_ngrams, gram_t)
    spark.udf.register("deserialize", _py_deserialize, T.StringType())
    spark.udf.register("ST_Point", _py_st_point, T.BinaryType())
    spark.udf.register("ST_LineString", _py_st_linestring, T.BinaryType())
    spark.udf.register("ST_AsText", _py_st_astext, T.StringType())
    spark.udf.register("ST_Length", _py_st_length, T.DoubleType())


# ---------------------------------------------------------------------------
# Column-builder helpers for gap functions whose signatures SQL UDFs can't
# express (field-name / file-path parameters resolve at plan-build time)
# ---------------------------------------------------------------------------


def sort_array_by(col, field: str, ascending: bool = True):
    """Hive sort_array_by(array<struct>, fieldName) (ref: ql/.../udf/
    generic/GenericUDFSortArrayByField.java): array_sort with a comparator
    on the named struct field, built JVM-side (no Python in the path)."""
    from pyspark.sql import functions as F

    sign = 1 if ascending else -1

    def cmp(a, b):
        return (
            F.when(a[field] < b[field], -1 * sign)
            .when(a[field] > b[field], 1 * sign)
            .otherwise(0)
        )

    return F.array_sort(col, cmp)


def in_file(col, path: str):
    """Hive in_file(str, filename) (ref: ql/.../udf/generic/
    GenericUDFInFile.java): membership against a line-per-value file.
    The file is read once at plan build and shipped as a literal set —
    the broadcast-hash-set shape, correct for the dimension-file sizes
    this function is meant for."""
    with open(path) as f:
        values = [line.rstrip("\n") for line in f]
    return col.isin(*values) if values else col.isNull() & col.isNotNull()


def surrogate_key():
    """Hive surrogate_key() (ref: ql/.../udf/generic/
    GenericUDFSurrogateKey.java): unique 64-bit id per written row.
    monotonically_increasing_id gives (partition_id << 33 | row_in_
    partition) — unique across the job, not consecutive (same contract
    as Hive's writeId/taskId/rowId packing)."""
    from pyspark.sql import functions as F

    return F.monotonically_increasing_id()
