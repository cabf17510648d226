"""Debezium change-event envelope parsing — distributed, vectorized.

The reference parses envelopes on the DRIVER, one row at a time
(`DebeziumDeltaFormatter.scala:14-26,34-43`: ``toLocalIterator`` +
``JSON.parseFull`` + one ``parallelize`` per event). That serializes
every micro-batch through one process and defeats codegen.

Here the same semantics are a single Catalyst projection: ``from_json``
against a typed envelope ``StructType`` runs executor-side inside
whole-stage codegen, so a 100 TB backfill parses in parallel across
every core of the cluster.

Envelope shape (Debezium 1.x, schemas enabled —
`ContainerTestWrapper.scala:21-22`):

    key   = {"schema": …, "payload": {<key cols>}}
    value = {"schema": …, "payload": {"before": <row|null>,
             "after": <row|null>, "source": {…}, "op": "c|u|d|r",
             "ts_ms": <epoch millis>}}
    value IS NULL           -- tombstone after a delete; dropped
                            -- (reference: DebeziumDeltaFormatter.scala:18)

The reference hardcodes one table's schema
(`DebeziumDeltaFormatter.scala:59-65`, acknowledged as a TODO in its
README:51); ``TableSpec`` is the dynamic registry it never built.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Debezium operation codes: create / update / delete / snapshot-read.
OPS = ("c", "u", "d", "r")

# ---------------------------------------------------------------------------
# Debezium / Kafka Connect LOGICAL TYPES (decimal.handling.mode=precise,
# time.precision.mode=adaptive — the 1.x defaults the reference runs with,
# `ContainerTestWrapper.scala:21-22`). A MySQL `DECIMAL(10,2)` column does
# NOT arrive as a JSON number: Connect serializes its unscaled BigInteger
# as base64 big-endian two's-complement bytes
# (org.apache.kafka.connect.data.Decimal); DATE arrives as an int32 of
# days since epoch (io.debezium.time.Date); TIMESTAMP as epoch
# milli/microseconds (io.debezium.time.Timestamp / MicroTimestamp);
# TIMESTAMPTZ as an ISO-8601 string (io.debezium.time.ZonedTimestamp).
# The reference never decodes any of these — its demo tables are
# int/varchar only (`StreamingIT.scala:108`) — but they are the first
# thing a real `orders(price DECIMAL, order_date DATE)` table hits.
#
# Decoding is 100% Catalyst expressions (whole-stage codegen, no UDFs):
# the envelope is parsed with a WIRE schema (string/int/long in place of
# the logical column), then each annotated column is rewritten to its
# logical Spark type in the same projection.
# ---------------------------------------------------------------------------

#: Supported logical annotations (TableSpec.logical values). Debezium
#: schema-class names are accepted as aliases.
_LOGICAL_ALIASES = {
    "io.debezium.time.date": "date",
    "io.debezium.time.timestamp": "timestamp-millis",
    "io.debezium.time.microtimestamp": "timestamp-micros",
    "io.debezium.time.zonedtimestamp": "zoned-timestamp",
    "io.debezium.time.microtime": "time-micros",
    "org.apache.kafka.connect.data.date": "date",
    "org.apache.kafka.connect.data.timestamp": "timestamp-millis",
    # bare Connect Decimal class: precision/scale resolved from the
    # TableSpec's declared DecimalType field (the Connect schema carries
    # scale as a parameter, not in the class name)
    "org.apache.kafka.connect.data.decimal": "decimal",
    "io.debezium.data.variablescaledecimal": "variable-scale-decimal",
}

_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")

#: Max Connect-Decimal payload width accepted by the decoder below:
#: 21 bytes (42 hex chars, three 56-bit limbs). Every valid DECIMAL(38)
#: value minimally encodes in ≤ 16 bytes; the headroom absorbs
#: sign-extended padding. Wider payloads — necessarily corrupt —
#: decode to NULL rather than silently truncating.
_MAX_DECIMAL_BYTES = 21


def normalize_logical(logical: str) -> str:
    """Canonicalize a logical-type annotation (Debezium class names are
    accepted: ``io.debezium.time.MicroTimestamp`` → ``timestamp-micros``)."""
    low = logical.strip().lower()
    low = _LOGICAL_ALIASES.get(low, low)
    m = _DECIMAL_RE.match(low)
    if m:
        return f"decimal({int(m.group(1))},{int(m.group(2))})"
    if low in ("date", "timestamp-millis", "timestamp-micros",
               "zoned-timestamp", "time-micros", "decimal",
               "variable-scale-decimal"):
        return low
    raise ValueError(f"unknown logical type annotation: {logical!r}")


def wire_type(logical: str) -> T.DataType:
    """The JSON wire type a logical column arrives as."""
    logical = normalize_logical(logical)
    if logical == "variable-scale-decimal":
        return T.StructType(  # {scale, base64 unscaled bytes}
            [
                T.StructField("scale", T.IntegerType()),
                T.StructField("value", T.StringType()),
            ]
        )
    if (
        _DECIMAL_RE.match(logical)
        or logical == "decimal"
        or logical == "zoned-timestamp"
    ):
        return T.StringType()  # base64 bytes / ISO-8601 string
    if logical == "date":
        return T.IntegerType()  # epoch days
    return T.LongType()  # epoch millis / micros, micros-of-day


def logical_type(logical: str) -> T.DataType:
    """The Spark type a logical column decodes to."""
    logical = normalize_logical(logical)
    m = _DECIMAL_RE.match(logical)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if logical == "date":
        return T.DateType()
    if logical == "time-micros":
        return T.LongType()  # Spark has no TIME type; micros since midnight
    if logical == "variable-scale-decimal":
        return T.StringType()  # exact decimal string (per-row scale)
    return T.TimestampType()


def _connect_unscaled(col: Column) -> Column:
    """Base64 big-endian two's-complement bytes → the exact signed
    unscaled value as ``decimal(38,0)`` (NULL for empty/oversized/
    >38-digit payloads) — the shared core of :func:`connect_decimal`
    and :func:`connect_variable_decimal`.

    Plan: ``unbase64`` → ``hex`` (2 chars/byte) → SIGN-MAGNITUDE: the
    magnitude of a negative two's-complement value is bitwise-NOT + 1,
    and bitwise NOT of hex text is a 16-char ``translate`` — so the
    limb math always runs on a NON-NEGATIVE magnitude, which for every
    valid DECIMAL(38) value fits decimal(38,0) with no 2^nbits
    correction term. Three 56-bit limbs via ``conv(_, 16, 10)``
    (Spark's conv is 64-bit and ANSI-strict, so limbs stay ≤ 14 hex
    chars) recombine with ``try_add``/``try_multiply`` decimal
    arithmetic: any minimal or zero/sign-padded encoding up to 21
    bytes decodes EXACTLY across the full DECIMAL(38) range, and a
    corrupt payload whose magnitude exceeds 38 digits overflows the
    try-arithmetic into NULL instead of wrapping or failing the job.
    """
    b = F.unbase64(col.cast("string"))
    hx = F.hex(b)  # uppercase, exactly 2 chars per byte
    n_bytes = F.length(b)
    dec38 = "decimal(38,0)"
    neg = F.conv(F.substring(hx, 1, 1), 16, 10).cast("int") >= F.lit(8)
    # |x| − 1 for negatives is hexwise NOT (sign-extended FF padding
    # NOTs to harmless 00 padding); positives use the hex as-is
    mag_hex = F.when(
        neg, F.translate(hx, "0123456789ABCDEF", "FEDCBA9876543210")
    ).otherwise(hx)
    hp = F.lpad(mag_hex, 42, "0")
    h2 = F.conv(F.substring(hp, 1, 14), 16, 10).cast(dec38)
    h1 = F.conv(F.substring(hp, 15, 14), 16, 10).cast(dec38)
    h0 = F.conv(F.substring(hp, 29, 14), 16, 10).cast(dec38)
    p56 = F.lit(72057594037927936).cast(dec38)  # 2^56
    mag = F.try_add(
        F.try_multiply(F.try_add(F.try_multiply(h2, p56), h1), p56), h0
    )
    # negate via 0 − x: Spark's decimal unary minus rounds through a
    # 34-digit MathContext and errors on 38-digit magnitudes
    signed = F.when(
        neg,
        F.try_subtract(
            F.lit(0).cast(dec38), F.try_add(mag, F.lit(1).cast(dec38))
        ),
    ).otherwise(mag)
    return F.when(
        (n_bytes > F.lit(0)) & (n_bytes <= F.lit(_MAX_DECIMAL_BYTES)), signed
    )


def connect_decimal(col: Column, precision: int, scale: int) -> Column:
    """Decode a Kafka Connect ``Decimal`` wire value (base64 big-endian
    two's-complement unscaled bytes) to ``DecimalType(precision, scale)``
    — pure Catalyst, no UDF, so a 100 TB backfill decodes inside
    whole-stage codegen. Core decode: :func:`_connect_unscaled`.
    """
    from decimal import Decimal as _D

    signed = _connect_unscaled(col)
    # exact rescale via multiplication by the 10^-scale decimal literal
    # (division's fixed (38,6)-ish result type can't hold wide integer
    # digit counts; multiplication keeps scale = `scale` exactly);
    # try_* throughout so corrupt out-of-range payloads land NULL
    return F.try_multiply(
        signed, F.lit(_D(1).scaleb(-scale)).cast(f"decimal({scale + 1},{scale})")
    ).try_cast(T.DecimalType(precision, scale))


def connect_variable_decimal(col: Column) -> Column:
    """Decode ``io.debezium.data.VariableScaleDecimal`` (PostgreSQL
    NUMERIC with no declared precision): wire value is a STRUCT
    ``{scale: int32, value: base64 bytes}`` whose scale varies PER ROW,
    so no fixed ``DecimalType`` exists. Emitted as the EXACT decimal
    string (sign, integer digits, point, fraction digits — trailing
    zeros preserved as written by the source): string assembly keeps
    all 38 digits where a double would round, and stays pure Catalyst.
    """
    unscaled = _connect_unscaled(col["value"])
    sc = F.coalesce(col["scale"], F.lit(0))
    sign = F.when(unscaled < 0, F.lit("-")).otherwise(F.lit(""))
    # magnitude digits by STRIPPING the sign character, never abs():
    # Spark's decimal abs/negate round through a 34-digit MathContext,
    # silently corrupting 35-38 digit magnitudes (same trap the
    # two's-complement kernel dodges with 0 - x try-arithmetic)
    ustr = unscaled.cast("string")
    digits = F.when(
        unscaled < 0, ustr.substr(F.lit(2), F.length(ustr))
    ).otherwise(ustr)
    s = F.greatest(sc, F.lit(0))
    # pad so there is at least one integer digit left of the point
    padded = F.lpad(digits, F.greatest(F.length(digits), s + 1), "0")
    int_part = F.substring(padded, F.lit(1), F.length(padded) - s)
    frac = F.substring(padded, F.length(padded) - s + 1, s)
    with_point = F.when(
        s > 0, F.concat(sign, int_part, F.lit("."), frac)
    ).otherwise(
        # negative scale = trailing zeros (unscaled × 10^-scale)
        F.concat(sign, digits, F.repeat(F.lit("0"), -F.least(sc, F.lit(0))))
    )
    return F.when(unscaled.isNotNull() & col.isNotNull(), with_point)


def encode_connect_decimal(unscaled: Column) -> Column:
    """Inverse of :func:`connect_decimal` for test/fixture generation:
    a LONG unscaled value → base64 of its 8-byte big-endian
    two's-complement (Connect accepts non-minimal sign-extended
    encodings; Java's ``BigInteger.toByteArray`` merely emits the
    minimal form). Catalyst-only: hex(long) is already the 16-char
    two's-complement image."""
    return F.base64(F.unhex(F.lpad(F.hex(unscaled.cast("long")), 16, "0")))


def decode_logical(col: Column, logical: str) -> Column:
    """Wire value → logical Spark value, as a Catalyst expression."""
    logical = normalize_logical(logical)
    m = _DECIMAL_RE.match(logical)
    if m:
        return connect_decimal(col, int(m.group(1)), int(m.group(2)))
    if logical == "date":
        return F.date_add(F.lit("1970-01-01").cast("date"), col)
    if logical == "timestamp-millis":
        return F.timestamp_millis(col)
    if logical == "timestamp-micros":
        return F.timestamp_micros(col)
    if logical == "zoned-timestamp":
        # ISO-8601 with offset ('2024-03-01T12:00:00.123456Z' or
        # '+02:00'); to_timestamp normalizes into the session zone
        return F.to_timestamp(col)
    if logical == "variable-scale-decimal":
        return connect_variable_decimal(col)
    # time-micros passes through (no Spark TIME type)
    return col


@dataclass(frozen=True)
class TableSpec:
    """Registry entry driving envelope parsing + merge dynamically.

    The generalization the reference lists as future work (README.md:51
    "Create a model to use DebeziumDeltaFormatter and
    StreamingJobExecutor.upsertToDelta dynamically").
    """

    name: str
    key_cols: tuple[str, ...]
    value_schema: T.StructType
    #: Kafka topic carrying this table's change events.
    topic: str = ""
    #: Columns whose change should be ignored when merging (audit cols).
    exclude_cols: tuple[str, ...] = field(default=())
    #: Logical-type annotations: ((col, annotation), ...) where the
    #: annotation is e.g. "decimal(10,2)", "date", "timestamp-micros"
    #: or a Debezium schema-class name ("io.debezium.time.Date").
    #: Annotated columns are parsed with their WIRE type (base64
    #: string / epoch int) and decoded to the logical Spark type —
    #: see the logical-types block above.
    logical: tuple[tuple[str, str], ...] = field(default=())

    @property
    def data_cols(self) -> tuple[str, ...]:
        return tuple(f.name for f in self.value_schema.fields)

    @property
    def logical_map(self) -> dict[str, str]:
        by_name = {f.name: f.dataType for f in self.value_schema.fields}
        out: dict[str, str] = {}
        for c, ann in self.logical:
            if c not in by_name:
                raise ValueError(
                    f"logical annotation for unknown column {c!r} "
                    f"(value_schema has {sorted(by_name)}) — a typo here "
                    "would otherwise silently skip decoding"
                )
            n = normalize_logical(ann)
            if n == "decimal":
                # bare Connect Decimal class → precision/scale from the
                # declared DecimalType field
                dtype = by_name.get(c)
                if not isinstance(dtype, T.DecimalType):
                    raise ValueError(
                        f"column {c!r} annotated as Connect Decimal but "
                        f"declared {dtype} in value_schema — declare it "
                        "DecimalType(p, s) or annotate 'decimal(p,s)'"
                    )
                n = f"decimal({dtype.precision},{dtype.scale})"
            out[c] = n
        return out

    @property
    def wire_schema(self) -> T.StructType:
        """``value_schema`` with annotated columns replaced by their
        JSON wire types — the schema ``from_json`` must parse with."""
        lm = self.logical_map
        return T.StructType(
            [
                T.StructField(f.name, wire_type(lm[f.name]))
                if f.name in lm
                else f
                for f in self.value_schema.fields
            ]
        )

    def decode_col(self, wire_col: Column, name: str) -> Column:
        lm = self.logical_map
        if name in lm:
            return decode_logical(wire_col, lm[name])
        return wire_col


def envelope_value_schema(row_schema: T.StructType) -> T.StructType:
    """Typed StructType for the Debezium value envelope of ``row_schema``."""
    source_schema = T.StructType(
        [
            T.StructField("version", T.StringType()),
            T.StructField("connector", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("snapshot", T.StringType()),
            T.StructField("db", T.StringType()),
            T.StructField("table", T.StringType()),
        ]
    )
    payload = T.StructType(
        [
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
            T.StructField("source", source_schema),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    return T.StructType([T.StructField("payload", payload)])


def envelope_key_schema(key_schema: T.StructType) -> T.StructType:
    return T.StructType([T.StructField("payload", key_schema)])


def _key_schema_of(spec: TableSpec) -> T.StructType:
    # key envelope carries the same WIRE encodings as the value payload
    fields = [f for f in spec.wire_schema.fields if f.name in spec.key_cols]
    return T.StructType([T.StructField(f.name, f.dataType) for f in fields])


def dead_letters(raw: DataFrame, spec: TableSpec) -> DataFrame:
    """Malformed change events: value present but the envelope failed to
    parse (no payload.op). These rows are silently DROPPED by the merge
    path; route this DataFrame to a quarantine sink so a poison message
    never stalls the stream (the at-scale alternative to failing the
    job on one bad record)."""
    val_schema = envelope_value_schema(spec.wire_schema)
    parsed = raw.filter(F.col("value").isNotNull()).withColumn(
        "_v", F.from_json(F.col("value").cast("string"), val_schema)
    )
    return parsed.filter(
        F.col("_v").isNull() | F.col("_v.payload.op").isNull()
    ).drop("_v")


def parse_envelope(
    raw: DataFrame,
    spec: TableSpec,
    seq_cols: tuple[str, ...] = (),
    include_before: bool = False,
    pushdown_barrier: bool = False,
) -> DataFrame:
    """Parse raw Kafka records into typed change rows.

    Output columns: ``<key cols>`` (from the key envelope, falling back
    to after/before images), ``<data cols>`` (after-image; null for
    deletes), ``op``, ``ts_ms``, ``deleted`` (op = 'd' — the flag the
    reference synthesizes at DebeziumDeltaFormatter.scala:42), plus any
    ``seq_cols`` passed through for in-batch ordering (Kafka
    ``partition``/``offset``). With ``include_before=True`` the
    before-image data columns are emitted as ``before_<col>`` — needed
    by delta-based consumers (incremental aggregate maintenance).

    Tombstones (value IS NULL) are dropped, matching
    DebeziumDeltaFormatter.scala:17-18.

    Columns annotated in ``spec.logical`` are parsed with their wire
    type and decoded here (Connect Decimal bytes → DecimalType, epoch
    days → DateType, epoch µs/ms → TimestampType) — still one Catalyst
    projection, no UDFs.

    ``pushdown_barrier=True`` pins the ``from_json`` projection with a
    non-deterministic (dropped) column so Catalyst's predicate pushdown
    cannot substitute the parse expression into the trailing
    ``op IS NOT NULL`` filter. For real sources (Kafka, files) the
    envelope columns are stored attributes and pushdown is free and
    desirable — leave this off. For SYNTHESIZED envelopes (the
    ``value`` column is itself a ``to_json`` expression, as in the
    logical-type fixture queries) pushdown duplicates the whole
    encode+parse chain into the filter, tripling per-row work; the
    barrier keeps the chain evaluated exactly once.
    """
    val_schema = envelope_value_schema(spec.wire_schema)
    key_schema = envelope_key_schema(_key_schema_of(spec))

    df = raw.filter(F.col("value").isNotNull())
    if pushdown_barrier:
        # Taint the parse input with a non-deterministic identity (an
        # always-empty string gated on rand), making the _v/_k aliases
        # non-substitutable: Spark 4 pushes a filter through a Project
        # whenever the SUBSTITUTED condition is deterministic, so a
        # plain non-deterministic sibling column does not protect an
        # expensive deterministic alias from being duplicated into the
        # trailing filters. The taint never changes the parsed bytes.
        nd_empty = F.when(F.spark_partition_id() >= 0, F.lit("")).otherwise(F.lit(None))
        df = df.select(
            "*",
            F.from_json(
                F.concat(F.col("value").cast("string"), nd_empty), val_schema
            ).alias("_v"),
            F.from_json(
                F.concat(F.col("key").cast("string"), nd_empty), key_schema
            ).alias("_k"),
        )
    else:
        df = df.withColumn(
            "_v", F.from_json(F.col("value").cast("string"), val_schema)
        )
        df = df.withColumn(
            "_k", F.from_json(F.col("key").cast("string"), key_schema)
        )

    def key_expr(k: str) -> Column:
        # Key envelope wins; fall back to after (upserts) then before
        # (deletes), so keyless producers still resolve the merge key.
        # All three sources are wire-typed, so decode AFTER coalescing.
        return spec.decode_col(
            F.coalesce(
                F.col(f"_k.payload.{k}"),
                F.col(f"_v.payload.after.{k}"),
                F.col(f"_v.payload.before.{k}"),
            ),
            k,
        ).alias(k)

    cols: list[Column] = [key_expr(k) for k in spec.key_cols]
    cols += [
        spec.decode_col(F.col(f"_v.payload.after.{c}"), c).alias(c)
        for c in spec.data_cols
        if c not in spec.key_cols
    ]
    if include_before:
        cols += [
            spec.decode_col(F.col(f"_v.payload.before.{c}"), c).alias(f"before_{c}")
            for c in spec.data_cols
            if c not in spec.key_cols
        ]
    cols += [
        F.col("_v.payload.op").alias("op"),
        F.col("_v.payload.ts_ms").alias("ts_ms"),
        F.timestamp_millis(F.col("_v.payload.ts_ms")).alias("ts"),
        (F.col("_v.payload.op") == F.lit("d")).alias("deleted"),
    ]
    cols += [F.col(c) for c in seq_cols]
    # Drop rows the envelope parser couldn't type (op missing): they are
    # surfaced separately by :func:`dead_letters`, never merged.
    return df.select(*cols).filter(F.col("op").isNotNull())
