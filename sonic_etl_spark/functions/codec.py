"""Vectorized raw→typed decode (the "T" of ETL).

Re-implements, Spark-first, the reference's transform semantics
(extractor_transformer/src/sonic_config/transformation/):

- hex-quantity parsing        (common.rs:132-146 ``extract_tarnsform_epoch``)
- checked i64 narrowing       (bq/integer.rs:83-152 ``TryIntoInteger`` —
                               values past i64::MAX are *errors*, not wraps)
- capped + lossless duals     (common.rs:148-160 ``cap_bignumeric`` saturates
                               uint256 at 38 nines; common.rs:211-213 stores
                               ``value`` capped AND ``value_lossless`` full)
- fail-the-batch errors       (transformation/err.rs:1-31 — a bad row fails
                               the whole offset, which is retried; here a bad
                               row sets ``decode_error`` and the apply stage
                               raises if any row in the batch errored)
- sha256 per-row invariant    (BASELINE.json input_hint: content sha256
                               equality vs goldens)

Everything stays JVM-side except uint256 decimal expansion, which genuinely
exceeds 64-bit built-ins and uses ONE Arrow-batched pandas UDF (never
row-at-a-time Python) — the input_hint's vectorized-only constraint.
"""

from __future__ import annotations

import re

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

RAW_PAYLOAD_SCHEMA = StructType(
    [
        StructField("content_b64", StringType()),
        StructField("size", StringType()),
        StructField("value", StringType()),
        StructField("mode", StringType()),
    ]
)

# 38 nines — BigQuery BIGNUMERIC practical cap used by the reference
# (common.rs:154-160). Values above are *capped*, not errored.
BIGNUMERIC_CAP = "9" * 38

# 28 nines — the NUMERIC range bound the reference *errors* on (not caps):
# MAX_NUMERIC = ±9999999999999999999999999999 (28 nines) in
# transformation/bq/numeric.rs:71/88, so every 29-digit value is TooBig.
NUMERIC_MAX_DIGITS = 28

# A hex quantity is `0x` + hex digits, either case, and nothing else: no bare
# digits (a JSON number reaches a string field as its digits), underscores or
# whitespace, all of which Spark's conv and Python's int(h, 16) accept.
# Java's `$` also matches before a final line terminator, hence `\z`.
_HEX_DIGITS = "0[xX][0-9a-fA-F]+"
_HEX_QUANTITY = "^" + _HEX_DIGITS + r"\z"

TYPED_COLUMNS = [
    "partition_id",
    "offset",
    "repo",
    "path",
    "commit",
    "lang",
    "content",
    "content_sha256",
    "size_bytes",
    "value",
    "value_lossless",
    "mode",
    "op",
    "ts",
    "decode_error",
]

_I64_MAX = (1 << 63) - 1


def hex_to_long_checked(col: Column) -> Column:
    """'0x…' hex quantity → long with overflow *detection* (not wrap).

    The reference's ``TryIntoInteger`` errors with ``AboveMax`` past i64::MAX
    (bq/integer.rs:83-152). Spark's ``conv`` wraps silently at 2^64, so the
    guard is explicit: >16 significant hex digits, or 16 with a high first
    nibble, is an overflow → NULL here; so is anything but a
    `_HEX_QUANTITY`. Leading zeros are not significant (``0x0…01`` is 1;
    all zeros is 0). Callers pair this with an error flag. Stays entirely
    in whole-stage codegen.
    """
    digits = col.substr(F.lit(3), F.length(col))  # after the `0x` the regex checks
    significant = F.ltrim(digits, F.lit("0"))
    overflow = (F.length(significant) > 16) | (
        (F.length(significant) == 16) & (F.substring(significant, 1, 1) > F.lit("7"))
    )
    return F.when(col.rlike(_HEX_QUANTITY) & ~overflow, F.conv(digits, 16, 10).cast("long"))


@pandas_udf(
    StructType(
        [
            StructField("value", StringType()),
            StructField("value_lossless", StringType()),
        ]
    )
)
def _uint256_hex_to_decimal_dual(hex_vals: pd.Series) -> pd.DataFrame:
    """uint256 hex → (capped decimal string, lossless decimal string).

    Arrow-batched; Python big-int only because no JVM built-in does >64-bit
    radix conversion. Mirrors common.rs:148-160 (cap) + :211-213 (dual).
    """
    cap = int(BIGNUMERIC_CAP)
    quantity = re.compile(_HEX_DIGITS).fullmatch

    def conv(h):
        if h is None or not quantity(h):
            return (None, None)
        v = int(h, 16)
        s = str(v)
        return (s if v <= cap else BIGNUMERIC_CAP, s)

    pairs = hex_vals.map(conv)
    return pd.DataFrame(
        {"value": pairs.str[0], "value_lossless": pairs.str[1]}
    )


# The conversion is deterministic; the flag is an optimizer barrier. Spark
# pushes a filter through a projection only when every expression in it is
# deterministic, so a ``decode_error`` predicate over the decoded frame (the
# fan-out's clean/quarantine split) stays above the Arrow stage. Without it,
# the predicate is inlined below that stage with every JSON parse and UDF
# call it depends on: one more ArrowEvalPython node and ~30 from_json calls
# per row in the split's plan.
_uint256_hex_to_decimal_dual = _uint256_hex_to_decimal_dual.asNondeterministic()


def numeric_checked(col: Column) -> Column:
    """Decimal-string → NUMERIC with the reference's 28-digit range CHECK.

    Unlike the BIGNUMERIC path (cap, common.rs:148-160), NUMERIC overflow is
    an *error* (TryIntoNumeric → TransformationErr, bq/numeric.rs:71-100:
    MAX_NUMERIC is 28 nines, so any 29-digit magnitude is TooBig):
    out-of-range values return NULL here and callers pair it with an error
    flag (fail-the-batch). Accepts optional sign; digits only.

    Whole-stage-codegen: a regexp validity test + length check + cast — no
    UDF.
    """
    s = F.trim(col)
    digits = F.regexp_replace(s, "^[+-]", "")
    valid = s.rlike(r"^[+-]?[0-9]+$")
    # strip leading zeros for the length check ('000…1' is in range)
    canonical = F.regexp_replace(digits, "^0+(?=[0-9])", "")
    in_range = F.length(canonical) <= NUMERIC_MAX_DIGITS
    return F.when(valid & in_range, s.cast("decimal(28,0)")).otherwise(
        F.lit(None).cast("decimal(28,0)")
    )


def decode_change_events(raw: DataFrame) -> DataFrame:
    """Decode raw change events into the typed ``source_code`` row shape.

    One scan, no shuffle: JSON parse, base64 unwrap, hex quantities, checked
    casts, sha256, capped/lossless dual — the full analog of one
    ``transform_*`` pass (common.rs:30-130). ``decode_error`` is non-null iff
    any field failed its check; apply() treats that as fail-the-batch.

    Performance shape: each expensive expression (from_json, the
    unbase64-decode chain) is evaluated once per row in every plan over the
    result. The JSON parse is bound as one struct column in a projection of
    its own, because ``OptimizeJsonExprs`` turns field reads of one
    ``from_json`` in a single projection into one parse per field (stage 1).
    The nondeterministic uint256 UDF keeps a ``decode_error`` filter over
    this frame (the fan-out split) above the Arrow stage instead of inlined
    below it with every parse it depends on. The earlier withColumn-chain
    formulation inlined the JSON parse into every downstream reference
    across the ArrowEvalPython stage boundary (~10× re-evaluation —
    measured 85s → 13s on 2M rows, local[32]).
    """
    passthrough = [c for c in raw.columns if c != "content_raw"]

    # stage 1: parse JSON once into a struct column, then expand its
    # fields in a separate projection. Taking the four fields of one
    # from_json in a single projection is NOT deduplicated: the optimizer
    # (OptimizeJsonExprs) turns each p[f] into its own single-field
    # from_json, i.e. four parses per row. Bound to `_p` and read four times
    # from the projection above, the parse is non-cheap and multiply
    # referenced, so CollapseProject keeps it in its own projection.
    st1 = raw.select(
        *passthrough,
        F.from_json(F.col("content_raw"), RAW_PAYLOAD_SCHEMA).alias("_p"),
    ).select(
        *passthrough,
        F.col("_p.content_b64").alias("_b64"),
        F.col("_p.size").alias("_size_hex"),
        F.col("_p.value").alias("_value_hex"),
        F.col("_p.mode").alias("_mode_hex"),
    )
    return _decode_fields(st1, passthrough)


def _decode_fields(st1: DataFrame, passthrough: list[str]) -> DataFrame:
    """Stages 2-4 of :func:`decode_change_events`: the ``passthrough``
    columns plus the payload's raw strings ``_b64``, ``_size_hex``,
    ``_value_hex`` and ``_mode_hex`` → the typed row with ``decode_error``."""
    # stage 2: vectorized uint256 dual. Fast path: values with ≤16 hex
    # digits fit unsigned 64-bit and convert JVM-side via conv() — the
    # Arrow/Python stage only receives the masked-long values (~25% of rows
    # under the synthesized distribution), plus anything malformed (the UDF
    # is also the validator for the slow path). No row-at-a-time Python
    # either way.
    fast = F.col("_value_hex").rlike(r"^0x[0-9a-f]{1,16}\z")
    st2 = st1.withColumn("_value_fast", fast).withColumn(
        "_vd",
        _uint256_hex_to_decimal_dual(
            F.when(fast, F.lit(None)).otherwise(F.col("_value_hex"))
        ),
    )

    # stage 3: all typed columns + field-attributed error
    # (transformation/err.rs:1-31) in one projection over cheap inputs.
    # sha256 runs over the raw unbase64 BYTES — identical digest to
    # sha256(utf-8 string) without a charset decode; n_bytes likewise comes
    # from the binary length.
    raw_bytes = F.unbase64(F.col("_b64"))
    size_bytes = hex_to_long_checked(F.col("_size_hex"))
    mode = hex_to_long_checked(F.col("_mode_hex"))
    # fast-path u64 decimal: exact for ≤16 hex digits (< 2^64 < 10^20,
    # never near the 38-nines cap, so value == value_lossless)
    fast_dec = F.conv(F.expr("substring(_value_hex, 3)"), 16, 10)
    st3 = st2.select(
        *passthrough,
        F.decode(raw_bytes, "utf-8").alias("content"),
        F.sha2(raw_bytes, 256).alias("content_sha256"),
        F.length(raw_bytes).cast("long").alias("_n_bytes"),
        size_bytes.alias("size_bytes"),
        mode.alias("mode"),
        F.when(F.col("_value_fast"), fast_dec)
        .otherwise(F.col("_vd.value"))
        .alias("value"),
        F.when(F.col("_value_fast"), fast_dec)
        .otherwise(F.col("_vd.value_lossless"))
        .alias("value_lossless"),
        F.col("_b64").alias("_b64"),
        F.col("_size_hex").alias("_size_hex"),
        F.col("_value_hex").alias("_value_hex"),
        F.col("_mode_hex").alias("_mode_hex"),
    )

    # stage 4: sha256 + error derivation; every expensive input is already a
    # plain column. Integrity check mirrors validate_transformation
    # (test.rs:174-221): declared size must equal decoded byte length. A
    # quantity that failed to parse is AboveMax if well-formed, else bad hex
    # (the regex runs only on failed rows).
    def quantity_error(field: str) -> Column:
        return F.when(
            F.col(f"_{field}_hex").rlike(_HEX_QUANTITY), F.lit(f"{field}: AboveMax")
        ).otherwise(F.lit(f"{field}: bad hex"))

    err = (
        F.when(
            F.col("_b64").isNull()
            & F.col("_size_hex").isNull()
            & F.col("_value_hex").isNull()
            & F.col("_mode_hex").isNull(),
            F.lit("payload: malformed json"),
        )
        .when(F.col("content").isNull(), F.lit("content_b64: bad base64"))
        .when(
            F.col("_size_hex").isNotNull() & F.col("size_bytes").isNull(),
            quantity_error("size"),
        )
        .when(
            F.col("_mode_hex").isNotNull() & F.col("mode").isNull(),
            quantity_error("mode"),
        )
        .when(
            F.col("_value_hex").isNotNull() & F.col("value").isNull(),
            F.lit("value: bad hex"),
        )
        .when(
            F.col("size_bytes") != F.col("_n_bytes"),
            F.lit("size: mismatch vs content"),
        )
        .otherwise(F.lit(None))
    )
    return st3.select(
        *passthrough,
        "content",
        "content_sha256",
        "size_bytes",
        "value",
        "value_lossless",
        "mode",
        err.alias("decode_error"),
    ).select("event_id", *TYPED_COLUMNS)
