"""Decode-stage unit tests — the analog of the reference's transformation
unit semantics (TryIntoInteger AboveMax, bq/integer.rs:83-152; cap_bignumeric,
common.rs:148-160; field-attributed errors, transformation/err.rs:1-31)."""

import hashlib
import json

import pyspark.sql.functions as F

from sonic_etl_spark.functions.codec import (
    BIGNUMERIC_CAP,
    _uint256_hex_to_decimal_dual,
    decode_change_events,
    hex_to_long_checked,
)

I64_MAX = (1 << 63) - 1


def test_hex_to_long_checked(spark):
    rows = [
        ("0x0", 0),
        ("0x4190ab00", 0x4190AB00),
        ("0x7fffffffffffffff", I64_MAX),  # exactly i64::MAX → ok
        ("0x8000000000000000", None),  # i64::MAX + 1 → AboveMax → NULL
        ("0xffffffffffffffff1", None),  # 17 digits → overflow
        (None, None),
    ]
    df = spark.createDataFrame([(h,) for h, _ in rows], "h string")
    got = df.select(hex_to_long_checked(F.col("h")).alias("v")).collect()
    assert [r["v"] for r in got] == [exp for _, exp in rows]


def test_hex_quantities_need_0x_prefix(spark):
    """A quantity is `0x` + hex digits (either case) and nothing else: no
    bare digits, no JSON number, no underscore or surrounding whitespace
    (all of which Python's int(h, 16) and Spark's conv take)."""
    bad = ["597", "1f", "0x", "0x_1", " 0x1f ", "0x1f\n", "0x1g", "-0x1"]
    df = spark.createDataFrame([(h,) for h in bad + ["0X1F", "0x1f"]], "h string")
    got = df.select(
        hex_to_long_checked(F.col("h")).alias("v"),
        _uint256_hex_to_decimal_dual(F.col("h")).alias("d"),
    ).collect()
    assert [r["v"] for r in got] == [None] * len(bad) + [31, 31]
    assert [r["d"]["value_lossless"] for r in got] == [None] * len(bad) + ["31", "31"]

    import base64

    def payload(**over):
        fields = {"content_b64": base64.b64encode(b"x").decode(),
                  "size": "0x1", "value": "0x1", "mode": "0x1"}
        return json.dumps({**fields, **over})

    cases = [
        (payload(mode=493), "mode: bad hex"),
        (payload(mode="1ed"), "mode: bad hex"),
        (payload(size="1"), "size: bad hex"),
        (payload(size=" 0x1 "), "size: bad hex"),
        (payload(value=255), "value: bad hex"),
        (payload(value="597"), "value: bad hex"),
        (payload(value="0x_1"), "value: bad hex"),
        (payload(value="0x" + "f" * 17), None),
        (payload(mode="0X1ED"), None),
    ]
    events = _event(spark, cases[0][0])
    for i, (raw, _want) in enumerate(cases[1:], start=1):
        events = events.union(_event(spark, raw).withColumn("event_id", F.lit(i).cast("long")))
    rows = decode_change_events(events).orderBy("event_id").collect()
    assert [(c[0], r["decode_error"]) for c, r in zip(cases, rows)] == cases


def _raw_row(content: str, size: int | None = None, value: str = "0x1", mode: str = "0x1ed"):
    import base64

    b64 = base64.b64encode(content.encode()).decode()
    n = len(content.encode()) if size is None else size
    return json.dumps({"content_b64": b64, "size": hex(n), "value": value, "mode": mode})


def _event(spark, content_raw: str):
    return spark.createDataFrame(
        [
            (
                0,
                0,
                0,
                "r",
                "p",
                "c" * 40,
                "py",
                content_raw,
                "upsert",
            )
        ],
        "event_id long, partition_id int, offset long, repo string, path string,"
        " commit string, lang string, content_raw string, op string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000)))


def test_decode_roundtrip_and_sha256(spark):
    content = "def f():\n    return 42  # unicode: λ"
    typed = decode_change_events(_event(spark, _raw_row(content, value="0xff"))).first()
    assert typed["content"] == content
    assert typed["content_sha256"] == hashlib.sha256(content.encode()).hexdigest()
    assert typed["size_bytes"] == len(content.encode())
    assert typed["value"] == "255" and typed["value_lossless"] == "255"
    assert typed["mode"] == 0o755
    assert typed["decode_error"] is None


def test_uint256_cap_and_lossless_dual(spark):
    # 2^256 - 1 = 78 decimal digits — far above the 38-nines cap
    big = "0x" + "f" * 64
    typed = decode_change_events(_event(spark, _raw_row("x", value=big))).first()
    assert typed["value"] == BIGNUMERIC_CAP
    assert typed["value_lossless"] == str((1 << 256) - 1)
    # boundary: exactly the cap passes through uncapped
    atcap = hex(int(BIGNUMERIC_CAP))
    typed2 = decode_change_events(_event(spark, _raw_row("x", value=atcap))).first()
    assert typed2["value"] == BIGNUMERIC_CAP == typed2["value_lossless"]


def test_field_attributed_errors(spark):
    bad_json = decode_change_events(_event(spark, "{not json")).first()
    assert bad_json["decode_error"] == "payload: malformed json"

    import base64

    overflow_payload = json.dumps(
        {
            "content_b64": base64.b64encode(b"x").decode(),
            "size": "0x8000000000000000",  # i64::MAX + 1
            "value": "0x1",
            "mode": "0x1",
        }
    )
    size_overflow = decode_change_events(_event(spark, overflow_payload)).first()
    assert size_overflow["decode_error"] == "size: AboveMax"

    mismatch = decode_change_events(_event(spark, _raw_row("abc", size=999))).first()
    assert mismatch["decode_error"] == "size: mismatch vs content"


def test_fail_the_batch(spark):
    """The observed check counts rows during the action that consumes the
    batch and raises fail-the-batch on any decode error, or when the batch
    holds fewer rows than its manifest claims offsets."""
    from sonic_etl_spark.operators.merge import observe_decode_errors
    import pytest

    ok, check = observe_decode_errors(
        decode_change_events(_event(spark, _raw_row("fine"))), [(0, 0, 0)]
    )
    ok.collect()
    assert check() == 1
    short, check = observe_decode_errors(
        decode_change_events(_event(spark, _raw_row("fine"))), [(0, 0, 1)]
    )
    short.collect()
    with pytest.raises(ValueError, match=r"batch held 1 rows but its manifest claims 2"):
        check()
    bad, check = observe_decode_errors(
        decode_change_events(_event(spark, "{not json")), [(0, 0, 0)]
    )
    bad.collect()
    with pytest.raises(ValueError, match=r"decode failed for 1/1 rows.*malformed json"):
        check()


def test_numeric_checked_range_and_validity(spark):
    from sonic_etl_spark.functions.codec import numeric_checked

    cases = [
        ("9" * 28, int("9" * 28)),        # exactly MAX_NUMERIC (28 nines) → ok
        ("1" + "0" * 28, None),            # smallest 29-digit value → TooBig → NULL
        ("9" * 29, None),                  # 29 digits → TooBig → NULL
        ("-" + "9" * 28, -int("9" * 28)),  # min bound ok
        ("000" + "1" * 28, int("1" * 28)),  # leading zeros don't overflow
        ("12a4", None),                    # not a decimal string
        ("", None),
        (None, None),
    ]
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = [r["v"] for r in df.select(numeric_checked(F.col("s")).alias("v")).collect()]
    assert [None if g is None else int(g) for g in got] == [e for _, e in cases]


# Payloads that stress the JSON parse: malformed, wrong top-level type,
# wrong field types, duplicate/extra/missing keys — plus the classic bad
# cases (`{not json`, bad base64, bad hex) and a few clean rows.
_ADVERSARIAL_PAYLOADS = [
    '{"content_b64": "eA==", "size": "0x1", "val',  # truncated
    "{}",
    "null",
    "[]",
    "",
    None,
    '{"content_b64": "eA==", "size": 1, "value": 2.5, "mode": 493}',
    '{"content_b64": {"a": 1}, "size": [1, 2], "value": "0x1", "mode": "0x1"}',
    '{"content_b64": "eA==", "size": "0x1", "value": true, "mode": null}',
    '{"content_b64": "eA==", "size": "0x1", "size": "0x2", "value": "0x1", "mode": "0x1"}',
    '{"content_b64": "eA==", "size": "0x1", "value": "0x1", "mode": "0x1",'
    ' "extra": "x", "nested": {"size": "0x9"}}',
    '{"content_b64": "eA==", "size": "0x1", "value": "0x1"}',  # no mode
    '[{"content_b64": "eA==", "size": "0x1", "value": "0x1", "mode": "0x1"}]',
    '{"content_b64": "eA\\u003d\\u003d", "size": "0x1", "value": "0x1", "mode": "0x1"}',
    "{not json",
    # unbase64 skips non-alphabet characters: decodes to b"", caught by size
    '{"content_b64": "%%%", "size": "0x1", "value": "0x1", "mode": "0x1"}',
    '{"size": "0x1", "value": "0x1", "mode": "0x1"}',  # no content_b64
    '{"content_b64": "eA==", "size": "0x1", "value": "0xzz", "mode": "0x1"}',
    _raw_row("fine", value="0x" + "f" * 64),
    _raw_row("also fine"),
]


def _payload_log(spark, tmp_path):
    """The payloads above as a parquet-backed raw log, scanned as replay
    scans its log."""
    df = spark.createDataFrame(
        [
            (i, 0, i, "r", f"p{i}", "c" * 40, "py", payload, "upsert")
            for i, payload in enumerate(_ADVERSARIAL_PAYLOADS)
        ],
        "event_id long, partition_id int, offset long, repo string, path string,"
        " commit string, lang string, content_raw string, op string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000)))
    path = str(tmp_path / "raw")
    df.write.parquet(path)
    return spark.read.parquet(path)


def _from_json_calls(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("from_json(")


def test_content_raw_parsed_once_in_every_plan(spark, tmp_path):
    """Each plan over the decode parses content_raw once: the plain decode,
    the fan-out's clean split (its decode_error filter must not be inlined
    below the Arrow stage) and the quarantine projection."""
    from sonic_etl_spark.streaming.fanout import project_quarantine

    typed = decode_change_events(_payload_log(spark, tmp_path))
    assert _from_json_calls(typed) == 1
    assert _from_json_calls(typed.filter(F.col("decode_error").isNull())) == 1
    assert _from_json_calls(project_quarantine(typed)) == 1


def test_single_parse_matches_per_field_parses(spark, tmp_path):
    """The single struct parse decodes every adversarial payload exactly as
    four separate single-field from_json extractions do (the plan Spark
    builds when the fields are taken from one from_json in one
    projection), row for row, decode_error included."""
    from pyspark.sql.types import StringType, StructField, StructType

    from sonic_etl_spark.functions.codec import _decode_fields

    raw = _payload_log(spark, tmp_path)
    passthrough = [c for c in raw.columns if c != "content_raw"]
    fields = {"content_b64": "_b64", "size": "_size_hex", "value": "_value_hex",
              "mode": "_mode_hex"}
    per_field = raw.select(
        *passthrough,
        *(
            F.from_json("content_raw", StructType([StructField(f, StringType())]))[f]
            .alias(alias)
            for f, alias in fields.items()
        ),
    )
    reference = _decode_fields(per_field, passthrough)
    assert _from_json_calls(reference) == 4

    got = decode_change_events(raw).orderBy("event_id").collect()
    want = reference.orderBy("event_id").collect()
    assert got == want
    errors = {r["decode_error"] for r in got}
    assert {None, "payload: malformed json", "content_b64: bad base64",
            "value: bad hex", "size: mismatch vs content"} <= errors
    by_id = {r["event_id"]: r for r in got}
    assert by_id[_ADVERSARIAL_PAYLOADS.index("{not json")]["decode_error"] == (
        "payload: malformed json"
    )
