"""Batch-mode routing engine tests — one per reference behavior
(SURVEY.md §5.2 item 3; reference behaviors R4-R13, R15, R17)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_handler_spark.routing import (
    ENVELOPE_SCHEMA,
    CompiledSchema,
    RoutingEngine,
)
from kinesis_handler_spark.routing.engine import (
    REASON_BAD_BASE64,
    REASON_BAD_JSON,
    REASON_DATA_INVALID,
    REASON_MISSING_DATA,
    REASON_NO_SCHEMA,
    REASON_WRONG_SCHEMA,
)
from tests import fixtures as fx


def identity_handler(df: DataFrame) -> DataFrame:
    return df


@pytest.fixture()
def engine() -> RoutingEngine:
    eng = RoutingEngine(fx.ENVELOPE_JSON_SCHEMA)
    eng.register(fx.PRODUCT_CREATE_SCHEMA, identity_handler)
    eng.register(fx.PRODUCT_PURCHASE_SCHEMA, identity_handler)
    return eng


def make_df(spark, rows):
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def test_happy_path_routes_by_schema(spark, engine):
    result = engine.process_batch(make_df(spark, fx.batch_ok()))
    m = result.metrics()
    assert m[f"routed.{fx.PRODUCT_CREATE_ID}"] == 3
    assert m[f"routed.{fx.PRODUCT_PURCHASE_ID}"] == 2
    assert m["unknown"] == 0
    assert m["dead_letter"] == 0
    # handlers see a typed `event` struct with the parsed payload
    events = result.routed[fx.PRODUCT_CREATE_ID].select("event.data.category").collect()
    assert sorted(r[0] for r in events) == ["Pants", "Shoes", "Sweaters"]


def test_unknown_schema_is_skipped_not_error(spark, engine):
    # R12 (kinesisHandler.js:120-122): unregistered data schema => side
    # output, counted as success, NOT dead-lettered.
    result = engine.process_batch(make_df(spark, fx.batch_unknown_schema()))
    m = result.metrics()
    assert m["unknown"] == 1
    assert m["dead_letter"] == 0
    assert result.unknown.collect()[0]["data_schema"] == fx.UNREGISTERED_ID


@pytest.mark.parametrize(
    ("rows_fn", "reason"),
    [
        (fx.batch_bad_base64, REASON_BAD_BASE64),
        (fx.batch_bad_json, REASON_BAD_JSON),
        (fx.batch_no_schema_field, REASON_NO_SCHEMA),
        (fx.batch_wrong_envelope_schema, REASON_WRONG_SCHEMA),
        (fx.batch_missing_kinesis_data, REASON_MISSING_DATA),
    ],
)
def test_bad_message_classes_dead_letter(spark, engine, rows_fn, reason):
    # R5/R6/R8/R13: each data-quality failure class lands in the
    # dead-letter channel with its precise reason, and nothing routes.
    result = engine.process_batch(make_df(spark, rows_fn()))
    dead = result.dead_letter.collect()
    assert [r["reason"] for r in dead] == [reason]
    assert result.metrics()["dead_letter"] == 1
    assert all(df.count() == 0 for df in result.routed.values())


def test_invalid_data_dead_letters_per_branch_schema(spark, engine):
    # R10: data failing ITS schema (missing required / enum / range).
    result = engine.process_batch(make_df(spark, fx.batch_invalid_data()))
    dead = result.dead_letter.collect()
    assert len(dead) == 3
    assert {r["reason"] for r in dead} == {REASON_DATA_INVALID}
    assert result.metrics()[f"routed.{fx.PRODUCT_CREATE_ID}"] == 0


def test_empty_batch_is_noop(spark, engine):
    # R15 note: the reference hangs on Records:[] (callback never fires,
    # kinesisHandler.js:156 unreachable); the engine is a clean no-op.
    result = engine.process_batch(make_df(spark, []))
    m = result.metrics()
    assert m["dead_letter"] == 0 and m["unknown"] == 0
    assert all(v == 0 for v in m.values())


def test_mixed_batch_splits_all_channels(spark, engine):
    rows = (
        fx.batch_ok()
        + fx.batch_unknown_schema()
        + fx.batch_bad_json()
        + fx.batch_invalid_data()
    )
    result = engine.process_batch(make_df(spark, rows))
    m = result.metrics()
    assert m[f"routed.{fx.PRODUCT_CREATE_ID}"] == 3
    assert m[f"routed.{fx.PRODUCT_PURCHASE_ID}"] == 2
    assert m["unknown"] == 1
    assert m["dead_letter"] == 4


def test_transformer_hook_runs_before_validation(spark):
    # R7 (kinesisHandler.js:62-64,176-178): transformer sees payload +
    # envelope columns; here it stamps the partitionKey into the payload
    # (a pure-column rewrite — no UDF).
    def transformer(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "payload",
            F.regexp_replace(
                "payload", '"origin": "fixtures/test"',
                F.concat(F.lit('"origin": "'), F.col("partitionKey"), F.lit('"')),
            ),
        )

    eng = RoutingEngine(fx.ENVELOPE_JSON_SCHEMA, transformer=transformer)
    eng.register(fx.PRODUCT_CREATE_SCHEMA, identity_handler)
    result = eng.process_batch(make_df(spark, fx.batch_ok()))
    origins = {
        r[0]
        for r in result.routed[fx.PRODUCT_CREATE_ID].select("event.origin").collect()
    }
    assert origins == {"pk-a", "pk-b"}


def test_handler_arity_checked_at_registration():
    # R3 (kinesisHandler.js:95-97): wrong-arity handler rejected up front.
    eng = RoutingEngine(fx.ENVELOPE_JSON_SCHEMA)
    with pytest.raises(TypeError):
        eng.register(fx.PRODUCT_CREATE_SCHEMA, lambda df, extra: df)
    with pytest.raises(TypeError):
        eng.register(fx.PRODUCT_CREATE_SCHEMA, "not-callable")


def test_constructor_validation():
    # R2 (kinesisHandler.js:68-74).
    with pytest.raises(TypeError):
        RoutingEngine("not-a-dict")
    with pytest.raises(TypeError):
        RoutingEngine(fx.ENVELOPE_JSON_SCHEMA, transformer="not-callable")


def test_binary_data_column_accepted(spark, engine):
    # Kinesis connectors deliver `data` as BinaryType; base64 text is the
    # file-fixture form. Both route identically.
    rows = [
        (pk, seq, __import__("base64").b64decode(data), ts, eid, src, arn, region)
        for (pk, seq, data, ts, eid, src, arn, region) in fx.batch_ok()
    ]
    schema = ENVELOPE_SCHEMA.simpleString().replace("data:string", "data:binary")
    df = spark.createDataFrame(rows, schema)
    m = engine.process_batch(df).metrics()
    assert m[f"routed.{fx.PRODUCT_CREATE_ID}"] == 3
    assert m["dead_letter"] == 0


def test_null_data_schema_lands_in_unknown(spark):
    # A record with a VALID envelope but no $.data.schema must land in
    # exactly one channel (the unknown side output), never vanish: a bare
    # `~isin(registered)` is NULL for NULL data_schema and would drop the
    # row from routed, unknown, AND dead-letter.  Uses a lax envelope
    # schema (data.schema not required) so the record survives envelope
    # validation with data_schema = NULL.
    lax_envelope = {
        "self": {"vendor": fx.VENDOR, "name": "retail-stream", "version": "1-0-0"},
        "type": "object",
        "required": ["schema", "data"],
        "properties": {
            "schema": {"type": "string"},
            "data": {"type": "object"},
        },
    }
    eng = RoutingEngine(lax_envelope)
    eng.register(fx.PRODUCT_CREATE_SCHEMA, identity_handler)
    no_schema_payload = {
        "schema": fx.STREAM_SCHEMA_ID,
        "origin": "fixtures/test",
        "data": {"id": "prod-x"},  # no data.schema
    }
    rows = [fx.record(fx.b64(no_schema_payload), pk="pk-n", seq=0)]
    result = eng.process_batch(make_df(spark, rows))
    m = result.metrics()
    assert m["unknown"] == 1
    assert m["dead_letter"] == 0
    assert m[f"routed.{fx.PRODUCT_CREATE_ID}"] == 0
    # every record lands somewhere: channel totals == batch size
    assert result.unknown.count() == 1
    assert result.unknown.collect()[0]["data_schema"] is None


def test_metrics_single_pass(spark, engine):
    # metrics() must cost ONE Spark action (a single groupBy over the
    # enriched frame), not one action per channel.  AQE materializes a
    # grouped collect as <=2 jobs (shuffle map + final), so the bound is
    # 2 — the old per-channel implementation ran 4+ jobs for this
    # engine's 4 channels (2 routed + unknown + dead-letter).
    result = engine.process_batch(make_df(spark, fx.batch_ok()))
    tracker = spark.sparkContext.statusTracker()
    sc = spark.sparkContext
    sc.setJobGroup("metrics-single-pass", "metrics() job count probe")
    try:
        result.metrics()
    finally:
        sc.setJobGroup(None, None)
    jobs = tracker.getJobIdsForGroup("metrics-single-pass") or []
    assert 1 <= len(jobs) <= 2, f"metrics() ran {len(jobs)} jobs, expected <=2"


def test_process_ordered_sorts_sequence_numbers_numerically(spark):
    # Kinesis sequence numbers compare NUMERICALLY; '99' must precede
    # '100' even though lexicographic order says otherwise (fixtures
    # zero-pad, so this is pinned with variable-length strings)
    import pandas as pd

    from kinesis_handler_spark.routing.engine import RoutingEngine

    # Real Kinesis sequence numbers are ~56-digit decimals — far past
    # int64, so the sort must go through arbitrary-precision ints
    # (pandas map(int) yields Python bignums), never a 64-bit cast.
    # '9223372036854775808' (2^63, 19 digits) numerically precedes
    # '18446744073709551616' (2^64, 20 digits) but follows it
    # lexicographically — and both overflow a long.
    rows = [
        ("k", "100", "c"),
        ("k", "99", "b"),
        ("k", "9", "a"),
        ("k", "49590338271490256608559692538361571095921575989136588898", "f"),
        ("k", "18446744073709551616", "e"),
        ("k", "9223372036854775808", "d"),
    ]
    df = spark.createDataFrame(
        rows, "partitionKey string, sequenceNumber string, tag string"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"partitionKey": [pdf["partitionKey"].iloc[0]],
             "order": ["".join(pdf["tag"])]}
        )

    out = RoutingEngine.process_ordered(
        df, fn, "partitionKey string, order string"
    ).collect()
    assert out[0]["order"] == "abcdef"


def test_metrics_match_channels_with_empty_registry(spark):
    # nothing registered: every VALID record is channel `unknown`, and
    # metrics() must say so (previously valid rows with a data_schema
    # were counted as routed.<sid> and dropped from the dict)
    from tests import fixtures as fx

    eng = RoutingEngine(fx.ENVELOPE_JSON_SCHEMA)
    df = spark.createDataFrame(fx.batch_ok(), ENVELOPE_SCHEMA)
    result = eng.process_batch(df)
    m = result.metrics()
    n = df.count()
    assert m["unknown"] == result.unknown.count() == n
    assert sum(v for k, v in m.items()
               if k in ("unknown", "dead_letter")) == n


def test_randomized_batches_conserve_every_record(spark, engine):
    # Conservation property over seeded-random mixed batches: every
    # input record lands in EXACTLY one channel (routed / unknown /
    # dead-letter), no record is dropped, none is double-counted —
    # checked by eventID set partition, not just by counts.  Randomized
    # composition + shuffling probes orderings and mixtures the fixed
    # fixture batches never exercise.
    import random

    makers = [
        fx.batch_ok,
        fx.batch_unknown_schema,
        fx.batch_bad_base64,
        fx.batch_bad_json,
        fx.batch_no_schema_field,
        fx.batch_wrong_envelope_schema,
        fx.batch_invalid_data,
        fx.batch_missing_kinesis_data,
    ]
    rng = random.Random(20240814)
    for trial in range(3):
        rows = []
        for maker in makers:
            for _ in range(rng.randint(0, 3)):
                rows.extend(maker())
        if not rows:
            rows = fx.batch_ok()
        rng.shuffle(rows)
        # eventIDs collide across repeated maker calls; re-key uniquely
        # (field 4 of the envelope tuple) so set arithmetic is exact
        rows = [
            r[:4] + (f"ev-{trial}-{i}",) + r[5:] for i, r in enumerate(rows)
        ]
        all_ids = {r[4] for r in rows}
        result = engine.process_batch(make_df(spark, rows), cache=True)
        try:
            routed_ids = set()
            for df in result.routed.values():
                routed_ids |= {r["eventID"] for r in df.select("eventID").collect()}
            unknown_ids = {
                r["eventID"]
                for r in result.unknown.select("eventID").collect()
            }
            dead_ids = {
                r["eventID"]
                for r in result.dead_letter.select("eventID").collect()
            }
        finally:
            result.unpersist()
        assert routed_ids | unknown_ids | dead_ids == all_ids
        assert not (routed_ids & unknown_ids)
        assert not (routed_ids & dead_ids)
        assert not (unknown_ids & dead_ids)


def test_non_identifier_property_names_route(spark):
    # ADVICE r6 (medium): extracting typed structs from the parsed
    # VARIANT via try_variant_get(struct.simpleString()) round-trips
    # field names through the DDL type parser, which rejects any JSON
    # property that is not a bare identifier — hyphens, spaces, dots
    # are all legal (and common) JSON keys.  A schema registering
    # "content-type" then failed the whole micro-batch at plan
    # analysis with INVALID_IDENTIFIER.  The engine now casts the
    # variant with the real StructType, which never serializes names.
    hyphen_schema = {
        "self": {"vendor": fx.VENDOR, "name": "http-log", "version": "1-0-0"},
        "type": "object",
        "required": ["schema", "data"],
        "properties": {
            "schema": {"type": "string"},
            "data": {
                "type": "object",
                "required": ["schema", "content-type"],
                "properties": {
                    "schema": {"type": "string"},
                    "content-type": {"type": "string"},
                    "x.dotted name": {"type": "integer"},
                },
            },
        },
    }
    sid = f"{fx.VENDOR}/http-log/1-0-0"
    eng = RoutingEngine(fx.ENVELOPE_JSON_SCHEMA)
    eng.register(hyphen_schema, identity_handler)
    rows = [
        fx.record(
            fx.b64(
                fx.payload(
                    sid,
                    **{"content-type": "application/json", "x.dotted name": 7},
                )
            ),
            seq=90,
        ),
        # missing the required content-type => dead letter, proving the
        # hyphenated name participates in validation too
        fx.record(fx.b64(fx.payload(sid)), seq=91),
    ]
    result = eng.process_batch(make_df(spark, rows))
    m = result.metrics()
    assert m[f"routed.{sid}"] == 1
    assert m["dead_letter"] == 1
    routed = result.routed[sid].select(
        F.col("event.data.`content-type`").alias("ct"),
        F.col("event.data.`x.dotted name`").alias("xn"),
    ).collect()
    assert routed == [("application/json", 7)] or (
        routed[0]["ct"] == "application/json" and routed[0]["xn"] == 7
    )


def test_hostile_payload_values_classify_not_crash(spark, engine):
    """r7 totality probe for the decode->parse->validate->route path:
    payloads that are hostile-but-VALID JSON (beyond-int64 numbers,
    1e400, floats where integers are required, NUL/line-separator
    unicode, 50-deep nesting, 200 KB strings) must each land in
    exactly one channel -- routed, or dead-letter with a precise
    reason -- and never kill the micro-batch.  This is the streaming
    face of the batch `json` hostile twin (tests/test_dirty_parity.py)."""
    hostile_id = "\u0000\u2028\u00fc"
    deep = 7
    for _ in range(50):
        deep = {"d": deep}
    rows = [
        # beyond-int64 / int64-max / float quantity: all violate the
        # purchase schema (integer, 1..100) -- precise data-invalid, not
        # a parse crash, even though the first is unrepresentable in
        # any engine integer type.
        fx.record(fx.b64(fx.payload(
            fx.PRODUCT_PURCHASE_ID, id="p-1",
            quantity=18446744073709551615)), seq=0),
        fx.record(fx.b64(fx.payload(
            fx.PRODUCT_PURCHASE_ID, id="p-2",
            quantity=9223372036854775807)), seq=1),
        fx.record(fx.b64(fx.payload(
            fx.PRODUCT_PURCHASE_ID, id="p-3", quantity=1.5)), seq=2),
        # 1e400: grammatically valid JSON whose value no binary format
        # holds -- classification may be bad-json or data-invalid
        # depending on the parser's overflow stance, but never a crash.
        fx.record(fx.b64(
            '{"schema": "%s", "data": {"schema": "%s", "id": "p-4", '
            '"quantity": 1e400}}' % (fx.STREAM_SCHEMA_ID,
                                     fx.PRODUCT_PURCHASE_ID)), seq=3),
        # Hostile-but-schema-valid creates: these must ROUTE.
        fx.record(fx.b64(fx.payload(
            fx.PRODUCT_CREATE_ID, id="p-big", category="Sweaters",
            price=1e308)), seq=4),
        fx.record(fx.b64(fx.payload(
            fx.PRODUCT_CREATE_ID, id=hostile_id,
            category="Pants", price=0)), seq=5),
        fx.record(fx.b64(fx.payload(
            fx.PRODUCT_CREATE_ID, id="p-deep", category="Shoes",
            price=1.0, extra=deep)), seq=6),
        fx.record(fx.b64(fx.payload(
            fx.PRODUCT_CREATE_ID, id="p-long", category="Shoes",
            price=2.0, extra="x" * 200_000)), seq=7),
    ]
    result = engine.process_batch(make_df(spark, rows))
    m = result.metrics()
    total = (
        sum(m[f"routed.{sid}"] for sid in
            (fx.PRODUCT_CREATE_ID, fx.PRODUCT_PURCHASE_ID))
        + m["unknown"] + m["dead_letter"]
    )
    assert total == len(rows), m
    assert m[f"routed.{fx.PRODUCT_CREATE_ID}"] == 4, m
    assert m[f"routed.{fx.PRODUCT_PURCHASE_ID}"] == 0, m
    dead = result.dead_letter.collect()
    assert len(dead) == 4, [(r["sequenceNumber"], r["reason"]) for r in dead]
    by_seq = sorted(dead, key=lambda r: r["sequenceNumber"])
    assert [r["reason"] for r in by_seq[:3]] == [REASON_DATA_INVALID] * 3
    assert by_seq[3]["reason"] in (REASON_BAD_JSON, REASON_DATA_INVALID)
    # the hostile unicode id survives byte-exact through decode ->
    # parse -> validate -> route
    created = result.routed[fx.PRODUCT_CREATE_ID]
    ids = {r["id"] for r in created.select("event.data.id").collect()}
    assert hostile_id in ids, ids


# -- routing plan reuse: built once per registration, not per batch --------


def _count_plan_builds(monkeypatch) -> list:
    builds = []
    build = RoutingEngine._build_plan

    def counting(self):
        builds.append(self)
        return build(self)

    monkeypatch.setattr(RoutingEngine, "_build_plan", counting)
    return builds


def _mixed_rows() -> list:
    return (
        fx.batch_ok()
        + fx.batch_unknown_schema()
        + fx.batch_bad_json()
        + fx.batch_invalid_data()
    )


def test_two_batches_build_the_plan_once(spark, engine, monkeypatch):
    builds = _count_plan_builds(monkeypatch)
    validated = []
    validate = CompiledSchema.validate

    def counting_validate(self, *args):
        validated.append(self.schema_id)
        return validate(self, *args)

    monkeypatch.setattr(CompiledSchema, "validate", counting_validate)
    df = make_df(spark, _mixed_rows())
    first = engine.process_batch(df).metrics()
    second = engine.process_batch(df, cache=True)
    try:
        assert second.metrics() == first
    finally:
        second.unpersist()
    assert first[f"routed.{fx.PRODUCT_CREATE_ID}"] == 3
    assert first["dead_letter"] == 4
    assert len(builds) == 1
    # one validator per schema (envelope + two branches), for both batches
    assert sorted(validated) == sorted(
        [fx.STREAM_SCHEMA_ID, fx.PRODUCT_CREATE_ID, fx.PRODUCT_PURCHASE_ID]
    )


def test_schema_registered_after_a_batch_routes_on_the_next(spark, monkeypatch):
    builds = _count_plan_builds(monkeypatch)
    eng = RoutingEngine(fx.ENVELOPE_JSON_SCHEMA)
    eng.register(fx.PRODUCT_CREATE_SCHEMA, identity_handler)
    df = make_df(spark, fx.batch_ok())
    before = eng.process_batch(df).metrics()
    assert before[f"routed.{fx.PRODUCT_CREATE_ID}"] == 3
    assert before["unknown"] == 2
    eng.register(fx.PRODUCT_PURCHASE_SCHEMA, identity_handler)
    result = eng.process_batch(df)
    after = result.metrics()
    assert after[f"routed.{fx.PRODUCT_PURCHASE_ID}"] == 2
    assert after["unknown"] == 0
    assert result.routed[fx.PRODUCT_PURCHASE_ID].count() == 2
    assert result.unknown.count() == 0
    assert len(builds) == 2


def test_string_then_binary_data_through_one_engine(spark, engine, monkeypatch):
    builds = _count_plan_builds(monkeypatch)
    text = make_df(spark, _mixed_rows())
    binary = text.withColumn("data", F.unbase64("data"))
    assert dict(binary.dtypes)["data"] == "binary"
    from_text = engine.process_batch(text).metrics()
    result = engine.process_batch(binary)
    assert result.metrics() == from_text
    assert result.routed[fx.PRODUCT_PURCHASE_ID].count() == 2
    assert engine.process_batch(text).metrics() == from_text
    assert from_text[f"routed.{fx.PRODUCT_CREATE_ID}"] == 3
    assert from_text["unknown"] == 1
    assert len(builds) == 1


# Stops the session, so it runs in its own process: the suite's
# session-scoped `spark` fixture must outlive this test.
_RESTART_PROBE = """
from kinesis_handler_spark.routing import ENVELOPE_SCHEMA, RoutingEngine
from kinesis_handler_spark.session import get_spark
from tests import fixtures as fx
from tests.test_schema_fallback import COUPON_SCHEMA, coupon_batch

eng = RoutingEngine(fx.ENVELOPE_JSON_SCHEMA)
for schema in (fx.PRODUCT_CREATE_SCHEMA, fx.PRODUCT_PURCHASE_SCHEMA, COUPON_SCHEMA):
    eng.register(schema, lambda df: df)
rows = fx.batch_ok() + fx.batch_unknown_schema() + fx.batch_bad_json() + coupon_batch()
plans = []
for _ in range(2):
    spark = get_spark("plan-restart-probe", cpus=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    result = eng.process_batch(spark.createDataFrame(rows, ENVELOPE_SCHEMA), cache=True)
    result.materialize()
    counts = {sid: df.count() for sid, df in result.routed.items()}
    counts.update(unknown=result.unknown.count(), dead_letter=result.dead_letter.count())
    result.unpersist()
    plans.append(eng._plan)
    print("COUNTS", sorted(counts.items()))
    spark.stop()
print("PLANS", len({id(p) for p in plans}))
"""


def test_engine_reused_across_session_restart():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_PROBE],
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        cwd=repo,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    counts = [ln for ln in lines if ln.startswith("COUNTS")]
    assert len(counts) == 2 and counts[0] == counts[1], lines
    assert "('com.example/coupon-apply/1-0-0', 2)" in counts[0]
    assert "('unknown', 1)" in counts[0] and "('dead_letter', 4)" in counts[0]
    assert "PLANS 1" in lines
