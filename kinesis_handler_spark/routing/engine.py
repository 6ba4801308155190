"""The routing engine: Spark-native equivalent of the reference's
``KinesisHandler`` / ``KinesisSynchronousHandler``
(lib/kinesisHandler.js:67-193 / :203-334).

Pipeline (one declarative plan, no per-record Python):

    envelope records
      → base64 decode               (R5,  kinesisHandler.js:169)
      → JSON parse (corrupt chan.)  (R6,  :167-174)
      → optional transformer        (R7,  :176-178)
      → envelope checks             (R8,  :108-111)
      → envelope schema validation  (R9,  :112-113)
      → data schema validation      (R10, :115-116)
      → content-based route         (R11, :114-118)
      → unknown-schema side output  (R12, :120-122)
      → dead-letter channel         (R13, :12,145-149)

Differences from the reference, by design (SURVEY.md §7 hard parts):

* Handlers are DataFrame→DataFrame transformations (vectorized), not
  per-record callbacks; the per-record escape hatch is a pandas UDF.
* An empty batch is a successful no-op — the reference's empty-batch
  hang (R15, :156 unreachable) is a bug we do not reproduce.
* Ordered mode guarantees per-partitionKey order (all Kinesis itself
  guarantees), not whole-batch order (meaningless across executors).
* Fatal handler errors propagate → Structured Streaming retries the
  micro-batch from the checkpoint (R14; at-least-once, exactly-once
  with idempotent sinks).
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_handler_spark.functions.worker_tune import tuned
from kinesis_handler_spark.deploy import ensure_shipped
from kinesis_handler_spark.routing.schema_compiler import (
    CompiledSchema,
    compile_schema,
)

# Kinesis record envelope (reference example batch, kinesisHandler.js:19-57),
# flattened: fixtures carry `data` as base64 text or raw binary.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("partitionKey", T.StringType()),
        T.StructField("sequenceNumber", T.StringType()),
        T.StructField("data", T.StringType()),
        T.StructField("approximateArrivalTimestamp", T.TimestampType()),
        T.StructField("eventID", T.StringType()),
        T.StructField("eventSource", T.StringType()),
        T.StructField("eventSourceARN", T.StringType()),
        T.StructField("awsRegion", T.StringType()),
    ]
)

# Dead-letter reason taxonomy — one reason per reference bad-message class.
REASON_MISSING_DATA = "missing-data"          # :163-166,181-183
REASON_BAD_BASE64 = "undecodable-base64"      # :169 failure
REASON_BAD_JSON = "unparseable-json"          # :171-174
REASON_NO_SCHEMA = "missing-schema"           # :108-109
REASON_WRONG_SCHEMA = "wrong-envelope-schema" # :110-111
REASON_ENVELOPE_INVALID = "envelope-invalid"  # :112-113
REASON_DATA_INVALID = "data-invalid"          # :115-116


@dataclass(frozen=True)
class _RoutingPlan:
    """Every Column the engine applies to a batch, built once per
    registration (``RoutingEngine._routing_plan``) and reused for every
    batch — the analogue of the reference compiling each schema into an
    AJV validator once (kinesisHandler.js:83-84,93) rather than per
    record.  Building it walks every schema document (validator
    predicates, type-fidelity checks) at thousands of py4j round trips;
    applying it is a handful of ``withColumns``/``filter``/``select``.

    ``decode`` maps the ``data`` column's type (``"string"``: base64
    text, ``"binary"``: raw bytes) to the ``_payload_bytes`` Column;
    ``stages`` run in order after the transformer, each one
    ``withColumns`` whose Columns read only earlier stages; ``bad`` /
    ``valid`` / ``unknown`` and ``branches[sid]`` (predicate, ``event``
    alias) select the channels."""

    decode: dict[str, Column]
    stages: tuple[dict[str, Column], ...]
    bad: Column
    valid: Column
    unknown: Column
    branches: dict[str, tuple[Column, Column]]


@dataclass
class RoutingResult:
    """Outcome of routing one (micro-)batch.

    ``routed`` maps schema_id → the handler's output DataFrame;
    ``unknown`` holds valid events whose data schema has no registered
    handler (side output, NOT an error — R12); ``dead_letter`` carries
    every bad message with its reason (R13).
    """

    routed: dict[str, DataFrame]
    unknown: DataFrame
    dead_letter: DataFrame
    _cached: DataFrame | None = None
    _enriched: DataFrame | None = None
    _plan: _RoutingPlan | None = None

    def unpersist(self) -> None:
        """Release the cached enriched frame (set by
        ``process_batch(cache=True)``); no-op otherwise."""
        if self._cached is not None:
            self._cached.unpersist()

    def materialize(self) -> None:
        """Force the cached enriched frame to compute NOW (one pass).
        Call before draining channels from concurrent threads so the
        sink jobs only read cached blocks instead of racing block-level
        locks to fill the cache; no-op when not cached."""
        if self._cached is not None:
            self._cached.count()

    def metrics(self) -> dict[str, int]:
        """Routing counts per channel in ONE Spark job: each enriched row
        is tagged with its channel (routed.<sid> / unknown /
        dead_letter.<reason>) by the same predicates that select the
        channels, and counted in a single ``groupBy``.
        Counts are channel ASSIGNMENTS (records entering each handler),
        not handler output sizes — a handler may aggregate.  For
        streaming observability prefer ``df.observe`` /
        StreamingQueryListener (R15/R18, no per-record logging)."""
        plan = self._plan
        channel = (
            F.when(plan.bad, F.concat(F.lit("dead_letter."), F.col("reason")))
            .when(plan.unknown, F.lit("unknown"))
            .otherwise(F.concat(F.lit("routed."), F.col("data_schema")))
        )
        counts = {
            r["channel"]: r["n"]
            for r in self._enriched.groupBy(channel.alias("channel"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        out = {
            f"routed.{sid}": counts.get(f"routed.{sid}", 0) for sid in plan.branches
        }
        out["unknown"] = counts.get("unknown", 0)
        dl = {k: v for k, v in counts.items() if k.startswith("dead_letter.")}
        out["dead_letter"] = sum(dl.values())
        out.update(dl)
        return out


class RoutingEngine:
    """Register JSON schemas + handlers, then route batches/streams.

    Construction mirrors ``new KinesisHandler(eventSchema, moduleName,
    transformer)`` (R2, kinesisHandler.js:67-84): the envelope schema is
    compiled up front; ``transformer`` (R7) is an optional
    DataFrame→DataFrame hook running after parse, before validation,
    with both payload and envelope columns visible (the reference's
    ``transformer(payload, record)``, vectorized).
    """

    def __init__(
        self,
        event_schema: dict,
        module_name: str = "kinesis-handler-spark",
        transformer: Callable[[DataFrame], DataFrame] | None = None,
        ordered: bool = False,
    ) -> None:
        if not isinstance(event_schema, dict):
            raise TypeError("event_schema must be a JSON-Schema dict")  # R2 :68-70
        if transformer is not None and not callable(transformer):
            raise TypeError("transformer must be callable")  # R2 :72-74
        self.envelope: CompiledSchema = compile_schema(event_schema)
        self.module_name = module_name
        self.transformer = transformer
        self.ordered = ordered
        self._registry: dict[str, tuple[CompiledSchema, Callable]] = {}
        self._plan: _RoutingPlan | None = None

    # -- registration (R3, kinesisHandler.js:91-99) ----------------------

    def register(self, schema: dict, handler: Callable[[DataFrame], DataFrame]):
        """Compile the data schema and pair it with a handler.  The
        reference checks handler arity (:95-97); we require a callable
        accepting exactly one positional argument (the branch DataFrame).
        """
        compiled = compile_schema(schema)
        if not callable(handler):
            raise TypeError("handler must be callable")
        sig = inspect.signature(handler)
        positional = [
            p
            for p in sig.parameters.values()
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        required = [p for p in positional if p.default is p.empty]
        accepts_one = (
            any(p.kind == p.VAR_POSITIONAL for p in sig.parameters.values())
            # exactly one required positional, or zero required but at
            # least one default-valued slot (def handler(df=None) is a
            # callable accepting one DataFrame)
            or len(required) == 1
            or (len(required) == 0 and len(positional) >= 1)
        )
        if not accepts_one:
            raise TypeError(
                f"handler for {compiled.schema_id} must accept exactly one "
                f"DataFrame argument (got {len(required)} required params)"
            )
        self._registry[compiled.schema_id] = (compiled, handler)
        self._plan = None  # rebuilt, with the new branch, on the next batch
        return self

    @property
    def registered_ids(self) -> list[str]:
        return sorted(self._registry)

    # -- routing plan: built once per registration -----------------------

    def _routing_plan(self) -> _RoutingPlan:
        """The memoized plan; built on first use, not in ``__init__`` or
        ``register``, so registration stays as cheap as compiling the
        schema documents."""
        if self._plan is None:
            self._plan = self._build_plan()
        return self._plan

    def _build_plan(self) -> _RoutingPlan:
        data = F.col("data")
        decode = {
            "binary": data,
            "string": F.try_to_binary(data, F.lit("base64")),
        }

        # SINGLE-PARSE: the payload JSON is parsed exactly once, into a
        # VARIANT; the envelope struct, both schema-id strings, and every
        # branch's typed struct (``_event_<i>`` below — shared by R10
        # validation and the routed ``event`` column) are all cheap
        # binary extractions from that one parse (``try_variant_get``) —
        # the r5 shape re-tokenized the same JSON with from_json once
        # per consumer (envelope + every branch validator + every routed
        # branch: 3-4 full parses per row).
        parse = {"_parsed": F.try_parse_json(F.col("payload"))}
        parsed = F.col("_parsed")
        extract = {
            # try_cast with the real StructType, NOT
            # try_variant_get(..., struct.simpleString()): the
            # simpleString round-trips through the DDL type parser,
            # which rejects any JSON property name that is not a
            # bare identifier (hyphens, spaces, dots — all legal
            # JSON keys, e.g. "content-type") with a plan-analysis
            # PARSE/INVALID_IDENTIFIER error that would fail the
            # whole micro-batch.  Casting a VARIANT to a struct has
            # the same semantics ("$" extraction, NULL on
            # mismatch) without ever serializing field names.
            "_env": parsed.try_cast(self.envelope.struct),
            "_env_schema": F.try_variant_get(parsed, "$.schema", "string"),
            "data_schema": F.try_variant_get(parsed, "$.data.schema", "string"),
        }

        # R9: fast-path envelopes evaluate a codegen predicate over the
        # parsed struct; fallback envelopes (composition keywords) run
        # jsonschema over the raw payload in an Arrow-batched pandas UDF.
        envelope_ok = self.envelope.validate(
            F.col("payload"), F.col("_env"), parsed
        )
        classify = {
            "reason": F.when(data.isNull(), REASON_MISSING_DATA)
            .when(F.col("_payload_bytes").isNull(), REASON_BAD_BASE64)
            .when(parsed.isNull(), REASON_BAD_JSON)
            .when(F.col("_env_schema").isNull(), REASON_NO_SCHEMA)
            .when(
                F.col("_env_schema") != F.lit(self.envelope.schema_id),
                REASON_WRONG_SCHEMA,
            )
            .when(~envelope_ok, REASON_ENVELOPE_INVALID)
        }

        # R10: per-registered-branch data validation.  Each branch
        # extracts its typed struct from the shared variant ONCE, gated
        # to its own rows (NULL elsewhere) — the SAME column later
        # becomes the branch's routed `event`, so validation and routing
        # share one extraction and the cached micro-batch frame carries
        # compact typed structs (≈1 payload's worth across branches,
        # since each row populates exactly one) instead of the variant
        # binary.  Invalid data => dead letter.
        data_schema = F.col("data_schema")
        data_invalid = F.lit(False)
        branches: dict[str, tuple[Column, Column]] = {}
        for sid, (compiled, _) in sorted(self._registry.items()):
            on_branch = data_schema == F.lit(sid)
            event = F.col(self._event_col(sid))
            # try_cast(StructType), not try_variant_get(simpleString):
            # see the _env comment — DDL round-trip breaks on
            # non-identifier JSON property names.
            classify[self._event_col(sid)] = F.when(
                on_branch, parsed.try_cast(compiled.struct)
            )
            # Gate the payload on the branch condition BEFORE it reaches
            # the validator: Catalyst extracts pandas UDFs into an
            # ArrowEvalPython node evaluated for EVERY row regardless of
            # the enclosing conjunction, so a fallback-tier branch would
            # otherwise pay json.loads + jsonschema for the whole batch
            # even when it owns a sliver of it.  With the when(), rows
            # outside the branch carry NULL payloads through the UDF —
            # the Python side's null check skips them at ~zero cost.
            # (The JVM fast path ignores the payload column entirely.)
            gated_payload = F.when(on_branch, F.col("payload"))
            branch_bad = on_branch & ~compiled.validate(gated_payload, event, parsed)
            data_invalid = data_invalid | F.coalesce(branch_bad, F.lit(False))
            branches[sid] = (on_branch, event.alias("event"))
        reason = F.col("reason")
        verdict = {
            "reason": F.when(reason.isNotNull(), reason).when(
                data_invalid, REASON_DATA_INVALID
            )
        }

        # A valid envelope with NULL $.data.schema must land in `unknown`
        # (every record lands in exactly one channel — the reference's
        # unknown-schema skip, kinesisHandler.js:120-122).  A bare
        # `~isin(...)` evaluates to NULL for NULL data_schema and would
        # silently drop the row from all three channels.  With nothing
        # registered, every valid record is unknown.
        unknown = (
            data_schema.isNull() | ~data_schema.isin(list(self._registry))
            if self._registry
            else F.lit(True)
        )
        bad = reason.isNotNull()
        return _RoutingPlan(
            decode=decode,
            stages=(parse, extract, classify, verdict),
            bad=bad,
            valid=~bad,
            unknown=unknown,
            branches=branches,
        )

    # -- batch core (R4-R13, R17) ----------------------------------------

    def _enrich(self, records: DataFrame) -> DataFrame:
        """Single-pass classification: apply the routing plan, adding
        payload/parse columns, the dead-letter ``reason``, and the
        route's ``data_schema``."""
        dtypes = dict(records.dtypes)
        if "data" not in dtypes:
            raise ValueError("records must carry a 'data' column (kinesis.data)")
        plan = self._routing_plan()
        df = records.withColumn(
            "_payload_bytes",
            plan.decode["binary" if dtypes["data"] == "binary" else "string"],
        ).withColumn("payload", F.col("_payload_bytes").cast("string"))

        if self.transformer is not None:
            # R7: user hook reshapes the payload with envelope fields in
            # scope; it must return a DataFrame retaining `payload`.
            # Called on every batch's fresh frame — only the plan's
            # Columns are reused.
            df = self.transformer(df)
            # the reason chain downstream also reads `data` and the
            # internal `_payload_bytes`; a transformer that selects only
            # `payload` would otherwise crash later with an
            # UNRESOLVED_COLUMN naming a private column it never saw
            columns = df.columns
            missing = [
                c for c in ("payload", "data", "_payload_bytes")
                if c not in columns
            ]
            if missing:
                raise ValueError(
                    "transformer must keep the columns "
                    f"{missing} (reshape the payload, don't project "
                    "them away)"
                )

        for stage in plan.stages:
            df = df.withColumns(stage)
        # Drop ALL parse intermediates including the variant: the routed
        # branches read their pre-extracted `_event_<i>` structs, so
        # nothing downstream needs `_parsed`, and the cached micro-batch
        # frame stays payload + typed structs (keeping the variant
        # measurably slowed the cache write/read path).
        return df.drop("_payload_bytes", "_parsed", "_env", "_env_schema")

    @staticmethod
    def _event_col(sid: str) -> str:
        """Internal per-branch typed-struct column name (schema ids
        contain '/' and '.', which are fine in quoted column names but
        hashed here to keep plans readable)."""
        import hashlib

        return "_event_" + hashlib.md5(sid.encode()).hexdigest()[:8]

    def process_batch(self, records: DataFrame, *, cache: bool = False) -> RoutingResult:
        """Route one batch (R4 entry point; also the foreachBatch body).

        Returns lazy DataFrames — callers trigger execution by writing
        or counting.  All branches derive from one enriched plan, so at
        scale this is a single scan fanned into N filters (vs. the
        reference's per-record linear registry scan, :114).  The Python
        side of that plan (every Column and predicate) is built on the
        first batch and reused until the next ``register``.

        ``cache=True`` persists the enriched frame so the decode/parse/
        validate work runs ONCE per batch instead of once per channel
        write (N routed + dead-letter + unknown) — run_stream sets it
        and unpersists via ``RoutingResult.unpersist`` after the sinks
        commit.  Without it, even a caller consuming a single channel
        pays far more than one pass: Catalyst pushes the channel's
        filters down through the alias projections and inlines the
        decode into every expression that reads it, so on a 20k-record
        batch of the perfbench registration the optimized plan of one
        routed channel repeats the base64 decode 114 times, and writing
        that channel to the ``noop`` sink took about 4 s, against under
        0.1 s from the cache plus about 1.5 s to fill it (4-vCPU VM,
        C1-only JVM as in perfbench; with the default JIT, 1.7 s
        against 0.07 s + 1.1 s).  Pass ``cache=True`` unless the batch
        is tiny, and ``unpersist`` when done."""
        # Schema-fallback validation and ordered-mode handlers run
        # package code on executor workers; ship it for foreign-cwd
        # drivers (deploy.py).
        ensure_shipped(records.sparkSession)
        enriched = self._enrich(records)
        if cache:
            enriched = enriched.persist()
        try:
            return self._build_result(records, enriched, cache)
        except Exception:
            if cache:
                enriched.unpersist()  # handler raised: don't leak the cache
            raise

    def _build_result(
        self, records: DataFrame, enriched: DataFrame, cache: bool
    ) -> RoutingResult:
        plan = self._routing_plan()
        # the envelope columns every channel carries, from one schema
        # read: not part of the plan, as they follow the batch's columns
        # and whatever the transformer kept
        present = set(enriched.columns)
        keep = [c for c in records.columns if c in present]

        dead_letter = enriched.filter(plan.bad).select(*keep, "payload", "reason")
        valid = enriched.filter(plan.valid)
        unknown = valid.filter(plan.unknown).select(*keep, "payload", "data_schema")
        routed: dict[str, DataFrame] = {}
        for sid, (_, handler) in sorted(self._registry.items()):
            on_branch, event = plan.branches[sid]
            branch = valid.filter(on_branch).select(*keep, event)
            routed[sid] = handler(branch)  # R11 dispatch / R17 parallel
        return RoutingResult(
            routed=routed,
            unknown=unknown,
            dead_letter=dead_letter,
            _cached=enriched if cache else None,
            _enriched=enriched,
            _plan=plan,
        )

    # -- streaming entry point (R4, R13-R15) ------------------------------

    def run_stream(
        self,
        stream_df: DataFrame,
        *,
        checkpoint_dir: str,
        routed_sink: Callable[[str, DataFrame, int], None],
        dead_letter_sink: Callable[[DataFrame, int], None] | None = None,
        unknown_sink: Callable[[DataFrame, int], None] | None = None,
        trigger_available_now: bool = True,
        sink_parallelism: int = 1,
    ):
        """Structured-Streaming run: ``foreachBatch`` applies
        ``process_batch`` per micro-batch and hands each channel to its
        sink.  A sink/handler exception fails the micro-batch, and the
        restarted query replays it from the checkpoint (R14 retry
        semantics; exactly-once with idempotent sinks).

        Observability (R15/R18): an ``observe`` on the inbound stream
        reports per-batch ingest counts through
        ``StreamingQueryListener`` / ``lastProgress.observedMetrics``
        ("routing_ingest") — batch-completion accounting with zero extra
        jobs and no per-record logging (the reference logs every payload,
        kinesisHandler.js:134,170 — an anti-pattern at scale).

        ``sink_parallelism > 1`` drains the independent channel writes
        (N routed + dead-letter + unknown) as CONCURRENT Spark jobs from
        a thread pool — each write is a separate job over the already-
        cached enriched frame, so they schedule side-by-side instead of
        serially idling the cluster between commits (the channel writes
        dominate micro-batch wall-clock: ~2.2× end-to-end throughput
        measured at 600k records / 4 sinks on local[32], ~1.1× on small
        batches where per-batch fixed costs dominate; perfbench's
        ``stream`` workload drains this way, one thread per core).  Any
        sink failure still
        fails the whole micro-batch (R14): every thread is joined and
        the first exception re-raised before the batch commits.
        """

        def _each_batch(batch_df: DataFrame, batch_id: int) -> None:
            # Decode/parse/validate runs ONCE per micro-batch: every
            # channel (N routed branches + dead-letter + unknown)
            # filters the cached enriched frame instead of re-running
            # the whole pipeline per sink write.
            result = self.process_batch(batch_df, cache=True)
            try:
                drains: list[Callable[[], None]] = [
                    (lambda sid=sid, df=df: routed_sink(sid, df, batch_id))
                    for sid, df in result.routed.items()
                ]
                if dead_letter_sink is not None:
                    drains.append(
                        lambda: dead_letter_sink(result.dead_letter, batch_id)
                    )
                if unknown_sink is not None:
                    drains.append(lambda: unknown_sink(result.unknown, batch_id))
                if sink_parallelism > 1 and len(drains) > 1:
                    # fill the cache with ONE pass first so concurrent
                    # sink jobs read blocks instead of racing to build them
                    result.materialize()
                    from concurrent.futures import ThreadPoolExecutor

                    with ThreadPoolExecutor(
                        max_workers=min(sink_parallelism, len(drains))
                    ) as pool:
                        futures = [pool.submit(d) for d in drains]
                        for f in futures:
                            f.result()  # re-raise first failure (R14)
                else:
                    for d in drains:
                        d()
            finally:
                result.unpersist()

        observed = stream_df.observe(
            "routing_ingest", F.count(F.lit(1)).alias("records")
        )
        writer = (
            observed.writeStream.foreachBatch(_each_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- ordered discipline (R16, kinesisHandler.js:278-309) --------------

    @staticmethod
    def process_ordered(
        records: DataFrame,
        fn: Callable,
        output_schema: str | T.StructType,
        key_col: str = "partitionKey",
        order_col: str = "sequenceNumber",
    ) -> DataFrame:
        """Per-key ordered processing: the reference's synchronous
        handler replays records one at a time in batch order via a
        generator (:278-309).  At scale only per-``partitionKey`` order
        is meaningful (Kinesis's own guarantee), so: hash-partition by
        key, sort within the group, then ``applyInPandas`` hands ``fn``
        each key's records as one ordered pandas DataFrame."""
        ensure_shipped(records.sparkSession)

        def _sorted_apply(pdf):
            key = pdf[order_col]
            try:
                # Kinesis sequence numbers are decimal strings compared
                # NUMERICALLY (AWS contract); lexicographic order breaks
                # the guarantee when digit counts differ ('100' < '99')
                key = key.map(int)
            except (TypeError, ValueError):
                pass  # non-numeric order column: natural ordering
            order = key.sort_values(kind="mergesort").index
            return fn(pdf.loc[order])

        return records.groupBy(key_col).applyInPandas(tuned(_sorted_apply), output_schema)
