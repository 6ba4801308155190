"""The ``stream`` workload: the routing path, end to end.

A consumer built on ``RoutingEngine.run_stream`` reads the JSON-lines
envelope file source (``io.sources.envelope_json_stream``, the file
twin of a Kinesis shard reader) and writes the parquet channel sinks
(``io.sinks.ParquetChannelSinks``).  Every record's channel and reason
is checked against the generator's ground truth, and every ``eventID``
must appear exactly once.

* drain: a pre-written backlog in shard files, drained with
  ``availableNow`` under a files-per-trigger cap (the file twin of a
  Kinesis fetch cap).  Each drain uses a fresh checkpoint and output
  tree.
* live: an open loop.  A generator thread writes one file per tick
  (write, then rename) whatever the consumer does, stamping each record
  with its due time; the query runs on the default trigger.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

import pyarrow.dataset as pads

from perfbench.probe import Outcome, Tracer, median, tail_percentile, union_s

# -- schemas (the reference's example shapes, plus one composed schema) -----

VENDOR = "com.example"
STREAM_ID = f"{VENDOR}/retail-stream/1-0-0"
CREATE_ID = f"{VENDOR}/product-create/1-0-0"
PURCHASE_ID = f"{VENDOR}/product-purchase/1-0-0"
COUPON_ID = f"{VENDOR}/coupon-apply/1-0-0"
UNKNOWN_ID = f"{VENDOR}/mystery-event/9-9-9"

ENVELOPE = {
    "self": {"vendor": VENDOR, "name": "retail-stream", "version": "1-0-0"},
    "type": "object",
    "required": ["schema", "data"],
    "properties": {
        "schema": {"type": "string", "pattern": "^com\\.example/retail-stream/"},
        "origin": {"type": "string"},
        "data": {
            "type": "object",
            "required": ["schema"],
            "properties": {"schema": {"type": "string"}},
        },
    },
}

CREATE = {
    "self": {"vendor": VENDOR, "name": "product-create", "version": "1-0-0"},
    "type": "object",
    "required": ["schema", "data"],
    "properties": {
        "schema": {"type": "string"},
        "origin": {"type": "string"},
        "data": {
            "type": "object",
            "required": ["schema", "id", "category"],
            "properties": {
                "schema": {"type": "string"},
                "id": {"type": "string", "minLength": 1},
                "category": {"type": "string", "enum": ["Sweaters", "Pants", "Shoes"]},
                "price": {"type": "number", "minimum": 0},
            },
        },
    },
}

PURCHASE = {
    "self": {"vendor": VENDOR, "name": "product-purchase", "version": "1-0-0"},
    "type": "object",
    "required": ["schema", "data"],
    "properties": {
        "schema": {"type": "string"},
        "data": {
            "type": "object",
            "required": ["schema", "id", "quantity"],
            "properties": {
                "schema": {"type": "string"},
                "id": {"type": "string"},
                "quantity": {"type": "integer", "minimum": 1, "maximum": 100},
            },
        },
    },
}

# $ref + oneOf + format: compiles to the jsonschema pandas-UDF tier.
COUPON = {
    "self": {"vendor": VENDOR, "name": "coupon-apply", "version": "1-0-0"},
    "type": "object",
    "required": ["schema", "data"],
    "properties": {
        "schema": {"type": "string"},
        "origin": {"type": "string"},
        "data": {
            "type": "object",
            "required": ["schema", "discount"],
            "properties": {
                "schema": {"type": "string"},
                "issued": {"type": "string", "format": "date-time"},
                "client_ip": {"type": "string", "format": "ipv4"},
                "discount": {"$ref": "#/definitions/discount"},
            },
        },
    },
    "definitions": {
        "discount": {
            "oneOf": [
                {
                    "type": "object",
                    "required": ["pct"],
                    "properties": {"pct": {"type": "number", "minimum": 0, "maximum": 100}},
                },
                {
                    "type": "object",
                    "required": ["amount", "currency"],
                    "properties": {
                        "amount": {"type": "number", "exclusiveMinimum": 0},
                        "currency": {"type": "string", "pattern": "^[A-Z]{3}$"},
                    },
                },
            ]
        }
    },
}

# -- load shape ---------------------------------------------------------------

WARM_RECORDS = 12_000      # 3 micro-batches of 4k, untimed: first-use costs, JIT
FILES_PER_TRIGGER = 4      # the fetch cap: 4 shard files per micro-batch
FILE_RECORDS = 5_000       # so a drained micro-batch holds 20k records
BATCH_S = 4.0              # seconds of the run per timed micro-batch: 5 at 20 s
LIVE_RATE = 500            # records/s offered: well under the drain rate, so
                           # latency is the per-batch fixed cost, not queueing
LIVE_TICK_S = 1.0          # one file a second: a micro-batch reads a few files
LIVE_RAMP_S = 3.0          # feed time before latency is counted
LIVE_GRACE_S = 30.0        # how long the consumer may take to catch up
BAD_SHARE = UNKNOWN_SHARE = INVALID_SHARE = 0.02

ARN = "arn:aws:kinesis:us-west-2:000000000000:stream/bench-stream"


def _routed(sid: str) -> str:
    return f"routed/{sid}"


@dataclass
class Truth:
    """Expected channel and due time of every generated record."""

    channel: dict[str, str] = field(default_factory=dict)
    due: dict[str, float] = field(default_factory=dict)
    fallback: int = 0  # records whose data schema validates in the UDF tier

    def add(self, other: Truth) -> None:
        self.channel.update(other.channel)
        self.due.update(other.due)
        self.fallback += other.fallback


class Generator:
    """Seeded envelope records in the reference's mix: ~2% unparseable,
    ~2% of an unregistered schema, ~2% failing their data schema, the
    rest valid and split evenly over the two fast-path schemas and the
    composed coupon schema (the jsonschema fallback tier)."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.seq = 0

    def _payload(self, seq: int) -> tuple[bytes, str, str | None]:
        rng = self.rng
        r = rng.random()
        if r < BAD_SHARE:
            return b'{"schema": "' + str(seq).encode(), "dead_letter/unparseable-json", None
        r -= BAD_SHARE
        if r < UNKNOWN_SHARE:
            sid = UNKNOWN_ID
            data, channel = {"schema": sid, "id": f"u-{seq}"}, "unknown"
        else:
            invalid = r - UNKNOWN_SHARE < INVALID_SHARE
            sid = (CREATE_ID, PURCHASE_ID, COUPON_ID)[rng.randrange(3)]
            data = {"schema": sid, "id": f"p-{seq}"}
            if sid == CREATE_ID:
                data["category"] = "Hats" if invalid else rng.choice(("Sweaters", "Pants", "Shoes"))
                data["price"] = round(rng.uniform(1, 500), 2)
            elif sid == PURCHASE_ID:
                data["quantity"] = rng.choice((0, 101)) if invalid else rng.randint(1, 100)
            else:
                data["issued"] = f"2024-01-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:00:00Z"
                data["client_ip"] = f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
                data["discount"] = (
                    {"pct": 150} if invalid
                    else {"pct": rng.randint(1, 90)} if rng.random() < 0.5
                    else {"amount": round(rng.uniform(1, 50), 2), "currency": "USD"}
                )
            channel = "dead_letter/data-invalid" if invalid else _routed(sid)
        body = {"schema": STREAM_ID, "origin": "perfbench", "data": data}
        return json.dumps(body).encode(), channel, sid

    def lines(self, n: int, shard: int, due: float) -> tuple[list[str], Truth]:
        truth = Truth()
        stamp = dt.datetime.fromtimestamp(due, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
        out = []
        for _ in range(n):
            seq = self.seq
            self.seq += 1
            payload, channel, sid = self._payload(seq)
            event_id = f"shardId-{shard:012d}:{seq:021d}"
            out.append(json.dumps({
                "partitionKey": f"pk-{seq % 64}",
                "sequenceNumber": f"{seq:021d}",
                "data": base64.b64encode(payload).decode("ascii"),
                "approximateArrivalTimestamp": stamp,
                "eventID": event_id,
                "eventSource": "aws:kinesis",
                "eventSourceARN": ARN,
                "awsRegion": "us-west-2",
            }))
            truth.channel[event_id] = channel
            truth.due[event_id] = due
            truth.fallback += sid == COUPON_ID
        return out, truth


def write_file(directory: str, name: str, lines: list[str]) -> None:
    """Write-then-rename, so the file source never lists a partial file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(directory, name))


def write_backlog(gen: Generator, directory: str, n: int, files: int) -> Truth:
    os.makedirs(directory, exist_ok=True)
    truth = Truth()
    for f in range(files):
        lines, t = gen.lines(n // files, f, 0.0)
        write_file(directory, f"shard-{f:04d}.json", lines)
        truth.add(t)
    return truth


# -- engine and sinks ------------------------------------------------------------


def build_engine(engine_cls):
    """The benchmark's registration: the envelope and three data schemas."""
    engine = engine_cls(ENVELOPE)
    for schema in (CREATE, PURCHASE, COUPON):
        engine.register(schema, lambda df: df)
    return engine


def traced_engine_class(tracer: Tracer, job_counter):
    """A RoutingEngine whose micro-batch calls are wrapped in spans:
    ``batch`` (process_batch start to unpersist end) with children
    ``engine.process_batch``, ``engine.materialize``, the sink writes
    and ``engine.unpersist``."""
    from kinesis_handler_spark.routing import RoutingEngine

    class TracedEngine(RoutingEngine):
        current = None
        run_tag = None

        def process_batch(self, records, *, cache=False):
            batch = tracer.open("batch")
            batch.attrs.update(run=TracedEngine.run_tag, jobs=job_counter())
            TracedEngine.current = batch
            with tracer.span("engine.process_batch", batch.span_id):
                result = super().process_batch(records, cache=cache)
            materialize, unpersist = result.materialize, result.unpersist

            def traced_materialize():
                with tracer.span("engine.materialize", batch.span_id):
                    materialize()

            def traced_unpersist():
                try:
                    with tracer.span("engine.unpersist", batch.span_id):
                        unpersist()
                finally:
                    batch.attrs["jobs"] = job_counter() - batch.attrs["jobs"]
                    tracer.close(batch)

            result.materialize = traced_materialize
            result.unpersist = traced_unpersist
            return result

    return TracedEngine


class TimedSinks:
    """The parquet channel sinks, noting when each batch's last write
    returned (the commit time every latency is measured to) and, when
    tracing, a span per write."""

    def __init__(self, base_dir: str, tracer: Tracer | None, engine_cls) -> None:
        from kinesis_handler_spark.io.sinks import ParquetChannelSinks

        self.base_dir = base_dir
        self.inner = ParquetChannelSinks(base_dir)
        self.tracer = tracer
        self.engine_cls = engine_cls
        self.commit: dict[int, float] = {}
        self._lock = threading.Lock()

    def _write(self, channel: str, fn, batch_id: int) -> None:
        if self.tracer is None:
            fn()
        else:
            batch = self.engine_cls.current
            batch.batch = batch_id
            with self.tracer.span(f"sinks.{channel}", batch.span_id, batch_id):
                fn()
        done = time.time()
        with self._lock:
            self.commit[batch_id] = max(self.commit.get(batch_id, 0.0), done)

    def routed(self, sid, df, batch_id):
        self._write("routed", lambda: self.inner.routed(sid, df, batch_id), batch_id)

    def dead_letter(self, df, batch_id):
        self._write("dead_letter", lambda: self.inner.dead_letter(df, batch_id), batch_id)

    def unknown(self, df, batch_id):
        self._write("unknown", lambda: self.inner.unknown(df, batch_id), batch_id)

    def output_files(self) -> tuple[int, int]:
        files = size = 0
        for root, _, names in os.walk(self.base_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size


def read_channels(base_dir: str) -> list[tuple[str, str, int]]:
    """(eventID, channel, batch_id) for every row the sinks wrote."""
    rows = []

    def scan(path: str, label):
        if not os.path.isdir(path):
            return
        cols = ["eventID", "batch_id"] + (["reason"] if label is None else [])
        t = pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
        ids, batches = t.column("eventID").to_pylist(), t.column("batch_id").to_pylist()
        labels = (
            [f"dead_letter/{r}" for r in t.column("reason").to_pylist()]
            if label is None else [label] * len(ids)
        )
        rows.extend(zip(ids, labels, batches))

    from kinesis_handler_spark.io.sinks import _sanitize

    routed = os.path.join(base_dir, "routed")
    schema_dirs = {_sanitize(s): s for s in (CREATE_ID, PURCHASE_ID, COUPON_ID)}
    for d in sorted(os.listdir(routed)) if os.path.isdir(routed) else []:
        scan(os.path.join(routed, d), _routed(schema_dirs.get(d, d)))
    scan(os.path.join(base_dir, "dead_letter"), None)
    scan(os.path.join(base_dir, "unknown"), "unknown")
    return rows


def check(rows, truth: Truth) -> tuple[int, dict[str, int]]:
    """Failures against the ground truth: a record in the wrong channel
    or with the wrong reason, missing, duplicated or never generated.
    Also returns the per-channel counts seen."""
    seen: dict[str, int] = {}
    counts: dict[str, int] = {}
    failed = 0
    for event_id, channel, _ in rows:
        counts[channel] = counts.get(channel, 0) + 1
        seen[event_id] = seen.get(event_id, 0) + 1
        if truth.channel.get(event_id) != channel:
            failed += 1
    failed += sum(n - 1 for n in seen.values() if n > 1)
    failed += sum(1 for e in truth.channel if e not in seen)
    return failed, counts


# -- one streaming query ------------------------------------------------------


@dataclass
class StreamRun:
    """What one query run left behind for the metrics."""

    tag: str
    start: float
    cpu_s: float
    sinks: TimedSinks
    progress: list
    rows: list
    failed: int
    counts: dict[str, int]


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


class RoutingBench:
    """Session-scoped state of a routing workload."""

    def __init__(self, harness) -> None:
        self.h = harness
        self.engine_cls = None
        self.engine = None
        self.round = 0

    # set-up: what a consumer pays before its first record
    def setup_once(self) -> None:
        from kinesis_handler_spark.routing import RoutingEngine

        tr = self.h.tracer
        self.h.restart_session()
        self.engine_cls = (
            RoutingEngine if tr is None
            else traced_engine_class(tr, self.h.job_counter)
        )
        if tr is None:
            self.engine = build_engine(self.engine_cls)
        else:
            with tr.span("schema_compiler.compile"):
                self.engine = build_engine(self.engine_cls)

    def _start(self, tag: str) -> tuple[str, str, str]:
        """A fresh output tree and checkpoint, and the query's span tag."""
        self.round += 1
        tag = f"{tag}-{self.round}"
        base = os.path.join(self.h.work, tag)
        self.engine_cls.run_tag = tag
        return tag, os.path.join(base, "out"), os.path.join(base, "ck")

    def drain(self, src: str, truth: Truth, tag: str) -> StreamRun:
        from kinesis_handler_spark.io.sources import envelope_json_stream

        tag, out, ck = self._start(tag)
        sinks = TimedSinks(out, self.h.tracer, self.engine_cls)
        cpu0 = self.h.cpu_s()
        start = time.time()
        q = self.engine.run_stream(
            envelope_json_stream(self.h.spark, src, max_files_per_trigger=FILES_PER_TRIGGER),
            checkpoint_dir=ck,
            routed_sink=sinks.routed,
            dead_letter_sink=sinks.dead_letter,
            unknown_sink=sinks.unknown,
            sink_parallelism=self.h.cores,
        )
        q.awaitTermination()
        return self._finish(q, tag, start, self.h.cpu_s() - cpu0, sinks, truth)

    def _finish(self, q, tag, start, cpu_s, sinks, truth) -> StreamRun:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        rows = read_channels(sinks.base_dir)
        failed, counts = check(rows, truth)
        return StreamRun(tag, start, cpu_s, sinks, progress_of(q), rows, failed, counts)

    def live(self, seconds: float, seed: int) -> tuple[StreamRun, Truth, dict]:
        """Open loop for ``seconds`` (after LIVE_RAMP_S of ramp); then
        wait for the consumer to commit everything written (up to
        LIVE_GRACE_S)."""
        from kinesis_handler_spark.io.sources import envelope_json_stream

        tag, out, ck = self._start("live")
        src = os.path.join(self.h.work, tag, "src")
        os.makedirs(src)
        sinks = TimedSinks(out, self.h.tracer, self.engine_cls)
        gen = Generator(seed + 1_000_003)
        truth, lags = Truth(), []
        per_tick = int(LIVE_RATE * LIVE_TICK_S)
        stop = threading.Event()
        failure: list[BaseException] = []

        def produce(t0: float) -> None:
            try:
                tick = 0
                while not stop.is_set():
                    due = t0 + tick * LIVE_TICK_S
                    if due - t0 >= LIVE_RAMP_S + seconds:
                        return
                    pause = due - time.time()
                    if pause > 0 and stop.wait(pause):
                        return
                    lines, t = gen.lines(per_tick, tick % FILES_PER_TRIGGER, due)
                    write_file(src, f"tick-{tick:06d}.json", lines)
                    lags.append(time.time() - due)
                    truth.add(t)
                    tick += 1
            except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
                failure.append(exc)

        cpu0 = self.h.cpu_s()
        q = self.engine.run_stream(
            envelope_json_stream(self.h.spark, src),
            checkpoint_dir=ck,
            routed_sink=sinks.routed,
            dead_letter_sink=sinks.dead_letter,
            unknown_sink=sinks.unknown,
            trigger_available_now=False,
            sink_parallelism=self.h.cores,
        )
        start = time.time()
        producer = threading.Thread(target=produce, args=(start,), name="open-loop")
        producer.start()
        try:
            producer.join()
            if failure:
                raise failure[0]
            written = len(truth.channel)
            deadline = time.time() + LIVE_GRACE_S
            while time.time() < deadline and q.exception() is None:
                if sum(p["numInputRows"] for p in progress_of(q)) >= written:
                    break
                time.sleep(0.05)
            cpu_s = self.h.cpu_s() - cpu0
        finally:
            stop.set()
            producer.join()
            q.stop()
        run = self._finish(q, tag, start, cpu_s, sinks, truth)
        held = {e for e, _, _ in run.rows}
        return run, truth, {
            "gen_lag_s": max(lags, default=0.0),
            "backlog_end_records": sum(1 for e in truth.channel if e not in held),
        }


# -- metrics ------------------------------------------------------------------------


def record_latencies(run: StreamRun, truth: Truth) -> list[float]:
    """Each record's due time to its micro-batch's last channel write,
    for records due after the ramp."""
    counted_from = run.start + LIVE_RAMP_S
    return [
        run.sinks.commit[b] - truth.due[e]
        for e, _, b in run.rows
        if b in run.sinks.commit and truth.due[e] >= counted_from
    ]


ENRICH = ("engine.process_batch", "engine.materialize")
CHANNELS = ("routed", "dead_letter", "unknown")


def layer_metrics(tracer: Tracer, run: StreamRun) -> dict[str, float]:
    """Per-layer figures of one query: medians over its micro-batches,
    each batch's spans (found by query tag and batch id) read beside
    its progress entry."""
    kids: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    spans = {b.batch: b for b in tracer.named("batch") if b.attrs.get("run") == run.tag}
    rows = []
    for p in run.progress:
        d = p["durationMs"]
        b = spans.get(p["batchId"])
        if "addBatch" not in d or b is None:
            continue
        ks = kids.get(b.span_id, [])
        enrich = sum(k.end - k.start for k in ks if k.name in ENRICH)
        sinks = [k for k in ks if k.name.startswith("sinks.")]
        trigger = d["triggerExecution"] / 1000
        rows.append({
            "records": p["numInputRows"],
            "jobs": b.attrs.get("jobs", 0),
            "enrich": enrich,
            "trigger": trigger,
            "offset": (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000,
            "commit": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000,
            "overhead": trigger - enrich - union_s([(k.start, k.end) for k in sinks]),
            **{
                ch: union_s([(k.start, k.end) for k in sinks if k.name == f"sinks.{ch}"])
                for ch in CHANNELS
            },
        })

    def med(key):
        return median([r[key] for r in rows])

    files, size = run.sinks.output_files()
    return {
        "sources.offset_s": med("offset"),
        "batch.records": med("records"),
        "batch.jobs": med("jobs"),
        "engine.enrich_s": med("enrich"),
        "engine.enrich_s_per_krec": median(
            [1000 * r["enrich"] / r["records"] for r in rows if r["records"]]
        ),
        **{f"sinks.write_s.{ch}": med(ch) for ch in CHANNELS},
        "sinks.files": files,
        "sinks.bytes": size,
        "checkpoint.commit_s": med("commit"),
        "batch.overhead_s": med("overhead"),
        "batch.max_trigger_s": max([r["trigger"] for r in rows], default=0.0),
    }


# -- workloads ------------------------------------------------------------------


def _stalls(run: StreamRun) -> dict:
    """The slowest trigger against its siblings' median: a single
    trigger far above the rest is a stall, not a throughput change."""
    triggers = [
        p["durationMs"]["triggerExecution"] / 1000
        for p in run.progress if "addBatch" in p["durationMs"]
    ]
    worst = max(triggers, default=0.0)
    rest = sorted(triggers)[:-1] or [worst]
    typical = median(rest)
    return {
        "max_trigger_s": worst,
        "median_trigger_s": typical,
        "stall": worst > 3 * typical and worst - typical > 1.0,
    }


def batch_rates(run: StreamRun) -> list[float]:
    """Records per second of each micro-batch that read input."""
    return [
        p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000)
        for p in run.progress
        if "addBatch" in p["durationMs"] and p["numInputRows"]
    ]


def catchup_latencies(run: StreamRun) -> list[float]:
    """Each drained record's wait from the drain's start to its
    micro-batch's last channel write."""
    return [run.sinks.commit[b] - run.start for _, _, b in run.rows if b in run.sinks.commit]


def run_stream(h, seconds: float, seed: int):
    """``stream``: a consumer pays its first-use costs and most JIT
    compiling on a small untimed backlog, then drains, from a fresh
    checkpoint, a backlog sized to take about ``seconds``.  A traced run
    then also serves an open-loop feed for ``seconds``, for the
    per-layer figures of a live consumer."""
    bench = RoutingBench(h)
    setup = h.time_setup(bench.setup_once)
    h.log("set up")
    gen = Generator(seed)
    warm_src, src = os.path.join(h.work, "warm-src"), os.path.join(h.work, "src")
    warm_truth = write_backlog(gen, warm_src, WARM_RECORDS, 3 * FILES_PER_TRIGGER)
    files = FILES_PER_TRIGGER * max(1, round(seconds / BATCH_S))
    truth = write_backlog(gen, src, files * FILE_RECORDS, files)
    h.log("backlogs written")
    warm = bench.drain(warm_src, warm_truth, "warm")
    h.log("warmed")
    drain = bench.drain(src, truth, "drain")
    h.log("drained")
    n = len(truth.channel)
    result = Outcome(
        attempted=len(warm_truth.channel) + n,
        failed=warm.failed + drain.failed,
        setup_s=setup,
        # the median micro-batch, so that one stalled trigger shows as a
        # stall (max_trigger_s), not as a throughput change
        items_per_s=median(batch_rates(drain)),
        latencies=catchup_latencies(drain),
        cpu_s=drain.cpu_s,
        summary={
            "records_per_s": (n / (max(drain.sinks.commit.values()) - drain.start), "1/s"),
            "backlog_records": (n, "count"),
            "channels": drain.counts,
            "stalls": _stalls(drain),
        },
    )
    if h.tracer is not None:
        result.layers.update(
            {f"drain.{k}": v for k, v in layer_metrics(h.tracer, drain).items()}
        )
        result.layers["drain.schema_compiler.fallback_records"] = truth.fallback
        live, live_truth, extra = bench.live(seconds, seed)
        h.log("live window closed")
        result.attempted += len(live_truth.channel)
        result.failed += live.failed
        latencies = record_latencies(live, live_truth)
        p99, pct, samples = tail_percentile(latencies)
        result.summary["live"] = {
            "offered_rate": (LIVE_RATE, "1/s"),
            "latency_p50_s": (median(latencies), "s"),
            "latency_tail_s": (p99, "s"),
            "latency_tail": {"percentile": round(pct, 2), "samples": samples},
            "records_per_s": (
                len(live.rows) / (max(live.sinks.commit.values()) - live.start), "1/s"
            ),
            "gen_lag_s": (extra["gen_lag_s"], "s"),
            "backlog_end_records": (extra["backlog_end_records"], "count"),
            "channels": live.counts,
            "stalls": _stalls(live),
        }
        result.layers.update(
            {f"live.{k}": v for k, v in layer_metrics(h.tracer, live).items()}
        )
        result.layers["live.schema_compiler.fallback_records"] = live_truth.fallback
        result.layers["live.generator.lag_s"] = extra["gen_lag_s"]
        result.layers["live.backlog.end_records"] = extra["backlog_end_records"]
    return result
