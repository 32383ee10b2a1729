"""CDC replay benchmark: WAL bytes to Kafka acks, plus a batch query suite.

Run from the repository root:

    python3 perfbench/run.py --workload wal_restart --seed 1 --seconds 10 --trace 0

Workloads (see README.md):
  wal_restart   the WAL backlog waiting at the slot after downtime is drained
                by the program's live path, then a second stream tails live
                commits at a fixed rate for --seconds seconds
  query_suite   registered batch queries at sf0.1, each built, executed and
                re-executed, checked against their DuckDB oracles

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: every end-to-end metric with
--trace 0, every per-layer metric with --trace 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "timescaledb_event_streamer_spark"
sys.path.insert(0, HERE)

#: warm set-ups per run, after the cold one; setup_s is their median
SETUP_REPS = 4
#: stream builds the traced run times between the backlog and the tail
TRACED_BUILDS = 8
#: longest wait for the last ack beyond the load's own --seconds
DRAIN_TIMEOUT_S = 60.0
#: the suite: nine of the frozen round-1 headline queries, one per
#: operator family, then the heavy builder dedup_sparse_cosine_capped
#: (README.md says which were left out to keep a run within its budget)
SUITE = [
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
    "cdc_envelope_stream", "cdc_snapshot_stream_merge", "ts_gapfill_locf",
    "dedup_exact", "ann_bruteforce_topk", "text_token_count",
    "dedup_sparse_cosine_capped",
]

#: run once, untimed, before the suite
WARMUP_QUERY = "q6_forecast_revenue"

END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_start_s": "s", "ops_per_s": "1/s", "latency_ms": "ms",
    "tail_latency_ms": "ms", "first_s": "s", "steady_s": "s",
}
CDC_LAYERS = {
    "feeder.frames": "count", "feeder.files": "count", "feeder.pump_s": "s",
    "feeder.land_wait_p50_ms": "ms",
    "stream.batches": "count", "stream.rows_per_batch_p50": "rows",
    "stream.trigger_ms": "ms", "stream.get_batch_ms": "ms", "stream.planning_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.commit_ms": "ms", "stream.state_commit_ms": "ms",
    "stream.state_rows": "rows", "stream.pickup_wait_p50_ms": "ms",
    "stream.batch_self_s": "s", "stream.build_s": "s",
    "resolve.s": "s", "resolve.rows": "rows", "resolve.decode_s": "s",
    "resolve.batch_parse_s": "s",
    "encode.s": "s", "encode.value_bytes": "bytes",
    "deliver.s": "s", "deliver.records": "count", "deliver.requests": "count",
    "deliver.records_per_request": "records", "deliver.connections": "count",
    "deliver.bytes": "bytes", "deliver.duplicates": "count", "deliver.produce_rows_s": "s",
    "deliver.crc_mb_per_s": "MB/s",
    "load.offered_changes": "count", "load.late_p95_ms": "ms",
}
QUERY_LAYERS = {f"query.{q}.{m}": u for q in SUITE
                for m, u in (("build_s", "s"), ("build_jobs", "count"),
                             ("first_s", "s"), ("steady_s", "s"))}
PER_LAYER = {**CDC_LAYERS, **QUERY_LAYERS, "session.start_s": "s",
             "session.cold_start_s": "s", "trace.overhead_s": "s"}

T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, -(-len(xs) * round(q * 1000) // 1000))  # ceil(q * n)
    return xs[min(rank, len(xs)) - 1]


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def stop_session() -> None:
    """Stop the running session, if any; the JVM keeps running."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def start_session():
    """Start the program's default session and run one trivial job; the
    first call of a run also launches the JVM. Returns (spark, seconds)."""
    from timescaledb_event_streamer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# wal_restart


class LoadGen:
    """The load-generator subprocess and its line-based control channel."""

    def __init__(self, seed: int, seconds: float, workdir: str):
        cmd = [sys.executable, os.path.join(HERE, "loadgen.py"), "--seed", str(seed),
               "--seconds", str(seconds), "--workdir", workdir]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     text=True, bufsize=1)
        ports = self._read()
        self.pg_port, self.kafka_port = ports["pg_port"], ports["kafka_port"]
        self.workdir, self.seconds = workdir, seconds

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        return json.loads(line)

    def cmd(self, *words: str) -> dict:
        self.proc.stdin.write(" ".join(words) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def collect(self, name: str) -> dict:
        self.cmd("collect", name)
        with open(os.path.join(self.workdir, name)) as fh:
            out = json.load(fh)
        out["batches_path"] = os.path.join(self.workdir, name + ".batches")
        return out

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.cmd("quit")
            except (RuntimeError, BrokenPipeError, ValueError):
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def make_feeder_class():
    """ReplicationFeeder that records when each landing file appears and
    which LSNs it holds; the program's landing itself is unchanged."""
    from timescaledb_event_streamer_spark.sources.pg_replication import ReplicationFeeder

    class RecordingFeeder(ReplicationFeeder):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.files: list[tuple[float, float, list[int]]] = []  # (mono, wall, lsns)

        def flush_landing(self):
            lsns = [int(h[2:18], 16) for h in self._pending]
            n = super().flush_landing()
            if n:
                self.files.append((time.monotonic(), time.time(), lsns))
            return n

    return RecordingFeeder


def load_catalog(spark, lg: LoadGen, directory: str):
    """Catalog session: the publication's relation frames land through the
    feeder, then relation_catalog decodes them."""
    from pyspark.sql import functions as F

    from timescaledb_event_streamer_spark.sources.pg_replication import ReplicationFeeder
    from timescaledb_event_streamer_spark.sources.pgoutput import relation_catalog

    import walgen
    from loadgen import CATALOG_SLOT

    with socket.create_connection(("127.0.0.1", lg.pg_port)) as sock:
        feeder = ReplicationFeeder(sock, landing_dir=directory, slot_name=CATALOG_SLOT)
        feeder.handshake()
        feeder.pump()
    catalog = relation_catalog(spark.read.text(directory).select(F.col("value").alias("frame")))
    n = len(catalog.collect())
    if n != len(walgen.RELATIONS):
        raise RuntimeError(f"catalog decoded {n} relations")
    return catalog


def wait_idle(query, timeout_s: float = 60.0) -> None:
    """Until no trigger runs and the stream waits for data."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        st = query.status
        if not st["isTriggerActive"] and "Waiting" in st["message"]:
            return
        time.sleep(0.005)
    raise RuntimeError("stream did not become idle")


def wait_delivered(lg: LoadGen, query, box: dict, pump_thread) -> None:
    """Until the receiver holds as many records as the session encoded, or
    the load's --seconds plus DRAIN_TIMEOUT_S have passed (the checks then
    count what is missing). Raises if the feeder, the replication session
    or the stream failed."""
    deadline = time.monotonic() + lg.seconds + DRAIN_TIMEOUT_S
    while time.monotonic() < deadline:
        # read before the status: the server sets `expected` before it
        # ends the session, so a pump that had ended with `expected` still
        # unset was never served its load
        pump_ended = pump_thread is not None and not pump_thread.is_alive()
        st = lg.cmd("status")
        if st["expected"] is not None and st["records"] >= st["expected"]:
            return
        for err in (box.get("error"), st["error"], query.exception()):
            if err is not None:
                raise RuntimeError(str(err))
        if st["expected"] is None and pump_ended:
            raise RuntimeError("replication session ended before its load was served")
        time.sleep(0.02)


def start_stream(spark, catalog, landing: str, ckpt: str, broker, name: str, tracer):
    """The program's live path over `landing`. Untraced: kafka_sink_stream
    unchanged. Traced: a foreachBatch wrapper that materialises the
    envelope batch, then encodes, then delivers, each under its own span."""
    from pyspark.sql import functions as F

    from timescaledb_event_streamer_spark.sinks.kafka_delivery import (
        kafka_sink_batch,
        kafka_sink_stream,
    )
    from timescaledb_event_streamer_spark.sinks.writers import kafka_shaped
    from timescaledb_event_streamer_spark.sources.pgoutput import pgoutput_envelope_stream

    src = (spark.readStream.format("text").schema("value string").load(landing)
           .select(F.col("value").alias("frame")))
    env = pgoutput_envelope_stream(src, catalog)
    if not tracer.enabled:
        writer = kafka_sink_stream(kafka_shaped(env), broker, checkpoint_dir=ckpt,
                                   query_name=name)
        return writer.start()

    def traced_batch(b, _batch_id):
        with tracer.span("stream.batch"):
            with tracer.span("resolve"):
                b = b.persist()
                tracer.count("resolve.rows", b.count())
            with tracer.span("encode"):
                shaped = kafka_shaped(b).persist()
                tracer.count("encode.value_bytes",
                             shaped.agg(F.sum(F.length("value"))).collect()[0][0] or 0)
            with tracer.span("deliver"):
                kafka_sink_batch(shaped, broker)
            shaped.unpersist()
            b.unpersist()

    writer = (env.writeStream.queryName(name).foreachBatch(traced_batch)
              .outputMode("append").option("checkpointLocation", ckpt))
    return writer.start()


def cdc_phase(ctx, spark, catalog, lg: LoadGen, phase: str, tag: str, tracer) -> dict:
    """One replication session (backlog or tail) through feeder, stream and
    sink; returns the receiver's record of it plus stream and feeder facts."""
    from loadgen import BACKLOG_SLOT, TAIL_SLOT

    landing = os.path.join(ctx.work, f"landing-{phase}-{tag}")
    ckpt = os.path.join(ctx.work, f"ckpt-{phase}-{tag}")
    os.makedirs(landing)
    broker = ("127.0.0.1", lg.kafka_port)
    feeder_cls = make_feeder_class()
    box: dict = {}

    def pump(slot: str) -> None:
        try:
            with socket.create_connection(("127.0.0.1", lg.pg_port)) as sock:
                feeder = feeder_cls(sock, landing_dir=landing, slot_name=slot)
                box["feeder"] = feeder
                feeder.handshake()
                t0 = time.perf_counter()
                feeder.pump()
                box["pump_s"] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - re-raised by the caller
            box["error"] = repr(e)

    th = None
    t0 = time.perf_counter()
    if phase == "backlog":
        # the whole WAL lands before the stream starts, as after downtime
        pump(BACKLOG_SLOT)
    query = start_stream(spark, catalog, landing, ckpt, broker,
                         f"perfbench_{phase}_{tag}", tracer)
    if phase == "tail":
        wait_idle(query)
        build_s = time.perf_counter() - t0
        th = threading.Thread(target=pump, args=(TAIL_SLOT,), daemon=True)
        th.start()
        while "feeder" not in box and th.is_alive():
            time.sleep(0.01)
        lg.cmd("go")
    try:
        wait_delivered(lg, query, box, th)
        if th is not None:
            th.join(timeout=30)
        if "error" in box:
            raise RuntimeError(box["error"])
        wait_idle(query)  # let the last batch commit before stopping
    finally:
        query.stop()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    for p in progress:
        log(f"{phase}/{tag} batch {p['batchId']}: {p['numInputRows']} rows "
            f"{p['durationMs']['triggerExecution']} ms")
    result = lg.collect(f"delivered-{phase}-{tag}.json")
    feeder = box["feeder"]
    result.update(progress=progress, landing=landing, build_s=build_s if th else None,
                  feeder={"frames": feeder.frames_landed, "files": feeder.files,
                          "pump_s": box.get("pump_s", 0.0)})
    return result


def cdc_outcome(result: dict) -> dict:
    """Checks one phase against its ledger and derives its figures."""
    import checks
    import walgen

    ledger = [walgen.Change(*row) for row in result["ledger"]]
    verdict = checks.check_delivery(ledger, result["records"])
    acks = {ident: rec[3] for ident, rec in verdict["seen"].items()}
    last_ack = max((r[3] for r in result["records"]), default=result["first_byte_t"])
    due = {int(k): v for k, v in result["due"].items()}
    per_tx: dict[int, float] = {}
    for c in ledger:
        t = acks.get((c.topic, c.lsn))
        if t is not None:
            per_tx[c.xid] = max(per_tx.get(c.xid, t), t)
    return {
        "verdict": verdict, "attempted": len(ledger),
        "failed": len(verdict["failed"]),
        "correct": not verdict["failed"] and verdict["extra"] == 0
        and result["bad_batches"] == 0,
        "elapsed_s": last_ack - result["first_byte_t"],
        "commit_to_ack_ms": [(per_tx[x] - due[x]) * 1000.0 for x in per_tx if x in due],
    }


def build_stream(ctx, spark, catalog, lg: LoadGen, name: str, tracer):
    """Build and start the live path on an empty landing directory; returns
    the query once it waits for data, and the seconds that took."""
    landing = os.path.join(ctx.work, f"landing-{name}")
    os.makedirs(landing)
    t0 = time.perf_counter()
    query = start_stream(spark, catalog, landing, os.path.join(ctx.work, f"ckpt-{name}"),
                         ("127.0.0.1", lg.kafka_port), f"perfbench_{name}", tracer)
    wait_idle(query)
    return query, time.perf_counter() - t0


def cdc_pass(ctx, spark, catalog, lg: LoadGen, tag: str, tracer) -> tuple[dict, dict]:
    backlog = cdc_phase(ctx, spark, catalog, lg, "backlog", tag, tracer)
    builds = []
    if tracer.enabled:
        # stream.build_s: timed here, on a JVM the backlog has warmed, as
        # right after start-up the JIT compiler makes sub-second steps erratic
        for k in range(TRACED_BUILDS):
            query, secs = build_stream(ctx, spark, catalog, lg, f"build-{k}-{tag}", tracer)
            query.stop()
            builds.append(secs)
    tail = cdc_phase(ctx, spark, catalog, lg, "tail", tag, tracer)
    backlog["build_s"] = p50(builds + [tail["build_s"]])
    return backlog, tail


def cdc_end_to_end(backlog: dict, tail: dict, b_out: dict, t_out: dict) -> dict:
    lat = t_out["commit_to_ack_ms"]
    return {
        "ops_per_s": b_out["attempted"] / b_out["elapsed_s"],
        "latency_ms": p50(lat),
        "tail_latency_ms": quantile(lat, 0.95),
        "first_s": backlog["progress"][0]["durationMs"]["triggerExecution"] / 1000.0,
        "steady_s": p50([p["durationMs"]["triggerExecution"] for p in tail["progress"]])
        / 1000.0,
    }


def cdc_layers(spark, phases: list[tuple[dict, dict]], tracer, lg: LoadGen) -> dict:
    """Per-layer figures of the traced pass (both phases), plus off-stream
    probes of decode, batch parse, produce and CRC32C over the backlog."""
    from pyspark.sql import functions as F

    from timescaledb_event_streamer_spark.sinks import kafka_wire
    from timescaledb_event_streamer_spark.sinks.kafka_delivery import produce_rows
    from timescaledb_event_streamer_spark.sinks.writers import kafka_shaped
    from timescaledb_event_streamer_spark.sources.pgoutput import (
        decode_frames,
        parse_pgoutput,
        release_persisted_frames,
    )

    m: dict[str, float] = {}
    results = [r for r, _ in phases]
    m["feeder.frames"] = sum(r["feeder"]["frames"] for r in results)
    m["feeder.files"] = sum(len(r["feeder"]["files"]) for r in results)
    m["feeder.pump_s"] = sum(r["feeder"]["pump_s"] for r in results)
    # landing and pickup waits matter for the tail's latency: taken there
    tail = results[1]
    sent = dict(tail["frame_sent"])
    m["feeder.land_wait_p50_ms"] = p50([(t_land - sent[lsn]) * 1000.0
                                        for t_land, _w, lsns in tail["feeder"]["files"]
                                        for lsn in lsns if lsn in sent])
    prog = [p for r in results for p in r["progress"]]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    m["stream.batches"] = len(prog)
    m["stream.rows_per_batch_p50"] = p50([p["numInputRows"] for p in prog])
    for key, name in (("triggerExecution", "trigger_ms"), ("getBatch", "get_batch_ms"),
                      ("queryPlanning", "planning_ms"), ("addBatch", "add_batch_ms")):
        m[f"stream.{name}"] = p50(dur(key))
    m["stream.commit_ms"] = p50([a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))])
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    m["stream.state_commit_ms"] = p50([o.get("commitTimeMs", 0) for o in ops])
    m["stream.state_rows"] = ops[-1].get("numRowsTotal", 0) if ops else 0
    starts = sorted(_iso_to_unix(p["timestamp"]) for p in tail["progress"])
    pickup = []
    for _mono, wall, _l in tail["feeder"]["files"]:
        later = [s for s in starts if s >= wall]
        if later:
            pickup.append((later[0] - wall) * 1000.0)
    m["stream.pickup_wait_p50_ms"] = p50(pickup)
    m["stream.batch_self_s"] = tracer.self_time("stream.batch")
    m["stream.build_s"] = results[0]["build_s"]
    m["resolve.s"] = tracer.total("resolve")
    m["resolve.rows"] = tracer.counters.get("resolve.rows", 0)
    m["encode.s"] = tracer.total("encode")
    m["encode.value_bytes"] = tracer.counters.get("encode.value_bytes", 0)
    m["deliver.s"] = tracer.total("deliver")
    m["deliver.records"] = sum(r["record_count"] for r in results)
    m["deliver.requests"] = sum(r["requests"] for r in results)
    m["deliver.records_per_request"] = m["deliver.records"] / max(m["deliver.requests"], 1)
    m["deliver.connections"] = sum(r["connections"] for r in results)
    m["deliver.bytes"] = sum(r["bytes"] for r in results)
    m["deliver.duplicates"] = sum(o["verdict"]["duplicates"] for _, o in phases)

    backlog = results[0]
    frames = spark.read.text(backlog["landing"]).select(F.col("value").alias("frame"))
    with tracer.span("probe.decode"):
        decode_frames(frames).write.mode("overwrite").format("noop").save()
    m["resolve.decode_s"] = tracer.total("probe.decode")
    with tracer.span("probe.batch_parse"):
        parse_pgoutput(frames).write.mode("overwrite").format("noop").save()
    m["resolve.batch_parse_s"] = tracer.total("probe.batch_parse")
    rows = kafka_shaped(parse_pgoutput(frames)).collect()
    release_persisted_frames()
    with tracer.span("probe.produce_rows"):
        produce_rows(rows, ("127.0.0.1", lg.kafka_port))
    m["deliver.produce_rows_s"] = tracer.total("probe.produce_rows")
    lg.collect("probe-produce.json")
    with open(backlog["batches_path"], "rb") as fh:
        data = fh.read()
    spans, pos = [], 0
    while pos < len(data):
        n = int.from_bytes(data[pos:pos + 4], "big")
        spans.append(data[pos + 4 + 21:pos + 4 + n])  # attributes..end: the CRC span
        pos += 4 + n
    with tracer.span("probe.crc32c"):
        for b in spans:
            kafka_wire.crc32c(b)
    m["deliver.crc_mb_per_s"] = (sum(len(b) for b in spans) / 1e6
                                 / max(tracer.total("probe.crc32c"), 1e-9))
    m["load.offered_changes"] = sum(o["attempted"] for _, o in phases)
    late = [x for r in results for x in r["late_ms"]]
    m["load.late_p95_ms"] = quantile(late, 0.95) if late else 0.0
    return m


def _iso_to_unix(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run_wal_restart(ctx, tracer) -> dict:
    lg = LoadGen(ctx.seed, ctx.seconds, ctx.work)
    ctx.closers.append(lg.close)
    from spans import Tracer

    plain = Tracer(tracer.run_id, False)
    # set-up 0 is cold (it launches the JVM); the others restart the
    # session in that JVM, each timed once the previous one has stopped
    setups, starts = [], []
    for k in range(1 + SETUP_REPS):
        stop_session()
        t0 = time.perf_counter()
        spark, start_s = start_session()
        catalog = load_catalog(spark, lg, os.path.join(ctx.work, f"catalog-{k}"))
        query, build_s = build_stream(ctx, spark, catalog, lg, f"setup-{k}", plain)
        setups.append(time.perf_counter() - t0)
        query.stop()
        starts.append(start_s)
        log(f"setup {k}: {setups[-1]:.2f}s (session {start_s:.2f}s, stream {build_s:.2f}s)")

    backlog, tail = cdc_pass(ctx, spark, catalog, lg, "plain", plain)
    b_out, t_out = cdc_outcome(backlog), cdc_outcome(tail)
    e2e = cdc_end_to_end(backlog, tail, b_out, t_out)
    log(f"plain pass: {e2e}")
    outs = [b_out, t_out]
    metrics = {"setup_s": p50(setups[1:]), "cold_start_s": setups[0], **e2e}
    if tracer.enabled:
        tb, tt = cdc_pass(ctx, spark, catalog, lg, "traced", tracer)
        tb_out, tt_out = cdc_outcome(tb), cdc_outcome(tt)
        outs += [tb_out, tt_out]
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(cdc_layers(spark, [(tb, tb_out), (tt, tt_out)], tracer, lg))
        metrics["session.start_s"] = p50(starts[1:])
        metrics["session.cold_start_s"] = starts[0]
        # per tail micro-batch, where both passes run on a warm session
        # (the untraced backlog drains cold, the traced one warm)
        metrics["trace.overhead_s"] = cdc_end_to_end(tb, tt, tb_out, tt_out)["steady_s"] - e2e[
            "steady_s"]
    return {"correct": all(o["correct"] for o in outs),
            "attempted": sum(o["attempted"] for o in outs),
            "failed": sum(o["failed"] for o in outs), "metrics": metrics}


# ---------------------------------------------------------------------------
# query_suite


def _canon():
    """tools/check.py's canonical form, the comparison the oracle gate uses."""
    spec = importlib.util.spec_from_file_location("_oracle_check",
                                                  os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def run_again(df) -> None:
    """A full re-execution of a built plan: a noop write starts a new query
    execution, so no stage output of the first one is reused."""
    df.write.mode("overwrite").format("noop").save()


def run_query_suite(ctx, tracer) -> dict:
    import duckdb

    import checks
    import datagen
    from timescaledb_event_streamer_spark.plans.registry import all_oracles, all_queries
    from timescaledb_event_streamer_spark.sources.tables import TABLES

    data = os.path.join(ctx.work, "sf0.1")
    datagen.write(data, ctx.seed)
    canon = _canon()
    setups = []
    for k in range(1 + SETUP_REPS):  # set-up 0 is cold, as on wal_restart
        stop_session()
        spark, start_s = start_session()
        setups.append(start_s)
        log(f"setup {k}: {start_s:.2f}s")
    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    # one untimed query first, as bench.py does, so that the first timed
    # query does not carry the session's one-off warm-up
    run_again(queries[WARMUP_QUERY](spark, data))
    sc = spark.sparkContext
    status = sc.statusTracker()
    per_q: dict[str, dict] = {}
    failed = 0
    for name in SUITE:
        rec = per_q[name] = {}
        try:
            sc.setJobGroup(f"build-{name}", name)
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}.build"):
                df = queries[name](spark, data)
            t1 = time.perf_counter()
            rec["build_jobs"] = len(status.getJobIdsForGroup(f"build-{name}"))
            sc.setJobGroup("run", "run")
            with tracer.span(f"query.{name}.first"):
                got = df.toPandas()
            t2 = time.perf_counter()
            with tracer.span(f"query.{name}.steady"):
                run_again(df)
            t3 = time.perf_counter()
            rec.update(build_s=t1 - t0, first_s=t2 - t1, steady_s=t3 - t2, df=df)
            ok = checks.frames_match(got, con.sql(oracles[name]).df(), canon)
        except Exception as e:  # noqa: BLE001 - a failing query is a failed operation
            log(f"{name}: {e!r}")
            ok = False
        if not ok:
            failed += 1
            rec.update(build_s=0.0, first_s=0.0, steady_s=0.0, build_jobs=0)
        log(f"{name}: ok={ok} " + " ".join(f"{k}={v:.2f}" for k, v in rec.items()
                                            if isinstance(v, float)))
    timed = [r for r in per_q.values() if r["first_s"] > 0]
    if tracer.enabled:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        for name, r in per_q.items():
            for m in ("build_s", "build_jobs", "first_s", "steady_s"):
                metrics[f"query.{name}.{m}"] = r[m]
        metrics["session.start_s"] = p50(setups[1:])
        metrics["session.cold_start_s"] = setups[0]
        # tracing overhead: the traced re-executions against one more
        # round of them with spans and job groups off
        t0 = time.perf_counter()
        for r in timed:
            run_again(r["df"])
        metrics["trace.overhead_s"] = sum(r["steady_s"] for r in timed) - (
            time.perf_counter() - t0)
    else:
        totals = [r["build_s"] + r["first_s"] for r in timed]
        work = sum(r["build_s"] + r["first_s"] + r["steady_s"] for r in timed)
        metrics = {
            "setup_s": p50(setups[1:]),
            "cold_start_s": setups[0],
            "ops_per_s": len(timed) / work if work else 0.0,
            # ten unlike queries: a median would jump between them, so the
            # typical latency is their geometric mean
            "latency_ms": statistics.geometric_mean(totals) * 1000.0 if totals else 0.0,
            "tail_latency_ms": max(totals, default=0.0) * 1000.0,
            "first_s": sum(r["first_s"] for r in timed),
            "steady_s": sum(r["steady_s"] for r in timed),
        }
    return {"correct": failed == 0, "attempted": len(SUITE), "failed": failed,
            "metrics": metrics}


# ---------------------------------------------------------------------------


def stop_spark() -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Ctx:
    """Run-wide settings and the clean-up list."""

    def __init__(self, args):
        base = os.path.join(ROOT, ".perfbench_work")
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.traces = os.path.join(base, "traces")
        self.closers: list = []


WORKLOADS = {"wal_restart": run_wal_restart, "query_suite": run_query_suite}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)",
              file=sys.stderr)
        return 2

    from spans import Tracer

    ctx = Ctx(args)
    tracer = Tracer(f"{args.workload}-{args.seed}", bool(args.trace))
    tmp = os.path.join(ctx.work, "tmp")
    for d in (ctx.work, ctx.traces, tmp):
        os.makedirs(d, exist_ok=True)
    # Spark's Python workers import the package from the checkout, and
    # scratch files of the JVM and Python stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    os.chdir(ctx.work)
    try:
        out = WORKLOADS[args.workload](ctx, tracer)
    finally:
        stop_spark()
        for close in ctx.closers:
            close()
        os.chdir(ROOT)
        shutil.rmtree(ctx.work, ignore_errors=True)
    if tracer.enabled:
        tracer.write(os.path.join(ctx.traces, f"{args.workload}-{args.seed}.json"))
    units = PER_LAYER if tracer.enabled else END_TO_END
    out["metrics"] = {k: {"value": float(out["metrics"][k]), "unit": u}
                      for k, u in units.items()}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
