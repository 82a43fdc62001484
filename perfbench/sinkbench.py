"""Sink workloads: a file stream through ``RedisCounterSink`` into
``MiniRedisServer`` over TCP.

Closed loop: the generator wrote a backlog of event files before the session
started, and the query drains it one file per micro-batch
(``maxFilesPerTrigger=1``) as fast as it can, so the run measures capacity.
The first batch that would not end within ``--seconds`` (judged by the
previous batch) raises :class:`DeadlineReached` before it reaches the sink,
which ends the query with every committed batch complete and nothing staged.

The traced run records spans around the calls into each layer, from the
benchmark's side of the boundary only:

- ``batch`` (trigger start to the end of the trigger, from the query's
  progress) is the root of each micro-batch's trace;
- ``streaming.pre_sink`` (trigger start to the sink call) and
  ``redis_sink.call`` sit under it;
- ``resp.marker_check``, ``redis_sink.stage``, ``resp.readback`` and
  ``resp.commit`` sit under ``redis_sink.call``. The client calls made in
  this process are timed by :class:`TracedFactory`; staging is the interval
  between the marker check and the read-back, where the sink runs its Spark
  jobs.

Counts are taken at the same boundaries: Spark jobs and tasks from the status
tracker, commands, wire bytes, busy time and connections from
:class:`CountingServer`.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

from bootic_stats_aggregates_spark.io import normalize_ts
from bootic_stats_aggregates_spark.sinks.redis_sink import RedisCounterSink
from bootic_stats_aggregates_spark.sinks.resp import MiniRedisServer, RespClient

from perfbench import checks
from perfbench.spans import Tracer

NAMESPACE = "bench"
WARMUP_NAMESPACE = "warmup"


class DeadlineReached(RuntimeError):
    """Raised by the batch callback once the measured window has passed."""


class RespFactory:
    """Client factory the sink calls once per batch in this process and
    once per partition on the executors; it carries only the URL, so it pickles."""

    def __init__(self, url: str) -> None:
        self.url = url

    def __call__(self) -> RespClient:
        return RespClient.from_url(self.url)


class TracedFactory(RespFactory):
    """Factory whose clients, in this process, time the sink's calls into RESP.

    It pickles as a plain :class:`RespFactory`, so the executors' staging
    clients are untouched and the tracer never leaves this process."""

    def __init__(self, url: str, recorder: "BatchRecorder") -> None:
        super().__init__(url)
        self.recorder = recorder

    def __reduce__(self):
        return (RespFactory, (self.url,))

    def __call__(self) -> "_TimedClient":
        return _TimedClient(RespClient.from_url(self.url), self.recorder)


class _TimedClient:
    def __init__(self, client: RespClient, recorder: "BatchRecorder") -> None:
        self._client = client
        self._rec = recorder

    def __getattr__(self, name):
        return getattr(self._client, name)

    def get(self, key):
        with self._rec.span("resp.marker_check"):
            return self._client.get(key)

    def hgetall(self, key):
        with self._rec.span("resp.readback"):
            return self._client.hgetall(key)

    def pipeline(self, transaction: bool = True):
        pipe = self._client.pipeline(transaction)
        return _TimedPipeline(pipe, self._rec) if transaction else pipe


class _TimedPipeline:
    def __init__(self, pipe, recorder: "BatchRecorder") -> None:
        self._pipe = pipe
        self._rec = recorder
        self._queued = 0

    def __getattr__(self, name):
        queue = getattr(self._pipe, name)

        def counted(*args, **kwargs):
            self._queued += 1
            queue(*args, **kwargs)
            return self

        return counted

    def execute(self):
        self._rec.count("commit_commands", self._queued)
        with self._rec.span("resp.commit"):
            return self._pipe.execute()


class BatchRecorder:
    """Spans and counts of the batch whose sink call is in progress."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.trace: str | None = None
        self.counts: dict[str, dict[str, float]] = {}

    @contextmanager
    def span(self, name: str, parent: str = "redis_sink.call"):
        start = time.time()
        try:
            yield
        finally:
            self.tracer.add(self.trace, name, start, time.time(), parent)

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(self.trace, {})[name] = value


class CountingServer(MiniRedisServer):
    """``MiniRedisServer`` that counts what crosses its socket.

    Every command reaches :meth:`apply` (under the server lock; a MULTI/EXEC
    transaction applies its queue at EXEC), so commands, request and reply
    bytes and the time spent applying them are counted there. The server runs
    in the benchmark process and shares its interpreter lock with the sink."""

    def __init__(self) -> None:
        super().__init__()
        self.commands = 0
        self.wire_bytes = 0
        self.busy_s = 0.0
        self.connections = 0
        accept = self._tcp.verify_request

        def counting_accept(request, client_address):
            self.connections += 1
            return accept(request, client_address)

        self._tcp.verify_request = counting_accept

    def apply(self, parts: list[bytes]) -> bytes:
        start = time.perf_counter()
        reply = super().apply(parts)
        self.busy_s += time.perf_counter() - start
        self.commands += 1
        self.wire_bytes += len(reply) + _request_bytes(parts)
        return reply

    def counters(self) -> dict[str, float]:
        with self.lock:
            return {
                "commands": self.commands,
                "wire_bytes": self.wire_bytes,
                "busy_s": self.busy_s,
                "connections": self.connections,
            }


def _request_bytes(parts: list[bytes]) -> int:
    """Length of ``parts`` framed as a RESP array of bulk strings."""
    n = len(b"*%d\r\n" % len(parts))
    for p in parts:
        n += len(b"$%d\r\n" % len(p)) + len(p) + 2
    return n


def _flush(server: MiniRedisServer) -> None:
    with server.lock:
        server.apply([b"FLUSHDB"])


def _event_stream(spark, src_dir: str):
    schema = spark.read.parquet(glob.glob(os.path.join(src_dir, "*.parquet"))[0]).schema
    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    return normalize_ts(raw, "ts")


def _run_query(spark, src_dir: str, ckpt: str, on_batch) -> tuple[list[dict], bool]:
    """Drain ``src_dir`` through ``on_batch``; return the progress of every
    completed batch and whether the deadline (not the backlog) ended it."""
    q = (
        _event_stream(spark, src_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    deadline_hit = False
    try:
        q.awaitTermination()
    except Exception as exc:  # the query ends by raising; anything else is a failure
        if DeadlineReached.__name__ not in str(exc):
            raise
        deadline_hit = True
    progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
    return [p for p in progress if p.get("durationMs", {}).get("addBatch") is not None], deadline_hit


def _batch_files(ckpt: str) -> dict[int, list[str]]:
    """Files each batch read, from the file source's own metadata log."""
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    # a compacted log file repeats the entries before it
                    out.setdefault(entry["batchId"], set()).add(
                        entry["path"].removeprefix("file://")
                    )
    return {b: sorted(files) for b, files in out.items()}


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class SinkWorkload:
    def __init__(self, spark, inputs: dict, work: str, trace: bool) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.trace = trace
        self.server = CountingServer() if trace else MiniRedisServer()
        self.tracer = Tracer() if trace else None
        self.recorder = BatchRecorder(self.tracer) if trace else None
        # every batch's progress is needed, not just the last 100
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    def close(self) -> None:
        self.server.close()

    def warm_up(self) -> None:
        """One query over the warm-up files into another namespace, then an
        empty server: JIT, Python workers and codegen are warm for the run."""
        sink = RedisCounterSink(RespFactory(self.server.url), WARMUP_NAMESPACE, distributed=True)
        _run_query(
            self.spark,
            os.path.join(self.work, "inputs", "warmup"),
            os.path.join(self.work, "ckpt-warmup"),
            sink,
        )
        _flush(self.server)
        if self.trace:
            self.server.commands = self.server.wire_bytes = self.server.connections = 0
            self.server.busy_s = 0.0

    def measure(self, seconds: int) -> dict:
        factory = (
            TracedFactory(self.server.url, self.recorder)
            if self.trace
            else RespFactory(self.server.url)
        )
        sink = RedisCounterSink(factory, NAMESPACE, distributed=True)
        calls: dict[int, dict] = {}
        deadline = time.time() + seconds
        tracker = self.spark.sparkContext.statusTracker()

        def on_batch(df, batch_id: int) -> None:
            # a batch reaches the sink only if it is expected to end in the window
            last = calls[max(calls)]["end"] - calls[max(calls)]["start"] if calls else 0.0
            if time.time() + last >= deadline:
                raise DeadlineReached(f"batch {batch_id} would end after the measured window")
            call: dict = {}
            if self.trace:
                group = self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
                jobs_before = set(tracker.getJobIdsForGroup(group))
                server_before = self.server.counters()
                self.recorder.trace = f"batch-{batch_id}"
            call["start"] = time.time()
            sink(df, batch_id)
            call["end"] = time.time()
            if self.trace:
                jobs = set(tracker.getJobIdsForGroup(group)) - jobs_before
                call["jobs"] = len(jobs)
                call["tasks"] = sum(
                    stage.numCompletedTasks
                    for j in jobs
                    for sid in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else ())
                    if (stage := tracker.getStageInfo(sid)) is not None
                )
                after = self.server.counters()
                call["server"] = {k: after[k] - server_before[k] for k in after}
            calls[batch_id] = call

        ckpt = os.path.join(self.work, "ckpt")
        progress, deadline_hit = _run_query(
            self.spark, os.path.join(self.work, "inputs", "events"), ckpt, on_batch
        )
        return self._result(progress, calls, _batch_files(ckpt), deadline_hit)

    def _result(self, progress, calls, batch_files, deadline_hit) -> dict:
        rows = self.inputs["rows"]
        inputs_dir = os.path.join(self.work, "inputs")
        committed = [p for p in progress if p["batchId"] in calls]
        batch_ids = [p["batchId"] for p in committed]
        files = [f for b in batch_ids for f in batch_files.get(b, [])]
        events = {b: sum(rows[os.path.relpath(f, inputs_dir)] for f in batch_files.get(b, [])) for b in batch_ids}
        expected = checks.expected_sink_state(files)
        problems = checks.check_sink_state(
            checks.snapshot_server(self.server), expected, NAMESPACE, batch_ids
        )
        if any(len(batch_files.get(b, [])) != 1 for b in batch_ids):
            problems.append("a micro-batch did not read exactly one file")
        durations = [p["durationMs"]["triggerExecution"] / 1000 for p in committed]
        if committed:
            first = _epoch(committed[0]["timestamp"])
            last = calls[batch_ids[-1]]["end"]
            wall = last - first
        else:
            wall = 0.0
        result = {
            "ops": durations,
            "items": sum(events.values()),
            "wall_s": wall,
            "attempted": len(batch_ids),
            # a batch that fails ends the query with an error; a wrong final
            # state cannot be pinned on one batch, so each failed check counts
            "failed_ops": len(problems),
            "problems": problems,
            "deadline_hit": deadline_hit,
        }
        if self.trace:
            result["layers"] = self._layers(committed, calls, events)
        return result

    def _layers(self, committed, calls, events) -> dict:
        """Per-layer metrics and the span tree of every committed batch."""
        med = statistics.median
        rows = []
        for p in committed:
            b = p["batchId"]
            trace = f"batch-{b}"
            d = p["durationMs"]
            start = _epoch(p["timestamp"])
            call = calls[b]
            self.tracer.add(trace, "batch", start, start + d["triggerExecution"] / 1000)
            self.tracer.add(trace, "streaming.pre_sink", start, call["start"], "batch")
            self.tracer.add(trace, "redis_sink.call", call["start"], call["end"], "batch")
            spans = self.tracer.by_trace()[trace]
            marker, readback = spans["resp.marker_check"], spans["resp.readback"]
            self.tracer.add(trace, "redis_sink.stage", marker.end, readback.start, "redis_sink.call")
            spans = self.tracer.by_trace()[trace]
            counts = self.recorder.counts.get(trace, {})
            rows.append({
                "trigger_ms": d["triggerExecution"],
                "pre_sink_ms": d["triggerExecution"] - d["addBatch"],
                "wal_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "rows_scanned": p["numInputRows"],
                "events": events[b],
                "call_ms": spans["redis_sink.call"].seconds * 1000,
                "stage_ms": spans["redis_sink.stage"].seconds * 1000,
                "marker_check_ms": marker.seconds * 1000,
                "readback_ms": readback.seconds * 1000,
                "commit_ms": spans["resp.commit"].seconds * 1000,
                "commit_commands": counts.get("commit_commands", 0),
                "jobs": call["jobs"],
                "tasks": call["tasks"],
                **{f"server_{k}": v for k, v in call["server"].items()},
            })
        total_events = sum(r["events"] for r in rows) or 1
        self_times = self.tracer.self_times()
        batch_s = sum(self_times[f"batch-{p['batchId']}"]["batch"] for p in committed)
        wall_s = sum(r["trigger_ms"] for r in rows) / 1000 or 1
        layer_self = {}
        for per_trace in self_times.values():
            for name, s in per_trace.items():
                layer_self[name] = layer_self.get(name, 0.0) + s
        # staged fields = committed increments; the transaction adds SET and DEL
        staged = sum(max(0, r["commit_commands"] - 2) for r in rows)
        return {
            "metrics": {
                "streaming.trigger_ms": med(r["trigger_ms"] for r in rows),
                "streaming.pre_sink_ms": med(r["pre_sink_ms"] for r in rows),
                "streaming.wal_ms": med(r["wal_ms"] for r in rows),
                "streaming.rows_per_batch": med(r["rows_scanned"] for r in rows),
                "streaming.scans_per_event": sum(r["rows_scanned"] for r in rows) / total_events,
                "redis_sink.call_ms": med(r["call_ms"] for r in rows),
                "redis_sink.stage_ms": med(r["stage_ms"] for r in rows),
                "redis_sink.jobs_per_batch": med(r["jobs"] for r in rows),
                "redis_sink.tasks_per_batch": med(r["tasks"] for r in rows),
                "redis_sink.commands_per_event": staged / total_events,
                "resp.marker_check_ms": med(r["marker_check_ms"] for r in rows),
                "resp.readback_ms": med(r["readback_ms"] for r in rows),
                "resp.commit_ms": med(r["commit_ms"] for r in rows),
                "resp.commit_commands": med(r["commit_commands"] for r in rows),
                "resp.wire_bytes_per_event": sum(r["server_wire_bytes"] for r in rows) / total_events,
                "resp.server_busy_ms": med(r["server_busy_s"] for r in rows) * 1000,
                "resp.connections_per_batch": med(r["server_connections"] for r in rows),
            },
            "self_s": layer_self,
            "unattributed_share": batch_s / wall_s,
            "shares": {
                "commit_readback": sum(r["commit_ms"] + r["readback_ms"] for r in rows) / 1000 / wall_s,
                "stage": sum(r["stage_ms"] for r in rows) / 1000 / wall_s,
            },
            "batches": rows,
        }
