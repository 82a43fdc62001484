"""Redis sink (SURVEY.md §2.1 snk_redis_hash / snk_redis_zset).

The reference daemon's entire output surface is incremental Redis updates:
time-bucketed counter hashes (HINCRBY), ranking sorted sets (ZINCRBY) and
unique-visitor sets (SADD) — SURVEY.md §2.1 ``[REF⟂ tracker.go]``
(reconstructed; /root/reference empty, SURVEY.md §0).

Spark-first split:

1. **Command generation is one dataflow** (`sink_commands`): micro-batch
   DataFrame -> ONE scan -> five tagged command rows per event -> ONE
   aggregate over (cmd, key, member). Pure, deterministic, oracle-checkable
   (the registered snk_redis_* queries are projections of it) — and it
   does the heavy lifting (the shuffle) in Spark, so Redis receives ONE
   increment per (key, field/member) per batch instead of one per event.
   That per-batch combine is what makes the sink survive 100 TB: Redis
   traffic scales with |groups|, not |events|.
2. **The writer is a two-phase pipelined apply** (`RedisCounterSink`):
   ``foreachBatch`` -> STAGE: one ``foreachPartition`` job pipelines the
   batch's encoded command rows into a per-batch staging hash with HSET
   (overwrite = idempotent, so partition-level retries are free) ->
   COMMIT: one transactional pipeline applies the staged increments to
   the live keys, sets the batch marker and deletes staging ATOMICALLY. A
   retried micro-batch either sees the marker (skip) or re-stages
   (idempotent) and re-commits (nothing was applied — MULTI/EXEC is
   all-or-nothing). This is the exactly-once upgrade over the reference's
   at-least-once socket consumption; note marker-INSIDE-the-commit-
   transaction is what makes it sound — a marker set before (or outside)
   the apply would turn partial failures into silent undercounts. Assumes
   Spark's sequential micro-batch retry semantics (no two drivers
   committing the same batch concurrently), which foreachBatch guarantees.

The staging field is ``{cmd}|{len(key)}|{key}|{member}``: the key is
length-prefixed because it embeds ``event_type``, which is outside input
and may itself contain ``|``.

Staging runs on executors, so the client must be a real server whose
writes are visible across processes: redis-py against a Redis, or
:class:`~.resp.RespClient` against one (or against the in-process
:class:`~.resp.MiniRedisServer` the tests and queries use).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - redis-py is not installed in this container
    import redis as _redis
except ImportError:  # pragma: no cover
    _redis = None

KEY_PREFIX = "stats"
BUCKET_FMT = "yyyy:MM:dd:HH"  # the reference's {y}:{m}:{d}[:{h}] key schema


def sink_commands(events: DataFrame) -> DataFrame:
    """Events -> every Redis command row of the batch, from one scan.

    Each event yields five tagged ``(cmd, key, member, delta)`` rows —
    HINCRBY ``n`` and ``cents`` on ``stats:{type}:{hour}``, ZINCRBY on
    ``top_users:{type}`` and ``top_paths:{type}:{day}``, SADD on
    ``uniq:{type}:{day}`` — and one aggregate over (cmd, key, member)
    combines them, so the batch is scanned and shuffled once. The key's
    first ``:`` segment names its family. ``cents`` is the value sum in
    integer cents (exact, mergeable, no float drift in Redis); SADD rows
    are deduplicated by the same aggregate and their delta is unused.
    """
    # NULL ts -> explicit '-' bucket/day segment: concat_ws would silently
    # DROP the NULL segment, leaving a key that corrupts the schema
    # (hostile sweep r7)
    hour = F.coalesce(F.date_format("ts", BUCKET_FMT), F.lit("-"))
    day = F.coalesce(F.date_format("ts", "yyyy:MM:dd"), F.lit("-"))
    # NULL user_id / unparseable props -> '-' sentinel member (redis
    # members cannot be NULL). The fixture events carry no URL, so the page
    # path is synthesized from the JSON payload; ``parse_url`` is the real
    # JVM-side extraction a deployment would run on the referrer field.
    user = F.coalesce(F.col("user_id").cast("string"), F.lit("-"))
    path = F.coalesce(
        F.parse_url(
            F.concat(
                F.lit("https://shop.example.com/p/"),
                F.get_json_object("props", "$.k"),
            ),
            F.lit("PATH"),
        ),
        F.lit("-"),
    )
    one = F.lit(1).cast("long")
    etype = F.col("event_type")
    stats = F.concat_ws(":", F.lit(KEY_PREFIX), etype, hour)

    def row(cmd: str, key, member, delta):
        return F.struct(
            F.lit(cmd).alias("cmd"),
            key.alias("key"),
            member.alias("member"),
            delta.alias("delta"),
        )

    tagged = events.select(
        F.inline(
            F.array(
                row("HINCRBY", stats, F.lit("n"), one),
                row(
                    "HINCRBY",
                    stats,
                    F.lit("cents"),
                    F.round(F.col("value") * 100).cast("long"),
                ),
                row("ZINCRBY", F.concat_ws(":", F.lit("top_users"), etype), user, one),
                row("ZINCRBY", F.concat_ws(":", F.lit("top_paths"), etype, day), path, one),
                row("SADD", F.concat_ws(":", F.lit("uniq"), etype, day), user, one),
            )
        )
    )
    # NULL policy (uniform across the command family, hostile-fixture sweep
    # r5): a bucket whose every value is NULL sums to NULL — an unknown
    # amount increments nothing, so the delta is 0 (HINCRBY cannot carry
    # NULL)
    return tagged.groupBy("cmd", "key", "member").agg(
        F.coalesce(F.sum("delta"), F.lit(0).cast("long")).alias("delta")
    )


def staged_rows(commands: DataFrame) -> DataFrame:
    """Command rows -> the (field, value) pairs of the staging hash.

    Post-aggregation each (cmd, key, member) occurs exactly once per batch,
    so HSET overwrite makes partition retries no-ops. :func:`commit_staged`
    decodes the field."""
    return commands.select(
        F.concat_ws(
            "|", "cmd", F.length("key").cast("string"), "key", "member"
        ).alias("field"),
        F.col("delta").cast("string").alias("value"),
    )


#: Names a real Redis server as a redis:// URL (e.g.
#: ``redis://localhost:6379/15``). Point it at a DEDICATED test database:
#: the env-gated integration test flushes the db it connects to.
REDIS_URL_ENV = "SPARK_GRAFT_REDIS_URL"


def client_factory_from_env():
    """Client factory for the server named by :data:`REDIS_URL_ENV`.

    Opens real socket connections from the URL — redis-py when
    importable, else the dependency-free :class:`~.resp.RespClient`
    (same command surface, same bytes-reply semantics; r6, closing
    VERDICT r5 item 3). Either way the factory captures only the URL
    string, so cloudpickle ships it to executors and each partition opens
    its own connection (a connection object must never cross process
    boundaries).
    """
    url = os.environ.get(REDIS_URL_ENV)
    if not url:
        raise RuntimeError(
            f"{REDIS_URL_ENV} is unset: name a Redis server as a redis:// URL"
        )
    if _redis is not None:

        def factory(u: str = url):
            return _redis.Redis.from_url(u)

        return factory
    from .resp import RespClient

    def resp_factory(u: str = url):
        return RespClient.from_url(u)

    return resp_factory


def stage_writer(client_factory, stage_key: str):
    """Per-partition staging writer: pipeline the partition's (field,
    value) rows into the batch's staging hash with HSET. Safe to re-run
    (overwrite semantics) — Spark may retry partitions."""

    def _write(rows) -> None:
        client = client_factory()
        try:
            pipe = client.pipeline(transaction=False)
            for field, value in rows:
                pipe.hset(stage_key, field, value)
            pipe.execute()
        finally:
            client.close()

    return _write


def commit_staged(client, staged: dict, marker: str, stage_key: str) -> int:
    """Apply staged deltas + marker + staging cleanup in ONE transaction.

    The marker rides INSIDE the same MULTI/EXEC as the increments: either
    everything applied and the marker exists, or nothing did — a crash
    mid-commit leaves live counters untouched and the retry re-commits.
    Returns the number of increment commands applied.

    ``staged`` normally comes straight from ``client.hgetall(stage_key)``; a
    default redis-py client (``decode_responses=False``) returns ``bytes``
    fields/values, so both are normalized to ``str`` here rather than
    requiring every client factory to opt into decoding (ADVICE r2).
    """

    def _s(x) -> str:
        return x.decode("utf-8") if isinstance(x, (bytes, bytearray)) else str(x)

    staged = {_s(f): _s(v) for f, v in staged.items()}
    pipe = client.pipeline(transaction=True)
    for field in sorted(staged):
        cmd, n, rest = field.split("|", 2)
        key, member = rest[: int(n)], rest[int(n) + 1 :]
        if cmd == "HINCRBY":
            pipe.hincrby(key, member, int(staged[field]))
        elif cmd == "ZINCRBY":
            pipe.zincrby(key, int(staged[field]), member)
        elif cmd == "SADD":
            pipe.sadd(key, member)
        else:
            raise ValueError(f"unknown staged command {cmd!r}")
    pipe.set(marker, 1, nx=True)
    pipe.delete(stage_key)
    pipe.execute()
    return len(staged)


class RedisCounterSink:
    """foreachBatch sink: stage (idempotent, per-partition pipelines on the
    executors) then commit (single atomic transaction containing increments
    + batch marker).

    ``client_factory`` is called per partition on executors during staging
    and once on the driver for the marker check, read-back and commit (a
    real deployment passes a redis-py connection-pool factory; tests pass a
    :class:`~.resp.RespClient` factory). Staging is always distributed;
    ``distributed`` remains only so existing callers that pass
    ``distributed=True`` keep working, and any other value is refused.
    """

    def __init__(
        self, client_factory, namespace: str = "bootic", distributed: bool = True
    ) -> None:
        if distributed is not True:
            raise ValueError(
                "RedisCounterSink stages from executors only; distributed must be True"
            )
        self._factory = client_factory
        self._ns = namespace

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        client = self._factory()
        try:
            marker = f"{self._ns}:batch:{batch_id}"
            if client.get(marker) is not None:
                return  # batch fully committed by a previous attempt
            stage_key = f"{self._ns}:stage:{batch_id}"
            staged_rows(sink_commands(batch_df)).foreachPartition(
                stage_writer(self._factory, stage_key)
            )
            commit_staged(client, client.hgetall(stage_key), marker, stage_key)
        finally:
            client.close()
