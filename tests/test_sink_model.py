"""Model-based tests for the Redis sink's building blocks (no Spark).

The streaming pipeline's end state is only as trustworthy as the RESP
server it lands in and the idempotence guard, so both are checked against a
plain-dict model under hypothesis-generated command streams — including
replays, which model the micro-batch retries the marker guard must absorb.
Every command crosses a real TCP socket to an in-process
:class:`MiniRedisServer` through :class:`RespClient`: one server per test,
``FLUSHDB`` between examples.
"""

from __future__ import annotations

from collections import defaultdict
from contextlib import contextmanager
from functools import partial

from hypothesis import given, settings
from hypothesis import strategies as st

from bootic_stats_aggregates_spark.sinks.redis_sink import (
    commit_staged,
    stage_writer,
)
from bootic_stats_aggregates_spark.sinks.resp import MiniRedisServer, RespClient

_hash_keys = st.sampled_from(["stats:view:2024:01:01", "stats:buy:2024:01:02"])
_zset_keys = st.sampled_from(["top_users:view", "top_paths:buy:2024:01:02"])
_set_keys = st.sampled_from(["uniq:view:2024:01:01", "uniq:a|b:2024:01:01"])
_fields = st.sampled_from(["n", "cents", "f"])
_members = st.sampled_from(["1", "2", "42", "/p/7|x"])

_commands = st.lists(
    st.one_of(
        st.tuples(st.just("HINCRBY"), _hash_keys, _fields, st.integers(-1000, 1000)),
        st.tuples(
            st.just("ZINCRBY"),
            _zset_keys,
            _members,
            st.floats(-100, 100, allow_nan=False),
        ),
        st.tuples(st.just("SADD"), _set_keys, _members, st.none()),
    ),
    max_size=60,
)


@contextmanager
def _server():
    """One in-process RESP server and a client connected to it."""
    srv = MiniRedisServer()
    client = RespClient.from_url(srv.url)
    try:
        yield srv, client
    finally:
        client.close()
        srv.close()


def test_resp_server_matches_dict_model():
    with _server() as (_, r):

        @given(_commands)
        @settings(max_examples=200, deadline=None)
        def check(cmds):
            r.flushdb()
            hashes: dict = defaultdict(lambda: defaultdict(int))
            zsets: dict = defaultdict(lambda: defaultdict(float))
            sets: dict = defaultdict(set)
            for cmd, key, a, b in cmds:
                if cmd == "HINCRBY":
                    r.hincrby(key, a, b)
                    hashes[key][a] += b
                elif cmd == "ZINCRBY":
                    r.zincrby(key, b, a)
                    zsets[key][a] += b
                else:
                    r.sadd(key, a)
                    sets[key].add(a)
            for k, h in hashes.items():
                got = {f.decode(): int(v) for f, v in r.hgetall(k).items()}
                assert got == dict(h)
            for k, z in zsets.items():
                got = {m.decode(): s for m, s in r.zrange(k, 0, -1, withscores=True)}
                assert got.keys() == z.keys()
                for m, score in z.items():
                    assert abs(got[m] - score) < 1e-9
            for k, s in sets.items():
                assert {m.decode() for m in r.smembers(k)} == s

        check()


def _field(cmd: str, key: str, member: str) -> str:
    """A staging-hash field in the sink's encoding (``redis_sink`` module
    docstring): the key is length-prefixed, so ``|`` may appear anywhere."""
    return f"{cmd}|{len(key)}|{key}|{member}"


def _stage_and_maybe_commit(r, factory, batch_id, rows, crash_before_commit=False):
    """The sink's two-phase protocol without Spark: marker check -> staged
    HSETs by the sink's own partition writer over its own connection
    (idempotent overwrite) -> atomic commit (increments + marker + staging
    cleanup in one transaction)."""
    marker = f"m:{batch_id}"
    if r.get(marker) is not None:
        return
    stage_key = f"stage:{batch_id}"
    stage_writer(factory, stage_key)(rows)
    if crash_before_commit:
        return  # simulated failure AFTER staging, BEFORE the commit txn
    commit_staged(r, r.hgetall(stage_key), marker, stage_key)


def test_commit_staged_accepts_bytes_hgetall():
    """A default redis-py client (decode_responses=False) hands hgetall back
    as bytes, as RespClient does; commit_staged must normalize rather than
    TypeError on field.split (ADVICE r2)."""
    with _server() as (_, r):
        for field, value in (
            (_field("HINCRBY", "stats:view:2024:01:01", "n"), 7),
            (_field("ZINCRBY", "top_users:a|b", "42"), 3),
            (_field("SADD", "uniq:day", "9"), 1),
        ):
            r.hset("stage:bytes", field, value)
        staged = r.hgetall("stage:bytes")
        assert all(isinstance(f, bytes) for f in staged)
        n = commit_staged(r, staged, "m:bytes", "stage:bytes")
        assert n == 3
        assert r.hgetall("stats:view:2024:01:01") == {b"n": b"7"}
        assert r.zrange("top_users:a|b", 0, -1, withscores=True) == [(b"42", 3.0)]
        assert r.smembers("uniq:day") == {b"9"}
        assert r.get("m:bytes") is not None
        assert r.hgetall("stage:bytes") == {}


def test_two_phase_commit_exactly_once():
    """Replaying any batch — including batches whose first attempt crashed
    between staging and commit — must yield exactly-once counter totals on
    the server, over the real socket. (The r1 marker-BEFORE-apply ordering
    failed this: a crash mid-apply left the marker set and the retry
    skipped the batch entirely.)"""
    with _server() as (srv, r):
        factory = partial(RespClient.from_url, srv.url)

        @given(
            st.lists(st.tuples(_hash_keys, st.integers(1, 50)), min_size=1, max_size=20),
            st.sets(st.integers(0, 19)),
        )
        @settings(max_examples=100, deadline=None)
        def check(batches, crash_ids):
            r.flushdb()

            def rows_of(key, delta):
                return [(_field("HINCRBY", key, "n"), str(delta))]

            for batch_id, (key, delta) in enumerate(batches):
                _stage_and_maybe_commit(
                    r,
                    factory,
                    batch_id,
                    rows_of(key, delta),
                    crash_before_commit=batch_id in crash_ids,
                )
            # every batch retried (out of order, twice) — crashed ones now succeed
            for batch_id, (key, delta) in list(enumerate(batches))[::-1] * 2:
                _stage_and_maybe_commit(r, factory, batch_id, rows_of(key, delta))
            expected: dict = defaultdict(int)
            for key, delta in batches:
                expected[key] += delta
            with srv.lock:
                live = {k for k, h in srv.hashes.items() if h}
            assert live == set(expected)
            got = {k: int(r.hgetall(k)[b"n"]) for k in expected}
            assert got == dict(expected)
            # all staging hashes cleaned up, one marker per batch
            assert not any(r.hgetall(f"stage:{b}") for b in range(len(batches)))
            assert all(r.get(f"m:{b}") == b"1" for b in range(len(batches)))

        check()
