"""Correctness checks the benchmark applies to the program's outputs.

Sink workloads: the final ``MiniRedisServer`` state must equal a DuckDB
group-by over exactly the event files the committed micro-batches read, with
no staging hash left behind and exactly one batch marker per committed batch.

Dedup workload: the registry's DuckDB oracles for these operators are
all-pairs list scans that do not finish in a benchmark run, so each emitted
pair is re-verified instead (its similarity recomputed from the shingle sets),
every planted pair at or above the threshold must be found by the exact
operators, and the LSH pairs must be a subset of the exact pairs.
"""

from __future__ import annotations

import duckdb

#: Decision thresholds of the operators under test (``llm.dedup``).
JACCARD_THRESHOLD = 0.5
CONTAINMENT_THRESHOLD = 0.5

#: Absolute tolerance when comparing a recomputed similarity with the
#: operator's ``round(x, 6)`` output (rounding modes differ at exact ties).
_SIM_TOL = 1.5e-6


# --------------------------------------------------------------------------
# sink workloads


def expected_sink_state(files: list[str]) -> dict:
    """Redis state the sink must produce for ``files``, as a DuckDB group-by.

    Mirrors the key schema of ``sinks.redis_sink``: ``stats:{type}:{hour}``
    hashes with ``n``/``cents``, ``top_users:{type}`` and
    ``top_paths:{type}:{day}`` sorted sets, ``uniq:{type}:{day}`` sets. The
    generator writes no NULLs, so the sink's NULL sentinels never apply.
    """
    state: dict = {"hashes": {}, "zsets": {}, "sets": {}}
    if not files:
        return state
    con = duckdb.connect()
    try:
        listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con.execute(
            "CREATE VIEW e AS SELECT event_type, user_id, value, props, "
            f"CAST(ts AS TIMESTAMP) AS ts FROM read_parquet([{listed}])"
        )
        for key, n, cents in con.execute(
            "SELECT 'stats:' || event_type || ':' || strftime(ts, '%Y:%m:%d:%H'),"
            " count(*), sum(CAST(round(value * 100) AS BIGINT)) FROM e GROUP BY 1"
        ).fetchall():
            state["hashes"][key] = {b"n": int(n), b"cents": int(cents)}
        for key, member, score in con.execute(
            "SELECT 'top_users:' || event_type, CAST(user_id AS VARCHAR), count(*)"
            " FROM e GROUP BY 1, 2"
            " UNION ALL "
            "SELECT 'top_paths:' || event_type || ':' || strftime(ts, '%Y:%m:%d'),"
            " '/p/' || json_extract_string(props, '$.k'), count(*)"
            " FROM e GROUP BY 1, 2"
        ).fetchall():
            state["zsets"].setdefault(key, {})[member.encode()] = float(score)
        for key, member in con.execute(
            "SELECT DISTINCT 'uniq:' || event_type || ':' || strftime(ts, '%Y:%m:%d'),"
            " CAST(user_id AS VARCHAR) FROM e"
        ).fetchall():
            state["sets"].setdefault(key, set()).add(member.encode())
    finally:
        con.close()
    return state


def snapshot_server(server) -> dict:
    """Plain-dict copy of a ``MiniRedisServer``'s state, taken under its lock."""
    with server.lock:
        return {
            "hashes": {k: dict(v) for k, v in server.hashes.items() if v},
            "zsets": {k: dict(v) for k, v in server.zsets.items() if v},
            "sets": {k: set(v) for k, v in server.sets.items() if v},
            "kv": dict(server.kv),
        }


def check_sink_state(
    state: dict, expected: dict, namespace: str, batch_ids: list[int]
) -> list[str]:
    """Differences between the server ``state`` and the ``expected`` one.

    Returns one message per failing check; an empty list means correct.
    """
    problems = []
    stage = [k for k in state["hashes"] if k.startswith(f"{namespace}:stage:")]
    if stage:
        problems.append(f"staging hashes left on the server: {sorted(stage)[:3]}")
    counters = {
        k: v for k, v in state["hashes"].items()
        if not k.startswith(f"{namespace}:stage:")
    }
    for family, got, want in (
        ("stats hashes", counters, expected["hashes"]),
        ("top_users zsets", _family(state["zsets"], "top_users:"),
         _family(expected["zsets"], "top_users:")),
        ("top_paths zsets", _family(state["zsets"], "top_paths:"),
         _family(expected["zsets"], "top_paths:")),
        ("uniq sets", state["sets"], expected["sets"]),
    ):
        if got != want:
            problems.append(f"{family} differ from the group-by: {_diff(got, want)}")
    markers = {k for k in state["kv"] if k.startswith(f"{namespace}:batch:")}
    want_markers = {f"{namespace}:batch:{b}" for b in batch_ids}
    if markers != want_markers or len(batch_ids) != len(set(batch_ids)):
        problems.append(
            f"batch markers {sorted(markers)[:5]} != one per committed batch "
            f"{sorted(want_markers)[:5]}"
        )
    return problems


def _family(d: dict, prefix: str) -> dict:
    return {k: v for k, v in d.items() if k.startswith(prefix)}


def _diff(got: dict, want: dict) -> str:
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    changed = sorted(k for k in set(got) & set(want) if got[k] != want[k])
    return (
        f"{len(missing)} keys missing {missing[:2]}, {len(extra)} extra "
        f"{extra[:2]}, {len(changed)} with other contents {changed[:2]}"
    )


# --------------------------------------------------------------------------
# dedup workload


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Distinct word n-grams, as ``llm.dedup._shingles_from`` builds them:
    tokens split on single spaces, docs under ``n`` tokens get none."""
    toks = text.split(" ")
    if len(toks) < n:
        return frozenset()
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def containment(a: frozenset, b: frozenset) -> float:
    """|A ∩ B| / |A|: how much of ``a`` lies inside ``b``."""
    return len(a & b) / len(a) if a else 0.0


def check_dedup(
    results: dict[str, list[tuple]],
    texts: dict[int, str],
    planted: list[tuple[int, int, float]],
) -> dict[str, list[str]]:
    """Problems per operator; an operator with an empty list is correct.

    ``results`` maps ``exact``/``near``/``ngram_jaccard``/``ngram_containment``
    to the rows each returned; ``planted`` holds the generator's
    ``(source_id, copy_id, jaccard)`` near-duplicate pairs.
    """
    sh = {d: shingles(t) for d, t in texts.items()}
    problems: dict[str, list[str]] = {op: [] for op in results}

    if "exact" in results:
        keep: dict[str, int] = {}
        for d, t in texts.items():
            keep[t] = min(d, keep.get(t, d))
        got = sorted(r[0] for r in results["exact"])
        if got != sorted(keep.values()):
            problems["exact"].append(
                f"kept {len(got)} docs, expected the {len(keep)} lowest ids per text"
            )

    def verify_pairs(op: str, rows, measure, threshold: float) -> set:
        pairs = set()
        for a, b, value in rows:
            true = measure(sh[a], sh[b])
            if true < threshold or abs(true - value) > _SIM_TOL:
                problems[op].append(
                    f"pair ({a}, {b}) reported {value}, recomputed {true:.6f}"
                )
            pairs.add((a, b))
        return pairs

    must_find = {(a, b) for a, b, j in planted if j >= JACCARD_THRESHOLD}
    exact_pairs = set()
    if "ngram_jaccard" in results:
        exact_pairs = verify_pairs(
            "ngram_jaccard", results["ngram_jaccard"], jaccard, JACCARD_THRESHOLD
        )
        lost = {(min(p), max(p)) for p in must_find} - exact_pairs
        if lost:
            problems["ngram_jaccard"].append(
                f"{len(lost)} planted pairs above the threshold not found: "
                f"{sorted(lost)[:3]}"
            )
    if "near" in results:
        near_pairs = verify_pairs(
            "near", results["near"], jaccard, JACCARD_THRESHOLD
        )
        if "ngram_jaccard" in results and not near_pairs <= exact_pairs:
            problems["near"].append(
                f"{len(near_pairs - exact_pairs)} LSH pairs missing from the "
                "exact operator's pairs"
            )
    if "ngram_containment" in results:
        cont_pairs = verify_pairs(
            "ngram_containment",
            results["ngram_containment"],
            containment,
            CONTAINMENT_THRESHOLD,
        )
        # jaccard >= t implies containment >= t in both directions
        lost = ({p for p in must_find} | {(b, a) for a, b in must_find}) - cont_pairs
        if lost:
            problems["ngram_containment"].append(
                f"{len(lost)} planted pairs above the threshold not found: "
                f"{sorted(lost)[:3]}"
            )
    return problems
