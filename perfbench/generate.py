"""Seeded input generator, run as its own process before the session starts.

``python3 -m perfbench.generate --workload W --seed N --seconds S --out DIR``
writes the workload's inputs under ``DIR`` and a description of them to
``DIR/inputs.json``. The same arguments give byte-identical files.

Sink workloads get a backlog of parquet event files (one micro-batch each,
with the fixture ``events`` schema) plus a few warm-up files. Event time
advances one hour per file, and a stated share of each file's events falls
in the preceding two days, so batches arrive out of order in event time.

The dedup workload gets a ``documents`` table (the fixture schema) drawn from
a Zipf word distribution, with planted exact copies and near-duplicates whose
Jaccard similarity is recorded so the benchmark can check the operators.
"""

from __future__ import annotations

import argparse
import json
import math
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.checks import jaccard, shingles

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
#: Event time of the first file: 2024-01-01T00:00:00Z in nanoseconds.
_BASE_NS = 1_704_067_200 * 10**9
_HOUR_MS = 3_600_000
#: Files get strictly increasing modification times from here, so the file
#: source hands them out in generation order.
_BASE_MTIME = 1_700_000_000


@dataclass(frozen=True)
class EventSpec:
    events_per_file: int
    #: user_id and path key cardinalities; a skew of 0 means uniform,
    #: otherwise the Zipf exponent of the key ranks
    users: int
    user_skew: float
    paths: int
    path_skew: float
    out_of_order_share: float
    #: backlog size: enough files to feed this many events per second of
    #: ``--seconds`` (several times the current capacity), so the closed loop
    #: never runs dry
    backlog_events_per_s: int
    #: warm-up files are small: they only need to exercise every code path
    warmup_files: int
    warmup_events_per_file: int


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    vocab: int
    word_skew: float
    min_chars: int
    max_chars: int
    exact_dup_share: float
    near_dup_share: float
    #: a near-duplicate replaces up to this share of its source's words, so
    #: planted pairs straddle the 0.5 Jaccard threshold
    max_edit_share: float
    files: int
    #: the warm-up pass runs over a smaller corpus of the same kind
    warmup_docs: int


EVENT_SPECS = {
    # Many small batches over few hot keys: fixed per-batch cost dominates.
    "sink_small": EventSpec(
        events_per_file=2_000, users=5_000, user_skew=1.3, paths=500,
        path_skew=1.3, out_of_order_share=0.1, backlog_events_per_s=10_000,
        warmup_files=2, warmup_events_per_file=2_000,
    ),
    # Few wide batches over uniform keys: command volume dominates.
    "sink_wide": EventSpec(
        events_per_file=10_000, users=400_000, user_skew=0.0, paths=1_000,
        path_skew=0.0, out_of_order_share=0.1, backlog_events_per_s=25_000,
        warmup_files=2, warmup_events_per_file=2_000,
    ),
}

CORPUS_SPECS = {
    "dedup_corpus": CorpusSpec(
        docs=1_000, vocab=20_000, word_skew=1.0, min_chars=40, max_chars=600,
        exact_dup_share=0.02, near_dup_share=0.1, max_edit_share=0.15,
        files=4, warmup_docs=200,
    ),
}


def _keys(rng: np.random.Generator, skew: float, size: int, ids: np.ndarray) -> np.ndarray:
    """``size`` draws from ``ids``: uniform, or with Zipf-distributed ranks,
    where ``ids`` is a seeded permutation fixed for the whole backlog, so the
    same users and paths stay hot from batch to batch."""
    if skew == 0:
        return ids[rng.integers(0, len(ids), size)]
    p = 1.0 / np.arange(1, len(ids) + 1) ** skew
    return ids[rng.choice(len(ids), size=size, p=p / p.sum())]


def _event_table(
    rng: np.random.Generator, spec: EventSpec, index: int, n: int,
    users: np.ndarray, paths: np.ndarray,
) -> pa.Table:
    hour_start_ms = index * _HOUR_MS
    offset_ms = hour_start_ms + rng.integers(0, _HOUR_MS, n)
    late = rng.random(n) < spec.out_of_order_share
    offset_ms[late] = hour_start_ms - rng.integers(1, 48 * _HOUR_MS, int(late.sum()))
    path_keys = _keys(rng, spec.path_skew, n, paths)
    return pa.table({
        "event_id": np.arange(index * n, (index + 1) * n, dtype=np.int64),
        "ts": pa.array(_BASE_NS + offset_ms * 1_000_000, pa.timestamp("ns")),
        "user_id": _keys(rng, spec.user_skew, n, users),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": rng.integers(0, 20_000, n) / 100.0,
        "props": pa.array([f'{{"k": {k}}}' for k in path_keys]),
    })


def _describe_events(t: pa.Table, index: int) -> dict:
    ts_hour = t["ts"].cast(pa.int64()).to_numpy() // (_HOUR_MS * 1_000_000)
    ts_day = ts_hour // 24
    etype = t["event_type"].to_numpy(zero_copy_only=False)
    users = t["user_id"].to_numpy()
    paths = t["props"].to_numpy(zero_copy_only=False)
    stats_keys = {(e, h) for e, h in zip(etype, ts_hour)}
    return {
        "events": t.num_rows,
        "distinct_users": int(len(np.unique(users))),
        "distinct_paths": int(len(np.unique(paths))),
        "stats_keys": len(stats_keys),
        "uniq_members": len(set(zip(etype, ts_day, users))),
        "late_share": float(np.mean(ts_hour < _BASE_NS // (_HOUR_MS * 1_000_000) + index)),
    }


def write_events(out: str, spec: EventSpec, seed: int, seconds: int) -> dict:
    """Backlog files under ``out/events``, warm-up files under ``out/warmup``;
    the returned paths are relative to ``out``."""
    n_files = max(4, math.ceil(seconds * spec.backlog_events_per_s / spec.events_per_file))
    described = {}
    for sub, count, size, stream in (
        ("events", n_files, spec.events_per_file, 0),
        ("warmup", spec.warmup_files, spec.warmup_events_per_file, 1),
    ):
        rng = np.random.default_rng([seed, stream])
        users = rng.permutation(spec.users).astype(np.int64)
        paths = rng.permutation(spec.paths).astype(np.int64)
        d = os.path.join(out, sub)
        os.makedirs(d)
        files = []
        for i in range(count):
            t = _event_table(rng, spec, i, size, users, paths)
            path = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(t, path)
            os.utime(path, (_BASE_MTIME + i, _BASE_MTIME + i))
            files.append({"path": os.path.relpath(path, out), **_describe_events(t, i)})
        described[sub] = files
    per_file = described["events"]
    mean = lambda k: float(np.mean([f[k] for f in per_file]))  # noqa: E731
    return {
        "spec": asdict(spec),
        "files": {sub: [f["path"] for f in v] for sub, v in described.items()},
        "rows": {f["path"]: f["events"] for v in described.values() for f in v},
        "properties": {
            "backlog_files": len(per_file),
            "backlog_events": sum(f["events"] for f in per_file),
            "distinct_users_per_batch": mean("distinct_users"),
            "distinct_paths_per_batch": mean("distinct_paths"),
            "stats_keys_per_batch": mean("stats_keys"),
            "uniq_members_per_batch": mean("uniq_members"),
            "out_of_order_share": float(np.mean([f["late_share"] for f in per_file])),
        },
    }


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        length = int(rng.integers(2, 10))
        words.add("".join(rng.choice(letters, length)))
    return sorted(words)


def _corpus(rng: np.random.Generator, spec: CorpusSpec, docs: int) -> tuple[pa.Table, list]:
    """A ``documents`` table and its planted ``(source, copy, jaccard)`` pairs."""
    vocab = _vocabulary(rng, spec.vocab)
    p = 1.0 / np.arange(1, spec.vocab + 1) ** spec.word_skew
    p /= p.sum()
    texts: list[str] = []
    planted: list[tuple[int, int, float]] = []
    originals: list[int] = []
    for doc in range(docs):
        roll = rng.random()
        if originals and roll < spec.exact_dup_share + spec.near_dup_share:
            src = originals[int(rng.integers(len(originals)))]
            words = texts[src].split(" ")
            if roll >= spec.exact_dup_share:
                k = int(rng.integers(1, max(2, int(len(words) * spec.max_edit_share) + 1)))
                for j in rng.integers(0, len(words), k):
                    words[j] = vocab[int(rng.choice(spec.vocab, p=p))]
            texts.append(" ".join(words))
            planted.append(
                (src, doc, jaccard(shingles(texts[src]), shingles(texts[doc])))
            )
            continue
        target = int(rng.integers(spec.min_chars, spec.max_chars + 1))
        ids = rng.choice(spec.vocab, size=target // 2 + 1, p=p)
        words, chars = [], -1
        for i in ids:
            if chars >= target:
                break
            words.append(vocab[int(i)])
            chars += len(words[-1]) + 1
        texts.append(" ".join(words))
        originals.append(doc)
    table = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(["en", "fr", "es", "zh", "de"])[rng.integers(0, 5, docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, planted


def write_corpus(out: str, spec: CorpusSpec, seed: int) -> dict:
    """``out/corpus/documents.parquet`` (``spec.files`` part files) and a
    smaller one with the same spec under ``out/warmup``."""
    described = {}
    for sub, docs, stream in (("corpus", spec.docs, 2), ("warmup", spec.warmup_docs, 3)):
        table, planted = _corpus(np.random.default_rng([seed, stream]), spec, docs)
        d = os.path.join(out, sub, "documents.parquet")
        os.makedirs(d)
        step = math.ceil(docs / spec.files)
        for k in range(spec.files):
            pq.write_table(table.slice(k * step, step), os.path.join(d, f"part-{k:05d}.parquet"))
        described[sub] = (table, planted)
    table, planted = described["corpus"]
    texts = table["text"].to_pylist()
    return {
        "spec": asdict(spec),
        "corpus_dir": "corpus",
        "warmup_dir": "warmup",
        "planted": planted,
        "properties": {
            "docs": spec.docs,
            "distinct_texts": len(set(texts)),
            "planted_pairs": len(planted),
            "planted_above_threshold": sum(j >= 0.5 for _, _, j in planted),
            "duplicate_share": len(planted) / spec.docs,
            "mean_chars": float(np.mean([len(t) for t in texts])),
            "mean_shingles": float(np.mean([len(shingles(t)) for t in texts])),
        },
    }


def generate(workload: str, seed: int, seconds: int, out: str) -> dict:
    if workload in EVENT_SPECS:
        inputs = write_events(out, EVENT_SPECS[workload], seed, seconds)
    else:
        inputs = write_corpus(out, CORPUS_SPECS[workload], seed)
    inputs["workload"] = workload
    inputs["seed"] = seed
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    return inputs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*EVENT_SPECS, *CORPUS_SPECS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.seconds, args.out)


if __name__ == "__main__":
    main()
