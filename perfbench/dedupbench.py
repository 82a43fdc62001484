"""Dedup workload: the four ``llm.dedup`` pair/keep operators over a
generated corpus, one after another, as one pass.

The registered query functions are memoized per session, so each call goes through
``__wrapped__`` to build and run the plan afresh, as a new query would. The
result is collected (the pairs are small) and checked on every pass. The
traced run adds one span per operator under a ``pass`` span, and reads the
executed plan's SQL metrics of each operator's last call.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from bootic_stats_aggregates_spark.llm import dedup

from perfbench import checks
from perfbench.spans import Tracer

#: (short name, registered query function) in pass order.
OPERATORS = (
    ("exact", dedup.llm_exact_dedup),
    ("near", dedup.llm_near_dedup),
    ("ngram_jaccard", dedup.llm_ngram_jaccard),
    ("ngram_containment", dedup.llm_ngram_containment),
)

_JOINS = ("SortMergeJoinExec", "ShuffledHashJoinExec", "BroadcastHashJoinExec",
          "BroadcastNestedLoopJoinExec", "CartesianProductExec")


def _plan_nodes(node):
    """Every physical operator under ``node``, through adaptive query stages
    (a reused exchange is not entered, so nothing is counted twice)."""
    name = node.getClass().getSimpleName()
    yield name, node
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
    elif name != "ReusedExchangeExec":
        children = node.children()
        for i in range(children.size()):
            yield from _plan_nodes(children.apply(i))


def _metric(node, key: str) -> int:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else 0


def plan_metrics(df, result_rows: int) -> dict[str, float]:
    """Shuffle and spill bytes over the executed plan; candidate rows are the
    largest join output (for a plan without joins, the rows scanned), and
    ``pairs_per_candidate`` is result rows over candidate rows."""
    shuffle = spill = joined = scanned = 0
    for name, node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if name == "ShuffleExchangeExec":
            shuffle += _metric(node, "dataSize")
        spill += _metric(node, "spillSize")
        if name in _JOINS:
            joined = max(joined, _metric(node, "numOutputRows"))
        if name == "FileSourceScanExec":
            scanned += _metric(node, "numOutputRows")
    candidates = joined or scanned
    return {
        "shuffle_bytes": shuffle,
        "spill_bytes": spill,
        "candidate_rows": candidates,
        "pairs_per_candidate": result_rows / candidates if candidates else 0.0,
    }


class DedupWorkload:
    def __init__(self, spark, inputs: dict, inputs_dir: str, trace: bool) -> None:
        self.spark = spark
        self.corpus_dir = os.path.join(inputs_dir, inputs["corpus_dir"])
        self.warmup_dir = os.path.join(inputs_dir, inputs["warmup_dir"])
        self.trace = trace
        self.tracer = Tracer() if trace else None
        self.planted = [tuple(p) for p in inputs["planted"]]
        docs = pq.read_table(
            os.path.join(self.corpus_dir, "documents.parquet"), columns=["doc_id", "text"]
        )
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.passes = 0

    def close(self) -> None:
        pass

    def _one_pass(self, corpus_dir: str) -> tuple[float, dict, dict, dict]:
        """Run every operator once over ``corpus_dir``; return the pass time,
        per-operator times, rows, and the DataFrames (for plan metrics)."""
        trace = f"pass-{self.passes}"
        self.passes += 1
        times, results, frames = {}, {}, {}
        start = time.time()
        for short, query_fn in OPERATORS:
            t0 = time.time()
            df = query_fn.__wrapped__(self.spark, corpus_dir)
            results[short] = [tuple(r) for r in df.collect()]
            t1 = time.time()
            times[short] = t1 - t0
            frames[short] = df
            if self.trace:
                self.tracer.add(trace, f"dedup.{short}", t0, t1, "pass")
        end = time.time()
        if self.trace:
            self.tracer.add(trace, "pass", start, end)
        return end - start, times, results, frames

    def warm_up(self) -> None:
        """One pass over the small warm-up corpus: the first calls pay code
        generation and JIT."""
        self._one_pass(self.warmup_dir)
        if self.trace:
            self.tracer.spans.clear()

    def measure(self, seconds: int) -> dict:
        deadline = time.time() + seconds
        passes, op_times, problems = [], {s: [] for s, _ in OPERATORS}, []
        failed_ops = 0
        last = None
        # a pass starts only if it is expected to end within the window
        while not passes or time.time() + statistics.median(passes) < deadline:
            wall, times, results, frames = self._one_pass(self.corpus_dir)
            passes.append(wall)
            for short, t in times.items():
                op_times[short].append(t)
            found = checks.check_dedup(results, self.texts, self.planted)
            for short, msgs in found.items():
                if msgs:
                    failed_ops += 1
                    problems.extend(f"{short}: {m}" for m in msgs[:3])
            last = (results, frames)
        results, frames = last
        near, exact = len(results["near"]), len(results["ngram_jaccard"])
        out = {
            "ops": passes,
            "items": len(self.texts) * len(passes),
            "wall_s": sum(passes),
            "attempted": len(passes) * len(OPERATORS),
            "failed_ops": failed_ops,
            "problems": problems,
            "deadline_hit": True,
            "near_dup_recall": near / exact if exact else 1.0,
        }
        if self.trace:
            metrics = {f"dedup.{s}_s": statistics.median(op_times[s]) for s, _ in OPERATORS}
            for short, _ in OPERATORS:
                for k, v in plan_metrics(frames[short], len(results[short])).items():
                    metrics[f"dedup.{short}.{k}"] = v
            metrics["dedup.near_dup_recall"] = out["near_dup_recall"]
            self_times = self.tracer.self_times()
            layer_self: dict[str, float] = {}
            for per_trace in self_times.values():
                for name, s in per_trace.items():
                    layer_self[name] = layer_self.get(name, 0.0) + s
            pass_self = sum(t["pass"] for t in self_times.values())
            out["layers"] = {
                "metrics": metrics,
                "self_s": layer_self,
                "unattributed_share": pass_self / sum(
                    s.seconds for s in self.tracer.spans if s.name == "pass"
                ),
            }
        return out
