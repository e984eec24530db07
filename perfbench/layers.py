"""Per-layer figures for the traced run, measured from outside the package.

Two sources:

* Spark's own event log (uncompressed JSON lines). Every phase of the
  traced run executes under its own job group, so stages, tasks, task
  metrics and the SQL metrics of the Python nodes (ArrowEvalPython,
  MapInPandas) are attributed per phase.
* In-driver timings of the core kernels on documents drawn from the
  staged workload. These are diagnostics only: single-threaded,
  warm-cache, and several times noisier than the end-to-end figures.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import time
from collections import defaultdict
from typing import Dict, List

_PY_TIMES = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
}
_PY_BYTES = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def _plan_metrics(node: dict, out: Dict[int, tuple]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> List[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith(".inprogress"):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def group_stats(events: List[dict], batch_rows: int) -> Dict[str, dict]:
    """Per job group: task totals, shuffle/spill bytes, Python-node SQL
    metrics, stage and task counts, and task-time skew."""
    stage_group: Dict[int, str] = {}
    accum: Dict[int, tuple] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(e["sparkPlanInfo"], accum)

    stats: Dict[str, dict] = defaultdict(
        lambda: defaultdict(float, stage_runs=defaultdict(list), stage_py=defaultdict(float))
    )
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(e["Stage ID"])
        if group is None:
            continue
        s = stats[group]
        tm = e.get("Task Metrics") or {}
        run_ms = tm.get("Executor Run Time", 0)
        s["tasks"] += 1
        s["run_ms"] += run_ms
        s["cpu_ns"] += tm.get("Executor CPU Time", 0)
        s["gc_ms"] += tm.get("JVM GC Time", 0)
        s["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        rd = tm.get("Shuffle Read Metrics") or {}
        s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0
        )
        s["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        stage = (e["Stage ID"], e.get("Stage Attempt ID", 0))
        s["stage_runs"][stage].append(run_ms)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            node, name = accum.get(acc.get("ID"), (None, acc.get("Name")))
            try:
                update = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name in _PY_TIMES:
                s[_PY_TIMES[name]] += update
                if name == "time to run Python workers":
                    s["stage_py"][stage] += update
            elif name in _PY_BYTES:
                s[_PY_BYTES[name]] += update
            elif name == "number of output rows" and node and (
                "Python" in node or "Pandas" in node or "Arrow" in node
            ):
                # lower bound: Arrow batches are capped at batch_rows rows
                s["batches"] += math.ceil(update / batch_rows)
    for s in stats.values():
        runs = s["stage_runs"]
        s["stages"] = len(runs)
        s["task_max_over_median"] = _max_over_median(
            max(runs.values(), key=sum) if runs else []
        )
        py = s["stage_py"]
        s["udf_task_max_over_median"] = _max_over_median(
            runs[max(py, key=py.get)] if py else []
        )
    return stats


def write_seconds(events: List[dict], group: str) -> Dict[str, float]:
    """Seconds spent in the group's parquet writes, keyed by the last
    component of the written path (``data``, ``quarantine``, ``lineage``)."""
    starts: Dict[int, tuple] = {}
    out: Dict[str, float] = defaultdict(float)
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") and e.get("jobGroupId") == group:
            plan = e.get("physicalPlanDescription", "")
            paths = [a for a in re.findall(r"Arguments: (\S+?),", plan) if "/" in a]
            if "InsertIntoHadoopFsRelationCommand" in plan and paths:
                starts[e["executionId"]] = (paths[0].rstrip("/").rsplit("/", 1)[-1], e["time"])
        elif kind.endswith("SQLExecutionEnd") and e["executionId"] in starts:
            name, t0 = starts.pop(e["executionId"])
            out[name] += (e["time"] - t0) / 1e3
    return out


def _max_over_median(runs: List[float]) -> float:
    if not runs:
        return 0.0
    return max(runs) / max(statistics.median(runs), 1.0)


# ------------------------------------------------------------ kernels


def _per_item_us(fn, items, passes: int = 5) -> float:
    """Median over passes of µs per item for ``fn`` applied to ``items``."""
    if not items:
        return 0.0
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        times.append((time.perf_counter() - t0) / len(items))
    return statistics.median(times) * 1e6


def kernel_timings(name: str, rows: List[dict]) -> Dict[str, float]:
    """In-driver µs per unit for the core kernels, on the workload's own
    documents; ``pdf.us_per_doc`` reads 0 where there are no PDFs."""
    from donut_spark.core.htmlnorm import html_to_spans
    from donut_spark.core.metrics import nted_accuracy_normalized
    from donut_spark.core.tree import json2token, normalize_tree, token2json

    out = {}
    # on pdf_native these are the HTML spans of the staged truth its PDFs
    # were rendered from: the control on which htmlnorm should not move
    # docs_per_s
    texts = [s["text"] or "" for r in rows for s in r["spans"] if s["kind"] != "media"]
    out["htmlnorm.us_per_span"] = _per_item_us(html_to_spans, texts)
    trees = [json.loads(r["gt_parse"]) for r in rows]

    def tree_pass(t):
        back = token2json(json2token(t))
        return normalize_tree(back), normalize_tree(t)

    out["tree.us_per_doc"] = _per_item_us(tree_pass, trees)
    pairs = [tree_pass(t) for t in trees]
    out["metrics.us_per_doc"] = _per_item_us(
        lambda p: nted_accuracy_normalized(*p), pairs
    )
    out["pdf.us_per_doc"] = 0.0
    if name == "pdf_native":
        from donut_spark.core.pdf import parse_pdf_spans

        out["pdf.us_per_doc"] = _per_item_us(
            parse_pdf_spans, [bytes(r["content"]) for r in rows], passes=3
        )
    return out
