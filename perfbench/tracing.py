"""Traced-run instruments: spans around the public calls into each layer,
Spark job labels per span, and per-layer numbers from the Spark event
log of the traced session.

Spans come from wrapping public functions and methods from outside the
program (``Tracer.install`` patches, ``Tracer.uninstall`` restores);
the program itself is unchanged. Every Spark job started while a span
is innermost carries ``<run id>/<span id>`` as its job description, so
the event log attributes each job's task metrics and plan-node metrics
to exactly one span.

Spark reports a ``MapInPandas`` node's "time to initialize Python
workers" per task from the worker's start; with ``spark.python.worker
.reuse`` a reused worker's idle time since an earlier job is included,
so ``*.py_start_init_s`` is as Spark reports it, not a per-unit cost.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict

from clip_retrieval_spark import io as kg_io
from clip_retrieval_spark.operators import materialize as kg_materialize
from clip_retrieval_spark.plans import pipeline as kg_pipeline

STORE_METHODS = ("append_bucketed", "write", "checkpoints",
                 "committed_buckets", "commit_buckets", "gc_uncommitted",
                 "fast_count", "bucket_counts")
LEDGER = {"checkpoints", "committed_buckets", "commit_buckets",
          "gc_uncommitted"}
FOOTER = {"fast_count", "bucket_counts"}
TABLE_STAGE = {t: s for s, t in kg_pipeline.STAGE_TABLES.items()}
# positional index (self = 0) of the table name in each store method
_TABLE_ARG = {"append_bucketed": 2, "write": 2, "gc_uncommitted": 2,
              "fast_count": 1, "bucket_counts": 1}


class Tracer:
    """Spans for one traced unit, kept in memory until ``spans`` is read."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def _label(self) -> str | None:
        return f"{self.run_id}/{self._stack[-1]}" if self._stack else None

    def _wrap(self, name: str, fn, table_arg: int | None = None):
        tracer = self

        def traced(*args, **kwargs):
            table = None
            if table_arg is not None and len(args) > table_arg:
                table = args[table_arg]
            span = {"id": len(tracer.spans), "name": name, "table": table,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "run_id": tracer.run_id}
            tracer.spans.append(span)
            tracer._stack.append(span["id"])
            sc = tracer.spark.sparkContext
            sc.setJobDescription(tracer._label())
            span["start"] = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.monotonic()
                tracer._stack.pop()
                sc.setJobDescription(tracer._label())

        return traced

    def _patch(self, owner, attr: str, name: str,
               table_arg: int | None = None) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(name, orig, table_arg))

    def install(self) -> None:
        self._patch(kg_pipeline.KGPipeline, "run", "run")
        self._patch(kg_pipeline.KGPipeline, "refresh_downstream",
                    "refresh_downstream")
        for m in STORE_METHODS:
            self._patch(kg_io.TableStore, m, m, _TABLE_ARG.get(m))
        self._patch(kg_pipeline, "surface_link_topk", "surface_link_topk")
        self._patch(kg_materialize, "connected_components",
                    "connected_components")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.spark.sparkContext.setJobDescription(None)


def span_stage(span: dict) -> str:
    """Layer key a span's time and jobs count toward."""
    name = span["name"]
    if name in ("append_bucketed", "write"):
        return TABLE_STAGE.get(span["table"], "other")
    if name == "surface_link_topk":
        return "surface_links"
    if name == "connected_components":
        return "cc"
    if name in LEDGER:
        return "io.ledger"
    if name in FOOTER:
        return "io.footer"
    return "pipeline"


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part covered by its direct children
    (children of one span never overlap: one calling thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


# -- event log -------------------------------------------------------------

_PY = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}
_TASK = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
_BAND_JOIN = re.compile(r"Join \[band#\d+, sig#\d+L?\]")
_B_JOIN = re.compile(r"Join \[b#\d+L?\], \[b#\d+L?\]")


def _plan_nodes(info: dict):
    yield info
    for c in info["children"]:
        yield from _plan_nodes(c)


def _rows_metric(node: dict) -> int | None:
    for m in node["metrics"]:
        if m["name"] == "number of output rows":
            return m["accumulatorId"]
    return None


def parse_event_log(log_dir: str) -> dict:
    """Per job label: jobs, tasks, task metrics and Python-node metrics;
    plus the plan-node row counts the layer table needs."""
    files = sorted(glob.glob(os.path.join(log_dir, "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    exec_plans: dict[int, list[dict]] = defaultdict(list)
    exec_order: list[int] = []
    acc_value: dict[int, float] = {}
    acc_label: dict[int, tuple[str, str]] = {}
    per = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    label = props.get("spark.job.description") or "-"
                    for sid in e["Stage IDs"]:
                        stage_label[sid] = label
                    per[label]["jobs"] += 1
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None and int(xid) not in exec_label:
                        exec_label[int(xid)] = label
                elif ev.endswith("SQLExecutionStart") or ev.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    xid = e["executionId"]
                    if xid not in exec_plans:
                        exec_order.append(xid)
                    exec_plans[xid].append(e["sparkPlanInfo"])
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    label = stage_label.get(info["Stage ID"], "-")
                    per[label]["tasks"] += info["Number of Tasks"]
                    for a in info.get("Accumulables", []):
                        name = a.get("Name")
                        try:
                            value = float(a["Value"])
                        except (KeyError, TypeError, ValueError):
                            continue
                        if name in _TASK:
                            per[label][_TASK[name]] += value
                        elif name in _PY or name == "number of output rows":
                            # SQL metrics are cumulative per plan node;
                            # keep the final value once per accumulator
                            acc_value[a["ID"]] = max(
                                acc_value.get(a["ID"], 0.0), value)
                            acc_label.setdefault(a["ID"], (label, name))
    for acc, (label, name) in acc_label.items():
        if name in _PY:
            per[label][_PY[name]] += acc_value[acc]
    # plan-node row counts: one value per executed node accumulator
    joins = defaultdict(lambda: defaultdict(set))
    first_agg: dict[str, int] = {}
    for xid in exec_order:
        label = exec_label.get(xid, "-")
        for plan in exec_plans[xid]:
            for node in _plan_nodes(plan):
                acc = _rows_metric(node)
                if acc is None:
                    continue
                s = node["simpleString"]
                if _BAND_JOIN.search(s):
                    joins[label]["band_join_rows"].add(acc)
                elif _B_JOIN.search(s):
                    joins[label]["b_join_rows"].add(acc)
        # rows out of the topmost aggregate in the final plan of each
        # label's first execution: for the cc span, the distinct input
        # edges it checkpoints
        for node in _plan_nodes(exec_plans[xid][-1]):
            if node["nodeName"] == "HashAggregate":
                acc = _rows_metric(node)
                if acc is not None:
                    first_agg.setdefault(label,
                                         int(acc_value.get(acc, 0)))
                break
    for label, kinds in joins.items():
        for kind, accs in kinds.items():
            per[label][kind] += sum(acc_value.get(a, 0.0) for a in accs)
    return {
        "per_label": {k: dict(v) for k, v in per.items()},
        "first_agg_rows": first_agg,
    }


def layer_metrics(spans: list[dict], log: dict, tables: dict) -> dict:
    """Roll spans and per-label Spark numbers up to the layer table.

    ``tables`` holds row counts and on-disk totals read from the unit's
    out dir: triples, entities and surface_links rows; files and bytes.
    """
    per_label = log["per_label"]
    stage_s = defaultdict(float)
    stage_spark = defaultdict(lambda: defaultdict(float))
    selfs = self_times(spans)
    ledger_s = footer_s = pipeline_self = 0.0
    ledger_jobs = 0
    cc_edges_in = 0
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        stage = span_stage(s)
        dur = s["end"] - s["start"]
        label = f"{s['run_id']}/{s['id']}"
        spark_nums = per_label.get(label, {})
        parent = by_id.get(s["parent"])
        parent_stage = span_stage(parent) if parent else None
        if stage == "io.ledger":
            if parent_stage != "io.ledger":
                ledger_s += dur
            ledger_jobs += int(spark_nums.get("jobs", 0))
        elif stage == "io.footer":
            footer_s += dur
        elif stage == "pipeline":
            pipeline_self += selfs[s["id"]]
        else:
            stage_s[stage] += dur
        for k, v in spark_nums.items():
            stage_spark[stage][k] += v
        if s["name"] == "connected_components":
            cc_edges_in = log["first_agg_rows"].get(label, 0)
    total = defaultdict(float)
    for stage_nums in stage_spark.values():
        for k, v in stage_nums.items():
            total[k] += v

    def sp(stage: str, key: str) -> float:
        return stage_spark.get(stage, {}).get(key, 0.0)

    def py_start_init(stage: str) -> float:
        return (sp(stage, "py_start_ms") + sp(stage, "py_init_ms")) / 1e3

    pairs_scored = sp("surface_links", "band_join_rows")
    pairs_kept = tables.get("surface_links_rows", 0)
    out = {
        "triples.stage_s": stage_s["triples"],
        "triples.py_run_s": sp("triples", "py_run_ms") / 1e3,
        "triples.py_start_init_s": py_start_init("triples"),
        "triples.py_bytes_in": sp("triples", "py_bytes_in"),
        "triples.py_bytes_out": sp("triples", "py_bytes_out"),
        "triples.rows_out": tables.get("triples_rows", 0),
        "extract.stage_s": stage_s["extract"],
        "extract.py_run_s": sp("extract", "py_run_ms") / 1e3,
        "extract.py_start_init_s": py_start_init("extract"),
        "extract.py_bytes_out": sp("extract", "py_bytes_out"),
        "mentions.stage_s": stage_s["mentions"],
        "mentions.shuffle_bytes": sp("mentions", "shuffle_write_bytes"),
        "entities.stage_s": stage_s["entities"],
        "embed.surfaces": tables.get("entities_rows", 0),
        "embed.py_run_s": (sp("entities", "py_run_ms")
                           + sp("surface_links", "py_run_ms")) / 1e3,
        "surface_links.stage_s": stage_s["surface_links"],
        "link.pairs_scored": pairs_scored,
        "link.pairs_kept": pairs_kept,
        "link.kept_ratio": pairs_kept / pairs_scored if pairs_scored else 0.0,
        "cc.s": stage_s["cc"],
        "cc.jobs": sp("cc", "jobs"),
        "cc.edges_in": cc_edges_in,
        "nodes.stage_s": stage_s["nodes"] + stage_s["cc"],
        "edges.stage_s": stage_s["edges"],
        "merge.pairs_scored": sp("cc", "b_join_rows"),
        "merge.pairs_kept": cc_edges_in,
        "io.ledger_s": ledger_s,
        "io.ledger_jobs": ledger_jobs,
        "io.footer_s": footer_s,
        "io.files": tables.get("files", 0),
        "io.bytes": tables.get("bytes", 0),
        "pipeline.self_s": pipeline_self,
        "spark.jobs": total["jobs"],
        "spark.tasks": total["tasks"],
        "spark.executor_cpu_s": total["executor_cpu_ns"] / 1e9,
        "spark.shuffle_bytes": total["shuffle_write_bytes"],
        "spark.spill_bytes": total["spill_bytes"],
    }
    return out
