"""Traced-run harness, kept entirely outside the package.

``Tracer.install`` wraps the package's public functions at the module
attribute each caller resolves (``processor.load_ticks_zip`` is imported
by name into ``processor``, so the wrapper goes on ``processor``, not on
``sources.ingest``). Each wrapped call is a span: name, parent, start,
end, and the py4j round trips made while it ran. While a span is open,
the Spark job group is the ``/``-joined path of open spans, so the
session's event log attributes every job, task, shuffle and spill to a
span path. Spans and counts stay in memory; ``fold_event_log`` reads the
log once the session has stopped.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_PKG = "exness_data_preprocess_spark"

#: (module, attribute, span name). Methods are wrapped on their class,
#: functions on the module whose code calls them.
TARGETS = (
    ("processor", "SparkDataProcessor.update_data", "processor.update_data"),
    ("processor", "SparkDataProcessor.insert_ticks", "processor.insert_ticks"),
    ("processor", "SparkDataProcessor.regenerate_ohlc", "processor.regenerate_ohlc"),
    ("processor", "missing_months", "gaps.missing_months"),
    ("processor", "load_ticks_zip", "ingest.load_ticks_zip"),
    ("processor", "generate_ohlc_1m", "ohlc.generate_ohlc_1m"),
    ("operators.ohlc", "asof_join_backward", "asof.asof_join_backward"),
    ("operators.ohlc", "build_holiday_dim", "sessions.build_holiday_dim"),
    ("operators.ohlc", "build_trading_minutes_dim", "sessions.build_trading_minutes_dim"),
    ("sources.catalog", "ParquetCatalog.write_ticks", "catalog.write_ticks"),
    ("sources.catalog", "ParquetCatalog.read", "catalog.read"),
    ("sources.catalog", "ParquetCatalog.overwrite_partitions", "catalog.overwrite_partitions"),
    ("query", "SparkQueryEngine.query_ticks_df", "query.query_ticks_df"),
    ("query", "SparkQueryEngine.query_ohlc_df", "query.query_ohlc_df"),
    ("query", "resample_ohlc", "resample.resample_ohlc"),
    ("query", "get_data_coverage", "coverage.get_data_coverage"),
    ("query", "paginate_keyset", "pagination.paginate_keyset"),
)

#: spans that only build a DataFrame plan; a read op's time outside the
#: outermost of these is its action (job) time
PLAN_SPANS = frozenset(
    {"catalog.read", "query.query_ticks_df", "query.query_ohlc_df",
     "resample.resample_ohlc"}
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._internal = False
        self._restore: list[tuple[object, str, object]] = []

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, name in TARGETS:
            owner = importlib.import_module(f"{_PKG}.{mod_name}")
            *cls_path, fn_name = attr.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            fn = owner.__dict__[fn_name]
            self._restore.append((owner, fn_name, fn))
            setattr(owner, fn_name, self._wrap(fn, name))
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(command, *a, **kw):
            # memory commands are py4j garbage collection, whose timing
            # follows the Python GC, not the program
            if not self._internal and not command.startswith("m\n"):
                for span in self._stack:
                    span["py4j"] += 1
            return send(command, *a, **kw)

        client.send_command = counting_send
        self._restore.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            if fn is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, fn)
        self._restore.clear()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- spans ------------------------------------------------------------
    def _set_group(self) -> None:
        self._internal = True
        try:
            path = "/".join(s["label"] for s in self._stack) or None
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", path)
        finally:
            self._internal = False

    @contextmanager
    def span(self, name: str, label: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": self._stack[0]["id"] if self._stack else len(self.spans),
            "name": name,
            "label": label or name,
            "py4j": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group()
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


# -- event-log fold ----------------------------------------------------------
def _decode_row_metrics(plan: dict, out: set[int]) -> None:
    """Accumulator ids of every ``MapInPandas`` node's output-row count."""
    if plan.get("nodeName") == "MapInPandas":
        out.update(m["accumulatorId"] for m in plan.get("metrics", ())
                   if m["name"] == "number of output rows")
    for child in plan.get("children", ()):
        _decode_row_metrics(child, out)


def fold_event_log(path: Path) -> dict:
    """Per job-group path: job count, and per stage the task run times,
    shuffle write bytes, spill bytes and the RDD scope names; plus the
    rows output by every ``MapInPandas`` node, per group."""
    jobs: dict[str, int] = defaultdict(int)
    stage_group: dict[int, str] = {}
    stage_scopes: dict[int, set[str]] = defaultdict(set)
    tasks: dict[int, list[dict]] = defaultdict(list)
    decode_accs: set[int] = set()
    row_updates: list[tuple[str, int, int]] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs[group] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"
                ) or ""
                for rdd in info.get("RDD Info", ()):
                    scope = rdd.get("Scope")
                    if scope:
                        stage_scopes[sid].add(json.loads(scope).get("name", ""))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sid = ev["Stage ID"]
                tasks[sid].append(
                    {
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Name") == "number of output rows" and "Update" in acc:
                        row_updates.append(
                            (stage_group.get(sid, ""), acc["ID"], int(acc["Update"]))
                        )
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _decode_row_metrics(ev.get("sparkPlanInfo") or {}, decode_accs)
    stages: dict[str, list[dict]] = defaultdict(list)
    for sid, ts in tasks.items():
        stages[stage_group.get(sid, "")].append(
            {"scopes": sorted(stage_scopes.get(sid, ())), "tasks": ts}
        )
    pandas_rows: dict[str, int] = defaultdict(int)
    for group, acc_id, n in row_updates:
        if acc_id in decode_accs:
            pandas_rows[group] += n
    return {"jobs": dict(jobs), "stages": dict(stages), "map_in_pandas_rows": dict(pandas_rows)}


# -- metrics -----------------------------------------------------------------
def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _segments(path: str) -> list[str]:
    return path.split("/") if path else []


def layer_metrics(spans: list[dict], fold: dict, read_ops: tuple[str, ...],
                  extra: dict) -> dict:
    """Per-layer numbers from the spans and the folded event log. Times
    are medians per call; counts are per call or per benchmark op, as
    the metric name says."""
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    ops = [s for s in spans if s["parent"] is None]
    ops_of = defaultdict(list)
    for s in ops:
        ops_of[s["name"]].append(s)

    def dur(s):
        return s["t1"] - s["t0"]

    def med_s(name):
        return _median([dur(s) for s in by_name[name]])

    def per(name, total):
        n = len(by_name[name])
        return total / n if n else 0.0

    def group_filter(pred):
        # only the measured ops: set-up has no group, calibration "warm:"
        def keep(g):
            segs = _segments(g)
            return bool(segs) and segs[0].startswith("op:") and pred(segs)

        jobs = sum(n for g, n in fold["jobs"].items() if keep(g))
        stages = [st for g, sts in fold["stages"].items() if keep(g) for st in sts]
        return jobs, stages

    def task_s(stages):
        return sum(t["run_ms"] for st in stages for t in st["tasks"]) / 1e3

    def mb(stages, key):
        return sum(t[key] for st in stages for t in st["tasks"]) / 2**20

    def under(name):
        return lambda segs: name in segs

    def op_root(op_name):
        return lambda segs: bool(segs) and segs[0].split("#")[0] == f"op:{op_name}"

    out: dict[str, tuple[float, str]] = {}

    jobs, stages = group_filter(under("catalog.write_ticks"))
    n_write = len(by_name["catalog.write_ticks"])
    out["catalog.write_ticks.s"] = (med_s("catalog.write_ticks"), "s")
    out["catalog.write_ticks.jobs"] = (per("catalog.write_ticks", jobs), "count")
    out["catalog.write_ticks.shuffle_mb"] = (mb(stages, "shuffle_b") / max(n_write, 1), "MB")
    out["catalog.write_ticks.spill_mb"] = (mb(stages, "spill_b") / max(n_write, 1), "MB")

    n_update = len(ops_of["update_month"])
    _, up_stages = group_filter(op_root("update_month"))
    decode = [st for st in up_stages if "MapInPandas" in st["scopes"]]
    out["ingest.decode.task_s"] = (task_s(decode) / max(n_update, 1), "s")
    rows = sum(n for g, n in fold["map_in_pandas_rows"].items() if op_root("update_month")(_segments(g)))
    out["ingest.rows_decoded"] = (rows / max(n_update, 1), "count")
    out["catalog.files_written"] = (extra["files_written"].get("update_month", 0.0), "count")
    out["catalog.files_written.append_day"] = (extra["files_written"].get("append_day", 0.0), "count")

    _, regen = group_filter(under("processor.regenerate_ohlc"))
    n_regen = max(len(by_name["processor.regenerate_ohlc"]), 1)
    out["processor.regenerate_ohlc.s"] = (med_s("processor.regenerate_ohlc"), "s")
    out["regen.task_s"] = (task_s(regen) / n_regen, "s")
    out["regen.shuffle_mb"] = (mb(regen, "shuffle_b") / n_regen, "MB")
    skew = [
        max(t["run_ms"] for t in st["tasks"]) / max(_median([t["run_ms"] for t in st["tasks"]]), 1)
        for st in regen if len(st["tasks"]) > 1
    ]
    out["regen.max_over_median_task"] = (max(skew, default=1.0), "ratio")
    out["ohlc.generate_ohlc_1m.build_ms"] = (1e3 * med_s("ohlc.generate_ohlc_1m"), "ms")
    out["sessions.build_trading_minutes_dim.ms"] = (1e3 * med_s("sessions.build_trading_minutes_dim"), "ms")
    out["sessions.build_holiday_dim.ms"] = (1e3 * med_s("sessions.build_holiday_dim"), "ms")
    out["asof.asof_join_backward.build_ms"] = (1e3 * med_s("asof.asof_join_backward"), "ms")

    jobs, _ = group_filter(under("gaps.missing_months"))
    out["gaps.missing_months.s"] = (med_s("gaps.missing_months"), "s")
    out["gaps.missing_months.jobs"] = (per("gaps.missing_months", jobs), "count")

    read_spans = [s for op in read_ops for s in ops_of[op]]
    read_ids = {s["id"] for s in read_spans}
    reads_in = [s for s in by_name["catalog.read"] if s["op"] in read_ids]
    out["catalog.read.ms"] = (1e3 * med_s("catalog.read"), "ms")
    out["catalog.read.calls"] = (len(reads_in) / max(len(read_spans), 1), "count")

    for op in read_ops:
        these = ops_of[op]
        ids = {s["id"] for s in these}
        build = defaultdict(float)
        for s in spans:
            # outermost plan span of each read op
            if s["op"] in ids and s["name"] in PLAN_SPANS:
                parent = s["parent"]
                nested = False
                while parent is not None:
                    p = spans[parent]
                    if p["name"] in PLAN_SPANS:
                        nested = True
                        break
                    parent = p["parent"]
                if not nested:
                    build[s["op"]] += dur(s)
        jobs, _ = group_filter(op_root(op))
        n = max(len(these), 1)
        out[f"query.{op}.build_ms"] = (1e3 * _median([build[s["id"]] for s in these]), "ms")
        out[f"query.{op}.action_ms"] = (1e3 * _median([dur(s) - build[s["id"]] for s in these]), "ms")
        out[f"query.{op}.jobs"] = (jobs / n, "count")
        out[f"query.{op}.py4j_calls"] = (sum(s["py4j"] for s in these) / n, "count")
        out[f"read_{op}_ms"] = (1e3 * _median([dur(s) for s in these]), "ms")

    out["resample.resample_ohlc.build_ms"] = (1e3 * med_s("resample.resample_ohlc"), "ms")
    jobs, _ = group_filter(under("coverage.get_data_coverage"))
    out["coverage.get_data_coverage.jobs"] = (per("coverage.get_data_coverage", jobs), "count")
    out["pagination.paginate_keyset.ms"] = (1e3 * med_s("pagination.paginate_keyset"), "ms")

    out["processor.update_data.s"] = (med_s("processor.update_data"), "s")
    out["processor.insert_ticks.s"] = (med_s("processor.insert_ticks"), "s")
    for op in ("update_month", "append_day"):
        these = ops_of[op]
        n = max(len(these), 1)
        jobs, _ = group_filter(op_root(op))
        out[f"driver.py4j_calls.{op}"] = (sum(s["py4j"] for s in these) / n, "count")
        out[f"driver.jobs.{op}"] = (jobs / n, "count")
    out["tracing.overhead_pct"] = (extra["overhead_pct"], "%")
    return out
