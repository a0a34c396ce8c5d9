"""Spans around the benchmark's calls into ``btd``, and the Spark event
log folded onto them.

Nothing inside ``btd`` is instrumented: a span covers one call the
benchmark makes into a ``btd`` public function, together with the
action that forces its result. Each span tags the Spark jobs it runs
with a job group, so the event log's per-stage metrics can be summed
per span afterwards.

The event log is written uncompressed and without rolling: Spark 4's
default zstd rolling directories are not plain JSON lines.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf that writes the event log to ``log_dir`` in a form
    :func:`fold_event_log` reads."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Records spans (name, start, end, parent, round) in memory.

    A disabled tracer's :meth:`span` does nothing, so the same round
    code runs traced and untraced.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.enabled = False
        self.round_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "round": self.round_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(group_id(sid), name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self._sc.setJobGroup(group_id(top), self.spans[top]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> list[dict]:
        """Each span with ``dur`` and ``self`` (duration minus the time
        its direct children cover; children never overlap)."""
        child_sum: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_sum[s["parent"]] = (
                    child_sum.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur, "self": dur - child_sum.get(s["id"], 0.0)})
        return out


def group_id(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith("perfbench-span-"):
        return int(group.rsplit("-", 1)[1])
    return None


_JOIN_NODES = ("Join", "CartesianProduct")


def _join_row_accums(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the 'number of output rows' metric of every
    join node in a SparkPlanInfo tree."""
    if any(k in plan.get("nodeName", "") for k in _JOIN_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for c in plan.get("children", []):
        _join_row_accums(c, out)


def _accum_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


#: stage accumulables summed per span (name in the log → our key)
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def fold_event_log(log_dir: str) -> dict[int, dict[str, float]]:
    """Per span id: jobs, stages, tasks, the stage metrics above and
    ``join_rows`` (rows output by join operators). Read after
    ``SparkContext.stop()``, which flushes and closes the log."""
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    exec_join_accums: dict[int, set[int]] = {}
    accum_value: dict[int, float] = {}
    per_span: dict[int, dict[str, float]] = {}

    def bucket(sid: int) -> dict[str, float]:
        return per_span.setdefault(sid, {"jobs": 0, "stages": 0, "tasks": 0})

    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sid = span_of_group(props.get("spark.jobGroup.id"))
                if sid is None:
                    continue
                bucket(sid)["jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_span.setdefault(st, sid)
                if "spark.sql.execution.id" in props:
                    exec_span.setdefault(int(props["spark.sql.execution.id"]), sid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                accums = info.get("Accumulables", [])
                for a in accums:
                    accum_value[int(a["ID"])] = max(
                        accum_value.get(int(a["ID"]), 0.0), _accum_value(a.get("Value"))
                    )
                sid = stage_span.get(info["Stage ID"])
                if sid is None:
                    continue
                b = bucket(sid)
                b["stages"] += 1
                b["tasks"] += info.get("Number of Tasks", 0)
                for a in accums:
                    key = _STAGE_METRICS.get(a.get("Name"))
                    if key:
                        b[key] = b.get(key, 0.0) + _accum_value(a.get("Value"))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                acc = exec_join_accums.setdefault(int(ev["executionId"]), set())
                _join_row_accums(ev.get("sparkPlanInfo") or {}, acc)
    for eid, accs in exec_join_accums.items():
        sid = exec_span.get(eid)
        if sid is not None:
            b = bucket(sid)
            b["join_rows"] = b.get("join_rows", 0.0) + sum(
                accum_value.get(a, 0.0) for a in accs
            )
    return per_span


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
