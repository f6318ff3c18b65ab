"""Per-layer tracing for the benchmark's traced run (`--trace 1`).

Everything is measured from outside the engine: by wrapping public
functions of sdp_spark, by tagging each call's Spark jobs with a job group,
by reading Spark's own event log, the query execution's phase tracker and a
StreamingQueryListener. Nothing inside sdp_spark changes.

Each timed call has a build interval (inside the operator function) and an
exec interval (the noop write). A Spark job belongs to the call whose
interval holds its submission time; stream jobs run on the stream's own
thread and escape the caller's job group, so time is what attributes them.
"""

from __future__ import annotations

import bisect
import functools
import glob
import json
import os
import re
import statistics
import sys
import time
from datetime import datetime

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_BROADCAST_JOIN = re.compile(r"\bBroadcast(Hash|NestedLoop)Join\b")
_EXCHANGE = re.compile(r"\bExchange\b")


class _Timer:
    """Call count and seconds spent in one wrapped function."""

    def __init__(self) -> None:
        self.calls = 0
        self.s = 0.0

    def wrap(self, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls += 1
                self.s += time.perf_counter() - t0

        return timed


def _replace_everywhere(orig, replacement) -> None:
    """Point every sdp_spark module attribute that is `orig` at `replacement`,
    so callers that imported the name directly are wrapped too."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == "sdp_spark" or name.startswith("sdp_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, replacement)


def _entries(root: str) -> set[str]:
    """Derived-input entries under the engine's cache root (one level down)."""
    out = set()
    for tag in glob.glob(os.path.join(root, "*")):
        out.update(glob.glob(os.path.join(tag, "*")))
    return out


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Tracer:
    def __init__(self, spark, event_dir: str, cache_root: str, cores: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.event_dir = event_dir
        self.cache_root = cache_root
        self.cores = cores
        self.table = _Timer()
        self.translate = _Timer()
        self.progress: list[tuple] = []
        self._before_entries: set[str] = set()

    def install(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        import sdp_spark.dialect as dialect
        import sdp_spark.sources.fixtures as fixtures

        _replace_everywhere(fixtures.table, self.table.wrap(fixtures.table))
        _replace_everywhere(dialect.translate_mysql, self.translate.wrap(dialect.translate_mysql))

        sink = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append((
                    str(p.id), _epoch(p.timestamp), p.numInputRows, dict(p.durationMs),
                    sum(s.numRowsTotal for s in p.stateOperators),
                    sum(s.memoryUsedBytes for s in p.stateOperators),
                ))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    # -- per call ---------------------------------------------------------

    def begin(self, rec: dict) -> None:
        rec["w0"] = time.time()
        rec["_table"] = (self.table.calls, self.table.s)
        rec["_translate"] = self.translate.s
        self._before_entries = _entries(self.cache_root)
        self.sc.setJobGroup(f"perfbench:{rec['i']}:build", rec["key"])

    def built(self, rec: dict) -> None:
        rec["w1"] = time.time()
        self.sc.setJobGroup(f"perfbench:{rec['i']}:exec", rec["key"])

    def end(self, rec: dict, df) -> None:
        rec["w2"] = time.time()
        rec.setdefault("w1", rec["w2"])
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        c0, s0 = rec.pop("_table")
        rec["table_calls"] = self.table.calls - c0
        rec["table_s"] = self.table.s - s0
        rec["translate_s"] = self.translate.s - rec.pop("_translate")
        rec["staged"] = bool(_entries(self.cache_root) - self._before_entries)
        if df is not None and "error" not in rec:
            rec.update(self._plan_stats(df))

    def _plan_stats(self, df) -> dict:
        """Catalyst phase times and plan shape of the returned DataFrame.
        Reading executedPlan optimizes and plans it once more (the noop
        write planned its own copy); that cost is part of tracing overhead."""
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1000.0
        return {
            "analysis_s": phases.get("analysis", 0.0),
            "optimization_s": phases.get("optimization", 0.0),
            "planning_s": phases.get("planning", 0.0),
            "exchanges": len(_EXCHANGE.findall(plan)),
            "broadcast_joins": len(_BROADCAST_JOIN.findall(plan)),
            "python_nodes": sum(1 for line in plan.splitlines() if _PYTHON_NODE.search(line.split("(")[0])),
        }

    # -- end of run -------------------------------------------------------

    def memo_state(self) -> dict:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return {
            "cached_rdds": self.sc._jsc.getPersistentRDDs().size(),
            "storage_bytes": sum(i.memSize() + i.diskSize() for i in infos),
        }

    def released_state(self, tmpdir: str) -> dict:
        """Memo state after sdp_spark.unpersist_all(): what a long-lived
        session would keep."""
        deadline = time.time() + 5
        while self.sc._jsc.getPersistentRDDs().size() and time.time() < deadline:
            time.sleep(0.1)  # unpersist_all releases without blocking
        views = [t for t in self.spark.catalog.listTables() if t.isTemporary]
        scratch = [e for e in os.listdir(tmpdir) if e != "sdp_spark_cache"]
        return {
            "cached_rdds_after_release": self.sc._jsc.getPersistentRDDs().size(),
            "temp_views_after_release": len(views),
            "scratch_dirs_after_release": len(scratch),
        }

    def layers(self, calls: list[dict], session_s: float, memo: dict) -> dict:
        """Per-layer metrics over the timed calls. Call after the Spark
        context has stopped, so the event log is complete. Additive
        metrics are means per timed call."""
        timed = [c for c in calls if c["phase"] == "timed"]
        n = max(1, len(timed))
        per_call = {id(c): _Acc() for c in timed}
        self._attribute_event_log(timed, per_call)
        self._attribute_progress(timed, per_call)

        def mean(field: str) -> float:
            return sum(c.get(field, 0.0) for c in timed) / n

        def acc_sum(field: str) -> float:
            return sum(getattr(a, field) for a in per_call.values())

        wall = sum(c["latency_s"] for c in timed)
        triggers = [d for a in per_call.values() for d in a.trigger_ms]
        out = {
            "session.start_s": session_s,
            "fixtures.table_calls": mean("table_calls"),
            "fixtures.table_s": mean("table_s"),
            "fixtures.staging_s": sum(c["build_s"] for c in calls if c.get("staged")),
            "registry.build_s": mean("build_s"),
            "registry.build_jobs": acc_sum("build_jobs") / n,
            "plan.analysis_s": mean("analysis_s"),
            "plan.optimization_s": mean("optimization_s"),
            "plan.planning_s": mean("planning_s"),
            "plan.exchanges": mean("exchanges"),
            "plan.broadcast_joins": mean("broadcast_joins"),
            "plan.python_nodes": mean("python_nodes"),
            "exec.s": mean("exec_s"),
            "exec.jobs": acc_sum("jobs") / n,
            "exec.stages": acc_sum("stages") / n,
            "exec.tasks": acc_sum("tasks") / n,
            "exec.run_s": acc_sum("run_ms") / 1000.0 / n,
            "exec.cpu_s": acc_sum("cpu_ns") / 1e9 / n,
            "exec.gc_s": acc_sum("gc_ms") / 1000.0 / n,
            "exec.cpu_util": (acc_sum("cpu_ns") / 1e9) / max(1e-9, wall * self.cores),
            "exec.shuffle_read_bytes": acc_sum("shuffle_read") / n,
            "exec.shuffle_write_bytes": acc_sum("shuffle_write") / n,
            "exec.spill_bytes": acc_sum("spill") / n,
            "exec.input_bytes": acc_sum("input") / n,
            "exec.output_bytes": acc_sum("output") / n,
            "arrow.bytes_to_python": acc_sum("py_sent") / n,
            "arrow.bytes_from_python": acc_sum("py_received") / n,
            "arrow.rows_from_python": acc_sum("py_rows") / n,
            "memo.cached_rdds": memo["cached_rdds"],
            "memo.storage_bytes": memo["storage_bytes"],
            "memo.warm_cold_build_ratio": _warm_cold_ratio(calls),
            "memo.cached_rdds_after_release": memo["cached_rdds_after_release"],
            "memo.temp_views_after_release": memo["temp_views_after_release"],
            "memo.scratch_dirs_after_release": memo["scratch_dirs_after_release"],
            "stream.queries": acc_sum("queries") / n,
            "stream.microbatches": acc_sum("microbatches") / n,
            "stream.input_rows": acc_sum("input_rows") / n,
            "stream.trigger_p50_s": statistics.median(triggers) / 1000.0 if triggers else 0.0,
            "stream.add_batch_s": acc_sum("add_batch_ms") / 1000.0 / n,
            "stream.query_planning_s": acc_sum("query_planning_ms") / 1000.0 / n,
            "stream.wal_commit_s": acc_sum("wal_commit_ms") / 1000.0 / n,
            "stream.state_rows": acc_sum("state_rows") / n,
            "stream.state_memory_bytes": acc_sum("state_memory") / n,
            "dialect.translate_s": mean("translate_s"),
        }
        return out

    def _attribute_event_log(self, timed: list[dict], per_call: dict) -> None:
        logs = [p for p in glob.glob(os.path.join(self.event_dir, "**"), recursive=True) if os.path.isfile(p)]
        if len(logs) != 1:
            raise RuntimeError(f"expected one Spark event log under {self.event_dir}, found {logs}")
        starts = [c["w0"] for c in timed]

        def owner(t: float):
            i = bisect.bisect_right(starts, t) - 1
            if i >= 0 and t <= timed[i]["w2"]:
                c = timed[i]
                return per_call[id(c)], t < c["w1"]
            return None, False

        stage_owner: dict[int, _Acc] = {}
        python_rows_ids: set[int] = set()
        stage_accums: list[tuple[_Acc, list]] = []
        with open(logs[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    acc, in_build = owner(e["Submission Time"] / 1000.0)
                    if acc is None:
                        continue
                    acc.jobs += 1
                    acc.build_jobs += in_build
                    for sid in e["Stage IDs"]:
                        stage_owner.setdefault(sid, acc)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    acc = stage_owner.get(info["Stage ID"])
                    if acc is None:
                        continue
                    acc.stages += 1
                    acc.tasks += info["Number of Tasks"]
                    stage_accums.append((acc, info.get("Accumulables", [])))
                elif kind == "SparkListenerTaskEnd":
                    acc = stage_owner.get(e["Stage ID"])
                    if acc is not None and e.get("Task Metrics"):
                        acc.add_task(e["Task Metrics"])
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _python_row_metrics(e.get("sparkPlanInfo", {}), python_rows_ids)
        for acc, accums in stage_accums:
            for a in accums:
                name, value = a.get("Name"), a.get("Value")
                if not isinstance(value, (int, float)) and not (isinstance(value, str) and value.isdigit()):
                    continue
                value = int(value)
                if name == "data sent to Python workers":
                    acc.py_sent += value
                elif name == "data returned from Python workers":
                    acc.py_received += value
                elif a.get("ID") in python_rows_ids:
                    acc.py_rows += value

    def _attribute_progress(self, timed: list[dict], per_call: dict) -> None:
        starts = [c["w0"] for c in timed]
        last: dict[str, tuple] = {}
        for qid, t, rows, dur, state_rows, state_mem in self.progress:
            i = bisect.bisect_right(starts, t) - 1
            if i < 0 or t > timed[i]["w2"]:
                continue
            acc = per_call[id(timed[i])]
            acc.microbatches += 1
            acc.input_rows += rows
            acc.trigger_ms.append(dur.get("triggerExecution", 0))
            acc.add_batch_ms += dur.get("addBatch", 0)
            acc.query_planning_ms += dur.get("queryPlanning", 0)
            acc.wal_commit_ms += dur.get("walCommit", 0)
            last[qid] = (acc, state_rows, state_mem)
        for acc, state_rows, state_mem in last.values():
            acc.queries += 1
            acc.state_rows += state_rows
            acc.state_memory += state_mem


class _Acc:
    """Counters attributed to one timed call."""

    def __init__(self) -> None:
        self.jobs = self.build_jobs = self.stages = self.tasks = 0
        self.run_ms = self.cpu_ns = self.gc_ms = 0
        self.shuffle_read = self.shuffle_write = self.spill = self.input = self.output = 0
        self.py_sent = self.py_received = self.py_rows = 0
        self.queries = self.microbatches = self.input_rows = 0
        self.trigger_ms: list[float] = []
        self.add_batch_ms = self.query_planning_ms = self.wal_commit_ms = 0
        self.state_rows = self.state_memory = 0

    def add_task(self, m: dict) -> None:
        self.run_ms += m.get("Executor Run Time", 0)
        self.cpu_ns += m.get("Executor CPU Time", 0)
        self.gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics", {})
        self.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        self.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        self.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        self.input += m.get("Input Metrics", {}).get("Bytes Read", 0)
        self.output += m.get("Output Metrics", {}).get("Bytes Written", 0)


def _python_row_metrics(info: dict, ids: set[int]) -> None:
    """Accumulator ids of the output-row metrics of Python exec nodes."""
    if _PYTHON_NODE.search(info.get("nodeName", "")):
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                ids.add(m.get("accumulatorId"))
    for child in info.get("children", []):
        _python_row_metrics(child, ids)


def _warm_cold_ratio(calls: list[dict]) -> float:
    """Median over (key, dir) of repeat-call build_s / first-call build_s."""
    by: dict[tuple[str, str], list[float]] = {}
    for c in calls:
        if "error" not in c:
            by.setdefault((c["key"], c["dir"]), []).append(c["build_s"])
    ratios = [
        statistics.median(b[1:]) / b[0] for b in by.values() if len(b) > 1 and b[0] > 0
    ]
    return statistics.median(ratios) if ratios else 0.0
