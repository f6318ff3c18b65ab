#!/usr/bin/env python3
"""The repository benchmark: one seeded, result-checked run of one workload.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 2 --trace 0

Generates the workload's inputs from the seed, starts the engine on
local[nproc], runs one untimed warm-up cycle, then the workload's timed
cycles, and more while less than `--seconds` has been measured (see
workloads.py). Every timed call's result is checked, untimed: the first
call of each key on each input dir in full (DuckDB oracle or plan re-run,
see check.py), every later call against it.

Prints one line per metric, then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the run is traced and the metrics
are the per-layer ones (tracing.py). `--out FILE` also writes every number
and every call as JSON.

Each run works in its own directory under .perfbench_runs/ (TMPDIR,
SPARK_LOCAL_DIRS, java.io.tmpdir, the working directory), measures what
the engine left there, and removes it.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import numpy as np  # noqa: E402

import gen  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# metric -> unit: the untraced run reports the end-to-end metrics, the
# traced run the per-layer ones
E2E_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _du(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def _vmhwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    """Every process below `pid` (Spark's Python workers below the JVM)."""
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        return out
    return out + [d for c in out for d in _descendants(c)]


def _wait_all(proc: subprocess.Popen, workers: list[int]) -> None:
    """Wait for the JVM, then for the workers it forked, killing what
    outlives the timeouts."""
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    for pid in workers:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when that percentile would not be above
    the median."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 20:  # no percentile above the median has ten samples beyond it
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


class Run:
    def __init__(self, wl: Workload, seed: int, seconds: float, traced: bool, run_dir: Path) -> None:
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_dir = run_dir
        self.tmp = run_dir / "tmp"
        self.calls: list[dict] = []
        self.refs: dict[tuple[str, str], dict] = {}
        self.duck: dict[str, object] = {}
        self.rows: dict[str, dict[str, int]] = {}
        # input generation and checks, kept out of every timing
        self.gen_s = 0.0
        self.check_s = 0.0
        self.tracer = None
        self.spark = None

    # -- environment --------------------------------------------------------

    def isolate(self) -> None:
        for sub in ("tmp", "spark-local", "inputs", "cwd", "eventlog"):
            (self.run_dir / sub).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = str(self.run_dir / "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
        # a 2 GiB ceiling, not a pinned heap: G1 still starts small and
        # grows with what the driver keeps, so peak_rss_mb moves with it.
        # Under the engine's 16g default, G1 expands the heap past 4 GB on
        # llm_corpus without needing it. The k-means fit's sample cap
        # (1 % of the heap) is 20k vectors at 2 GiB, far above a batch.
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        )
        submit = [f"--driver-java-options '-Djava.io.tmpdir={self.tmp}'"]
        if self.traced:
            submit += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{self.run_dir / 'eventlog'}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
        os.chdir(self.run_dir / "cwd")
        sys.path.insert(0, str(ROOT))

    def make_dir(self, batch: int) -> str:
        t0 = time.perf_counter()
        d = str(self.run_dir / "inputs" / f"batch{batch}")
        self.rows[d] = gen.write_dir(d, self.wl.sizes, self.seed, self.wl.name, batch)
        self.gen_s += time.perf_counter() - t0
        return d

    def paused(self) -> float:
        return self.gen_s + self.check_s

    # -- calls --------------------------------------------------------------

    def cycle(self, cycle: int) -> list[tuple[str, str]]:
        """(key, role) in call order for one cycle; cycle 0 is the warm-up."""
        rng = np.random.default_rng([self.seed, cycle])
        wl = self.wl
        if wl.build:
            serve = list(wl.serve) * (wl.serve_reps if cycle else 1)
            return [(k, "build") for k in wl.build] + [(serve[i], "serve") for i in rng.permutation(len(serve))]
        return [(wl.keys[i], "call") for i in rng.permutation(len(wl.keys))]

    def call(self, key: str, role: str, d: str, phase: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        rec = {"i": len(self.calls), "key": key, "role": role, "dir": d, "phase": phase}
        if self.tracer:
            self.tracer.begin(rec)
        df = None
        t0 = time.perf_counter()
        try:
            df = self.registry[key].fn(self.spark, d)
            t1 = time.perf_counter()
            rec["build_s"] = t1 - t0
            if self.tracer:
                self.tracer.built(rec)
            obs = Observation(f"perfbench_{rec['i']}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").format("noop").save()
            rec["exec_s"] = time.perf_counter() - t1
            rec["rows"] = obs.get["n"]
            rec["schema"] = df.schema.simpleString()
        except Exception as e:  # a failed call is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:500]}"
            rec.setdefault("build_s", time.perf_counter() - t0)
            rec.setdefault("exec_s", time.perf_counter() - t0 - rec["build_s"])
        rec["latency_s"] = time.perf_counter() - t0
        if self.tracer:
            self.tracer.end(rec, df)
        self.calls.append(rec)
        if phase == "timed":
            self.verify(rec, df)
        return rec

    def verify(self, rec: dict, df) -> None:
        import check  # uses the test suite's oracle compare, next to sdp_spark

        t0 = time.perf_counter()
        ref_key = (rec["key"], rec["dir"])
        ref = self.refs.get(ref_key)
        if "error" in rec:
            rec["problem"] = rec["error"]
        elif ref is None:
            if rec["dir"] not in self.duck:
                self.duck[rec["dir"]] = check.duckdb_for(rec["dir"])
            try:
                problem, queries = check.first_call(
                    df, self.registry[rec["key"]].oracle, self.duck[rec["dir"]], rec["rows"]
                )
            except Exception as e:  # the check itself failing fails the call
                problem, queries = f"check raised {type(e).__name__}: {str(e)[:300]}", 1
            self.refs[ref_key] = {"schema": rec["schema"], "rows": rec["rows"], "problem": problem,
                                  "queries": queries}
            if problem:
                rec["problem"] = problem
        elif ref["problem"]:
            rec["problem"] = "first call on this dir failed its check"
        else:
            problem = check.repeat_mismatch(ref["schema"], ref["rows"], rec["schema"], rec["rows"])
            if problem:
                rec["problem"] = problem
        rec["ok"] = "problem" not in rec
        self.check_s += time.perf_counter() - t0

    # -- the run ------------------------------------------------------------

    def execute(self) -> dict:
        self.isolate()
        dir0 = self.make_dir(0)

        from sdp_spark.plans.registry import load_all
        from sdp_spark.session import get_spark

        self.registry = load_all()
        self.import_s = time.perf_counter() - T_PROCESS - self.gen_s
        missing = [k for k in self.wl.all_keys() if k not in self.registry]
        if missing:
            raise SystemExit(f"perfbench: keys not in the registry: {missing}")
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        if self.traced:
            from tracing import Tracer

            self.tracer = Tracer(self.spark, str(self.run_dir / "eventlog"),
                                 str(self.tmp / "sdp_spark_cache"), _cores())
        try:
            return self.measure(dir0, session_s)
        finally:
            self.stop()

    def measure(self, dir0: str, session_s: float) -> dict:
        if self.tracer:
            self.tracer.install()
        for key, role in self.cycle(0):
            self.call(key, role, dir0, "warmup")
        setup_s = time.perf_counter() - T_PROCESS - self.paused()
        load1 = os.getloadavg()[0]

        paused0 = self.paused()
        w0 = time.perf_counter()
        cycles = []
        n = 0
        while n < self.wl.cycles or time.perf_counter() - w0 - (self.paused() - paused0) < self.seconds:
            n += 1
            d = self.make_dir(n) if self.wl.fresh_dir_per_cycle else dir0
            cycles.append([self.call(key, role, d, "timed") for key, role in self.cycle(n)])
        window_s = time.perf_counter() - w0 - (self.paused() - paused0)

        import sdp_spark

        memo = self.tracer.memo_state() if self.tracer else {}
        live_heap_mb = self.live_heap_mb()
        sdp_spark.unpersist_all()
        if self.tracer:
            memo.update(self.tracer.released_state(str(self.tmp)))
        scratch_bytes = _du(self.tmp)
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss_kb = _vmhwm_kb(jvm_pid) + _vmhwm_kb("self")
        recall = None
        if self.traced and self.wl.build:  # untimed, after every other reading
            per_method = self.registry["llm_ann_recall_eval"].fn(self.spark, d).filter("query_id = -1").collect()
            recall = min(r["recall_at_5"] for r in per_method)
        t_stop = time.perf_counter()
        self.stop()
        stop_s = time.perf_counter() - t_stop

        timed = [c for c in self.calls if c["phase"] == "timed"]
        lat = [c["latency_s"] for c in timed]
        tail_s, tail_pct = tail(lat)
        failed = sum(not c["ok"] for c in timed)
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": len(timed) / window_s,
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail_s,
            "peak_rss_mb": rss_kb / 1024.0,
            "scratch_kb_per_op": scratch_bytes / 1024.0 / len(self.calls),
        }
        extra = self.workload_metrics(cycles, timed)
        extra["failed_op_ratio"] = failed / len(timed)
        extra["recall_at_5"] = recall if recall is not None else 0.0
        extra["memo.live_heap_mb"] = live_heap_mb
        out = {
            "workload": self.wl.name, "seed": self.seed, "seconds": self.seconds, "traced": self.traced,
            "cores": _cores(), "loadavg_1m": load1, "loadavg_1m_end": os.getloadavg()[0],
            "session_s": session_s, "gen_s": self.gen_s, "check_s": self.check_s,
            "import_s": self.import_s, "stop_s": stop_s, "cycles": len(cycles), "window_s": window_s,
            "attempted": len(timed), "failed": failed,
            "checks_failed": sorted({(c["key"], c["problem"]) for c in timed if not c["ok"]}),
            "latency_tail_pct": tail_pct, "e2e": e2e, "workload_metrics": extra,
        }
        if self.tracer:
            layers = self.tracer.layers(self.calls, session_s, memo)
            layers.update(extra)
            layers["trace.ops_per_s"] = e2e["ops_per_s"]
            layers["trace.latency_p50_s"] = e2e["latency_p50_s"]
            out["per_layer"] = layers
        out["calls"] = [{k: v for k, v in c.items() if k != "dir"} for c in self.calls]
        return out

    def live_heap_mb(self) -> float:
        """Driver heap still in use after a full GC: what the run's memos,
        cached frames and memory-sink tables keep alive, without the
        garbage that makes peak_rss_mb depend on when G1 collected."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def workload_metrics(self, cycles: list[list[dict]], timed: list[dict]) -> dict:
        """The workload-specific figures; 0.0 where a workload has none."""
        wl = self.wl
        build = [sum(c["latency_s"] for c in cyc if c["role"] == "build") for cyc in cycles]
        serve = [c for c in timed if c["role"] == "serve"]
        queries = sum(self.refs[(c["key"], c["dir"])]["queries"] for c in serve if (c["key"], c["dir"]) in self.refs)
        streams = [c for c in timed if c["key"] in wl.stream_keys]
        events = self.rows[timed[0]["dir"]]["events"] if timed else 0
        return {
            "batch_build_s": statistics.median(build) if wl.build else 0.0,
            "serve_ms_per_query": 1000.0 * sum(c["latency_s"] for c in serve) / queries if queries else 0.0,
            "ingest_rows_per_s": events * len(streams) / sum(c["latency_s"] for c in streams) if streams else 0.0,
        }

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit. The JVM exits when its
        stdin closes; the py4j callback server is left to exit with this
        process, since shutting it down can block on a stream's callback
        connection."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        for con in self.duck.values():
            con.close()
        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if proc is not None:
            workers = _descendants(proc.pid)
            proc.stdin.close()
            _wait_all(proc, workers)


def report(out: dict, traced: bool) -> dict:
    """Print every metric by name with its unit; return the final JSON."""
    units = PER_LAYER_UNITS if traced else E2E_UNITS
    values = out["per_layer"] if traced else out["e2e"]
    print(f"# perfbench {out['workload']} seed={out['seed']} cores={out['cores']} "
          f"cycles={out['cycles']} calls={out['attempted']} window={out['window_s']:.2f}s "
          f"loadavg_1m={out['loadavg_1m']:.2f} traced={int(traced)}")
    for name, value in out["e2e"].items():
        note = f"  (p{out['latency_tail_pct']:.0f} of {out['attempted']})" if name == "latency_tail_s" else ""
        print(f"{name} {value:.6g} {E2E_UNITS[name]}{note}")
    for name, value in (out["per_layer"] if traced else out["workload_metrics"]).items():
        print(f"{name} {value:.6g} {PER_LAYER_UNITS[name]}")
    for key, problem in out["checks_failed"]:
        print(f"# check failed: {key}: {problem}")
    return {
        "correct": out["failed"] == 0 and not out["checks_failed"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write every number and call to this JSON file")
    args = ap.parse_args(argv)

    if not (ROOT / "sdp_spark" / "__init__.py").is_file():
        print(f"perfbench: no sdp_spark package in {ROOT}", file=sys.stderr)
        return 1
    out_path = Path(args.out).resolve() if args.out else None
    out = run_once(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    final = report(out, bool(args.trace))
    if out_path:
        out_path.write_text(json.dumps(out, indent=1, default=str) + "\n")
    print(json.dumps(final))
    return 0


def run_once(wl: Workload, seed: int, seconds: float, traced: bool) -> dict:
    """One run in its own directory under .perfbench_runs/, removed after."""
    run_dir = ROOT / ".perfbench_runs" / f"{wl.name}-{seed}-{os.getpid()}"

    def cleanup() -> None:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass

    def terminated(*_) -> None:
        # a py4j call cut by a signal can leave the gateway unusable, so
        # stop the JVM directly rather than through SparkContext.stop()
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            workers = _descendants(proc.pid)
            proc.terminate()
            _wait_all(proc, workers)
        cleanup()
        os._exit(143)

    signal.signal(signal.SIGTERM, terminated)
    cleanup()
    try:
        return Run(wl, seed, seconds, traced, run_dir).execute()
    finally:
        cleanup()


if __name__ == "__main__":
    sys.exit(main())
