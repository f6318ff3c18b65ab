"""Tests of the benchmark itself, on a tiny generated fixture.

    python3 -m pytest perfbench/tests -q

The two end-to-end tests each start a Spark session in a subprocess (the
benchmark sets process-wide environment variables), about half a minute
each on 4 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = dict(customer=30, orders=100, events=200, documents=40, embeddings=40)


def _digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_generator_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    counts = gen.write_dir(str(a), TINY, 7, "llm_corpus", 1)
    gen.write_dir(str(b), TINY, 7, "llm_corpus", 1)
    gen.write_dir(str(c), TINY, 8, "llm_corpus", 1)
    assert sorted(counts) == sorted(gen.TABLES)
    assert counts["customer"] == TINY["customer"]
    assert _digests(a) == _digests(b)
    differ = {name for name, h in _digests(c).items() if _digests(a)[name] != h}
    assert differ == {f"{t}.parquet" for t in gen.TABLES} - {"region.parquet", "nation.parquet"}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_workload_draws_its_fixed_size(tmp_path, name):
    wl = WORKLOADS[name]
    for seed in range(1, 6):
        counts = gen.write_dir(str(tmp_path / str(seed)), wl.sizes, seed, name, seed)
        assert {t: counts[t] for t in wl.sizes} == wl.sizes


def test_generated_tables_keep_the_fixture_schema_and_references(tmp_path):
    import duckdb

    gen.write_dir(str(tmp_path), TINY, 1, "sql_analytics")
    con = duckdb.connect()

    def describe(path: Path) -> list[tuple[str, str]]:
        return [r[:2] for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()]

    for t in gen.TABLES:
        assert describe(tmp_path / f"{t}.parquet") == describe(gen.POOL / f"{t}.parquet"), t
    for child, key, parent, pkey in (
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
    ):
        orphans = con.execute(
            f"SELECT COUNT(*) FROM '{tmp_path}/{child}.parquet' c ANTI JOIN '{tmp_path}/{parent}.parquet' p "
            f"ON c.{key} = p.{pkey}"
        ).fetchone()[0]
        assert orphans == 0, (child, key)
    ids = con.execute(f"SELECT MIN(doc_id), MAX(doc_id) FROM '{tmp_path}/documents.parquet'").fetchone()
    assert ids == (0, TINY["documents"] - 1)


def test_tail_percentile_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(40)]
    value, pct = run.tail(xs)
    assert value == 29.0 and pct == 75.0
    assert run.tail(xs[:12]) == (11.0, 100.0)


def test_benchmark_json_names_the_workloads():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


_TINY_RUN = """
import json, sys
sys.path.insert(0, {here!r})
import run
from workloads import Workload
from sdp_spark.plans import registry

registry.load_all()
good = registry.REGISTRY["join_broadcast"]
# a deliberately wrong result: only the first three rows
registry.REGISTRY["join_broadcast"] = registry.QuerySpec(
    key=good.key, fn=lambda spark, d: good.fn(spark, d).limit(3), oracle=good.oracle, section=good.section)
wl = Workload(name="tiny", sizes={sizes!r}, keys=("topk", "join_broadcast", "dialect_mysql_query"),
              stream_keys=())
out = run.run_once(wl, seed=3, seconds=0.1, traced={traced})
print(json.dumps(run.report(out, {traced})))
"""


def _tiny_run(traced: bool) -> tuple[list[str], dict]:
    script = _TINY_RUN.format(here=str(HERE), sizes=TINY, traced=traced)
    p = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True,
                       timeout=600, env={**os.environ, "PYTHONPATH": str(ROOT)})
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _printed(lines: list[str]) -> dict[str, str]:
    out = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) >= 3 and not line.startswith("#"):
            float(parts[1])
            out[parts[0]] = parts[2]
    return out


@pytest.mark.parametrize("traced", [False, True])
def test_every_metric_prints_with_its_unit_and_a_wrong_result_fails(traced):
    lines, final = _tiny_run(traced)
    units = run.PER_LAYER_UNITS if traced else run.E2E_UNITS
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in final["metrics"].items()} == units
    printed = _printed(lines)
    for name, unit in {**run.E2E_UNITS, **units}.items():
        assert printed.get(name) == unit, name
    # one of the three keys returns a wrong result on every call
    assert final["attempted"] >= 3
    assert final["failed"] == final["attempted"] // 3
    assert final["correct"] is False
    assert any("check failed: join_broadcast" in line for line in lines)
    assert not any("check failed: topk" in line or "check failed: dialect" in line for line in lines)
    assert not (ROOT / ".perfbench_runs").exists()
