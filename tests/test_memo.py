"""Session lifecycle (sdp_spark.memo): memo keys follow the data version,
staged copies move when a table is rewritten in place, and release()
frees every frame, memory-sink view and scratch dir the session holds.
Also pins the explicit errors and ANSI-safe probes of the Arrow scorers
and fixpoint loops, and the make_sf1 tool's argument parsing."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PythonException

import sdp_spark
from sdp_spark import memo
from sdp_spark.plans.registry import load_all
from sdp_spark.sources.fixtures import TABLES

REGISTRY = load_all()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persisted(spark) -> set[str]:
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
    return {i.strip() for i in ids.strip("[]").split(",") if i.strip()}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.fixture
def sf_copy(sf_dir, tmp_path, monkeypatch):
    """A private writable copy of the sf0.01 fixture, with the engine's
    temp root (scratch dirs and sdp_spark_cache) under tmp_path too."""
    src = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(src):
        pytest.skip("sf0.01 fixture absent")
    dst = tmp_path / "sf0.01"
    dst.mkdir()
    for t in TABLES:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"), dst / f"{t}.parquet")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    yield str(dst)
    memo.release(str(dst))


def _rewrite_keeping_even(sf: str, name: str, id_col: str) -> set[int]:
    """Rewrite one table in place with only its even ids; return them."""
    path = os.path.join(sf, f"{name}.parquet")
    tbl = pq.read_table(path)
    tbl = tbl.filter(pa.array(tbl[id_col].to_numpy() % 2 == 0))
    pq.write_table(tbl, path + ".new")
    os.replace(path + ".new", path)
    return set(tbl[id_col].to_pylist())


def test_memo_key_binds_defaults_and_follows_stamp(spark, sf_copy):
    calls = []

    @memo.memo
    def probe(spark, sf_dir, k=3):
        calls.append(k)
        return object()

    first = probe(spark, sf_copy)
    assert probe(spark, sf_copy, 3) is first and probe(spark, sf_copy, k=3) is first
    assert probe(spark, sf_copy, 4) is not first
    _rewrite_keeping_even(sf_copy, "embeddings", "vec_id")
    second = probe(spark, sf_copy)
    assert second is not first
    memo.release(sf_copy)
    assert probe(spark, sf_copy) is not second
    assert calls == [3, 4, 3, 3]


def test_in_place_rewrite_reaches_every_embedding_consumer(spark, sf_copy):
    """Build the embedding memos, rewrite embeddings.parquet in place, and
    every consumer must answer from the new file."""
    from sdp_spark.operators.llm import _emb_count

    def ids(key, *cols):
        rows = REGISTRY[key].fn(spark, sf_copy).select(*cols).collect()
        return {v for r in rows for v in r}

    n_before = _emb_count(spark, sf_copy)
    ids("llm_sim_search", "query_id", "neighbor_id")
    ids("llm_cluster_kmeans", "vec_id")
    ids("llm_knn_graph_ivf", "vec_id", "neighbor_id")

    kept = _rewrite_keeping_even(sf_copy, "embeddings", "vec_id")
    assert 0 < len(kept) < n_before
    assert _emb_count(spark, sf_copy) == len(kept)
    assert ids("llm_sim_search", "query_id", "neighbor_id") <= kept
    assert ids("llm_cluster_kmeans", "vec_id") == kept
    assert ids("llm_knn_graph_ivf", "vec_id") == kept
    assert ids("llm_knn_graph_ivf", "neighbor_id") <= kept


def test_stream_ingest_follows_rewritten_events(spark, sf_copy):
    """The staged landing dir is keyed on the data version: after
    events.parquet is rewritten in place, the stream reads the new rows."""
    first = REGISTRY["stream_ingest"].fn(spark, sf_copy).count()
    kept = _rewrite_keeping_even(sf_copy, "events", "event_id")
    assert 0 < len(kept) < first
    assert REGISTRY["stream_ingest"].fn(spark, sf_copy).count() == len(kept)


def test_release_frees_views_scratch_and_memo_rdds(spark, sf_dir, tmp_path, monkeypatch):
    """N invocations of stream, sink and Arrow-scored keys, then
    unpersist_all(): no memory-sink view, no sdp_* scratch entry and no
    RDD persisted since the start may be left."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rdds0, views0 = _persisted(spark), _temp_views(spark)
    for _ in range(3):
        for key in ("stream_ingest", "sink_append", "sink_stream_upsert", "llm_knn_graph"):
            assert REGISTRY[key].fn(spark, sf_dir).count() > 0
    sink_views = _temp_views(spark) - views0
    assert len(sink_views) == 3  # one memory sink per stream_ingest call
    assert len(_persisted(spark) - rdds0) > 0

    assert sdp_spark.unpersist_all() > 0
    deadline = time.time() + 10
    while _persisted(spark) - rdds0 and time.time() < deadline:
        time.sleep(0.1)
    assert not _temp_views(spark) & sink_views
    # sdp_spark_cache holds the version-stamped staged inputs, which
    # persist across sessions by design; everything else is scratch
    assert [e for e in os.listdir(tmp_path) if e.startswith("sdp_") and e != "sdp_spark_cache"] == []
    assert not _persisted(spark) - rdds0


def test_pair_dots_unknown_id_raises_value_error(spark, sf_dir):
    """A pair whose id is not an embedding id must fail with an explicit
    ValueError from the Arrow scorer, not an IndexError or a silent
    mis-gather (the old bare assert vanished under python -O)."""
    from sdp_spark.operators.llm import _nndescent_refine

    edges = spark.createDataFrame(
        [(1, 2, 0.5, 1), (2, 10**12, 0.5, 1)],
        "vec_id bigint, neighbor_id bigint, cos_sim double, rnk int",
    )
    with pytest.raises(PythonException, match="ValueError"):
        _nndescent_refine(spark, sf_dir, edges, 2, rounds=1).collect()


def test_knn_scored_arrow_dim_mismatch_raises_value_error(spark, sf_dir):
    from sdp_spark.operators.stats import _knn_scored_arrow

    queries = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0)], "vec_id bigint, dvec array<double>, norm double"
    )
    with pytest.raises(PythonException, match="ValueError"):
        _knn_scored_arrow(spark, sf_dir, queries).collect()


def test_convergence_probes_are_ansi_safe(spark, sf_dir):
    """The Σ(labels) probes sum as decimal(38,0): ANSI on or off gives the
    same output, and ids whose bigint sum overflows still converge."""
    from sdp_spark.operators.llm import _propagate_loop

    prior = spark.conf.get("spark.sql.ansi.enabled")

    def run(ansi: str) -> dict[str, list]:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        memo.release(sf_dir)
        return {
            key: sorted(tuple(r) for r in REGISTRY[key].fn(spark, sf_dir).collect())
            for key in ("llm_dedup_near_resolve", "graph_connected_components")
        }

    try:
        assert run("true") == run("false")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        big = 2**62
        pairs = spark.createDataFrame(
            [(big, big + 1), (big + 2, big + 3)], "doc_a bigint, doc_b bigint"
        )
        labels = dict(_propagate_loop(pairs).collect())
        assert labels == {big: big, big + 1: big, big + 2: big + 2, big + 3: big + 2}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_make_sf1_help_prints_usage_and_writes_nothing(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_sf1.py"), "--help"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("usage:")
    assert list(tmp_path.iterdir()) == []
