"""One memo and scratch lifecycle for everything a session holds per sf_dir.

Three parts, all keyed on (applicationId, abspath(sf_dir)):

- ``@memo`` for ``fn(spark, sf_dir, *params)``. The key adds the data
  version ``stamp(sf_dir)``, the function and its bound params, so a
  result is reused only while the fixture files are unchanged (the
  incremental top-K reuse rule, EDBT 2020). A value may be a cached or
  checkpointed DataFrame, a plain driver value or a staged path. The ids
  of the RDDs its build persisted (localCheckpoints, eager or lazy) are
  recorded with it. Only the current version's entries are kept: a new
  stamp frees the old ones first, because Spark's CacheManager matches a
  cached plan by its file path, so a stale cached frame would otherwise
  answer the rewritten file's reads.
- ``scratch`` for per-call temp dirs (sink targets, Arrow side files) and
  ``memory_sink`` for memory-sink streams, whose temp views it records.
- ``release(sf_dir=None)``: unpersist the memoized frames and their RDDs,
  drop the views, remove the scratch dirs and forget the entries, for one
  dir or for all of them.

Staged artifacts under ``fixtures.cache_dir`` are not held here: they
persist across sessions, and ``fixtures.cache_tag`` folds the same stamp
into their path.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class _Held:
    """What a session holds for one (app, sf_dir)."""

    spark: SparkSession
    stamp: tuple = ()
    values: dict = field(default_factory=dict)
    rdds: set = field(default_factory=set)
    views: list = field(default_factory=list)
    dirs: list = field(default_factory=list)


_HELD: dict[tuple[str, str], _Held] = {}
_sink_ids = itertools.count(1)


def stamp(sf_dir: str) -> tuple:
    """The data version of an sf_dir: (mtime_ns, size) of every fixture
    table, one os.stat each (see fixtures.table_fingerprint)."""
    from sdp_spark.sources.fixtures import TABLES, table_fingerprint

    return tuple(table_fingerprint(sf_dir, name) for name in TABLES)


def _held(spark: SparkSession, sf_dir: str) -> _Held:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    held = _HELD.get(key)
    if held is None:
        held = _HELD[key] = _Held(spark)
    return held


def _persisted(spark: SparkSession) -> set[int]:
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
    return {int(i) for i in ids.strip("[]").split(",") if i.strip()}


def memo(fn):
    """Memoize ``fn(spark, sf_dir, *params)`` per session, sf_dir, data
    version and params (defaults applied, so keyword and positional calls
    share one entry)."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str, *args, **kwargs):
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        key = (fn, tuple(bound.arguments.values())[2:])
        held = _held(spark, sf_dir)
        version = stamp(sf_dir)
        if held.stamp != version:
            _free_values(held)
            held.stamp = version
        try:
            return held.values[key]
        except KeyError:
            pass
        before = _persisted(spark)
        value = fn(spark, sf_dir, *args, **kwargs)
        held.rdds |= _persisted(spark) - before
        held.values[key] = value
        return value

    return wrapper


def scratch(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """A fresh temp dir, removed by ``release(sf_dir)``."""
    path = tempfile.mkdtemp(prefix=prefix)
    _held(spark, sf_dir).dirs.append(path)
    return path


def memory_sink(sdf: DataFrame, sf_dir: str, prefix: str):
    """(writer, name): a memory-sink writer for ``sdf`` under a fresh query
    name. The temp view the sink registers is dropped by ``release(sf_dir)``."""
    name = f"{prefix}_{next(_sink_ids)}"
    _held(sdf.sparkSession, sf_dir).views.append(name)
    return sdf.writeStream.format("memory").queryName(name), name


def _live(held: _Held) -> bool:
    """False once the session's SparkContext has stopped: its frames, RDDs
    and views went with it, and dropping the references suffices."""
    return held.spark.sparkContext._jsc is not None


def _free_values(held: _Held) -> None:
    """Unpersist the memoized frames and the RDDs their builds persisted,
    and forget the entries."""
    if _live(held):
        for value in held.values.values():
            if isinstance(value, DataFrame) and value.is_cached:
                value.unpersist(blocking=False)
        persistent = held.spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in held.rdds:
            rdd = persistent.get(rdd_id)
            if rdd is not None:
                rdd.unpersist(False)
    held.values.clear()
    held.rdds.clear()


def release(sf_dir: str | None = None) -> int:
    """Free what the session holds for ``sf_dir`` (every dir when None):
    unpersist memoized frames and the RDDs their builds persisted, drop
    memory-sink views, remove scratch dirs and forget the entries. The next
    call rebuilds transparently. Any frame returned earlier for a released
    dir is invalid afterwards: it may read a removed scratch dir, a dropped
    view or an unpersisted checkpoint. Returns the number of memo entries,
    views and scratch dirs released."""
    norm = None if sf_dir is None else os.path.abspath(sf_dir)
    n = 0
    for key in [k for k in _HELD if norm is None or k[1] == norm]:
        held = _HELD.pop(key)
        n += len(held.values) + len(held.views) + len(held.dirs)
        _free_values(held)
        if _live(held):
            for name in held.views:
                held.spark.catalog.dropTempView(name)
        for path in held.dirs:
            shutil.rmtree(path, ignore_errors=True)
    return n
