"""The benchmark's workloads: which registry keys run, in what order, and
on inputs of what size. Why each exists is said in BENCHMARK.json.

Every workload is one closed-loop client: it issues the next call only after
the previous one has finished. A call is `fn(spark, dir)` followed by a full
`noop` write of the returned DataFrame.

A run has two phases. The warm-up runs one cycle on input dir 0 and is not
timed. The timed window then runs the workload's number of cycles, and more
whole cycles while less than `--seconds` has been measured.
`sql_analytics` and `ingest_etl` reuse dir 0, so their timed calls are warm.
`llm_corpus` generates a fresh batch dir for every cycle, so its build calls
start cold on every batch, like a daily corpus drop.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    # rows of the drawn tables (gen.py); lineitem holds about 4 rows per
    # order, and supplier (1000 rows) and part (20000) are copied whole
    sizes: dict[str, int]
    # keys of one cycle, reshuffled by the seed for every cycle
    keys: tuple[str, ...] = ()
    # llm_corpus only: build calls in dependency order, then serve calls
    build: tuple[str, ...] = ()
    serve: tuple[str, ...] = ()
    # timed cycles per run; more run while less than --seconds was measured
    cycles: int = 1
    # llm_corpus only: calls of each serve key per timed cycle
    serve_reps: int = 1
    fresh_dir_per_cycle: bool = False
    # keys that replay the events table through a stream; each call feeds
    # every event row, which is what ingest_rows_per_s counts
    stream_keys: tuple[str, ...] = ()

    def all_keys(self) -> tuple[str, ...]:
        return self.keys + self.build + self.serve


SQL_ANALYTICS = Workload(
    name="sql_analytics",
    sizes=dict(customer=350, orders=3000, events=2000, documents=100, embeddings=100),
    keys=(
        "agg_groupby", "join_multiway", "join_broadcast", "join_theta_range",
        "join_bucketed", "win_topk_group", "subq_in_exists", "agg_cube",
        "dialect_mysql_query", "query_shipping_priority", "query_outbreak_ears",
    ),
    # 33 timed calls: latency_tail_s is then p70, with ten calls beyond it
    cycles=3,
)

LLM_CORPUS = Workload(
    name="llm_corpus",
    sizes=dict(customer=40, orders=300, events=500, documents=400, embeddings=400),
    build=("llm_dedup_exact", "llm_dedup_near", "llm_semdedup", "llm_knn_graph"),
    serve=("llm_sim_search", "llm_hybrid_search_rrf", "fulltext_bm25", "llm_tfidf_topterms"),
    # 20 timed calls, 12 of them memo hits (each serve key's repeats): the
    # median falls among the hits, not on the edge between the first,
    # memo-missing serve calls and the hits, where it moved by 30 % from
    # run to run with two calls per serve key
    serve_reps=4,
    fresh_dir_per_cycle=True,
)

INGEST_ETL = Workload(
    name="ingest_etl",
    sizes=dict(customer=175, orders=1500, events=3000, documents=50, embeddings=50),
    keys=(
        "stream_tumbling", "stream_dedup", "stream_ingest",
        "sink_append", "sink_stream_upsert", "dml_merge_scd2", "dml_update_delete",
    ),  # an odd count puts the median on one call, not between two keys
    stream_keys=("stream_tumbling", "stream_dedup", "stream_ingest", "sink_stream_upsert"),
)

WORKLOADS = {w.name: w for w in (SQL_ANALYTICS, LLM_CORPUS, INGEST_ETL)}
