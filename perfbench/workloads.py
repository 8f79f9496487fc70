"""The benchmark's workloads: which tables a run loads and which catalog
queries one pass runs, in order.

``etl`` queries are ETL steps rather than plain reads: their result is
written with ``sources.writers.write_parquet`` (partitioned) and read back
through ``sources.readers.read_parquet`` before it is materialized, so the
step's result, its oracle check and its latency cover the write and the
read-back.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    tables: tuple[str, ...]
    queries: tuple[str, ...]
    etl: tuple[str, ...] = ()
    # Query whose verified result must recall the planted near-duplicate pairs.
    planted_recall_query: str | None = None


WORKLOADS = {
    # Scan/join/aggregate reporting plus event ETL (window sessionization,
    # an as-of join, an incremental merge of partial aggregates): the
    # MapReduce-style half of the engine. No text, dedup or vector operator
    # runs here, so a gain in those operators should not move it.
    "reporting_etl": Workload(
        tables=(
            "region", "nation", "customer", "supplier", "orders", "lineitem",
            "events",
        ),
        queries=(
            "q1_pricing_summary",
            "q5_local_supplier_volume",
            "events_sessionization",
            "clicks_last_purchase_asof",
            "incremental_hourly_agg_merge",
        ),
        etl=("events_sessionization",),
    ),
    # LLM-data curation: quality scoring with a partitioned write of the
    # scored corpus, and MinHash-LSH near-dup detection over documents with
    # planted near-duplicate clusters; wide generated aggregates and
    # operator persists, almost no relational join work.
    "llm_curation": Workload(
        tables=("documents", "embeddings"),
        queries=(
            "doc_quality_scores",
            "minhash_near_dup_candidates",
        ),
        etl=("doc_quality_scores",),
        planted_recall_query="minhash_near_dup_candidates",
    ),
}

# A planted pair counts as found when the dedup query emits it; the run
# fails its correctness check below this recall.
MIN_PLANTED_RECALL = 0.9
