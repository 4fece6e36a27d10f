"""The benchmark's workloads: which registered queries run, which
artifacts their set-up builds, and how each output is materialised.

Each workload is a closed loop with one client: one process runs the
queries back to back, each one fully materialised before the next
starts. See README.md for why each workload exists and which layers
it stresses.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


def _copurchase(spark, sf_dir):
    from commercial_rfp_data_pipeline_spark.plans.artifacts import ensure_copurchase_graph

    ensure_copurchase_graph(spark, sf_dir)


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # untimed passes after the set-ups, sized from the JIT trend (README.md)
    warmup_passes: int
    # nominal warm pass wall time on 4 cores. It turns --seconds into a
    # number of timed passes that does not depend on how fast a run goes.
    pass_s: float
    # (label, call) pairs run against an empty warehouse during set-up
    artifacts: tuple[tuple[str, Callable], ...] = ()
    # True: write each output as parquet; False: a noop write
    writes_parquet: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "rfp_etl",
            (
                "rfp_doc_render",
                "dedup_exact_deterministic",
                "reconcile_upload_delete",
                "latest_file_selection",
                "citation_map_dedup_keep_last",
                "retention_prune_by_date_prefix",
            ),
            warmup_passes=3,
            pass_s=3.5,
            writes_parquet=True,
        ),
        Workload(
            "graph_vector",
            (
                "pagerank_copurchase",
                "kcore_copurchase",
                "embedding_neardup_pairs",
            ),
            warmup_passes=6,
            pass_s=1.4,
            artifacts=(("ensure_copurchase_graph", _copurchase),),
        ),
    )
}
