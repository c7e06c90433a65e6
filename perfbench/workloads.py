"""The benchmark's workloads and the seed -> query-order mapping."""
import random

# Per workload: the queries, the tables they read, and the table sizes in
# rows (sizes also bound the key domains of the tables that reference
# them). Why each workload is there: perfbench/README.md and BENCHMARK.json.
WORKLOADS = {
    "geo_etl": {
        "queries": ["q_ingest_project", "q_clean_validate", "q_reindex",
                    "q_top_cities", "q_batch_sink_roundtrip", "q_geo_pipeline"],
        "tables": ["region", "nation", "customer", "orders", "lineitem"],
        # sf0.1 row counts
        "sizes": {"customer": 15000, "supplier": 1000, "part": 20000,
                  "orders": 150000, "lineitem": 600000},
    },
    "rounds": {
        "queries": ["q_closure_scale", "q_dedup_clusters", "q_knn_ivf",
                    "q_stream_dedup", "q_bpe_encode", "q_c4_filters"],
        "tables": ["documents", "embeddings"],
        "sizes": {"documents": 250, "embeddings": 500},
    },
}


def orders(workload: str, seed: int, passes: int) -> list:
    """`passes` query orders, one per timed pass: each a permutation of the
    workload's queries drawn from the seed. The verified pass keeps the
    listed order, so the first query, which pays most of the JIT warm-up,
    does not change with the seed."""
    out = []
    for i in range(passes):
        qs = list(WORKLOADS[workload]["queries"])
        random.Random(f"{workload}:{seed}:{i}").shuffle(qs)
        out.append(qs)
    return out
