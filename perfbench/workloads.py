"""The benchmark's workloads: which registry queries one pass runs, what
set-up they need, and how many passes it takes the JVM to warm up."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    # build the stored shingle table into the fresh warehouse at set-up
    ingest: bool
    # untimed passes after the cold pass, the last of them checked
    # against the oracles; the text queries keep getting faster for
    # longer (JIT), but their passes take most of the run's time budget,
    # so they get one warm-up pass and the fastest measured pass counts
    warmup_passes: int


WORKLOADS = {
    "relational": Workload(
        queries=(
            "q1_pricing_summary",
            "revenue_by_region",
            "join_part_lineitem",
            "window_order_seq",
            "sessionization",
            "events_windows",
        ),
        ingest=False,
        warmup_passes=3,
    ),
    "text_pipeline": Workload(
        queries=(
            "ngram_counts",
            "exact_dedup",
            "minhash_lsh_candidates",
            "ngram_jaccard_neardup",
            "cosine_topk",
            "ann_ivf_topk",
            "mr_wordcount",
        ),
        ingest=True,
        warmup_passes=1,
    ),
}

# every query any workload runs; each gets its own per-layer metrics
QUERY_METRICS = tuple(q for w in WORKLOADS.values() for q in w.queries)
