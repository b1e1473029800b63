"""The benchmark's workloads: which queries run, in which order, on which input.

Each workload is a fixed query list run in order by one client (a closed
loop). ``copies`` grows the base corpus by key-shifted copies
(``inputs.grow``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    copies: int = 1


WORKLOADS = {w.name: w for w in (
    Workload(
        "text",
        "the reference's TF-IDF and POS jobs plus near-dup clustering and fingerprints: text kernels, driver loops, lineage cuts, an Arrow worker",
        ("tfidf", "pos_counts_stripes", "dedup_clusters", "doc_fingerprints"),
    ),
    Workload(
        "relational_stream",
        "control with no text kernels: joins, aggregates and windows over 3 key-shifted copies, then availableNow streams with state",
        ("q1_pricing_summary", "q3_shipping_priority", "q9_product_profit", "sessionize_events",
         "events_hourly_streaming", "events_stream_stream_join"),
        copies=3,
    ),
)}
