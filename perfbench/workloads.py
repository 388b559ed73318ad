"""Workload definitions: which registry operators run, on which corpus."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # corpus scale factor (sf0.1 = 600k lineitem rows)
    ops: tuple[str, ...]  # registry keys, one pass; the seed permutes them
    why: str
    # warm pass time on a 4-core box; --seconds / this = warm passes per run
    nominal_pass_s: float


RELATIONAL = Workload(
    name="relational_sf0.01",
    sf=0.01,
    ops=(
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "q18_large_volume",
        "win_row_number",
        "agg_grouping_sets",
        "fn_json",
        "join_semi",
    ),
    why=(
        "SQL ops on the fact tables: per-op fixed costs (jobs, plan build, "
        "Catalyst) dominate, and q3/q5 plan from the ANALYZE stats and read "
        "the bucketed tables that set-up builds."
    ),
    nominal_pass_s=2.4,
)

LLM = Workload(
    name="llm_sf0.01",
    sf=0.01,
    ops=(
        "sim_knn_bruteforce",
        "text_tokenize",
        "text_bm25",
        "text_tfidf",
        "pipeline_curate",
        "dedup_exact",
        "dedup_decontaminate",
    ),
    why=(
        "Text and vector ops on documents/embeddings: they bypass the "
        "catalog tables and reuse session memos (query vectors, clone "
        "factors, text contraction), so memo changes show here."
    ),
    nominal_pass_s=2.2,
)

WORKLOADS: dict[str, Workload] = {w.name: w for w in (RELATIONAL, LLM)}
