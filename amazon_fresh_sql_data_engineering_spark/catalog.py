"""Aggregated query catalog: importing this module registers every query
family into ``registry.CATALOG``.

The external driver samples the FIRST ~50 catalog entries (registration
order) for its per-round correctness gate, so ``_PRIORITY`` front-loads the
queries that most need driver-side evidence. Every catalog query has a
green driver row in CORRECTNESS_r01 … r12, and no query's latest row is
red. The front block is the queries whose code moved since their last
driver row (the publish/compaction/store-probe consolidation and the PQ
ANN and item-CF rewrites); the rest of the 50 are the rows with the
oldest latest driver evidence (all 36 r7 rows, then the 8 oldest r8
rows, in CORRECTNESS-file order).

STANDING RULE (VERDICT r4 item 7): when the catalog grows after
convergence, new entries go to the FRONT of _PRIORITY in the same round
they land — never the back — so a never-sampled tail can't re-accumulate
(the r3 failure mode). Previously-green queries rotate to the back; the
full catalog is still oracle-checked locally every round
(scripts_sweep.py parity / tests/test_oracle_parity.py), so rotation trades
no coverage — it converts local parity into driver-recorded evidence.
"""

from __future__ import annotations

from . import queries as _queries  # noqa: F401  (core relational operators)
from . import queries_analytics as _queries_analytics  # noqa: F401  (windows/rollup/pivot)
from . import queries_etl as _queries_etl  # noqa: F401  (DML/cleaning/audit)
from . import queries_ext as _queries_ext  # noqa: F401  (dedup/similarity/streaming)
from . import queries_ml as _queries_ml  # noqa: F401  (expectations/sampling/char-LM)
from . import queries_stats as _queries_stats  # noqa: F401  (stats/sequence analytics)
from . import queries_sci as _queries_sci  # noqa: F401  (nonparametric/survival)
from .registry import CATALOG, QuerySpec

_PRIORITY = [
    "q_pointer_publish_roundtrip",
    "q_compaction_roundtrip",
    "dedup_store_probe",
    "sim_ann_pq",
    "sim_ann_pq_rerank",
    "op_item_cf_jaccard",
    "q_pipe_clean_products",
    "q_pipe_clean_order_details",
    "q_pipe_clean_reviews",
    "q_pipe_placeholder_parents",
    "q_normalize_3nf",
    "q_audit_report",
    "q_update_set",
    "q_update_from",
    "q_delete",
    "q_upsert",
    "q_cascade_delete",
    "q_insert_values",
    "q_scd2_merge",
    "pipe_training_corpus",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "dedup_cluster_corpus",
    "sim_cosine_topk",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "text_stats",
    "text_quality_langid",
    "text_tfidf_top_terms",
    "mm_decode",
    "mm_frame_sample",
    "mm_embed_ann",
    "q_pipe_clean_suppliers",
    "mm_decode_quarantine",
    "dedup_ngram_jaccard_maxdf",
    "q_constraint_catalog",
    "events_hourly",
    "events_sessionize",
    "events_dedup",
    "op_mv_dim_update",
    "op_mv_var",
    "events_funnel",
    "events_props_json",
    "events_props_struct",
    "events_time_rollup",
    "events_enriched",
    "text_fingerprint",
]


def _reorder() -> None:
    missing = [n for n in _PRIORITY if n not in CATALOG]
    if missing:
        # fail loudly: a typo here would silently demote a query
        raise RuntimeError(f"catalog priority references unknown queries: {missing}")
    ordered = {n: CATALOG[n] for n in _PRIORITY}
    ordered.update((n, s) for n, s in CATALOG.items() if n not in ordered)
    CATALOG.clear()
    CATALOG.update(ordered)


_reorder()

__all__ = ["CATALOG", "QuerySpec"]
