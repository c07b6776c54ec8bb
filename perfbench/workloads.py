"""The benchmark's workloads: fixed, named subsets of the query catalog.

One cold pass plus one warm pass of a workload takes about 15-50 s at
local[4] on the bundled sf0.01 inputs, which is all a run can afford;
README.md says why each workload exists and which layers it loads.
"""

from __future__ import annotations

from dataclasses import dataclass

# Fixed, not fitted to the run length, so two trees under comparison do the
# same work: a faster tree gets no extra, better-warmed executions.
WARM_PASSES = 1


@dataclass(frozen=True)
class Workload:
    why: str
    queries: tuple[str, ...]
    python_udfs: bool  # set-up starts the Python/Arrow UDF workers


WORKLOADS = {
    "relational_floor": Workload(
        why="sub-second relational queries where plan build, py4j and job launch dominate",
        queries=(
            "op_filter_null",
            "op_win_ntile",
            "op_join_inner",
            "op_corr_scalar_subquery",
            "q1_pricing_summary",
            "events_sessionize",
            "op_asof_join",
            "op_try_funcs",
        ),
        python_udfs=False,
    ),
    "heavy_tail": Workload(
        why="executor-bound dedup, similarity and graph queries plus write-beside-read ETL: CTAS, publish, DML, MV",
        queries=(
            # executor time, shuffle and Python UDF rows
            "dedup_simhash",
            "sim_cosine_topk",
            "op_label_propagation",
            # publish and write work, mostly inside plan build
            "q_ctas_roundtrip",
            "q_pointer_publish_roundtrip",
            "q_upsert",
            "q_pipe_clean_suppliers",
            "q_normalize_3nf",
            "q_constraint_catalog",
            "op_mv_incremental",
        ),
        python_udfs=True,
    ),
}
