"""What each workload runs, and the query -> operator-family map the
per-layer numbers are grouped by.

board-sf0.01: a fixed cross-section of the registered queries on the
    generated sf0.01 test tables (a copy lives in data/sf0.01), one per
    operator family. The inputs are tiny, so Spark-driver planning and
    per-job overhead dominate, and the DuckDB oracle holds on every one.
    x1_minhash_lsh_pairs and join_star_revenue start 13 jobs each, the
    many-small-jobs shape of the full board.
cdc-stream: generated CDC batches through five streaming operators;
    per-batch planning, WAL and state-store commits dominate, so a change
    that adds per-plan cost shows here even when the board is flat.

Queries that write outside Spark's own directories (the s4/s7/s8/s9/s10
round trips and the artifact round trips use fixed /tmp paths) are left
out, so a run writes only inside its checkout.
"""
import math

# query -> family; "asof" is reported as plans.asof_s, the rest as
# ops.<family>.*
BOARD = {
    "p_scalar_ops": "core",
    "q1_pricing_summary": "agg",
    "cdc_latest_state": "seq",
    "join_star_revenue": "join",
    "asof_join_custom_operator": "asof",
    "x1_minhash_lsh_pairs": "dedup",
    "x2_ann_lsh_topk": "similarity",
    "x3_text_analysis": "text",
    "x4_decode_features": "multimodal",
    "x6_split_assign": "curation",
    "x8_transition_graph": "graph",
    "profile_table": "profile",
}

FAMILIES = ["core", "agg", "seq", "join", "dedup", "similarity", "text",
            "multimodal", "curation", "graph", "profile"]

# The nominal seconds of one board pass and of one stream batch. A run
# measures ceil(--seconds / nominal) whole passes or batches; the count
# never depends on how fast the host happens to be.
BOARD_PASS_SECONDS = 5
CDC_BATCH_SECONDS = 3

# Batches fed untimed before the timed ones. The first is every query's
# first micro-batch, which creates its state store and checkpoint; batch
# times keep falling by a third over the next few batches as the JIT
# compiles the per-batch path.
CDC_WARMUP_BATCHES = 3


def board_passes(seconds):
    return max(1, math.ceil(seconds / BOARD_PASS_SECONDS))


def cdc_timed_batches(seconds):
    return max(1, math.ceil(seconds / CDC_BATCH_SECONDS))
