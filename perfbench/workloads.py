"""The benchmark's workloads: which operations each one runs.

Every bench-flagged query belongs to exactly one query workload, decided
by its tags (``members``). One run cannot afford a whole workload inside
the time the benchmark has, so each query workload times a fixed
``MEASURED`` subset. The subset is fixed, and so are the input tables
(``DATA_SEED``), so runs with different seeds do the same work on the
same data; the seed only changes the order of operations in each pass.
"""

from __future__ import annotations

import re

LAKE_TAGS = frozenset({"lake", "ivm"})
ITERATIVE_TAGS = frozenset(
    "graph dedup text similarity multimodal fold ml quality packing ann udf".split()
)
#: Seed of the generated input tables. It is fixed so that the stored
#: result digests in ``expected/`` hold for every run.
DATA_SEED = 0
QUERY_WORKLOADS = ("olap", "lake", "iterative")
WORKLOADS = QUERY_WORKLOADS + ("medallion",)


def workload_of(tags) -> str:
    """Membership rule: lake/ivm first, then the loop and Python-UDF tags."""
    tags = set(tags)
    if tags & LAKE_TAGS:
        return "lake"
    if tags & ITERATIVE_TAGS:
        return "iterative"
    return "olap"


def _qnum(name: str) -> int:
    return int(re.match(r"q(\d+)", name).group(1))


def members(specs) -> dict[str, list[str]]:
    """All bench-flagged queries of each query workload, in query-number order."""
    out: dict[str, list[str]] = {w: [] for w in QUERY_WORKLOADS}
    for name in sorted((n for n, s in specs.items() if s.bench), key=_qnum):
        out[workload_of(specs[name].tags)].append(name)
    return out


#: Timed subset of each query workload (see the module docstring).
MEASURED = {
    # olap and iterative: a systematic sample of the members in query-number
    # order plus the queries the roadmap names; not yet compared with the
    # whole workload by ``subsets.py``.
    "olap": [
        "q01_pricing_summary", "q02_star_join_revenue", "q09_distinct_segments",
        "q17_json_extract", "q36_rollup_totals", "q40_except", "q48_labeled_matchups",
        "q59_grouping_sets", "q111_yoy_growth", "q124_tpch_q10_returns",
        "q149_tpch_q19_disjunctive",
    ],
    # Stratified by py4j calls during build, from each of 12 strata the
    # query nearest its stratum's mean latency (``subsets.py``).
    "lake": [
        "q129_manifest_pruned_scan", "q180_iceberg_merge_on_read",
        "q189_iceberg_null_pruned_scan", "q202_ndv_kmv_portable", "q206_iceberg_update_where",
        "q216_iceberg_v3_deletion_vectors", "q219_iceberg_to_delta_continuous_sync",
        "q225_lineage_ivm_refresh", "q238_pos_delete_rewritten_mirror",
        "q239_restore_across_repartition", "q243_nested_lakehouse_roundtrip",
        "q248_delta_nested_evolution_mirror",
    ],
    "iterative": [
        "q20_exact_dedup", "q86_udtf_sentences", "q166_bfs_trade_reach",
        "q168_label_centroids", "q194_mp4_mjpeg_frames", "q201_gif_roundtrip",
    ],
}

#: Seconds of ``--seconds`` charged to one timed pass: a run of ``--seconds S``
#: times round(S / PASS_S) whole passes (at least one), so every run does the
#: same work. On a 4-core host a steady pass takes about 3.5 s (olap), 5 s
#: (lake, iterative) and 6.4 s (medallion). Medallion is charged less than
#: it takes so that a 16 s run still makes four passes, not two.
PASS_S = {"olap": 3.5, "lake": 5.0, "iterative": 5.0, "medallion": 4.0}

#: Medallion pipeline jobs timed, by ``pipeline.jobs.JOBS`` number: the chain
#: bronze -> silver -> gold -> ML. Jobs 07 (per-season backtest), 11
#: (TrainValidationSplit grid) and 12 (GBT + LR ensemble) are left out: they
#: take 25 of the 32 s of a whole pass and do not fit a run. Jobs 08-10 are
#: left out so that a run fits five passes: they write silver tables that no
#: later job reads, and jobs 02-04 cover the silver layer. Job 06 keeps the
#: ML layer (LR fit, scoring, CSV export).
MEDALLION_JOBS = (1, 2, 3, 4, 5, 6)
#: Jobs whose output each medallion job reads. A pass runs the jobs in a
#: seed-chosen order that respects these.
JOB_READS = {2: (1,), 3: (1,), 4: (1,), 5: (1, 4), 6: (5,), 7: (5,), 8: (1,),
             9: (1,), 10: (1,), 11: (5,), 12: (5, 11)}
#: Layer of each medallion job, for the traced run's per-layer times.
JOB_LAYER = {1: "bronze", 2: "silver", 3: "silver", 4: "silver", 8: "silver",
             9: "silver", 10: "silver", 5: "gold", 6: "ml", 7: "ml", 11: "ml", 12: "ml"}
