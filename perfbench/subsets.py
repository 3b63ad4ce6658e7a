"""Compare a workload's timed subset with the whole workload.

    python3 perfbench/subsets.py --workload lake [--strata 12] [--ops-file FILE]

Makes one traced run of every member of the workload (every bench-flagged
query of a query workload, all twelve jobs of ``medallion``) through
``run.py``, at the benchmark's scale, and prints per-operation means of the
figures that say how driver- or JVM-bound an operation is: steady latency,
plan build time and its share of the latency, py4j calls during build,
Spark jobs and JVM executor CPU. It prints them for all members, for the
timed subset (``workloads.MEASURED``) and, for a query workload, for a
proposed subset: the members sorted by py4j calls during build (how
driver-bound a query is), cut into ``--strata`` equal strata, and from
each stratum the query whose latency is nearest the stratum's mean.

``--ops-file`` reads the per-operation figures of an earlier profile run
(``.perfbench_out/ops-<workload>-seed<seed>.json``) instead of running.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import MEASURED, MEDALLION_JOBS, QUERY_WORKLOADS, members  # noqa: E402

FIGURES = ("op_s", "build_s", "build_share", "py4j_calls", "jobs", "build_jobs", "jvm_cpu_s", "py_run_s")


def profile_run(workload: str, ops: list[str], seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1",
           "--ops", ",".join(ops), "--timeout", "1800"]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=sys.stderr)
    with open(os.path.join(ROOT, ".perfbench_out", f"ops-{workload}-seed{seed}.json")) as fh:
        return json.load(fh)


def summary(prof: dict, names: list[str]) -> dict[str, float]:
    """Mean of each figure per operation; build share is total build over total latency."""
    rows = [prof[n] for n in names]
    out = {k: statistics.fmean(r[k] for r in rows) for k in FIGURES if k != "build_share"}
    out["build_share"] = sum(r["build_s"] for r in rows) / sum(r["op_s"] for r in rows)
    return out


def stratified(prof: dict, names: list[str], strata: int) -> list[str]:
    """From each of ``strata`` equal py4j-call strata, the query nearest its mean latency."""
    ranked = sorted(names, key=lambda n: prof[n]["py4j_calls"])
    picked = []
    for k in range(strata):
        part = ranked[k * len(ranked) // strata:(k + 1) * len(ranked) // strata]
        mean_s = statistics.fmean(prof[n]["op_s"] for n in part)
        picked.append(min(part, key=lambda n: abs(prof[n]["op_s"] - mean_s)))
    return sorted(picked, key=lambda n: int(n[1:].split("_")[0]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=QUERY_WORKLOADS + ("medallion",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--strata", type=int, default=12)
    ap.add_argument("--ops-file")
    args = ap.parse_args(argv)
    if args.workload == "medallion":
        everyone = [str(n) for n in range(1, 13)]
        subset = [f"job{n:02d}" for n in MEDALLION_JOBS]
    else:
        from march_mania_spark_lakehouse_spark.plans import all_queries

        everyone = members(all_queries())[args.workload]
        subset = MEASURED[args.workload]
    if args.ops_file:
        with open(args.ops_file) as fh:
            prof = json.load(fh)
    else:
        prof = profile_run(args.workload, everyone, args.seed)
    names = sorted(prof)
    columns = {f"all ({len(names)})": summary(prof, names), f"timed ({len(subset)})": summary(prof, subset)}
    if args.workload != "medallion":
        proposed = stratified(prof, names, args.strata)
        columns[f"stratified ({len(proposed)})"] = summary(prof, proposed)
        print("stratified subset:", ",".join(proposed))
    print("per operation  " + "".join(f"{c:>18s}" for c in columns))
    for k in FIGURES:
        print(f"{k:14s} " + "".join(f"{col[k]:18.4f}" for col in columns.values()))
    print("pass_s         " + "".join(
        f"{sum(prof[n]['op_s'] for n in ns):18.4f}"
        for ns in (names, subset, *([proposed] if args.workload != "medallion" else []))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
