"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its input tables (the
same tables every run; the seed only orders the operations), gives the
engine a private TMPDIR, lake root and Spark scratch directory under
``.perfbench_runs/``, starts ``worker.py`` in its own session, checks
the results (DuckDB oracle, a second computation and the digests stored
in ``perfbench/expected/``) and removes the run directory. It prints a
readable report and, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The spans and per-operation figures of a traced run go to
``.perfbench_out/``.

Workloads, metrics and their reasoning: ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
from proctree import stat_fields  # noqa: E402
from workloads import DATA_SEED, MEASURED, MEDALLION_JOBS, WORKLOADS  # noqa: E402

PACKAGE = "march_mania_spark_lakehouse_spark"
MB = 1024 * 1024
#: Scale factor of the generated tables (lineitem has 6M x SF rows).
SF = 0.005
#: The worker must finish well inside the 180 s a run may take.
WORKER_TIMEOUT_S = 160
EXPECTED_DIR = os.path.join(HERE, "expected")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale of the generated tables")
    ap.add_argument("--ops", help="comma-separated operations instead of the workload's")
    ap.add_argument("--expected", help="stored result digests to compare against "
                    "(default: perfbench/expected/sf<SF>.json, where it exists)")
    ap.add_argument("--record", help="add this run's result digests to this JSON file")
    ap.add_argument("--timeout", type=float, default=WORKER_TIMEOUT_S,
                    help="seconds the worker may take (profiling whole workloads needs more)")
    return ap.parse_args(argv)


def session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        fields = stat_fields(int(entry)) if entry.isdigit() else None
        if fields and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def stop_session(sid: int) -> None:
    """Terminate every process left in the worker's session and wait for it."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_worker(cfg: dict, env: dict, log_path: str, timeout: float) -> dict | None:
    cfg_path = os.path.join(cfg["run_dir"], "config.json")
    with open(log_path, "w") as log:
        cfg["spawn_time"] = time.time()
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=cfg["run_dir"],
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_session(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(cfg["out"]):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.stderr.write(f"worker failed (exit {code})\n")
        return None
    with open(cfg["out"]) as fh:
        return json.load(fh)


def oracle_digests(names: list[str], data_dir: str) -> dict[str, str]:
    """Digests of the DuckDB oracle SQL of every oracled query, on the same tables."""
    import duckdb

    from digest import frame_digest
    from march_mania_spark_lakehouse_spark.catalog import TABLE_NAMES
    from march_mania_spark_lakehouse_spark.plans import all_queries

    specs = all_queries()
    out = {}
    with duckdb.connect() as con:
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name in names:
            if specs[name].oracle:
                sql = specs[name].oracle.replace("__SF_DIR__", data_dir)
                out[name] = frame_digest(con.sql(sql).df())
    return out


def stored_digests(args, default_ops: bool) -> dict | None:
    """The stored digests this run's results must match, or None."""
    path = args.expected or os.path.join(EXPECTED_DIR, f"sf{args.sf:g}.json")
    if not os.path.exists(path):
        if args.expected:
            raise SystemExit(f"perfbench: no such file {path}")
        return None
    if args.workload == "medallion" and not default_ops:
        return None  # the stored outputs are those of the whole job list
    with open(path) as fh:
        return json.load(fh).get(args.workload, {})


def check(res: dict, args, ops: list, default_ops: bool, data_dir: str,
          stored: dict | None) -> list[str]:
    """Results of the set-up pass that are missing or do not match the
    oracle, a second computation of the same result, or the stored digests.
    A run of the workload's own operations must find a stored digest for
    each; a run of other operations checks those that have one."""
    first, again = res["first_digests"], res["check_digests"]
    bad = {k for k, d in again.items() if first.get(k) != d}
    if args.workload == "medallion":
        bad |= set(first) - set(again)
        expected_keys = set(first) | set(stored or ())
    else:
        bad |= {n for n in ops if n not in first}
        bad |= {n for n, d in oracle_digests(ops, data_dir).items() if first.get(n) != d}
        expected_keys = set(ops) if default_ops else set(ops) & set(stored or ())
    if stored is not None:
        bad |= {k for k in expected_keys if k not in stored or first.get(k) != stored[k]}
    return sorted(bad)


def metrics(res: dict, args, input_bytes: int) -> dict[str, tuple[float, str, int]]:
    """(value, unit, sample count) of every metric this run reports."""
    u = res["untraced"]
    lat = [s for v in u["samples"].values() for s in v]
    npass = len(u["pass_s"])
    if not args.trace:
        return {
            "setup_s": (res["setup_s"], "s", 1),
            "wall_s": (statistics.median(u["pass_s"]), "s", npass),
            "op_p50_s": (statistics.median(lat), "s", len(lat)),
            "cpu_s": (u["cpu_s"], "CPU-s", npass),
            "write_amp": (res["stored_bytes"] / input_bytes, "ratio", 1),
        }
    t = res["traced"]
    nt = len(t["pass_s"])
    out = {
        "session.start_s": (res["session_start_s"], "s", 1),
        "process.peak_rss_mb": (res["peak_rss_mb"], "MiB", 1),
    }
    for name, value in res["layers"].items():
        unit = "s" if name.endswith("_s") else "MiB" if name.endswith("_mb") else (
            "ratio" if name.endswith("_frac") else "count")
        out[name] = (value, unit, nt)
    out["sources.stored_mb"] = (res["stored_bytes"] / MB, "MiB", 1)
    traced_wall = statistics.median(t["pass_s"])
    out["trace.wall_s"] = (traced_wall, "s", nt)
    out["trace.cpu_s"] = (t["cpu_s"], "CPU-s", nt)
    out["trace.overhead_s"] = (traced_wall - statistics.median(u["pass_s"]), "s", nt)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to perfbench/", file=sys.stderr)
        return 2
    if args.workload == "medallion":
        default = [str(n) for n in MEDALLION_JOBS]
    else:
        default = MEASURED[args.workload]
    ops = args.ops.split(",") if args.ops else default
    default_ops = ops == default
    # A recording run sets the stored digests, so it is not checked against them.
    stored = None if args.record else stored_digests(args, default_ops)
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data_dir = os.path.join(run_dir, "data")
        input_bytes = datagen.write(data_dir, args.sf, DATA_SEED)
        for sub in ("tmp", "lake", "local"):
            os.makedirs(os.path.join(run_dir, sub))
        env = dict(os.environ)
        env.update(
            TMPDIR=os.path.join(run_dir, "tmp"),
            SPARK_GRAFT_LAKE_ROOT=os.path.join(run_dir, "lake"),
            SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        )
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "ops": ops,
            "run_dir": run_dir,
            "data_dir": data_dir,
            "out": os.path.join(run_dir, "result.json"),
        }
        res = run_worker(cfg, env, os.path.join(run_dir, "worker.log"), args.timeout)
        if res is None:
            return 1
        bad = check(res, args, ops, default_ops, data_dir, stored)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = len(res["errors"]) + len(bad)
    if args.record and not failed:
        recorded = {}
        if os.path.exists(args.record):
            with open(args.record) as fh:
                recorded = json.load(fh)
        if args.workload == "medallion":
            recorded[args.workload] = res["first_digests"]
        else:
            recorded.setdefault(args.workload, {}).update(res["first_digests"])
        with open(args.record, "w") as fh:
            json.dump(recorded, fh, indent=1, sort_keys=True)
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}"
        with open(os.path.join(out_dir, f"spans-{stem}.jsonl"), "w") as fh:
            fh.writelines(json.dumps(s) + "\n" for s in res["spans"])
        with open(os.path.join(out_dir, f"ops-{stem}.json"), "w") as fh:
            json.dump(res["op_profile"], fh, indent=1)
    for err in res["errors"]:
        print(f"error: {err}", file=sys.stderr)
    for name in bad:
        print(f"mismatch: {name}", file=sys.stderr)
    values = metrics(res, args, input_bytes)
    print(f"workload={args.workload} seed={args.seed} sf={args.sf} ops={len(ops)} "
          f"attempted={res['attempted']} failed={failed} "
          f"failed_frac={failed / res['attempted']:.4f}")
    for name, (value, unit, n) in values.items():
        print(f"  {name:28s} {value:14.6f} {unit:6s} n={n}")
    print("  pass seconds: " + " ".join(f"{x:.3f}" for x in res["untraced"]["pass_s"]))
    print("  pass CPU-s:   " + " ".join(f"{x:.3f}" for x in res["untraced"]["pass_cpu_s"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit, _) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
