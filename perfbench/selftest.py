"""Self-test of the benchmark at scale factor 0.001 (a few minutes).

    python3 perfbench/selftest.py

Checks, through ``run.py`` exactly as the benchmark is run:

* every timed query belongs to its workload by the tag rule;
* one short run of every workload passes its output checks against the
  digests stored in ``perfbench/expected/`` and prints every metric that
  ``BENCHMARK.json`` names, with its unit, untraced and traced;
* in a traced run, the per-layer metrics of the layers the workload is
  known to exercise are above zero (``NONZERO``);
* a corrupted expected digest, and a stored medallion output that the run
  does not produce, each make the run report a failed operation;
* Python-worker CPU is counted: in a traced run, the process-tree CPU
  (``trace.cpu_s``) exceeds the JVM executor CPU (``operators.cpu_s``),
  for the ``iterative`` workload and for q194 alone.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED, SF = 0, 0.001
EXPECTED = os.path.join(HERE, "expected", f"sf{SF:g}.json")
#: Per-layer metrics that must read above zero in a traced run, where the
#: workload does that layer's work.
NONZERO = {
    "olap": ("operators.tasks", "catalyst.exchanges", "shuffle.write_mb", "plans.py4j_calls"),
    "lake": ("operators.tasks", "plans.py4j_calls", "sources.publish_s", "sources.stored_mb"),
    "iterative": ("operators.tasks", "pyworker.rows", "pyworker.run_s", "shuffle.write_mb"),
    "medallion": ("operators.tasks", "pyworker.rows", "pyworker.run_s", "sources.write_mb",
                  "pipeline.bronze_s", "pipeline.silver_s", "pipeline.gold_s", "ml.train_s",
                  "ml.jobs"),
    "q194": ("operators.tasks", "pyworker.rows", "pyworker.run_s"),
}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--sf", str(SF), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {0: bench["end_to_end"], 1: bench["per_layer"]}
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    sys.path[:0] = [HERE, ROOT]
    from march_mania_spark_lakehouse_spark.plans import all_queries
    from workloads import MEASURED, members

    member = members(all_queries())
    for workload, names in MEASURED.items():
        expect(set(names) <= set(member[workload]), f"{workload}: timed queries are members")

    def nonzero(res: dict, what: str) -> None:
        for name in NONZERO[what]:
            value = res["metrics"][name]["value"]
            expect(value > 0, f"{what} trace=1: {name} = {value:.4g} > 0")

    for workload in ("olap", "lake", "iterative", "medallion"):
        for trace in (0, 1):
            res = run(workload, trace, "--expected", EXPECTED)
            expect(res["correct"] and res["failed"] == 0, f"{workload} trace={trace}: outputs match")
            for m in wanted[trace]:
                got = res["metrics"].get(m["name"], {})
                expect(got.get("unit") == m["unit"] and isinstance(got.get("value"), (int, float)),
                       f"{workload} trace={trace}: {m['name']} printed in {m['unit']}")
            if trace:
                nonzero(res, workload)
            if workload == "iterative" and trace:
                cpu, jvm = res["metrics"]["trace.cpu_s"]["value"], res["metrics"]["operators.cpu_s"]["value"]
                expect(cpu > jvm, f"iterative: trace.cpu_s {cpu:.2f} > operators.cpu_s {jvm:.2f}")

    with open(EXPECTED) as fh:
        stored = json.load(fh)
    victim = "q09_distinct_segments"
    stored["olap"][victim] = "0:" + "0" * 32
    stored["medallion"]["gold/missing_table"] = "0:" + "0" * 32
    scratch = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=scratch, delete=False) as fh:
        json.dump(stored, fh)
    try:
        res = run("olap", 0, "--ops", victim, "--expected", fh.name)
        missing = run("medallion", 0, "--expected", fh.name)
    finally:
        os.unlink(fh.name)
    expect(res["failed"] == 1 and not res["correct"], "corrupted expected digest counts as failed")
    expect(missing["failed"] == 1 and not missing["correct"],
           "stored medallion output the run did not produce counts as failed")

    res = run("iterative", 1, "--ops", "q194_mp4_mjpeg_frames", "--expected", EXPECTED)
    nonzero(res, "q194")
    cpu, jvm = res["metrics"]["trace.cpu_s"]["value"], res["metrics"]["operators.cpu_s"]["value"]
    expect(cpu > jvm, f"q194 alone: trace.cpu_s {cpu:.2f} > operators.cpu_s {jvm:.2f}")

    print("self-test " + ("passed" if not problems else f"FAILED: {len(problems)} checks"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
