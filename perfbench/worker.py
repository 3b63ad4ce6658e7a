"""One benchmark run of one workload, inside one Python process.

Started by ``run.py`` with the run's environment already in place (its
own TMPDIR, lake root and Spark scratch dir), so nothing here touches
paths outside the run directory. The process:

1. starts Spark and makes the first call of every operation on cold
   fixture caches, collecting each result (the set-up);
2. times a fixed number of whole passes over the operations, each pass
   in a seed-chosen order (for medallion, one that respects what each job
   reads), queries with a noop-sink action;
3. in a traced run, first restarts the session with the Spark event log
   and a py4j call counter and times passes under job groups that the
   event-log reader attributes work to, then restarts it untraced;
4. computes each result a second time where no oracle checks it, and
   writes digests and timings (and, traced, per-operation figures) as
   JSON for ``run.py``.

    python3 perfbench/worker.py CONFIG.json
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import random
import statistics
import sys
import time
import traceback

import pandas as pd

from digest import frame_digest
from eventlog import EventLog
from proctree import tree_cpu_s, tree_peak_rss_bytes
from workloads import JOB_LAYER, JOB_READS, PASS_S

MB = 1024 * 1024


class Tracer:
    """Spans kept in memory: name, start, end, parent span and run id."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()


class Py4jCounter:
    """Counts driver-to-JVM round trips by wrapping the gateway client."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        send = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        """Unwrap: the gateway outlives the session it was wrapped for."""
        del self._client.send_command


class QueryOp:
    """A registered query: build is ``spec.fn``, the action a noop-sink write."""

    def __init__(self, name: str, spec, data_dir: str):
        self.name, self.fn, self.data_dir = name, spec.fn, data_dir
        self.oracled = bool(spec.oracle)

    def build(self, spark, tag):
        return self.fn(spark, self.data_dir)

    def act(self, spark, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def result(self, spark, tag):
        return self.build(spark, tag).toPandas()


class JobOp:
    """One medallion job run through ``pipeline.runner`` into the pass's lake root."""

    def __init__(self, num: int, data_dir: str, lake_dir: str):
        from march_mania_spark_lakehouse_spark.pipeline.config import PipelineConfig

        self.num, self.name = num, f"job{num:02d}"
        self.cfg = PipelineConfig(sf_dir=data_dir)
        self.lake_dir = lake_dir

    def root(self, tag) -> str:
        return os.path.join(self.lake_dir, str(tag))

    def build(self, spark, tag):
        return self.root(tag)

    def act(self, spark, root) -> None:
        from march_mania_spark_lakehouse_spark.pipeline.paths import LakePaths
        from march_mania_spark_lakehouse_spark.pipeline.runner import run_pipeline

        run_pipeline(spark, self.cfg, LakePaths(root), self.num, self.num)

    def result(self, spark, tag):
        self.act(spark, self.root(tag))


def lake_outputs(root: str) -> dict[str, pd.DataFrame]:
    """Every silver and gold table and every artifact of one pipeline run.

    Bronze is a trimmed copy of the input; every later job reads it.
    """
    out = {}
    for layer in ("silver", "gold"):
        for path in sorted(glob.glob(os.path.join(root, layer, "*"))):
            out[f"{layer}/{os.path.basename(path)}"] = pd.read_parquet(path)
    for path in sorted(glob.glob(os.path.join(root, "artifacts", "*"))):
        key = "artifacts/" + os.path.basename(path)
        if path.endswith(".csv"):
            out[key] = pd.read_csv(path, dtype=str)
        else:
            with open(path) as fh:
                out[key] = pd.DataFrame({"text": [fh.read()]})
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(base, f))
    return total


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.rng = random.Random(cfg["seed"])
        self.tracer = Tracer(f"{cfg['workload']}-seed{cfg['seed']}", bool(cfg["trace"]))
        self.attempted = 0
        self.errors: list[str] = []
        self.py4j: Py4jCounter | None = None
        self.action_start_ms: dict[str, float] = {}
        self.build_calls: dict[str, int] = {}
        self.digest_s = 0.0

    # -- one operation ------------------------------------------------------
    def run_op(self, spark, op, tag, collect=False):
        """Build and act (or collect); returns (build s, total s, result) or None on failure."""
        self.attempted += 1
        group = f"{tag}|{op.name}"
        traced = self.py4j is not None
        try:
            with self.tracer.span("op", op=op.name, tag=str(tag)):
                if traced:
                    spark.sparkContext.setJobGroup(group + "|build", op.name)
                    calls0 = self.py4j.calls
                t0 = time.perf_counter()
                if collect:
                    with self.tracer.span("plans.build+collect"):
                        res = op.result(spark, tag)
                    t1 = time.perf_counter()
                    return t1 - t0, t1 - t0, res
                with self.tracer.span("plans.build"):
                    built = op.build(spark, tag)
                t1 = time.perf_counter()
                if traced:
                    self.build_calls[group] = self.py4j.calls - calls0
                    spark.sparkContext.setJobGroup(group + "|act", op.name)
                    self.action_start_ms[group + "|act"] = time.time() * 1000
                with self.tracer.span("action"):
                    op.act(spark, built)
                t2 = time.perf_counter()
                return t1 - t0, t2 - t0, None
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.errors.append(f"{op.name} [{tag}]: {traceback.format_exc(limit=3)}")
            return None

    def ordered(self, ops):
        if self.cfg["workload"] != "medallion":
            order = list(ops)
            self.rng.shuffle(order)
            return order
        # A job runs once every job of the pass whose output it reads has run.
        present = {op.num for op in ops}
        left, done, order = list(ops), set(), []
        while left:
            ready = [op for op in left if set(JOB_READS.get(op.num, ())) & present <= done]
            op = self.rng.choice(ready)
            left.remove(op)
            done.add(op.num)
            order.append(op)
        return order

    def passes(self, spark, ops, count: int, prefix: str):
        """``count`` whole passes over ``ops``."""
        pass_s, pass_cpu_s, builds, tags = [], [], [], []
        samples = {op.name: [] for op in ops}
        op_builds = {op.name: [] for op in ops}
        cpu_prev = tree_cpu_s(os.getpid())
        for k in range(count):
            tag = f"{prefix}{k}"
            with self.tracer.span("pass", tag=tag):
                tp, build = time.perf_counter(), 0.0
                for op in self.ordered(ops):
                    got = self.run_op(spark, op, tag)
                    if got:
                        build += got[0]
                        op_builds[op.name].append(got[0])
                        samples[op.name].append(got[1])
                pass_s.append(time.perf_counter() - tp)
            cpu_now = tree_cpu_s(os.getpid())
            pass_cpu_s.append(cpu_now - cpu_prev)
            cpu_prev = cpu_now
            builds.append(build)
            tags.append(tag)
        # The median pass, like wall_s: the JVM is still compiling in the
        # first passes, and its compiler threads count in the process CPU.
        cpu = statistics.median(pass_cpu_s)
        return {"pass_s": pass_s, "pass_cpu_s": pass_cpu_s, "samples": samples, "cpu_s": cpu,
                "build_s": builds, "op_build_s": op_builds, "tags": tags}

    def digest(self, pdf) -> str:
        t = time.perf_counter()
        d = frame_digest(pdf)
        self.digest_s += time.perf_counter() - t
        return d

    def collect_pass(self, spark, ops, tag) -> tuple[dict, dict]:
        """Every operation once, results collected: (seconds, digests)."""
        secs, digests = {}, {}
        for op in self.ordered(ops):
            got = self.run_op(spark, op, tag, collect=True)
            if got is None:
                continue
            secs[op.name] = got[1]
            if got[2] is not None:
                digests[op.name] = self.digest(got[2])
        if isinstance(ops[0], JobOp):
            digests = self.lake_digests(ops[0].root(tag))
        return secs, digests

    def lake_digests(self, root: str) -> dict:
        return {k: self.digest(v) for k, v in lake_outputs(root).items()}


def start_spark(trace_dir: str | None = None):
    """A session with the event log off, or on into ``trace_dir``.

    The flag is always passed: options given to ``SparkSession.builder``
    persist into every later session of the process.
    """
    from march_mania_spark_lakehouse_spark.session import get_spark

    conf = {"spark.eventLog.enabled": "false"}
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark("perfbench", extra_conf=conf)


def make_ops(cfg: dict) -> list:
    if cfg["workload"] == "medallion":
        lake = os.path.join(cfg["run_dir"], "lake")
        return [JobOp(int(n), cfg["data_dir"], lake) for n in cfg["ops"]]
    from march_mania_spark_lakehouse_spark.plans import all_queries

    specs = all_queries()
    return [QueryOp(n, specs[n], cfg["data_dir"]) for n in cfg["ops"]]


def layer_metrics(run: Run, log: EventLog, traced: dict, untraced: dict, first: dict) -> dict:
    """Per-layer figures of one traced steady pass (mean over traced passes)."""
    tags = traced["tags"]
    n = len(tags)
    per: dict[str, float] = {}

    def add(key, value):
        per[key] = per.get(key, 0.0) + value / n

    plan_s = 0.0
    for group, g in log.groups.items():
        tag, op, phase = group.split("|")
        if tag not in tags:
            continue
        for key, value in g.items():
            add(key, value)
        if phase == "build":
            add("build_jobs", g.get("jobs", 0))
        if phase == "act" and group in log.first_submit_ms:
            plan_s += (log.first_submit_ms[group] - run.action_start_ms[group]) / 1000
        if phase == "act" and op.startswith("job") and JOB_LAYER[int(op[3:])] == "ml":
            add("ml_jobs", g.get("jobs", 0))
    calls = sum(c for grp, c in run.build_calls.items() if grp.split("|")[0] in tags)
    steady = {op: statistics.median(s) for op, s in untraced["samples"].items() if s}
    job_s = {op: statistics.median(s) for op, s in traced["samples"].items() if s}

    def layer_s(layer):
        return sum((s for op, s in job_s.items() if op.startswith("job") and JOB_LAYER[int(op[3:])] == layer), 0.0)

    listed = per.get("stages_listed", 0.0)
    return {
        "plans.build_s": statistics.fmean(traced["build_s"]),
        "plans.py4j_calls": calls / n,
        "plans.build_jobs": per.get("build_jobs", 0.0),
        "catalyst.plan_s": plan_s / n,
        "catalyst.exchanges": per.get("exchanges", 0.0),
        "catalyst.sorts": per.get("sorts", 0.0),
        "catalyst.smj_joins": per.get("smj_joins", 0.0),
        "catalyst.bhj_joins": per.get("bhj_joins", 0.0),
        "operators.jobs": per.get("jobs", 0.0),
        "operators.stages": per.get("stages_run", 0.0),
        "operators.tasks": per.get("tasks", 0.0),
        "operators.cpu_s": per.get("cpu_s", 0.0),
        "operators.run_s": per.get("run_s", 0.0),
        "operators.gc_s": per.get("gc_s", 0.0),
        "operators.failed_tasks": per.get("failed_tasks", 0.0),
        "operators.stage_reuse_frac": (listed - per.get("stages_run", 0.0)) / listed if listed else 0.0,
        "pyworker.boot_s": per.get("py_boot_s", 0.0),
        "pyworker.init_s": per.get("py_init_s", 0.0),
        "pyworker.run_s": per.get("py_run_s", 0.0),
        "pyworker.rows": per.get("py_rows", 0.0),
        "shuffle.write_mb": per.get("shuffle_write_bytes", 0.0) / MB,
        "shuffle.read_mb": per.get("shuffle_read_bytes", 0.0) / MB,
        "shuffle.write_s": per.get("shuffle_write_s", 0.0),
        "shuffle.fetch_wait_s": per.get("fetch_wait_s", 0.0),
        "shuffle.spill_mb": per.get("spill_bytes", 0.0) / MB,
        "sources.publish_s": sum(max(0.0, first[op] - steady[op]) for op in steady if op in first),
        "sources.read_mb": per.get("input_bytes", 0.0) / MB,
        "sources.write_mb": per.get("output_bytes", 0.0) / MB,
        "pipeline.bronze_s": layer_s("bronze"),
        "pipeline.silver_s": layer_s("silver"),
        "pipeline.gold_s": layer_s("gold"),
        "ml.train_s": layer_s("ml"),
        "ml.jobs": per.get("ml_jobs", 0.0),
    }


def op_profile(run: Run, log: EventLog, traced: dict, untraced: dict) -> dict:
    """Figures of each operation per traced pass, to compare a timed subset
    with the whole workload (``subsets.py``)."""
    tags = set(traced["tags"])
    n = len(tags)
    prof = {
        op: {
            "op_s": statistics.median(s) if s else 0.0,
            "build_s": statistics.median(traced["op_build_s"][op] or [0.0]),
            "py4j_calls": 0.0, "jobs": 0.0, "build_jobs": 0.0, "jvm_cpu_s": 0.0, "py_run_s": 0.0,
        }
        for op, s in untraced["samples"].items()
    }
    for group, g in log.groups.items():
        tag, op, phase = group.split("|")
        if tag in tags and op in prof:
            p = prof[op]
            p["jobs"] += g.get("jobs", 0) / n
            p["jvm_cpu_s"] += g.get("cpu_s", 0) / n
            p["py_run_s"] += g.get("py_run_s", 0) / n
            if phase == "build":
                p["build_jobs"] += g.get("jobs", 0) / n
    for group, calls in run.build_calls.items():
        tag, op = group.split("|")
        if tag in tags and op in prof:
            prof[op]["py4j_calls"] += calls / n
    return prof


def main(cfg: dict) -> dict:
    run = Run(cfg)
    ops = make_ops(cfg)
    traced_run = bool(cfg["trace"])
    # A fixed pass count, not a deadline: every run then does the same work
    # and meets the JVM at the same point of its warm-up on any host.
    seconds = float(cfg["seconds"]) / (2 if traced_run else 1)
    count = max(1, round(seconds / PASS_S[cfg["workload"]]))
    out: dict = {}
    with run.tracer.span("run", workload=cfg["workload"]):
        with run.tracer.span("setup"):
            with run.tracer.span("session.start"):
                t = time.perf_counter()
                spark = start_spark()
                out["session_start_s"] = time.perf_counter() - t
            first_s, first_digests = run.collect_pass(spark, ops, "setup")
        out["setup_s"] = time.time() - cfg["spawn_time"] - run.digest_s
        out["first_s"] = first_s
        if traced_run:
            # Traced passes first, then untraced ones, each block after a
            # session start and one untimed pass. The JVM keeps warming up,
            # so the untraced block is the faster for that reason too and
            # trace.overhead_s is an upper bound.
            spark.stop()
            trace_dir = os.path.join(cfg["run_dir"], "eventlog")
            spark = start_spark(trace_dir)
            run.py4j = Py4jCounter(spark)
            run.passes(spark, ops, 1, "warm")
            out["traced"] = traced = run.passes(spark, ops, count, "t")
            spark.stop()
            run.py4j.close()
            run.py4j = None
            spark = start_spark()
            run.passes(spark, ops, 1, "warm2")
        out["untraced"] = untraced = run.passes(spark, ops, count, "u")
        out["peak_rss_mb"] = tree_peak_rss_bytes(os.getpid()) / MB
        # Results are checked on the set-up pass: against the oracle in run.py
        # and, here, against a second computation: the last pipeline pass, or
        # one more collect of each query that has no oracle.
        if isinstance(ops[0], JobOp):
            last = untraced["tags"][-1]
            check_digests = run.lake_digests(ops[0].root(last))
        else:
            rest = [op for op in ops if not op.oracled]
            check_digests = run.collect_pass(spark, rest, "check")[1] if rest else {}
        spark.stop()
    if traced_run:
        log = EventLog()
        for path in glob.glob(os.path.join(trace_dir, "*")):
            log.read(path)
        out["layers"] = layer_metrics(run, log, traced, untraced, first_s)
        out["op_profile"] = op_profile(run, log, traced, untraced)
        out["spans"] = run.tracer.spans
    out.update(
        attempted=run.attempted,
        errors=run.errors,
        first_digests=first_digests,
        check_digests=check_digests,
        stored_bytes=stored_bytes(cfg),
    )
    return out


def stored_bytes(cfg: dict) -> int:
    """Bytes the run left on storage: lake fixture caches and one pipeline run."""
    if cfg["workload"] == "medallion":
        return dir_bytes(os.path.join(cfg["run_dir"], "lake", "setup"))
    return sum(dir_bytes(p) for p in glob.glob(os.path.join(os.environ["TMPDIR"], "spark_graft_*")))


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        config = json.load(fh)
    result = main(config)
    with open(config["out"], "w") as fh:
        json.dump(result, fh)
