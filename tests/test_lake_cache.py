"""The lake-fixture cache (`plans/lake_cache.cached_table`): publish once
per (kind, inputs, code), rebuild after a crashed publish, and serialize
concurrent publishers. All but the last test need no Spark."""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pytest

from march_mania_spark_lakehouse_spark.plans import lake_cache
from march_mania_spark_lakehouse_spark.plans.lake_cache import cached_table


@pytest.fixture
def tmp_cache(tmp_path, monkeypatch):
    """Point the cache at a private temp dir; return an input dir."""
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    inputs = tmp_path / "sf"
    inputs.mkdir()
    for name in ("orders.parquet", "customer.parquet"):
        (inputs / name).write_bytes(name.encode())
    return str(inputs)


def _counting_build(calls: list):
    def build(path: str) -> None:
        calls.append(path)
        os.makedirs(path)
        with open(os.path.join(path, "data"), "w") as fh:
            fh.write("x")

    return build


def test_second_call_reuses_publish(tmp_cache):
    calls: list = []
    first = cached_table("k", tmp_cache, _counting_build(calls))
    second = cached_table("k", tmp_cache, _counting_build(calls))
    assert first == second and calls == [first]
    assert os.path.basename(os.path.dirname(first)).startswith("spark_graft_")


def test_failed_build_leaves_no_marker_and_rebuilds(tmp_cache):
    def crash(path: str) -> None:
        os.makedirs(path)
        with open(os.path.join(path, "partial"), "w") as fh:
            fh.write("half")
        raise RuntimeError("crash mid-publish")

    with pytest.raises(RuntimeError):
        cached_table("k", tmp_cache, crash)

    seen: list = []

    def build(path: str) -> None:
        seen.append(os.path.exists(path))  # the partial dir is gone
        _counting_build([])(path)

    path = cached_table("k", tmp_cache, build)
    assert seen == [False]
    assert os.listdir(path) == ["data"]


def test_touching_any_input_file_changes_the_key(tmp_cache, tmp_path):
    copy = str(tmp_path / "copy")
    shutil.copytree(tmp_cache, copy)
    calls: list = []
    build = _counting_build(calls)
    # same files at another path: a different fixture
    assert cached_table("k", tmp_cache, build) != cached_table("k", copy, build)
    before = cached_table("k", copy, build)
    # the key covers every file, not only the one a fixture is named for
    st = os.stat(os.path.join(copy, "customer.parquet"))
    os.utime(
        os.path.join(copy, "customer.parquet"),
        ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000),
    )
    after = cached_table("k", copy, build)
    assert after != before
    assert len(calls) == 3


def test_changed_package_digest_changes_the_key(tmp_cache, monkeypatch):
    calls: list = []
    build = _counting_build(calls)
    before = cached_table("k", tmp_cache, build)
    monkeypatch.setattr(lake_cache, "_package_digest", lambda: "edited")
    after = cached_table("k", tmp_cache, build)
    assert after != before and calls == [before, after]


def test_concurrent_callers_publish_once(tmp_cache):
    """More publishers than cores race on one key: exactly one build runs
    and every caller gets the completed path."""
    calls: list = []
    build = _counting_build(calls)
    results: list = []
    errors: list = []

    def worker() -> None:
        try:
            results.append(cached_table("k", tmp_cache, build))
        except Exception as e:  # surfaced by the assertions below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(calls) == 1 and results == [calls[0]] * 16


def test_q131_half_published_fixture_is_rebuilt(
    spark, duck, sf_dir, tmp_path, monkeypatch
):
    """q131 publishes in three commits. A crash after the first must not
    be served as the fixture: the next call republishes and matches the
    oracle (a cache keyed on existence alone returns only v0's rows)."""
    from march_mania_spark_lakehouse_spark.plans import all_queries
    from march_mania_spark_lakehouse_spark.sources import delta_log
    from tests.conftest import assert_frames_equal

    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))  # publish afresh
    real_append = delta_log.append
    calls = []

    def append_crashing_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash mid-publish")
        return real_append(*args, **kwargs)

    monkeypatch.setattr(delta_log, "append", append_crashing_once)
    spec = all_queries()["q131_delta_time_travel"]
    with pytest.raises(RuntimeError):
        spec.fn(spark, sf_dir)
    got = spec.fn(spark, sf_dir).toPandas()
    assert_frames_equal(got, duck.sql(spec.oracle).df(), "q131")
