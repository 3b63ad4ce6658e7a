"""Publish-once cache for the lake tables that plans read as fixtures.

A plan that needs a published Delta/Iceberg/manifest table calls
``cached_table(kind, sf_dir, build)`` and reads whatever path comes
back; this module alone decides where tables live and when they are
rebuilt.

The key covers everything a publish depends on: the fixture kind, the
input directory (every file's name, mtime and size) and the source of
this package, so a regenerated input OR a code change publishes afresh
instead of serving an old layout. A publish is complete only once its
marker exists; the marker is written last, beside the published
directory, so a crash mid-publish leaves no marker and the next call
rebuilds from scratch. Publishing happens in place (Iceberg metadata
records absolute file paths, so a table cannot be built elsewhere and
renamed), under an exclusive lock per key so that concurrent processes
sharing the temp directory never remove each other's publish.
"""

from __future__ import annotations

import fcntl
import functools
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

_PACKAGE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _package_digest() -> str:
    """sha256 over the path and bytes of every .py file in the package."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(_PACKAGE_DIR):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, _PACKAGE_DIR).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _key(kind: str, sf_dir: str) -> str:
    root = os.path.abspath(sf_dir)
    h = hashlib.sha256(f"{kind}\0{root}\0".encode())
    for base, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(base, name)
            st = os.stat(path)
            rel = os.path.relpath(path, root)
            h.update(f"{rel}\0{st.st_mtime_ns}\0{st.st_size}\0".encode())
    h.update(_package_digest().encode())
    return h.hexdigest()[:16]


def cached_table(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Return the path of the ``kind`` fixture published from ``sf_dir``,
    calling ``build(path)`` to publish it there first if no complete
    publish exists for the current inputs and code."""
    cache_dir = os.path.join(tempfile.gettempdir(), "spark_graft_cache")
    path = os.path.join(cache_dir, f"{kind}-{_key(kind, sf_dir)}")
    marker = path + ".done"
    if os.path.exists(marker):
        return path
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(marker):
            shutil.rmtree(path, ignore_errors=True)
            build(path)
            open(marker, "w").close()
    return path
