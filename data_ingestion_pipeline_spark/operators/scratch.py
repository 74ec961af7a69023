"""Scratch directories for driver-checkable fixtures.

Checks that need files on disk write them under one root (``_ROOT``),
one directory per fixture: ``scratch_dir(sf_dir, name)`` is
``<root>/<tag>/<name>``, where the tag is the fixture directory's basename
with ``.`` → ``_`` (``sf0.01`` → ``sf0_01``), the same form memory-sink
query names and catalog names need.

The caching rule: only what Spark's own writers derive from a fixture
file is cached — format copies (ORC, XML, partitioned parquet) and the
planted stream sources — through ``build_once``. Anything built by the
package code a check exercises (compaction, clustering, z-order, MERGE)
is rebuilt on every call, so a check never reads an output of older code.

``build_once`` keys its marker on the source files' size + mtime: a bare
done-marker goes stale when a fixture is REGENERATED in place (observed:
events.ts changed parquet type and every cached copy silently diverged
from the oracle tables).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

__all__ = ["sf_tag", "scratch_dir", "source_stamp", "build_once"]

_ROOT = "/tmp/spark_graft_scratch"


def sf_tag(sf_dir: str) -> str:
    return (os.path.basename(sf_dir.rstrip("/")) or "sf").replace(".", "_")


def scratch_dir(sf_dir: str, name: str) -> str:
    return os.path.join(_ROOT, sf_tag(sf_dir), name)


def source_stamp(*source_files: str) -> str:
    # st_mtime_ns: a regeneration within the same wall-clock second (same
    # byte size) must still produce a distinct stamp — whole-second mtime
    # truncation was exactly the landmine this module exists to guard.
    parts = []
    for p in source_files:
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def build_once(path: str, sources: list[str], build: Callable[[], None]) -> str:
    """Return ``path``, first running ``build()`` into a fresh, empty
    ``path`` unless the ``_STAMP`` marker there matches the current stamp
    of ``sources``. The marker's leading underscore hides it from Spark's
    file readers."""
    marker = os.path.join(path, "_STAMP")
    stamp = source_stamp(*sources)
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build()
    with open(marker, "w") as f:
        f.write(stamp)
    return path
