"""Process entry points for the multi-process commit test in
``tests/test_table.py``. A spawned child imports this module by name, so
it imports nothing but the standard library and ``plans/commit.py``: a
worker that loaded pyspark would show in its records."""

from __future__ import annotations

import json
import os
import sys
import time

from data_ingestion_pipeline_spark.plans import commit

KEEP_VERSIONS = 2
KILLED = 17  # exit code of a worker stopped at its kill point


def fill(stage: str, tag: str) -> None:
    """A tiny staged directory: one file naming its writer."""
    os.makedirs(stage)
    with open(os.path.join(stage, "part-0"), "w") as f:
        f.write(tag)


def _die(*_args) -> None:
    os._exit(KILLED)


def worker(
    root: str,
    out: str,
    w: int,
    n: int,
    kinds: tuple[str, ...],
    kill: str | None,
    key_spec: str,
    start,
) -> None:
    """Make ``n`` commits against ``root``, cycling through ``kinds``
    ("snapshot", "blind", "sidecar") from offset ``w``, and append one JSON
    line per outcome to ``out``. Sidecars use the key list ``key_spec``.

    With ``kill``, the worker stops with ``os._exit`` at commit ``n // 2``:
    ``"stage"`` right after staging (the stage leaks), ``"claim"`` inside
    the critical section, after the rename and before the pointer swap.
    Any exception other than the two a commit may raise ends the worker
    with a nonzero exit code. ``start``, a barrier or None, lines the
    workers up so that their commits overlap."""
    if start is not None:
        start.wait(60)
    with open(out, "a") as log:

        def record(**kw) -> None:
            kw["pyspark"] = "pyspark" in sys.modules
            log.write(json.dumps(kw) + "\n")
            log.flush()

        for i in range(n):
            tag = f"w{w}-{i}"
            if kill and i == n // 2:
                record(kind="kill", point=kill)
                with commit.staged(root) as stage:
                    fill(stage, tag)
                    if kill == "claim":
                        commit._swap_pointer = _die
                        commit.commit_version(root, stage, None, KEEP_VERSIONS)
                    _die()
            kind = kinds[(i + w) % len(kinds)]
            try:
                v = commit.current_version(root)
                with commit.staged(root) as stage:
                    fill(stage, tag)
                    time.sleep(0.001)  # stands in for the data write
                    if kind == "sidecar":
                        path = commit.commit_sidecar(root, stage, v, key_spec)
                        record(kind=kind, version=v, sidecar=os.path.basename(path), keys=key_spec)
                        continue
                    expect = (v, commit.sidecars(root, v)) if kind == "snapshot" else None
                    got = commit.commit_version(root, stage, expect, KEEP_VERSIONS)
                    record(kind=kind, version=got)
            except commit.ConcurrentWriteError:
                record(kind=kind, outcome="conflict")
            except ValueError:
                record(kind=kind, outcome="keys")


def watch(root: str, out: str, stop) -> None:
    """Read the pointer until ``stop`` is set; write to ``out`` every time
    it moved backward or named a directory that was missing while it
    named it."""
    errors, reads, last = [], 0, 0
    while not stop.is_set():
        v = commit.current_version(root)
        reads += 1
        if not os.path.isdir(os.path.join(root, v)) and commit.current_version(root) == v:
            errors.append(f"pointer names missing {v}")
        if int(v[1:]) < last:
            errors.append(f"pointer moved back to {v} from v{last:08d}")
        last = max(last, int(v[1:]))
        time.sleep(0.0005)
    with open(out, "w") as f:
        json.dump({"errors": errors, "reads": reads, "pyspark": "pyspark" in sys.modules}, f)
