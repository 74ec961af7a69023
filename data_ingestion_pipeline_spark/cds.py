"""The session JVM's class-data-sharing (CDS) archive: one per host,
standard library only.

A cold driver JVM spends seconds loading, parsing and verifying the
classes of Spark's jars. JDK 17's dynamic CDS writes the classes a JVM
loaded into an archive as it exits (``-XX:ArchiveClassesAtExit``), and a
later JVM maps them in place of loading them (``-XX:SharedArchiveFile``).
``session.get_spark`` asks ``prepare`` how to start its JVM:

    $XDG_CACHE_HOME/spark-graft/cds/   (~/.cache/spark-graft/cds when unset)
      conf/                   # the empty SPARK_CONF_DIR the archive records
      <key>.jsa               # the archive, mapped by every later start
      <key>.<uuid>.part       # a dump a JVM writes as it exits
      <key>.tried             # its mtime: the last dump attempt
      <key>.hs_err_pid<N>.log # crash report of a JVM that died at start

``<key>`` hashes the JVM's ``libjvm.so`` (path, size, mtime) and the
listing of ``$SPARK_HOME/jars`` (names, sizes, mtimes). When either
changes, the next start removes every file of the old key and dumps a new
archive. Deleting the directory resets it.

The JDK neither dumps nor maps an archive while a non-empty directory is
on the classpath, and Spark puts its conf dir there. So sharing applies
only when ``SPARK_CONF_DIR`` is unset (or names ``conf/`` above, as in a
child of a process that set it) and ``$SPARK_HOME/conf`` holds nothing
but ``*.template`` files, which Spark never reads; the JVM then gets
``conf/`` as its conf dir. In any other case, or when the cache
cannot be written, ``prepare`` returns None and the JVM starts as it would
without this module.

The JDK writes an archive's header, which starts with ``_MAGIC``, after
everything else, so a ``.part`` file without it is still being written or
was cut short. Only a dump with the magic is renamed to ``<key>.jsa``, and
no other file is ever mapped. A file without the magic is also what the
JDK rejects harmlessly; one with an intact header and a truncated body
crashes the JVM with SIGBUS before Spark starts, which ``get_spark``
answers by deleting the archive and starting once more without it.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import shutil
import sys
import time
import uuid
from dataclasses import dataclass

# the first 4 bytes of a finished archive, in the JVM's byte order
_MAGIC = 0xF00BABA8
# a first run dumps; if no archive results, the next try waits this long
BACKOFF_S = 86400
# a .part file without the magic that has not grown for this long was
# cut short: a dump takes seconds
_PART_TTL_S = 600
# how long a process waits at exit for its JVM to finish a dump; a
# perfbench JVM took 13-15 s to exit while dumping
DUMP_WAIT_S = 60


@dataclass(frozen=True)
class Launch:
    """How to start the session JVM: map ``archive``, or else dump one to
    ``dump`` as the JVM exits."""

    crash_log: str
    archive: str | None = None
    dump: str | None = None

    @property
    def java_options(self) -> str:
        """The ``spark.driver.defaultJavaOptions`` value: the crash report
        goes to the cache, CDS's log lines (one per class a dump skips) go
        nowhere, so neither reaches the caller's cwd or stdout."""
        opts = [f"-XX:ErrorFile={self.crash_log}", "-Xlog:cds*=off"]
        if self.archive:
            opts.append(f"-XX:SharedArchiveFile={self.archive}")
        if self.dump:
            opts.append(f"-XX:ArchiveClassesAtExit={self.dump}")
        return shlex.join(opts)


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "spark-graft", "cds")


def _java_home() -> str | None:
    """The JDK the launcher runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def archive_key(spark_home: str) -> str | None:
    """A digest of the JVM and of Spark's jar listing, or None when either
    is not where the launcher looks. Stats files only: no subprocess."""
    java_home = _java_home()
    if java_home is None:
        return None
    try:
        libjvm = os.path.realpath(os.path.join(java_home, "lib", "server", "libjvm.so"))
        st = os.stat(libjvm)
        stamps = [f"{libjvm} {st.st_size} {st.st_mtime_ns}"]
        for entry in os.scandir(os.path.join(spark_home, "jars")):
            st = entry.stat()
            stamps.append(f"{entry.name} {st.st_size} {st.st_mtime_ns}")
    except OSError:
        return None
    return hashlib.sha256("\n".join(sorted(stamps)).encode()).hexdigest()[:16]


def _templates_only(conf_dir: str) -> bool:
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


def has_magic(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            head = f.read(4)
    except OSError:
        return False
    return len(head) == 4 and int.from_bytes(head, sys.byteorder) == _MAGIC


def remove(path: str) -> None:
    """Delete an archive, a dump or a marker; one already gone is fine."""
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def adopt(dump: str) -> bool:
    """Rename a finished dump to its key's archive; False, leaving it in
    place, while it lacks the magic."""
    if not has_magic(dump):
        return False
    cache = os.path.dirname(dump)
    key = os.path.basename(dump).split(".", 1)[0]
    os.replace(dump, os.path.join(cache, f"{key}.jsa"))
    remove(os.path.join(cache, f"{key}.tried"))
    return True


def _sweep(cache: str, key: str) -> None:
    """Remove every file of another key, adopt finished dumps of this key
    and remove this key's dumps that were cut short."""
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        if name == "conf":
            continue
        if not name.startswith(f"{key}."):
            remove(path)
        elif name.endswith(".part") and not adopt(path):
            try:
                if time.time() - os.path.getmtime(path) > _PART_TTL_S:
                    remove(path)
            except FileNotFoundError:
                pass  # adopted or removed by another process meanwhile


def prepare(spark_home: str) -> Launch | None:
    """How to start the session JVM, or None to start it as if this module
    did not exist. A Launch means ``SPARK_CONF_DIR`` now names ``conf/``.

    With a verified archive, the JVM maps it. Without one, the JVM dumps
    one at exit, unless a dump was tried within ``BACKOFF_S``: that dump
    is still running (a session can run for hours) or left no archive."""
    cache = cache_dir()
    conf = os.path.join(cache, "conf")
    if os.environ.get("SPARK_CONF_DIR", conf) != conf or not _templates_only(
        os.path.join(spark_home, "conf")
    ):
        return None
    key = archive_key(spark_home)
    if key is None:
        return None
    crash_log = os.path.join(cache, f"{key}.hs_err_pid%p.log")
    archive = os.path.join(cache, f"{key}.jsa")
    tried = os.path.join(cache, f"{key}.tried")
    try:
        os.makedirs(conf, exist_ok=True)
        _sweep(cache, key)
        if has_magic(archive):
            launch = Launch(crash_log, archive=archive)
        else:
            remove(archive)
            try:
                if time.time() - os.path.getmtime(tried) < BACKOFF_S:
                    return None
            except FileNotFoundError:
                pass
            with open(tried, "w"):
                pass
            launch = Launch(crash_log, dump=os.path.join(cache, f"{key}.{uuid.uuid4().hex}.part"))
    except OSError:
        return None  # an unwritable cache
    os.environ["SPARK_CONF_DIR"] = conf
    return launch
