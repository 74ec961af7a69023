"""The session JVM's class-data-sharing archive (``cds.py``) on a fake JDK,
Spark home and cache: the key, adoption of finished dumps only, the sweep,
the back-off after a dump that left no archive, and the conf dirs that
leave the start unchanged. No JVM starts."""

from __future__ import annotations

import os
import sys
import time

import pytest

from data_ingestion_pipeline_spark import cds, session

MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)


@pytest.fixture
def host(tmp_path, monkeypatch):
    """A JDK with a ``libjvm.so``, a Spark home with one jar and a conf dir
    of templates, and an empty cache; returns the Spark home. The
    ``SPARK_CONF_DIR`` a Launch sets is unset again afterwards."""
    libjvm = tmp_path / "jdk" / "lib" / "server" / "libjvm.so"
    libjvm.parent.mkdir(parents=True)
    libjvm.write_bytes(b"jvm")
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf_dir = os.environ.pop("SPARK_CONF_DIR", None)
    yield str(spark_home)
    os.environ.pop("SPARK_CONF_DIR", None)
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir


def _age(path, seconds) -> None:
    t = time.time() - seconds
    os.utime(path, (t, t))


def test_key_follows_the_jar_listing_and_the_jvm(host, tmp_path):
    key = cds.archive_key(host)
    assert key == cds.archive_key(host)
    old_archive = os.path.join(cds.cache_dir(), f"{key}.jsa")
    os.makedirs(cds.cache_dir())
    with open(old_archive, "wb") as f:
        f.write(MAGIC)

    keys = {key}
    jar = tmp_path / "spark" / "jars" / "spark-core.jar"
    _age(jar, 60)  # a jar rebuilt in place: same name and size
    keys.add(cds.archive_key(host))
    (tmp_path / "spark" / "jars" / "extra.jar").write_bytes(b"x")
    keys.add(cds.archive_key(host))
    (tmp_path / "jdk" / "lib" / "server" / "libjvm.so").write_bytes(b"jvm 17.0.21")
    keys.add(cds.archive_key(host))
    assert len(keys) == 4

    # the next start under the new key removes the old key's archive
    launch = cds.prepare(host)
    assert launch.dump is not None and launch.archive is None
    assert not os.path.exists(old_archive)


def test_a_dump_without_the_magic_is_neither_adopted_nor_mapped(host):
    key = cds.archive_key(host)
    cache = cds.cache_dir()
    os.makedirs(cache)
    part = os.path.join(cache, f"{key}.0123.part")
    with open(part, "wb") as f:
        f.write(b"\0" * 4096)  # a JVM still writing: the header comes last
    archive = os.path.join(cache, f"{key}.jsa")
    with open(archive, "wb") as f:
        f.write(b"\0" * 4096)  # a bad header at the final path

    assert not cds.adopt(part)
    launch = cds.prepare(host)
    assert launch.archive is None and "SharedArchiveFile" not in launch.java_options
    assert os.path.exists(part), "a dump in progress was removed"
    assert not os.path.exists(archive), "an archive without the magic was kept"

    with open(part, "r+b") as f:
        f.write(MAGIC)  # the JVM wrote the header: the dump is whole
    # a child process, which inherits the SPARK_CONF_DIR prepare set
    launch = cds.prepare(host)
    assert launch.archive == archive and not os.path.exists(part)
    assert f"-XX:SharedArchiveFile={archive}" in launch.java_options
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(cache, "conf")
    assert os.listdir(os.path.join(cache, "conf")) == []


def test_a_stale_part_is_removed(host):
    key = cds.archive_key(host)
    cache = cds.cache_dir()
    os.makedirs(cache)
    fresh, stale = (os.path.join(cache, f"{key}.{n}.part") for n in ("fresh", "stale"))
    for part in (fresh, stale):
        with open(part, "wb") as f:
            f.write(b"\0" * 4096)
    _age(stale, 3600)
    cds.prepare(host)
    assert os.path.exists(fresh) and not os.path.exists(stale)


def test_a_dump_that_left_no_archive_backs_off_for_a_day(host):
    first = cds.prepare(host)
    assert first.dump is not None
    # the JVM exited without writing the archive
    assert not cds.adopt(first.dump)
    del os.environ["SPARK_CONF_DIR"]

    assert cds.prepare(host) is None, "dumped again within the back-off"
    assert "SPARK_CONF_DIR" not in os.environ
    tried = os.path.join(cds.cache_dir(), f"{cds.archive_key(host)}.tried")
    _age(tried, cds.BACKOFF_S - 60)
    assert cds.prepare(host) is None
    _age(tried, cds.BACKOFF_S + 60)
    again = cds.prepare(host)
    assert again.dump not in (None, first.dump)


@pytest.mark.parametrize("where", ["spark_home_conf", "SPARK_CONF_DIR"])
def test_a_real_conf_dir_leaves_the_start_unchanged(host, tmp_path, monkeypatch, where):
    """A conf file Spark reads, in ``$SPARK_HOME/conf`` or in a directory
    the caller named: no gateway is launched here (the builder starts the
    JVM as before), and neither the conf nor the environment changes."""
    if where == "SPARK_CONF_DIR":
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "user-conf"))
    else:
        (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    env = dict(os.environ)

    def launch_gateway(*args, **kwargs):
        raise AssertionError("the JVM was started with other options")

    monkeypatch.setattr(session, "launch_gateway", launch_gateway)
    conf = {"spark.master": "local[1]"}
    session._start_jvm(conf)
    assert conf == {"spark.master": "local[1]"}
    assert dict(os.environ) == env
    assert not os.path.exists(cds.cache_dir())
