"""get_spark starts its driver JVM from a class-data-sharing archive once
build_cds_archive (tools/build_cds_archive.py) has built one.

Every case runs fresh driver subprocesses (a tiny groupBy) against its own
``XDG_CACHE_HOME``: the archive is per process tree, and only a launch can
show what the JVM did with it. The JVM itself reports its input arguments,
the ``SPARK_CONF_DIR`` it was launched with and, under a caller's
``-Xlog:class+load``, where each class came from.
"""

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

pytestmark = pytest.mark.ingest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXPECTED_ROWS = [[k, 143 if k < 6 else 142] for k in range(7)]
# SparkContext itself exports these two when it starts, with or without an archive
PYSPARK_OWN_ENV = {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}
MAPPED = "org.apache.spark.SparkContext source: shared objects file (top)"

DRIVER = """
import json, os, sys
before = dict(os.environ)
from station_data_ingestion_spark import get_spark
opts = sys.argv[1]
spark = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.extraJavaOptions": opts} if opts else None)
after = dict(os.environ)
jvm = spark._jvm
rows = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k").collect()
print("RESULT " + json.dumps({
    "rows": [list(r) for r in rows],
    "jvm_args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "env_changed": sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k)),
    "conf_dir_after": after.get("SPARK_CONF_DIR"),
}), flush=True)
"""

# a build whose workload reports the dumping JVM's pid, so the test can kill it
KILLED_BUILD = """
from station_data_ingestion_spark.session import build_cds_archive
def workload(spark):
    spark.range(10).count()
    print("JVM", spark.sparkContext._gateway.proc.pid, flush=True)
try:
    print("ARCHIVE", build_cds_archive(workload, master="local[2]", shuffle_partitions=2), flush=True)
except RuntimeError as e:
    print("FAILED", e, flush=True)
"""


def cds_dir(cache: str) -> str:
    return os.path.join(cache, "station_data_ingestion_spark", "cds")


def cds_files(cache: str, pattern: str) -> list[str]:
    return sorted(glob.glob(os.path.join(cds_dir(cache), pattern)))


def env_for(cache: str, conf_dir: str | None = None) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env.update(XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])))
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = conf_dir
    return env


def drive(cache: str, cwd: str, java_opts: str = "", conf_dir: str | None = None,
          ok: bool = True) -> tuple[dict | None, str]:
    """One driver process; returns its RESULT (None when it failed, which
    ``ok`` says it must not) and its whole stdout."""
    proc = subprocess.run([sys.executable, "-c", DRIVER, java_opts], cwd=cwd, env=env_for(cache, conf_dir),
                          capture_output=True, text=True, timeout=300)
    assert (proc.returncode == 0) == ok, proc.stderr[-3000:]
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert len(result) == int(ok), proc.stderr[-3000:]
    return (json.loads(result[0][len("RESULT "):]) if ok else None), proc.stdout


def killed_build(cache: str, cwd: str) -> str:
    """A build whose JVM is SIGKILLed as soon as its dump file appears;
    returns the build's stdout."""
    proc = subprocess.Popen([sys.executable, "-c", KILLED_BUILD], cwd=cwd, env=env_for(cache),
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        line = proc.stdout.readline()
        assert line.startswith("JVM "), line
        deadline = time.monotonic() + 120
        # the build is now stopping its JVM, which makes it dump; a
        # published archive counts too (it must not appear before the kill)
        while not (cds_files(cache, "*.tmp") or cds_files(cache, "*.jsa")):
            assert time.monotonic() < deadline, "the JVM never started its dump"
            time.sleep(0.005)
        os.kill(int(line.split()[1]), signal.SIGKILL)
        out = line + proc.communicate(timeout=120)[0]
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    assert proc.returncode == 0
    return out


def archive_flags(res: dict) -> list[str]:
    return [a for a in res["jvm_args"] if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a]


@pytest.fixture(scope="module")
def starts(tmp_path_factory):
    """A killed build; a start with no archive; the tool's build (twice);
    a start that maps the archive."""
    cache = str(tmp_path_factory.mktemp("cache"))
    cwd = str(tmp_path_factory.mktemp("cwd"))
    killed = killed_build(cache, cwd)
    after_kill = cds_files(cache, "*.jsa") + cds_files(cache, "*.tmp")
    plain, _ = drive(cache, cwd)
    tool = [sys.executable, os.path.join(ROOT, "tools", "build_cds_archive.py")]
    build = subprocess.run(tool, cwd=cwd, env=env_for(cache), capture_output=True, text=True, timeout=600)
    archives = cds_files(cache, "*.jsa")
    temps = cds_files(cache, "*.tmp")
    mtime = os.path.getmtime(archives[0]) if archives else None
    rebuild = subprocess.run(tool, cwd=cwd, env=env_for(cache), capture_output=True, text=True, timeout=600)
    mapped, log = drive(cache, cwd, java_opts="-Xlog:class+load")
    return {"cache": cache, "killed": killed, "after_kill": after_kill, "plain": plain, "build": build,
            "archives": archives, "temps": temps, "mtime": mtime, "rebuild": rebuild,
            "mapped": mapped, "mapped_log": log}


def test_killed_dump_publishes_nothing(starts):
    assert "FAILED the dumping JVM exited with -9" in starts["killed"]
    assert starts["after_kill"] == []
    # the next start is correct, with no archive to map
    assert starts["plain"]["rows"] == EXPECTED_ROWS
    assert archive_flags(starts["plain"]) == [] and "-Xlog:cds=off" not in starts["plain"]["jvm_args"]


def test_build_publishes_one_archive(starts):
    build = starts["build"]
    assert build.returncode == 0, build.stderr[-3000:]
    assert len(starts["archives"]) == 1 and starts["temps"] == []
    assert build.stdout.strip() == starts["archives"][0]
    assert os.path.getsize(starts["archives"][0]) > 0
    # an existing archive is kept: the second build starts no JVM
    rebuild = starts["rebuild"]
    assert rebuild.returncode == 0 and rebuild.stdout.strip() == starts["archives"][0]
    assert os.path.getmtime(starts["archives"][0]) == starts["mtime"]


def test_start_maps_the_archive(starts):
    mapped = starts["mapped"]
    assert archive_flags(mapped) == [f"-XX:SharedArchiveFile={starts['archives'][0]}"]
    # the caller's option is kept, and the JVM says it loaded Spark from the archive
    assert "-Xlog:class+load" in mapped["jvm_args"]
    assert MAPPED in starts["mapped_log"]
    assert mapped["rows"] == starts["plain"]["rows"] == EXPECTED_ROWS


def test_environ_unchanged_after_conf_dir_swap(starts):
    # $SPARK_HOME/conf holds only templates: the JVM got an empty one
    assert starts["mapped"]["jvm_conf_dir"] == os.path.join(cds_dir(starts["cache"]), "empty-conf")
    # with no archive, the launcher's own default
    assert not starts["plain"]["jvm_conf_dir"].startswith(starts["cache"])
    for res in (starts["plain"], starts["mapped"]):
        assert res["conf_dir_after"] is None
        assert set(res["env_changed"]) <= PYSPARK_OWN_ENV, res["env_changed"]


def copy_cache(starts: dict, tmp_path) -> tuple[str, str]:
    """A cache of its own with the empty conf directory; returns it and
    where its archive goes."""
    cache = str(tmp_path / "cache")
    os.makedirs(os.path.join(cds_dir(cache), "empty-conf"))
    return cache, os.path.join(cds_dir(cache), os.path.basename(starts["archives"][0]))


def test_truncated_archive_is_removed_and_the_run_is_correct(starts, tmp_path):
    cache, archive = copy_cache(starts, tmp_path)
    with open(starts["archives"][0], "rb") as src, open(archive, "wb") as dst:
        dst.write(src.read(os.path.getsize(starts["archives"][0]) // 3))
    res, _ = drive(cache, str(tmp_path))
    assert res["rows"] == EXPECTED_ROWS
    # the JVM that mapped it died at start; the retry ran with no archive
    assert archive_flags(res) == []
    assert not os.path.exists(archive)


def test_start_failure_not_caused_by_the_archive_keeps_it(starts, tmp_path):
    cache, archive = copy_cache(starts, tmp_path)
    shutil.copyfile(starts["archives"][0], archive)
    # the JVM cannot start with this caller's stack size, archive or not
    drive(cache, str(tmp_path), java_opts="-Xss1k", ok=False)
    assert os.path.isfile(archive)


@pytest.mark.parametrize("kind", ["garbage_header", "foreign_key"])
def test_unusable_archive_is_ignored(starts, tmp_path, kind):
    cache, archive = copy_cache(starts, tmp_path)
    if kind == "garbage_header":
        with open(archive, "wb") as f:
            f.write(os.urandom(1 << 20))
    else:
        # a real dynamic archive, dumped for another classpath
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        subprocess.run([java, f"-XX:ArchiveClassesAtExit={archive}", "-cp", str(tmp_path / "other.jar"),
                        "-version"], check=True, capture_output=True, timeout=120)
    res, out = drive(cache, str(tmp_path))
    assert res["rows"] == EXPECTED_ROWS
    assert archive_flags(res) == [f"-XX:SharedArchiveFile={archive}"]
    assert "shared archive" not in out


def test_real_conf_file_means_no_archive(starts, tmp_path):
    cache, archive = copy_cache(starts, tmp_path)
    shutil.copyfile(starts["archives"][0], archive)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sql.shuffle.partitions 2\n")
    res, _ = drive(cache, str(tmp_path), conf_dir=str(conf))
    assert res["rows"] == EXPECTED_ROWS
    assert archive_flags(res) == [] and "-Xlog:cds=off" not in res["jvm_args"]
    assert res["jvm_conf_dir"] == res["conf_dir_after"] == str(conf)
    assert set(res["env_changed"]) <= PYSPARK_OWN_ENV


def test_unusable_cache_means_no_archive(starts, tmp_path):
    # the archive is there, but the conf directory it needs cannot be:
    # a file holds its name, in a cache that cannot be written
    cache, archive = copy_cache(starts, tmp_path)
    shutil.copyfile(starts["archives"][0], archive)
    empty_conf = os.path.join(cds_dir(cache), "empty-conf")
    os.rmdir(empty_conf)
    with open(empty_conf, "w") as f:
        f.write("not a directory\n")
    os.chmod(cds_dir(cache), 0o555)
    try:
        res, _ = drive(cache, str(tmp_path))
    finally:
        os.chmod(cds_dir(cache), 0o755)
    assert res["rows"] == EXPECTED_ROWS
    assert archive_flags(res) == [] and "-Xlog:cds=off" not in res["jvm_args"]
    assert os.path.isfile(archive)
