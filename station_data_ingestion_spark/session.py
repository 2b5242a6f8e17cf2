"""SparkSession factory with scale-appropriate defaults.

The reference is a single-process pipeline; here every knob is chosen for a
large cluster and merely *tested* on local[N]:

- AQE on: runtime join-strategy switches + skew-join splitting replace the
  reference's hand-tuned concurrency knob (ingestion_handler.py:28-29).
- Arrow on: any unavoidable Python stage moves batches, not rows.
- shuffle.partitions is a default only -- AQE coalesces small shuffles, so
  the same program scales from sf0.001 to 100 TB without retuning.

A driver JVM that this module launches starts from a dynamic class-data-
sharing archive when one was built for this JDK and Spark (see
:func:`build_cds_archive`): a cold cron day is mostly JVM start-up and
class loading, and the archive maps the classes instead.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# a mismatched archive would otherwise print a warning to the driver's stdout
CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def get_spark(
    app_name: str = "station_data_ingestion_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.

    When this call launches the driver JVM and :func:`build_cds_archive`
    has built a class-data-sharing archive for this JDK and Spark, the JVM
    maps it: ``-XX:SharedArchiveFile`` is appended to any
    ``spark.driver.extraJavaOptions`` in ``extra_conf``. The archive is
    ``$XDG_CACHE_HOME/station_data_ingestion_spark/cds/<key>.jsa``
    (``~/.cache`` when ``XDG_CACHE_HOME`` is unset), keyed by the JDK build
    and the Spark jars; this function never writes one. No archive is used
    when a context or a gateway already exists (``PYSPARK_GATEWAY_PORT``,
    e.g. under spark-submit), or when the Spark conf directory holds a real
    file: JDK 17 refuses a non-empty directory on the archived classpath,
    so a conf directory of ``*.template`` files only is swapped for the
    empty one the archive was built with, for the launch only. If the JVM
    fails to start with the archive, it is started once more without one,
    and the archive is deleted only if that start succeeds. Deleting
    ``cds/`` drops the archive.
    """
    conf = _session_conf(app_name, master, shuffle_partitions, extra_conf)
    cds = _Cds.locate()
    if cds is None or not cds.built():
        return SparkSession.builder.config(map=conf).getOrCreate()
    try:
        return cds.launch(conf, f"-XX:SharedArchiveFile={cds.archive}")
    except PySparkRuntimeError:
        if SparkContext._gateway is not None:  # noqa: SLF001 -- the JVM started; not the archive's fault
            raise
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    # only now is the archive known to be what broke the start (a truncated
    # one crashes the JVM that maps it)
    with contextlib.suppress(OSError):
        os.unlink(cds.archive)
    return spark


def build_cds_archive(workload: Callable[[SparkSession], None], **session_args) -> str | None:
    """Build the archive :func:`get_spark` maps, once per host or image.

    Launches a driver JVM (``session_args`` as for :func:`get_spark`) that
    records the classes it loads while ``workload(spark)`` runs, stops it
    and waits for it: the JVM dumps its classes when it exits. The dump
    goes to ``<key>.<pid>.tmp`` and is published with ``os.replace`` only
    after that JVM exited with 0, since a truncated archive crashes the JVM
    that maps it. An existing archive is kept, never overwritten: a running
    JVM may have it mapped. Returns the archive, or None when no archive
    can be used here (the cases in which :func:`get_spark` uses none).
    Raises RuntimeError when the dump failed; nothing is published then.
    ``tools/build_cds_archive.py`` runs this with a small cron-day ingest.
    """
    cds = _Cds.locate()
    if cds is None:
        return None
    if cds.built():
        return cds.archive
    cds_dir = os.path.dirname(cds.archive)
    os.makedirs(cds.conf_dir or cds_dir, exist_ok=True)
    _sweep_temps(cds_dir)
    tmp = f"{cds.archive[:-4]}.{os.getpid()}.tmp"
    spark = cds.launch(_session_conf(**session_args), f"-XX:ArchiveClassesAtExit={tmp}")
    try:
        workload(spark)
    except BaseException:
        _stop_jvm(spark)
        _remove(tmp)
        raise
    status = _stop_jvm(spark)
    if status == 0 and os.path.isfile(tmp) and not os.path.exists(cds.archive):
        os.replace(tmp, cds.archive)
    _remove(tmp)
    if not os.path.isfile(cds.archive):
        raise RuntimeError(f"the dumping JVM exited with {status}; no archive was published")
    return cds.archive


def _session_conf(
    app_name: str = "station_data_ingestion_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    conf = {
        "spark.app.name": app_name,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        # test corpus writes TIMESTAMP(NANOS) parquet (events.ts); Spark has
        # no nanos timestamp -- read as long, registry.load converts to
        # micros-truncated timestamp (matching DuckDB's truncation)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        "spark.ui.enabled": "false",
    }
    if master is not None:
        conf["spark.master"] = master
    elif not os.environ.get("SPARK_MASTER"):
        conf["spark.master"] = f"local[{cpus}]"
    conf.update(extra_conf or {})
    return conf


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "station_data_ingestion_spark", "cds")


def _archive_key(spark_home: str) -> str | None:
    """Hash of the JDK build and the launch classpath jars, or None when
    the JDK cannot be found."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    with open(os.path.join(java_home, "release"), "rb") as f:
        h = hashlib.sha256(f.read())
    h.update(os.path.realpath(java_home).encode())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        h.update(f"\n{os.path.basename(jar)}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _sweep_temps(cds_dir: str) -> None:
    """Remove dump temps (``<key>.<pid>.tmp``) whose build process is gone."""
    for tmp in glob.glob(os.path.join(cds_dir, "*.tmp")):
        parts = os.path.basename(tmp).split(".")
        if len(parts) != 3 or not parts[1].isdigit():
            continue
        try:
            os.kill(int(parts[1]), 0)
        except ProcessLookupError:
            _remove(tmp)
        except PermissionError:
            pass  # alive, another user's


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def _stop_jvm(spark: SparkSession) -> int:
    """Stop the session and its gateway JVM; the JVM's exit status. The
    JVM exits when its stdin closes, which pyspark only does at exit."""
    proc = SparkContext._gateway.proc  # noqa: SLF001
    spark.stop()
    SparkContext._gateway.shutdown()  # noqa: SLF001
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    proc.stdin.close()
    return proc.wait()


class _Cds:
    """Where the archive for this JDK and Spark lives, and the conf
    directory its driver JVMs launch with (None: the caller's, as is)."""

    def __init__(self, archive: str, conf_dir: str | None):
        self.archive = archive
        self.conf_dir = conf_dir

    @classmethod
    def locate(cls) -> _Cds | None:
        """None when this call starts no JVM or its classpath cannot be
        archived. Reads the file system only; any OSError means None."""
        if SparkContext._gateway is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):  # noqa: SLF001
            return None
        try:
            spark_home = _find_spark_home()
            conf_dir = os.environ.get("SPARK_CONF_DIR")
            if conf_dir is None:
                default = os.path.join(spark_home, "conf")
                names = os.listdir(default) if os.path.isdir(default) else []
                if not all(n.endswith(".template") for n in names):
                    return None
                conf_dir = os.path.join(_cds_dir(), "empty-conf") if names else None
            elif os.path.isdir(conf_dir) and os.listdir(conf_dir):
                return None
            else:
                conf_dir = None  # the caller's empty conf directory is launched as is
            key = _archive_key(spark_home)
        except OSError:
            return None
        return None if key is None else cls(os.path.join(_cds_dir(), f"{key}.jsa"), conf_dir)

    def built(self) -> bool:
        """The archive and the empty conf directory it was dumped with exist."""
        try:
            return os.path.isfile(self.archive) and (self.conf_dir is None or not os.listdir(self.conf_dir))
        except OSError:
            return False

    def launch(self, conf: dict[str, str], flag: str) -> SparkSession:
        """Launch the driver JVM with ``flag``, quiet CDS logging and the
        conf directory; ``SPARK_CONF_DIR`` is set for the launch only: a
        leaked value would make child processes skip the archive."""
        opts = " ".join(filter(None, [conf.get(JAVA_OPTIONS), CDS_QUIET, flag]))
        builder = SparkSession.builder.config(map={**conf, JAVA_OPTIONS: opts})
        if self.conf_dir is None:
            return builder.getOrCreate()
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            return builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
