"""SparkSession factory tuned for this engine.

Local mode runs one JVM with N executor threads; on a real cluster the
same confs apply per-executor. Settings are chosen for the 100 TB design
point and merely *scaled down* for local testing:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — the per-round bench and a production
  cluster both benefit.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  you would raise it to ~2-3x total cores (AQE coalesces the excess).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (duckdb timestamps are UTC-naive).
- Arrow enabled: every pandas interchange (createDataFrame, toPandas,
  pandas UDFs, mapInPandas) moves columnar batches instead of pickled
  rows.
- Cold start: the driver JVM a call launches shares an AppCDS dynamic
  archive (JEP 350) under ``.build/cds/``, so its class loading is a
  memory map instead of parsing and verifying thousands of classes. The
  archive's name is keyed by the app name, the JDK build, the expanded
  class path jars (path, size, mtime) and whether the heap is 32 GiB or
  more (which turns compressed oops off). An archive holds the classes of
  the run that dumped it and is never refreshed, so keying by app name
  keeps one application's first run (a script, the scorer) from deciding
  what another (the benchmark, the tests) gets from its archive. A
  process that finds no archive for its key has its JVM dump one at exit
  to a unique ``.part`` file; a later start checks the file complete
  (header and region CRCs) and publishes it by rename. A start refreshes
  the mtime of the archive it maps, and drops files of other keys that no
  start has touched for 30 days (renamed apps, changed class paths). A
  JVM is only ever handed a published archive whose header and region
  extents check out: a truncated archive crashes the JVM with
  SIGBUS, even under ``-Xshare:auto``. The JVM refuses to dump with a
  non-empty directory on its class path, so the launcher is pointed at an
  empty conf dir when ``$SPARK_HOME/conf`` holds only templates; a
  ``SPARK_CONF_DIR`` of the caller's, a conf dir with real files or a
  non-empty class path directory means that process runs without an
  archive. JVM log warnings go to stderr, and CDS ones below error level
  are dropped, so none reach the process's stdout.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import secrets
import shlex
import shutil
import struct
import time
import zlib
from typing import Iterator

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_UNSET = object()
# the directory holding this package, whatever the caller's working directory
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, **confs: str) -> Iterator[None]:
    """Temporarily set session confs, restoring prior values on exit.

    Registry queries must be order-independent: a query that tunes
    ``spark.sql.shuffle.partitions`` for its own eager work (a streaming
    replay, an MLlib fit) must not leak that setting into whatever runs
    next on the shared session. Keys are passed with ``_`` in place of
    ``.`` (``spark_sql_shuffle_partitions=...``) for keyword ergonomics.
    """
    prior: dict[str, object] = {}
    keys = {k.replace("_", "."): str(v) for k, v in confs.items()}
    for key, value in keys.items():
        try:
            prior[key] = spark.conf.get(key)
        except Exception:
            prior[key] = _UNSET
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, old in prior.items():
            # an optional conf with no value reads back as None
            if old is _UNSET or old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's MemTotal, capped at 48g: a local-mode driver is the
    whole engine, but a heap the host cannot back gets the process killed
    instead of spilling. Hosts without ``meminfo`` get the cap."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    return f"{max(512, min(cap_mb, kb // 2048))}m"


# -- class-data-sharing archive for the driver JVM ---------------------------

_CDS_DIR = os.path.join(_ROOT, ".build", "cds")
# JDK 17's archive format (CURRENT_CDS_ARCHIVE_VERSION 11): a JDK whose
# base archive carries another version gets no archive, because
# _archive_ok could not check what its JVM writes
_CDS_VERSION = 11
_BASE_MAGIC, _TOP_MAGIC = 0xF00BABA2, 0xF00BABA8
_N_REGIONS, _REGION_AT, _REGION_SIZE, _HEADER_SIZE_AT = 7, 16, 72, 0x208
# an unfinished .part older than this has lost its writer; a dump takes ~30 s
_STALE_PART_S = 600
# a start maps its archive after touching it, so another group's file older
# than this belongs to an app, class path or key format no start still uses
_STALE_GROUP_S = 30 * 86400
_CDS_LOG = "-Xlog:disable -Xlog:all=warning:stderr -Xlog:cds*=error:stderr"
# a caller's own CDS flag: the JVM fails to start if it maps a dynamic
# archive and is also asked to dump one
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")


def _archive_ok(path: str, full: bool) -> bool:
    """True when ``path`` is a whole dynamic archive: magic, format version
    and header CRC match, and every region lies inside the file; with
    ``full``, every region's CRC matches too. The JVM writes the header
    last, so a dump still in progress fails here."""
    try:
        with open(path, "rb") as f:
            head = f.read(_HEADER_SIZE_AT + 8)
            magic, crc, version = struct.unpack_from("<Iii", head)
            if magic != _TOP_MAGIC or version != _CDS_VERSION:
                return False
            (header_size,) = struct.unpack_from("<Q", head, _HEADER_SIZE_AT)
            head += f.read(header_size - len(head))
            if len(head) != header_size or zlib.crc32(head[8:]) != crc & 0xFFFFFFFF:
                return False
            file_size = os.fstat(f.fileno()).st_size
            for i in range(_N_REGIONS):
                at = _REGION_AT + i * _REGION_SIZE
                (region_crc,) = struct.unpack_from("<I", head, at)
                offset, _, used = struct.unpack_from("<QQQ", head, at + 24)
                if used == 0:
                    continue
                if offset + used > file_size:
                    return False
                if full:
                    f.seek(offset)
                    got, left = 0, used
                    while left:
                        chunk = f.read(min(left, 1 << 24))
                        if not chunk:
                            return False
                        got, left = zlib.crc32(chunk, got), left - len(chunk)
                    if got != region_crc:
                        return False
    except (OSError, struct.error):
        return False
    return True


def _heap_bytes(memory: str) -> int:
    """Bytes of a ``-Xmx`` value (the launcher passes spark.driver.memory
    through verbatim): a number with an optional k/m/g/t suffix."""
    scale = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}.get(memory[-1:].lower())
    return int(memory[:-1] if scale else memory) * (scale or 1)


def _jdk_stamp(big_heap: bool) -> tuple | None:
    """Identity of the JDK the launcher will run (``$JAVA_HOME/bin/java``,
    else ``java`` on PATH, as ``spark-class`` picks it) and of the base
    archive a dynamic one sits on; None when that JDK has no base archive
    in the format :func:`_archive_ok` reads."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    server = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))), "lib", "server")
    base = os.path.join(server, "classes_nocoops.jsa" if big_heap else "classes.jsa")
    try:
        with open(base, "rb") as f:
            magic, _, version = struct.unpack("<Iii", f.read(12))
        if magic != _BASE_MAGIC or version != _CDS_VERSION:
            return None
        return tuple((p, st.st_size, st.st_mtime_ns)
                     for p in (os.path.join(server, "libjvm.so"), base) for st in [os.stat(p)])
    except (OSError, struct.error):
        return None


def _classpath(entries: list[str]) -> list[tuple] | None:
    """(path, size, mtime) of every entry on the class path, wildcards
    expanded as the java launcher does (an empty directory has no size or
    mtime: the JVM checks only its path); None when a non-empty directory
    is on it, because the JVM then refuses to dump."""
    files = []
    for entry in entries:
        if entry.endswith("*"):
            paths = sorted(glob.glob(entry[:-1] + "*.[jJ][aA][rR]"))
        elif os.path.isdir(entry):
            if os.listdir(entry):
                return None
            files.append((entry, None, None))
            continue
        else:
            paths = [entry] if os.path.exists(entry) else []
        files += [(p, st.st_size, st.st_mtime_ns) for p in paths for st in [os.stat(p)]]
    return files


def _publish(name: str) -> str | None:
    """The archive published under ``name`` in :data:`_CDS_DIR`, if any,
    with its mtime refreshed. Drops a published archive that no longer
    checks out, publishes a checked-complete ``.part`` by rename, drops
    parts that are redundant or stale, drops archives of the same app,
    class path and heap whose JDK or jars have changed, and drops every
    file of another group (archive, part or stray name) untouched for
    :data:`_STALE_GROUP_S`."""
    final = os.path.join(_CDS_DIR, name + ".jsa")
    group = name.split("-")[0] + "-"
    with contextlib.suppress(FileNotFoundError):
        if not _archive_ok(final, full=False):
            os.unlink(final)
    for entry in os.scandir(_CDS_DIR):
        if not entry.is_file():
            continue  # the launcher's conf dir
        with contextlib.suppress(FileNotFoundError):
            if not entry.name.startswith(group):
                if time.time() - entry.stat().st_mtime > _STALE_GROUP_S:
                    os.unlink(entry.path)
            elif not entry.name.startswith(name + "."):
                os.unlink(entry.path)  # superseded key
            elif entry.name.endswith(".part"):
                if _archive_ok(entry.path, full=True):
                    if os.path.exists(final):
                        os.unlink(entry.path)
                    else:
                        os.rename(entry.path, final)
                elif time.time() - entry.stat().st_mtime > _STALE_PART_S:
                    os.unlink(entry.path)
    try:
        os.utime(final)
    except FileNotFoundError:
        return None
    return final


def _cds_launch(conf: dict[str, str], app_name: str) -> tuple[str, str] | None:
    """(driver java options, SPARK_CONF_DIR) that make the JVM about to be
    launched for ``app_name`` use the published archive for its key, or
    dump one at exit; None when this launch cannot share an archive."""
    if (SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
            or os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell"
            or os.environ.get("SPARK_CONF_DIR")
            or any(f in conf.get("spark.driver.extraJavaOptions", "") for f in _CDS_FLAGS)):
        return None
    spark_home = _find_spark_home()
    conf_home = os.path.join(spark_home, "conf")
    if os.path.isdir(conf_home) and not all(n.endswith(".template") for n in os.listdir(conf_home)):
        return None
    try:
        big_heap = _heap_bytes(conf["spark.driver.memory"]) >= 32 << 30
    except ValueError:
        return None
    jdk = _jdk_stamp(big_heap)
    if jdk is None:
        return None
    conf_dir = os.path.join(_CDS_DIR, "conf")
    # the entries of the class path the launcher builds
    entries = [*conf.get("spark.driver.extraClassPath", "").split(os.pathsep), conf_dir,
               os.path.join(spark_home, "jars", "*")]
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        entries += os.environ.get(var, "").split(os.pathsep)
    os.makedirs(conf_dir, exist_ok=True)
    classpath = _classpath([e for e in entries if e])
    if not classpath:
        return None
    paths = [p for p, _, _ in classpath]
    group = hashlib.sha1(repr((app_name, paths, big_heap)).encode()).hexdigest()[:12]
    stamp = hashlib.sha1(repr((jdk, classpath)).encode()).hexdigest()[:12]
    name = f"{group}-{stamp}"
    archive = _publish(name)
    if archive:
        flags = f"-XX:SharedArchiveFile={shlex.quote(archive)} -Xshare:auto"
    else:
        part = os.path.join(_CDS_DIR, f"{name}.{os.getpid()}-{secrets.token_hex(4)}.part")
        flags = f"-XX:ArchiveClassesAtExit={shlex.quote(part)}"
    return f"{_CDS_LOG} {flags}", conf_dir


def get_spark(
    app_name: str = "loan_pipeline_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores;
    ``driver_memory`` to $SPARK_DRIVER_MEMORY or :func:`default_driver_memory`.
    A call that launches the driver JVM also sets up its class-data-sharing
    archive (module docstring); the archive's flags go before any
    ``spark.driver.extraJavaOptions`` in ``extra_conf``. The Python workers
    get this package's parent directory first on their ``PYTHONPATH``:
    pandas UDFs whose closures call module-level helpers unpickle them by
    importing the package by name. They are forked from
    :mod:`.worker_daemon`, which stops each task from re-reading
    ``pyspark.zip``'s directory, unless ``extra_conf`` sets
    ``spark.python.daemon.module``.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", None) else max(int(cpus), 4)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory":
            driver_memory or os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.python.daemon.module": f"{__package__}.worker_daemon",
        **(extra_conf or {}),
    }
    worker_path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(filter(None, [_ROOT, worker_path]))
    cds = _cds_launch(conf, app_name)
    if cds:
        opts = f"{cds[0]} {conf.get('spark.driver.extraJavaOptions', '')}".strip()
        conf["spark.driver.extraJavaOptions"] = opts
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds:
        # only the launcher reads it: set for the launch, then restored
        os.environ["SPARK_CONF_DIR"] = cds[1]
    try:
        spark = builder.getOrCreate()
    finally:
        if cds:
            del os.environ["SPARK_CONF_DIR"]
    spark.sparkContext.setLogLevel("WARN")
    return spark
