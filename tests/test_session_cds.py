"""The driver JVM's class-data-sharing archive (``session.get_spark``).

Every case starts its session in a fresh subprocess, because the archive
flags only reach a JVM at launch. The subprocesses share one archive
directory per module (the archive's key includes its empty conf dir, which
lives there); each case lays out that directory before it starts. A case
that does not test the dump kills its JVM instead of letting it exit, so
no dump runs. Capturing a subprocess's stdout waits for its JVM too: the
JVM inherits the pipe and holds it until its dump at exit is written.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUM = sum(i * i for i in range(1000))
PROBE = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from loan_approval_prediction_data_engineering_ml_pipeline_spark import session as S
S._CDS_DIR = sys.argv[2]
spark = S.get_spark(app_name="cds-probe", cpus="1", driver_memory="1g",
                    extra_conf={"spark.driver.extraJavaOptions": "-Dgraft.probe=kept"})
out = {
    "sum": spark.sql("SELECT sum(id * id) AS s FROM range(1000)").collect()[0]["s"],
    "args": list(spark._jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
    "prop": spark._jvm.System.getProperty("graft.probe"),
    "marker": spark.conf.get("spark.graft.marker", None),
}
print(json.dumps(out), flush=True)
if sys.argv[3] == "kill":
    from pyspark import SparkContext
    SparkContext._gateway.proc.kill()
    SparkContext._gateway.proc.wait()
    os._exit(0)
"""


def _probe(cds_dir: str, end: str, conf_dir: str | None = None) -> subprocess.Popen:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    if conf_dir:
        env["SPARK_CONF_DIR"] = conf_dir
    return subprocess.Popen([sys.executable, "-c", PROBE, ROOT, cds_dir, end], env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _result(proc: subprocess.Popen) -> dict:
    """The probe's output, once its JVM has exited; checks the query result
    and that no CDS diagnostic reached stdout."""
    stdout, stderr = proc.communicate(timeout=600)
    assert proc.returncode == 0, stderr[-3000:]
    assert "[cds" not in stdout, stdout
    out = json.loads(stdout.strip().splitlines()[-1])
    assert out["sum"] == SUM
    return out


def _flag(out: dict, name: str) -> list[str]:
    return [a.split("=", 1)[1] for a in out["args"] if a.startswith(f"-XX:{name}=")]


def _layout(cds_dir: str, files: dict[str, bytes]) -> None:
    """Empty the archive directory (its conf dir stays) and write ``files``."""
    for name in os.listdir(cds_dir):
        if name != "conf":
            os.unlink(os.path.join(cds_dir, name))
    for name, data in files.items():
        with open(os.path.join(cds_dir, name), "wb") as f:
            f.write(data)


@pytest.fixture(scope="module")
def first_starts(tmp_path_factory):
    """Two concurrent first starts on an empty archive directory (both
    dump), then a third start, which publishes one of the dumps and uses
    it. Returns the runs' outputs, the published archive's name and bytes."""
    cds_dir = str(tmp_path_factory.mktemp("cds"))
    firsts = [_result(p) for p in [_probe(cds_dir, "exit"), _probe(cds_dir, "exit")]]
    parts = sorted(n for n in os.listdir(cds_dir) if n.endswith(".part"))
    third = _result(_probe(cds_dir, "exit"))
    listing = sorted(os.listdir(cds_dir))
    archive = next(n for n in listing if n.endswith(".jsa"))
    with open(os.path.join(cds_dir, archive), "rb") as f:
        data = f.read()
    return {"dir": cds_dir, "firsts": firsts, "parts": parts, "third": third,
            "listing": listing, "archive": archive, "data": data}


def test_concurrent_first_starts_publish_one_archive(first_starts):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import _archive_ok

    dumps = [_flag(out, "ArchiveClassesAtExit") for out in first_starts["firsts"]]
    assert all(len(d) == 1 for d in dumps) and dumps[0] != dumps[1]
    assert [_flag(out, "SharedArchiveFile") for out in first_starts["firsts"]] == [[], []]
    assert len(first_starts["parts"]) == 2  # both dumps were written
    # exactly one archive is published; the other dump is dropped
    assert first_starts["listing"] == sorted([first_starts["archive"], "conf"])
    third = first_starts["third"]
    archive = os.path.join(first_starts["dir"], first_starts["archive"])
    assert _flag(third, "SharedArchiveFile") == [archive]
    assert "-Xshare:auto" in third["args"] and _flag(third, "ArchiveClassesAtExit") == []
    assert _archive_ok(archive, full=True)


def test_caller_java_property_reaches_jvm_beside_archive_flags(first_starts):
    third = first_starts["third"]
    assert third["prop"] == "kept"
    assert _flag(third, "SharedArchiveFile")


def _mismatched_archive(tmp_path) -> bytes:
    """A whole archive dumped by a JVM with another class path (the Spark
    launcher's jar alone): it passes the engine's completeness check, and
    the JVM must refuse it itself."""
    from pyspark.find_spark_home import _find_spark_home

    jar = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher_*.jar"))[0]
    path = tmp_path / "other.jsa"
    # the launcher's Main without arguments prints its usage and exits 1
    subprocess.run(["java", f"-XX:ArchiveClassesAtExit={path}", "-cp", jar,
                    "org.apache.spark.launcher.Main"], capture_output=True, timeout=120)
    return path.read_bytes()


@pytest.mark.parametrize("case", ["truncated", "zero_length_part", "key_mismatch"])
def test_bad_archive_state_never_reaches_the_jvm(first_starts, tmp_path, case):
    """A truncated archive SIGBUSes a JVM even under -Xshare:auto, and a
    zero-length part is a dump that never finished: neither may be handed
    to a JVM. A whole archive dumped for another class path is handed over
    and refused by the JVM itself. Every case gives a session with the same
    query result and no CDS line on stdout."""
    cds_dir, name = first_starts["dir"], first_starts["archive"]
    key = name[: -len(".jsa")]
    superseded = key.split("-")[0] + "-000000000000.jsa"
    files = {
        "truncated": {name: first_starts["data"][: len(first_starts["data"]) // 2]},
        "zero_length_part": {f"{key}.1-deadbeef.part": b""},
        "key_mismatch": {name: _mismatched_archive(tmp_path), superseded: first_starts["data"]},
    }[case]
    _layout(cds_dir, files)
    out = _result(_probe(cds_dir, "kill"))
    handed = _flag(out, "SharedArchiveFile")
    if case == "key_mismatch":
        assert handed == [os.path.join(cds_dir, name)]
        assert not os.path.exists(os.path.join(cds_dir, superseded))
    else:
        assert handed == [] and len(_flag(out, "ArchiveClassesAtExit")) == 1
        assert not os.path.exists(os.path.join(cds_dir, name))
    if case == "zero_length_part":
        assert os.path.getsize(os.path.join(cds_dir, f"{key}.1-deadbeef.part")) == 0


def test_user_conf_dir_is_honoured_without_archive(first_starts, tmp_path):
    _layout(first_starts["dir"], {first_starts["archive"]: first_starts["data"]})
    (tmp_path / "spark-defaults.conf").write_text("spark.graft.marker  from-user-conf\n")
    out = _result(_probe(first_starts["dir"], "kill", conf_dir=str(tmp_path)))
    assert out["marker"] == "from-user-conf"
    assert out["prop"] == "kept"
    assert not [a for a in out["args"] if "Archive" in a or "Xshare" in a or "Xlog" in a]


def test_archive_is_keyed_by_app_name(tmp_path, monkeypatch):
    """Two apps never share an archive or prune each other's: an archive
    holds only the classes its dumping run loaded. Needs no JVM: the key
    and the flags are worked out before the launch."""
    from pyspark import SparkContext

    from loan_approval_prediction_data_engineering_ml_pipeline_spark import session as S

    monkeypatch.setattr(S, "_CDS_DIR", str(tmp_path))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    conf = {"spark.driver.memory": "1g"}

    def key(app: str) -> str:
        opts, _ = S._cds_launch(conf, app)
        part = next(o for o in opts.split() if o.startswith("-XX:ArchiveClassesAtExit="))
        return os.path.basename(part).split(".")[0]

    a, b = key("app-a"), key("app-b")
    assert key("app-a") == a and a != b
    assert a.split("-")[0] != b.split("-")[0]  # another group: never pruned as superseded
    other = tmp_path / f"{a.split('-')[0]}-000000000000.jsa"
    other.write_bytes(b"")
    key("app-b")
    assert other.exists()
    key("app-a")
    assert not other.exists()


def test_publish_prunes_files_of_groups_gone_stale(tmp_path, monkeypatch):
    """Another group's archive (a renamed app, a changed class path) is
    never mapped or superseded again: it goes once no start has touched
    it for the stale age, as does a stray file; a recent one stays, and
    publishing refreshes the mtime of the archive it returns. Needs no
    JVM: the archive is a bare header that passes the check."""
    import struct
    import time
    import zlib

    from loan_approval_prediction_data_engineering_ml_pipeline_spark import session as S

    head = bytearray(S._HEADER_SIZE_AT + 8)  # no regions in use
    struct.pack_into("<IiiQ", head, 0, S._TOP_MAGIC, 0, S._CDS_VERSION, 0)
    struct.pack_into("<Q", head, S._HEADER_SIZE_AT, len(head))
    struct.pack_into("<I", head, 4, zlib.crc32(head[8:]))
    monkeypatch.setattr(S, "_CDS_DIR", str(tmp_path))
    name = "aaaaaaaaaaaa-bbbbbbbbbbbb"
    old = time.time() - S._STALE_GROUP_S - 3600
    files = {n: tmp_path / n for n in [f"{name}.jsa", "cccccccccccc-dddddddddddd.jsa",
                                       "stray.tmp", "eeeeeeeeeeee-ffffffffffff.jsa"]}
    for n, path in files.items():
        path.write_bytes(bytes(head))
        if not n.startswith("e"):
            os.utime(path, (old, old))
    (tmp_path / "conf").mkdir()
    os.utime(tmp_path / "conf", (old, old))

    assert S._publish(name) == str(files[f"{name}.jsa"])
    assert files[f"{name}.jsa"].stat().st_mtime > time.time() - 600
    assert sorted(os.listdir(tmp_path)) == sorted([f"{name}.jsa", "eeeeeeeeeeee-ffffffffffff.jsa",
                                                   "conf"])
