"""The session factory's driver-cost settings (session.get_spark)."""

from __future__ import annotations

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F


def test_call_site_capture_is_off(spark, monkeypatch):
    """Column and DataFrame calls are not wrapped for Python call-site
    capture: ``F.col`` costs at most 3 py4j round trips (13 with the
    capture on), and an unresolved column still raises an
    AnalysisException that names the column."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a")                     # any lazy first-call set-up
    calls = []
    real = ClientServerConnection.send_command

    def counting(self, command):
        calls.append(command)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    F.col("a")
    monkeypatch.undo()
    assert 0 < len(calls) <= 3
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(3).select("no_such_col")
