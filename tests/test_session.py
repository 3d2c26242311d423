"""session.get_spark: building a Column costs no per-call call-site
capture. Needs no generated testdata."""

from __future__ import annotations

from py4j.clientserver import ClientServerConnection
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    F.col("warm") > F.lit(0)
    assert is_debugging_enabled() is False

    sent = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        # py4j's garbage-collection messages ("m\nd\n...") ride the same
        # connection whenever Python frees a JVM reference; only calls count
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    F.col("v")
    assert len(sent) <= 3, sent
