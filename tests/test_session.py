"""Core-count resolution for the local master (session.local_cores):
only a positive integer in $SPARK_GRAFT_CPUS is used; anything else
falls back to the caller's default instead of building an invalid
master such as local[] or local[0]."""

from __future__ import annotations

import pytest

from data_pipeline_project_using_telegram_and_aws_spark.session import local_cores


@pytest.mark.parametrize(
    "value, want",
    [
        (None, "3"),
        ("", "3"),
        ("0", "3"),
        ("-2", "3"),
        ("abc", "3"),
        ("2.5", "3"),
        ("4", "4"),
        (" 6 ", "6"),
    ],
)
def test_local_cores_falls_back_unless_positive_integer(
    monkeypatch, value, want
):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert local_cores("3") == want


def test_local_cores_default_is_all_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    assert local_cores() == "*"
