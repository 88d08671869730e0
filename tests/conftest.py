from __future__ import annotations

import pytest

from fastselect_spark.runtime import gates
from fastselect_spark.runtime.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fastselect-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def driver_calls(monkeypatch):
    """``driver_calls(module, name)`` wraps a module function and returns
    the list its calls in THIS process append to. Executor tasks run in
    Python workers, so their calls never reach the list: a count tells
    whether a path ran its kernel on the driver."""

    def spy(module, name: str) -> list:
        calls: list = []
        real = getattr(module, name)

        def wrapper(*args, **kwargs):
            calls.append(name)
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)
        return calls

    return spy


@pytest.fixture
def force_path(monkeypatch):
    """``force_path(path)`` replaces ``gates.use_driver``: "driver" or
    "distributed" pins every decision, "auto" keeps the real policy. It
    returns the list each later decision is appended to."""
    real = gates.use_driver

    def force(path: str) -> list:
        decisions: list = []

        def gate(df, op, **kwargs):
            decisions.append(
                real(df, op, **kwargs) if path == "auto" else path == "driver"
            )
            return decisions[-1]

        monkeypatch.setattr(gates, "use_driver", gate)
        return decisions

    return force
