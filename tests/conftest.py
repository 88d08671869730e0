from __future__ import annotations

import numpy as np
import pandas as pd
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


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """50 base docs + exact dups of 0..4 + near dups (1 token changed) of 5..9."""
    rng = np.random.default_rng(7)
    base = [
        " ".join(f"w{rng.integers(0, 400)}" for _ in range(40)) for _ in range(50)
    ]
    texts = list(base)
    ids = list(range(50))
    nid = 100
    for i in range(5):  # exact duplicates
        texts.append(base[i])
        ids.append(nid)
        nid += 1
    for i in range(5, 10):  # near duplicates: replace last token
        toks = base[i].split()
        toks[-1] = "CHANGED"
        texts.append(" ".join(toks))
        ids.append(nid)
        nid += 1
    return spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": texts}))


@pytest.fixture(scope="module")
def messy_docs(spark):
    rows = [
        {"doc_id": 0, "text": None},
        {"doc_id": 1, "text": ""},
        {"doc_id": 2, "text": "   "},
        {"doc_id": 3, "text": "single"},
        {"doc_id": 4, "text": "two tokens"},
        {"doc_id": 5, "text": "a b c d e normal document here"},
        {"doc_id": 6, "text": "a b c d e normal document here"},  # exact dup
        {"doc_id": 7, "text": "tab\tand\nnewline   spacing"},
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows), "doc_id long, text string"
    )
