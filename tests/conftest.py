"""Shared Spark fixture for the test suite."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from matchbox_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="matchbox_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def force_distributed(monkeypatch):
    """Force named driver/distributed gates onto their distributed path for
    the rest of the test: ``force_distributed("index", "cc")``. Gates:
    ``cc`` (driver connected components), ``index`` (catalog source-index
    kernel), ``jaccard`` (bitset Jaccard) and ``bpe`` (driver BPE twin)."""
    from matchbox_spark.operators import dedup, tokenize
    from matchbox_spark.plans import catalog, resolvers
    from matchbox_spark.streaming import incremental

    budgets = {
        "index": (catalog, "_INDEX_DRIVER_BYTES"),
        "jaccard": (dedup, "_JACCARD_BITSET_VOCAB"),
        "bpe": (tokenize, "_BPE_DRIVER_VOCAB"),
    }

    def force(*gates):
        for gate in gates:
            if gate == "cc":
                # incremental imports the name directly: patch both bindings
                for mod in (resolvers, incremental):
                    monkeypatch.setattr(mod, "_driver_cc_edge_limit", lambda spark: 0)
            else:
                monkeypatch.setattr(*budgets[gate], 0)

    return force
