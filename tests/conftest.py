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
    kernel, driver mirrors and the Matcher's lookup index), ``jaccard``
    (``ngram_jaccard_pairs``' driver prefix kernel and bitset path, so the
    posting path runs) and ``bpe`` (driver BPE twin).
    The gate table is ``tools/check_oracle.py``'s, which its ``--force``
    flag applies to the oracle sweep."""
    from tools.check_oracle import force_gates

    def force(*gates):
        force_gates(gates, monkeypatch.setattr)

    return force
