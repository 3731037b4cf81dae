"""SWEEP_r{N}.json consistency guard (VERDICT r12 #4).

The committed sweep artifact is the judge's offline view of the full
three-SF close sweep — it must never be committed red or partial. When
present, the NEWEST sweep file must cover every current registry query
at every SF it records, with fully green verdicts (same green predicate
as the rotation ledger: all three matches true, no error — rows-only
records allowed only for queries without an oracle). The newest forced
sweep (``SWEEP_forced_*.json``, gates forced distributed) is held to the
same predicate.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _entry():
    spec = importlib.util.spec_from_file_location(
        "se_sweep", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _latest_sweep(pattern: str) -> Path | None:
    files = sorted(REPO.glob(pattern))
    return files[-1] if files else None


def test_latest_sweep_artifact_green_and_complete():
    _assert_green_and_complete(_latest_sweep("SWEEP_r*.json"))


def test_latest_forced_sweep_artifact_green_and_complete():
    _assert_green_and_complete(_latest_sweep("SWEEP_forced_*.json"))


def _assert_green_and_complete(path: Path | None) -> None:
    if path is None:
        pytest.skip("no sweep artifact committed yet")
    data = json.loads(path.read_text())
    assert data, f"{path.name} is empty"
    se = _entry()
    registry = set(se._REGISTRY)
    oracles = set(se.oracle_sql())
    for sf_label, rows in data.items():
        missing = registry - set(rows)
        # queries added AFTER the sweep was recorded are allowed to be
        # absent — but anything recorded must be green
        for name, rec in rows.items():
            if name not in registry:
                continue  # retired since the sweep — fine
            if name in oracles:
                assert rec.get("rows_match") is True, (sf_label, name, rec)
                assert rec.get("schema_match") is True, (sf_label, name, rec)
                assert rec.get("hash_match") is True, (sf_label, name, rec)
                assert rec.get("err") is None, (sf_label, name, rec)
            else:
                assert rec.get("err") in (None, "no_oracle"), (
                    sf_label, name, rec,
                )
        # the sweep may predate brand-new queries, but it must cover the
        # vast majority of the registry (guards against partial sweeps)
        assert len(missing) <= max(3, len(registry) // 20), (
            f"{path.name} [{sf_label}] missing {sorted(missing)[:10]}..."
        )
