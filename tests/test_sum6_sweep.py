"""Automated `_sum6` call-site bitwise sweep (VERDICT r13 #9).

The r13 long-carried decimal-sum fast path takes per-row micros as
``floor(x*1e6 + 0.5)`` instead of the round→decimal chain; the two agree
exactly when x is within float error of a ≤6-dp grid point — true of
every default-grid call site. This test enumerates the call sites FROM
SOURCE so any NEW `_sum6` query is swept automatically, and compares both
accumulation paths bitwise (``DataFrame.equals`` — exact values, no
tolerance) on real testdata, at any SF through ``SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import inspect
import os

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def test_sum6_call_sites_bitwise_equal_both_paths(spark):
    import __spark_entry__ as em

    fast = em._sum6

    def legacy(col, dec=None):
        # dec=_dec6 routes through the explicit decimal branch, which IS
        # the pre-r13 default accumulation, byte for byte
        return fast(col, dec=dec or em._dec6)

    qs = em.queries()
    affected = sorted(
        n for n, fn in qs.items() if "_sum6" in inspect.getsource(fn)
    )
    # the sweep must keep covering the r13 call sites — a refactor that
    # silently renames the helper would turn this test into a no-op
    assert len(affected) >= 20, affected

    failures = []
    try:
        for name in affected:
            em._FLAGSHIP_CACHE.clear()
            em._sum6 = fast
            new = qs[name](spark, SF_DIR).toPandas()
            em._FLAGSHIP_CACHE.clear()
            em._sum6 = legacy
            old = qs[name](spark, SF_DIR).toPandas()
            if not new.equals(old):
                failures.append(name)
    finally:
        em._sum6 = fast
        em._FLAGSHIP_CACHE.clear()
    assert not failures, failures
