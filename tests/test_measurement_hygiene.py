"""Regression tests for the timing-protocol hygiene fix: the measurement
tools must deterministically unpersist orphan checkpoint blocks between
timed runs (System.gc() + ContextCleaner is async and races the next run —
measured dedup_snm_multipass read 9.84x at 10x polluted vs 5.64x clean).
These pin the one cleaner's contract, and that every timing tool goes
through it, so a tool refactor can't silently revert to the racy GC-only
discipline."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402
import tools.scale_check as scale_check  # noqa: E402
from tools import key_profile, perf_protocol  # noqa: E402
from tools.perf_protocol import clear_orphan_persistent_rdds, min_time  # noqa: E402


def _n_persistent(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def test_clear_removes_orphan_checkpoint_blocks(spark):
    """localCheckpoint leaves a persistent RDD behind; the cleaner must
    remove every one of them synchronously."""
    dfs = [spark.range(100 * (i + 1)).localCheckpoint() for i in range(3)]
    counts = [df.count() for df in dfs]  # consume while alive
    assert counts == [100, 200, 300]
    assert _n_persistent(spark) >= 3
    clear_orphan_persistent_rdds(spark)
    assert _n_persistent(spark) == 0


def test_both_tools_share_the_same_contract(spark):
    """bench.py, scale_check and key_profile time through perf_protocol's one
    min-of-N helper, which empties the persistent-RDD registry before every
    run; no other timing file keeps its own GC or unpersist loop."""
    assert bench.min_time is perf_protocol.min_time
    assert scale_check.min_time is perf_protocol.min_time
    assert key_profile.min_time is perf_protocol.min_time
    for path in [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]:
        if path.name == "perf_protocol.py":
            continue
        code = path.read_text()
        assert "_jvm.System.gc" not in code, path
        assert "getPersistentRDDs" not in code, path

    spark.range(50).localCheckpoint().count()
    assert _n_persistent(spark) >= 1
    min_time(spark, lambda: spark.range(10), runs=1)
    assert _n_persistent(spark) == 0


def test_cleared_session_still_computes(spark):
    """After a clear, fresh plans (including fresh checkpoints) must work —
    the cleaner may only touch blocks, never session state."""
    clear_orphan_persistent_rdds(spark)
    df = spark.range(1000).localCheckpoint()
    assert df.count() == 1000
    clear_orphan_persistent_rdds(spark)
    assert spark.range(10).count() == 10
