"""bench.py's quiet/settle protocol: the machine-quiet wait before a
timed run reports what it actually achieved."""

import os


def test_bench_quiet_hold_fields():
    """_wait_for_quiet reports the hold actually achieved and whether
    the budget clipped it (round-10 ADVICE: a ~0 s clipped hold used
    to read as a full settle)."""
    import bench

    old = dict(os.environ)
    try:
        os.environ["SPARK_GRAFT_BENCH_QUIET_LOAD"] = "1e9"  # instantly quiet
        os.environ["SPARK_GRAFT_BENCH_QUIET_MAX"] = "1"
        q = bench._wait_for_quiet()
        assert q["quiet_hold_sec"] == 0.0
        assert q["quiet_hold_truncated"] is False
        assert {"quiet_wait_sec", "quiet_wait_timeout", "quiet_threshold"} <= set(q)
    finally:
        os.environ.clear()
        os.environ.update(old)
