"""Round-10 structural helpers: replay_tape, ephemeral_checkpoint /
run_foreach_batch, and the CKPT_RAW source lint.

These pin the CONTRACTS the round-10 refactors moved into one place —
tape replay invariants (mtime order, cleanup), checkpoint-dir cleanup,
and the lint that keeps raw checkpoint wiring out of query code — so a
future regression fails here rather than resurfacing as a /tmp leak or
a silently-withheld watermark.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_replay_tape_orders_and_cleans_up(spark):
    """Base files are mtime-stamped strictly BEFORE every sentinel file,
    sentinel files are ordered among themselves, and the directory is
    removed on exit."""
    from ohlc_spark_streaming_spark.sources.stream import replay_tape

    base = spark.range(100).select(F.col("id").alias("x"))
    s1 = spark.createDataFrame([(1000,)], "x long")
    s2 = spark.createDataFrame([(2000,)], "x long")
    with replay_tape(base, [s1, s2]) as tape:
        kept_tape = tape
        parts = sorted(
            (os.path.getmtime(os.path.join(tape, f)), f)
            for f in os.listdir(tape)
            if f.endswith(".parquet")
        )
        assert len(parts) == 3
        # base strictly first, then the sentinels in argument order
        assert parts[0][0] < parts[1][0] < parts[2][0]
        got = {r.x for r in spark.read.parquet(tape).collect()}
        assert got == set(range(100)) | {1000, 2000}
    assert not os.path.exists(kept_tape)


def test_replay_tape_cleans_up_on_error(spark):
    """The tape directory is removed even when the body raises."""
    import pytest

    from ohlc_spark_streaming_spark.sources.stream import replay_tape

    base = spark.range(10).select(F.col("id").alias("x"))
    with pytest.raises(RuntimeError, match="boom"):
        with replay_tape(base, []) as tape:
            kept = tape
            raise RuntimeError("boom")
    assert not os.path.exists(kept)


def test_ephemeral_checkpoint_removes_dir(spark):
    """The sanctioned checkpoint path is gone after the block — the
    c09363f /tmp leak class, pinned at the helper."""
    from ohlc_spark_streaming_spark.streaming.checkpoints import (
        ephemeral_checkpoint,
    )

    with ephemeral_checkpoint("pin_test") as ckpt:
        assert os.path.isdir(ckpt)
        kept = ckpt
        with open(os.path.join(ckpt, "marker"), "w") as f:
            f.write("x")
    assert not os.path.exists(kept)


def test_run_foreach_batch_executes_and_cleans(spark, tmp_path):
    """run_foreach_batch drives a bounded stream to completion, the
    batch function sees every row, and no ckpt_* directory survives."""
    import glob

    from ohlc_spark_streaming_spark.streaming.checkpoints import (
        run_foreach_batch,
    )

    src = str(tmp_path / "src")
    spark.range(50).select(F.col("id").alias("x")).write.parquet(src)
    stream = spark.readStream.schema("x long").parquet(src)
    seen: list[int] = []

    def fold(batch_df, batch_id):
        seen.extend(r.x for r in batch_df.collect())

    before = set(glob.glob("/tmp/ckpt_fb_pin_*"))
    run_foreach_batch(stream, fold, "fb_pin")
    assert sorted(seen) == list(range(50))
    assert set(glob.glob("/tmp/ckpt_fb_pin_*")) == before


def test_ckpt_raw_lint_flags_violations(tmp_path):
    """The CKPT_RAW source lint catches raw checkpoint wiring outside
    the allowlist and passes the current tree (queries route through
    the helpers)."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    import tools_lint

    assert tools_lint.lint_checkpoint_hygiene() == []
    # Plant violations inside the package, confirm each is flagged.
    pkg = repo / "ohlc_spark_streaming_spark"
    for probe, line in [
        ("_ckpt_lint_probe", 'OPT = "checkpointLocation"'),
        ("_ckpt_manager_probe", 'CONF = "checkpointFileManagerClass"'),
    ]:
        rogue = pkg / f"{probe}.py"
        rogue.write_text(f"{line}  # planted by test_round10_helpers\n")
        try:
            findings = tools_lint.lint_checkpoint_hygiene()
            assert any(
                code == "CKPT_RAW" and probe in msg for _, code, msg in findings
            )
        finally:
            rogue.unlink()
    assert tools_lint.lint_checkpoint_hygiene() == []
