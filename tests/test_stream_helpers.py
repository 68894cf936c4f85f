"""Stream scaffolding helpers: replay_tape, one_row_frame,
ephemeral_checkpoint, fold_stream, session.scoped_confs, and the
CKPT_RAW / CONF_RAW / DEAD_DEF source lints.

These pin the CONTRACTS each helper owns in one place — tape replay
invariants (mtime order, cleanup), checkpoint-dir cleanup, fold_stream's
state threading and empty-stream check, conf restore, and the
lint that keeps raw checkpoint and conf wiring out of query code — so a
future regression fails here rather than resurfacing as a /tmp leak, a
leaked conf or a silently-withheld watermark.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
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


def test_one_row_frame_is_single_partition(spark):
    from ohlc_spark_streaming_spark.sources.stream import one_row_frame

    df = one_row_frame(spark, (1, "x"), "a long, b string")
    assert df.rdd.getNumPartitions() == 1
    assert df.collect() == [(1, "x")]


def test_fold_stream_threads_state_and_cleans(spark, tmp_path):
    """fold_stream threads the state through every micro-batch and
    returns it; an empty source raises, even for a list state that
    starts as ``[]``; no ckpt_* directory survives either case."""
    from ohlc_spark_streaming_spark.streaming.checkpoints import fold_stream

    def ckpts():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "ckpt_*")))

    live: set[str] = set()

    def step(rows, batch_df):
        live.update(ckpts() - before)
        return rows + [r.x for r in batch_df.collect()]

    src = str(tmp_path / "src")
    frame = spark.range(50).select(F.col("id").alias("x"))
    frame.repartition(3).write.parquet(src)
    before = ckpts()
    stream = (
        spark.readStream.schema("x long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    assert sorted(fold_stream(stream, step, [])) == list(range(50))
    assert live and ckpts() == before

    empty = tmp_path / "empty"
    empty.mkdir()
    stream = spark.readStream.schema("x long").parquet(str(empty))
    with pytest.raises(RuntimeError, match="no micro-batches"):
        fold_stream(stream, step, [])
    assert ckpts() == before


def test_scoped_confs_restores_set_and_unset(spark):
    """A conf that was set gets its value back and a conf that was unset
    is unset again, on a normal exit and when the body raises."""
    from ohlc_spark_streaming_spark.session import scoped_confs

    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.ohlc.test.scoped_probe"
    probe = {set_key: "3", unset_key: "on"}

    def confs():
        return spark.conf.get(set_key), spark.conf.get(unset_key, None)

    prev = spark.conf.get(set_key)
    assert confs() == (prev, None)
    with scoped_confs(spark, probe):
        assert confs() == ("3", "on")
    assert confs() == (prev, None)
    with pytest.raises(ValueError):
        with scoped_confs(spark, probe):
            raise ValueError("body failed")
    assert confs() == (prev, None)


def test_ckpt_raw_lint_flags_violations(tmp_path):
    """The source lint catches raw checkpoint wiring (CKPT_RAW) and raw
    session conf writes (CONF_RAW) outside their owners, and passes the
    current tree (queries route through the helpers)."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    import tools_lint

    assert tools_lint.lint_checkpoint_hygiene() == []
    # Plant violations inside the package, confirm each is flagged.
    pkg = repo / "ohlc_spark_streaming_spark"
    for probe, line, want in [
        ("_ckpt_lint_probe", 'OPT = "checkpointLocation"', "CKPT_RAW"),
        ("_ckpt_manager_probe", 'CONF = "checkpointFileManagerClass"', "CKPT_RAW"),
        ("_conf_set_probe", 'spark.conf.set("k", "v")', "CONF_RAW"),
    ]:
        rogue = pkg / f"{probe}.py"
        rogue.write_text(f"{line}  # planted by test_stream_helpers\n")
        try:
            findings = tools_lint.lint_checkpoint_hygiene()
            assert any(
                code == want and probe in msg for _, code, msg in findings
            )
        finally:
            rogue.unlink()
    assert tools_lint.lint_checkpoint_hygiene() == []


def test_dead_def_lint_flags_uncalled_definitions():
    """The DEAD_DEF source lint passes the current tree (every package
    definition has a caller outside tests, or an allowlisted reason) and
    flags a planted module holding a def that nothing calls."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    import tools_lint

    assert tools_lint.lint_dead_defs() == []
    rogue = repo / "ohlc_spark_streaming_spark" / "_dead_def_probe.py"
    rogue.write_text("def uncalled_probe():\n    return uncalled_probe\n")
    try:
        findings = tools_lint.lint_dead_defs()
        assert [(rel, code) for rel, code, _ in findings] == [
            ("_dead_def_probe.py", "DEAD_DEF")
        ]
        assert "uncalled_probe" in findings[0][2]
    finally:
        rogue.unlink()
    assert tools_lint.lint_dead_defs() == []
