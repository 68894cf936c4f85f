"""Checkpoint paths and stream-start confs (reference main.py:201-206).

The reference isolates each streaming query's checkpoint under a per-query
subdirectory to avoid collisions; we generalize that into a tiny manager so
every named query gets a stable, isolated path. Stable paths are what make
exactly-once-ish recovery work: offsets + state are journaled per query.

Every micro-batch writes an offset-log entry, a commit-log entry, the file
source's metadata-log entry and one delta file per state store. Which
checkpoint file manager writes them is chosen here, by :func:`stream_start`,
the one place that sets stream-start confs:

* A checkpoint that resolves to the local ``file`` scheme (a
  :class:`CheckpointManager` root, an :func:`ephemeral_checkpoint`, the
  memory sink's temp checkpoint under the default ``fs.defaultFS``) uses
  Spark's ``FileSystemBasedCheckpointFileManager``: write a temp file, then
  rename it into place. Rename is atomic on a local filesystem. Spark's
  default, ``FileContextBasedCheckpointFileManager``, sets each file's
  permissions through Hadoop's local filesystem, which forks ``chmod``
  when the Hadoop native library is absent: tens of milliseconds per
  write, several writes per micro-batch.
* HDFS and object-store roots (``hdfs://``, ``s3a://``, ...) keep Spark's
  FileContext default. ``FileSystem.rename`` is not atomic on object
  stores, so a crash mid-rename could leave a partial log entry.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import tempfile
from urllib.parse import urlsplit

from ..session import scoped_confs

#: Spark's rename-based checkpoint file manager, used for local roots.
RENAME_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
PARTITIONS_CONF = "spark.sql.shuffle.partitions"

_fold_ids = itertools.count()


class CheckpointManager:
    def __init__(self, root: str):
        if not root:
            raise ValueError("checkpoint root must be set (reference main.py:203-204)")
        self.root = root

    def path_for(self, query_name: str) -> str:
        if not query_name or "/" in query_name:
            raise ValueError(f"invalid query name: {query_name!r}")
        return os.path.join(self.root, query_name)


@contextlib.contextmanager
def ephemeral_checkpoint(name: str):
    """Per-invocation checkpoint directory with GUARANTEED removal — the
    only sanctioned way for a registry query to pass checkpointLocation.

    foreachBatch / file-sink checkpoints are NOT auto-deleted by Spark
    (unlike the memory sink's implicit temp checkpoint), so every call
    site that mkdtemp'd its own directory either leaked /tmp/ckpt_* per
    invocation or hand-rolled the same try/finally (the c09363f cleanup
    class, ADVICE r8). tools_lint.py's CKPT_RAW source lint bans raw
    ``checkpointLocation`` strings outside this module, the persistent
    CheckpointManager topology (streaming/app.py) and the caller-owned
    sink builders — so the fix stays structural rather than per-site.
    """
    path = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def is_local_checkpoint(path: str, default_fs: str) -> bool:
    """True when ``path`` resolves to the local ``file`` scheme. A path
    without a scheme resolves against ``default_fs`` (Hadoop's
    ``fs.defaultFS``), as Spark resolves a checkpoint root. A string
    check only: it touches no filesystem."""
    return (urlsplit(path).scheme or urlsplit(default_fs).scheme) == "file"


@contextlib.contextmanager
def stream_start(spark, checkpoint: str | None, partitions: int | None = None):
    """Set the stream-start confs while the body calls
    ``writeStream.start()``, then restore them (unsetting any that were
    unset). The started query keeps them: ``start()`` clones the session
    and opens the checkpoint logs.

    * ``spark.sql.shuffle.partitions``: ``partitions``, or else
      :func:`~.candles.stream_state_partitions`; the checkpoint records
      it as the query's state-store count.
    * ``spark.sql.streaming.checkpointFileManagerClass``: the rename-based
      manager, only when ``checkpoint`` resolves to a local path. ``None``
      is the memory sink's checkpoint: the session's default checkpoint
      root if set, else a local temp directory, resolved like any path.
    """
    from .candles import stream_state_partitions

    confs = {PARTITIONS_CONF: str(partitions or stream_state_partitions())}
    if checkpoint is None:
        checkpoint = spark.conf.get("spark.sql.streaming.checkpointLocation", "")
    default_fs = (
        spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS")
    )
    if is_local_checkpoint(checkpoint, default_fs):
        confs[MANAGER_CONF] = RENAME_MANAGER
    with scoped_confs(spark, confs):
        yield


def fold_stream(stream_df, step, state=None):
    """Fold a bounded stream batch by batch: ``state = step(state,
    batch_df)`` once per micro-batch, then return the final state — the
    one ``foreachBatch`` loop for every fold-style query (incremental
    candles, as-of enrich, rolling actives, ANN and BPE serving, ...).

    It owns the query name, an ephemeral checkpoint that is always
    removed, and the ``availableNow`` trigger. The folds keep no
    streaming state, and their batch work keeps the session's
    shuffle-partition count. Raises ``RuntimeError`` when no micro-batch
    ran, whatever the start state: a fold over nothing has no answer.
    """
    spark = stream_df.sparkSession
    name = f"fold_{next(_fold_ids)}"
    batches = 0

    def on_batch(batch_df, _batch_id):
        nonlocal state, batches
        state = step(state, batch_df)
        batches += 1

    with ephemeral_checkpoint(name) as ckpt:
        with stream_start(spark, ckpt, int(spark.conf.get(PARTITIONS_CONF))):
            query = (
                stream_df.writeStream.foreachBatch(on_batch)
                .queryName(name)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
        query.awaitTermination()
    if not batches:
        raise RuntimeError("stream produced no micro-batches")
    return state
