"""Child process of the candle app's crash-restart test
(``tests/test_candle_app.py::test_candle_app_survives_sigkill``).

Drains a wire tape (JSON lines of ``topic``/``value``, one file per
micro-batch) through ``build_app`` into a durable ``foreachBatch`` sink
keyed by batch id: each batch's candle rows go to
``SINK/batch-<id>.json`` through a temp file and a rename, so a replayed
batch rewrites its own file. With ``--kill-in-batch K`` the sink, after
writing batch K's file, SIGKILLs the JVM and then this process: batch
K's offset-log entry exists and its commit-log entry does not.

    python tests/candle_crash_child.py TAPE CKPT_ROOT SINK [--kill-in-batch K]

Prints ``started`` once the candle query is running, and exits 0 when
the tape is drained.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("tape")
    parser.add_argument("ckpt_root")
    parser.add_argument("sink")
    parser.add_argument("--kill-in-batch", type=int)
    args = parser.parse_args()

    from ohlc_spark_streaming_spark.session import build_session
    from ohlc_spark_streaming_spark.streaming.app import build_app
    from ohlc_spark_streaming_spark.streaming.checkpoints import CheckpointManager

    spark = build_session(
        app_name="candle-crash",
        master="local[2]",
        extra_confs={"spark.driver.memory": "1g"},
    )

    def sink(batch_df, batch_id: int) -> None:
        values = [r.value for r in batch_df.select("value").collect()]
        tmp = os.path.join(args.sink, f".batch-{batch_id}.tmp")
        with open(tmp, "w") as f:
            f.write("".join(v + "\n" for v in values))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(args.sink, f"batch-{batch_id:04d}.json"))
        if batch_id == args.kill_in_batch:
            os.kill(spark.sparkContext._gateway.proc.pid, signal.SIGKILL)
            os.kill(os.getpid(), signal.SIGKILL)

    wire = (
        spark.readStream.schema("topic string, value string")
        .option("maxFilesPerTrigger", "1")
        .json(args.tape)
    )
    app = build_app(
        wire,
        CheckpointManager(args.ckpt_root),
        with_taps=False,
        sink_format=sink,
        available_now=True,
    )
    print("started", flush=True)
    app.candle_query.awaitTermination()
    spark.stop()


if __name__ == "__main__":
    main()
