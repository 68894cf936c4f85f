"""``python -m ohlc_spark_streaming_spark`` — the deployable entrypoint.

Production twin of the reference's ``spark-submit /opt/app/main.py``
(/root/reference/docker/dev/entrypoint.sh:27-32): reads the eight-variable
environment contract (:mod:`.config`), builds the session, wires the
Kafka source → candle topology → Kafka sink, and blocks until any query
terminates (main.py:221).

``--check-config`` validates the environment and exits — the fail-fast
the shell entrypoint does with ``${VAR:?}``, usable from CI or a
container healthcheck without starting Spark. ``--dry-run`` goes one step
further: builds the session and the unstarted topology, prints the parsed
config, and exits 0 (no broker required).
"""

from __future__ import annotations

import argparse
import sys

from .config import AppConfig, ConfigError


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m ohlc_spark_streaming_spark",
        description=(
            "OHLC candle streaming application (Kafka → windowed OHLCV → "
            "Kafka), configured via SPARK_APP_NAME, SPARK_MASTER_URL, "
            "KAFKA_BOOTSTRAP_SERVERS, KAFKA_SUBSCRIBE_TOPICS, "
            "KAFKA_OUTPUT_PREFIX, CHECKPOINT_LOCATION, WINDOW_DURATION, "
            "WATERMARK_DELAY."
        ),
    )
    p.add_argument(
        "--check-config",
        action="store_true",
        help="validate the environment contract and exit",
    )
    p.add_argument(
        "--dry-run",
        action="store_true",
        help="build session + topology without starting streams, then exit",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    try:
        cfg = AppConfig.from_env()
    except ConfigError as exc:
        print(f"[config] {exc}", file=sys.stderr)
        return 2
    if args.check_config:
        print(f"[config] ok: app={cfg.app_name} master={cfg.master_url}")
        return 0

    # Imports deferred: --check-config must not need a JVM.
    from pyspark.sql import SparkSession

    from .session import STATIC_CONFS, apply_engine_confs
    from .sources.kafka import kafka_stream_reader
    from .streaming.app import build_app
    from .streaming.checkpoints import CheckpointManager

    builder = SparkSession.builder.master(cfg.master_url).appName(cfg.app_name)
    for key, value in STATIC_CONFS.items():
        builder = builder.config(key, value)
    spark = apply_engine_confs(builder.getOrCreate())
    wire = kafka_stream_reader(
        spark,
        bootstrap_servers=cfg.kafka_bootstrap_servers,
        topics=cfg.kafka_subscribe_topics,
    ).load()
    if args.dry_run:
        print(f"[dry-run] topology built over {cfg.subscribe_kind}="
              f"{cfg.kafka_subscribe_topics!r}; not starting streams")
        spark.stop()
        return 0
    # The reference's console taps are debug output, and the raw tap
    # would write each input message back into its own topic.
    build_app(
        wire,
        CheckpointManager(cfg.checkpoint_location),
        output_prefix=cfg.kafka_output_prefix,
        window_duration=cfg.window_duration,
        watermark_delay=cfg.watermark_delay,
        with_taps=False,
        sink_format="kafka",
        sink_options={"kafka.bootstrap.servers": cfg.kafka_bootstrap_servers},
    )
    spark.streams.awaitAnyTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
