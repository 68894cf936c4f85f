"""Environment configuration — the reference's deploy contract.

The reference app is configured entirely by environment variables
(/root/reference/main.py:24-32) and its container entrypoint fails fast
when any required one is missing (/root/reference/docker/dev/
entrypoint.sh:7-14 — ``: "${VAR:?VAR is required}"`` per variable). This
module is that contract as a typed object: same eight variable names,
same fail-fast semantics, plus validation the shell version can't do
(duration syntax, subscription kind inference).

``KAFKA_SUBSCRIBE_TOPICS`` may be a comma-separated topic list or a
regex pattern (main.py:27-28 — "Peut être une regex (subscribePattern)
ou une liste comma-separated (subscribe)"); :attr:`AppConfig.subscribe_kind`
reproduces that inference for the source builder.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

#: The reference's eight env vars, all required at deploy time
#: (entrypoint.sh:7-14).
REQUIRED_ENV_VARS: tuple[str, ...] = (
    "SPARK_APP_NAME",
    "SPARK_MASTER_URL",
    "KAFKA_BOOTSTRAP_SERVERS",
    "KAFKA_SUBSCRIBE_TOPICS",
    "KAFKA_OUTPUT_PREFIX",
    "CHECKPOINT_LOCATION",
    "WINDOW_DURATION",
    "WATERMARK_DELAY",
)

# Spark CalendarInterval-ish duration: "<n> <unit>" (what window() and
# withWatermark accept, e.g. "1 minute", "30 seconds", "2 hours").
_DURATION_RE = re.compile(
    r"^\s*\d+\s+(milliseconds?|seconds?|minutes?|hours?|days?|weeks?)\s*$",
    re.IGNORECASE,
)


class ConfigError(ValueError):
    """A required variable is missing or malformed (fail-fast, named)."""


@dataclass(frozen=True)
class AppConfig:
    """Typed view of the reference's environment contract."""

    app_name: str
    master_url: str
    kafka_bootstrap_servers: str
    kafka_subscribe_topics: str
    kafka_output_prefix: str
    checkpoint_location: str
    window_duration: str
    watermark_delay: str

    @property
    def subscribe_kind(self) -> str:
        """``subscribe`` for a comma-separated topic list, else
        ``subscribePattern`` (the reference passes regexes for multi-
        exchange subscriptions, main.py:27-28). Delegates to the source
        builder's inference so config and source can never diverge."""
        from .sources.kafka import subscription_option

        return subscription_option(self.kafka_subscribe_topics)[0]

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "AppConfig":
        """Build from the environment, failing fast with EVERY missing
        variable named (the entrypoint stops at the first; naming all is
        strictly more useful and costs nothing)."""
        e = dict(os.environ if env is None else env)
        missing = [v for v in REQUIRED_ENV_VARS if not e.get(v)]
        if missing:
            raise ConfigError(
                "missing required environment variables: " + ", ".join(missing)
            )
        cfg = cls(
            app_name=e["SPARK_APP_NAME"],
            master_url=e["SPARK_MASTER_URL"],
            kafka_bootstrap_servers=e["KAFKA_BOOTSTRAP_SERVERS"],
            kafka_subscribe_topics=e["KAFKA_SUBSCRIBE_TOPICS"],
            kafka_output_prefix=e["KAFKA_OUTPUT_PREFIX"],
            checkpoint_location=e["CHECKPOINT_LOCATION"],
            window_duration=e["WINDOW_DURATION"],
            watermark_delay=e["WATERMARK_DELAY"],
        )
        cfg.validate()
        return cfg

    def validate(self) -> None:
        for name, value in (
            ("WINDOW_DURATION", self.window_duration),
            ("WATERMARK_DELAY", self.watermark_delay),
        ):
            if not _DURATION_RE.match(value):
                raise ConfigError(
                    f"{name}={value!r} is not a Spark duration "
                    '(expected e.g. "1 minute", "30 seconds")'
                )
        if not self.master_url.strip():
            raise ConfigError("SPARK_MASTER_URL must be non-empty")
