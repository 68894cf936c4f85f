"""Deploy-surface contract: env config (reference main.py:24-32 +
entrypoint.sh:7-14 fail-fast) and the ``python -m`` entrypoint."""

from __future__ import annotations

import subprocess
import sys

import pytest

from ohlc_spark_streaming_spark.config import (
    REQUIRED_ENV_VARS,
    AppConfig,
    ConfigError,
)

GOOD_ENV = {
    "SPARK_APP_NAME": "ohlc-app",
    "SPARK_MASTER_URL": "local[2]",
    "KAFKA_BOOTSTRAP_SERVERS": "broker:9092",
    "KAFKA_SUBSCRIBE_TOPICS": "trades.*",
    "KAFKA_OUTPUT_PREFIX": "candles-",
    "CHECKPOINT_LOCATION": "/tmp/ckpt",
    "WINDOW_DURATION": "1 minute",
    "WATERMARK_DELAY": "2 minutes",
}


def test_from_env_happy_path():
    cfg = AppConfig.from_env(GOOD_ENV)
    assert cfg.app_name == "ohlc-app"
    assert cfg.window_duration == "1 minute"
    assert cfg.subscribe_kind == "subscribePattern"


def test_subscribe_kind_matches_source_builder():
    for topics, kind in [
        ("a,b,c", "subscribe"),
        ("trades", "subscribe"),
        ("trades.*", "subscribePattern"),
    ]:
        cfg = AppConfig.from_env({**GOOD_ENV, "KAFKA_SUBSCRIBE_TOPICS": topics})
        assert cfg.subscribe_kind == kind, topics


def test_missing_vars_all_named():
    env = dict(GOOD_ENV)
    del env["CHECKPOINT_LOCATION"]
    env["WATERMARK_DELAY"] = ""
    with pytest.raises(ConfigError) as exc:
        AppConfig.from_env(env)
    msg = str(exc.value)
    assert "CHECKPOINT_LOCATION" in msg and "WATERMARK_DELAY" in msg


@pytest.mark.parametrize("bad", ["1min", "fast", "60", "minute 1"])
def test_bad_duration_rejected(bad):
    with pytest.raises(ConfigError, match="WINDOW_DURATION"):
        AppConfig.from_env({**GOOD_ENV, "WINDOW_DURATION": bad})


def test_required_var_list_matches_reference_contract():
    # The eight vars of /root/reference/main.py:24-32, exactly.
    assert set(REQUIRED_ENV_VARS) == set(GOOD_ENV)


def test_main_help_runs_without_spark():
    out = subprocess.run(
        [sys.executable, "-m", "ohlc_spark_streaming_spark", "--help"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0
    assert "KAFKA_SUBSCRIBE_TOPICS" in out.stdout


def test_main_check_config_fails_fast_on_empty_env():
    out = subprocess.run(
        [sys.executable, "-m", "ohlc_spark_streaming_spark", "--check-config"],
        capture_output=True,
        text=True,
        timeout=60,
        env={"PATH": "/usr/bin:/bin"},
    )
    assert out.returncode == 2
    assert "SPARK_APP_NAME" in out.stderr


def test_main_check_config_ok(monkeypatch):
    out = subprocess.run(
        [sys.executable, "-m", "ohlc_spark_streaming_spark", "--check-config"],
        capture_output=True,
        text=True,
        timeout=60,
        env={"PATH": "/usr/bin:/bin", **GOOD_ENV},
    )
    assert out.returncode == 0, out.stderr
    assert "ok" in out.stdout


def test_compose_env_keys_match_code_contract():
    """docker/compose.yml must pass exactly the REQUIRED_ENV_VARS the
    typed config loader validates — a drifted deploy file would fail at
    container start, not at review time."""
    import os
    import re

    from ohlc_spark_streaming_spark.config import REQUIRED_ENV_VARS

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docker",
        "compose.yml",
    )
    with open(path) as f:
        text = f.read()
    passed = set(re.findall(r"- ([A-Z_]+)=\$\{([A-Z_]+)\}", text))
    assert passed == {(v, v) for v in REQUIRED_ENV_VARS}


def test_compose_file_is_structurally_valid():
    """Boot-check the compose file so the documented live-Kafka path
    can't rot unnoticed (`docker compose config` needs the compose
    plugin, absent in this sandbox — YAML parse + the structural
    invariants compose itself would enforce are the portable subset)."""
    import os

    import yaml

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docker",
        "compose.yml",
    )
    with open(path) as f:
        doc = yaml.safe_load(f)

    svc = doc["services"]["spark-submit"]
    # The build context must point at the repo root and a Dockerfile that
    # exists, or `docker compose build` fails at deploy time.
    docker_dir = os.path.dirname(path)
    ctx = os.path.normpath(os.path.join(docker_dir, svc["build"]["context"]))
    dockerfile = os.path.join(ctx, svc["build"]["dockerfile"])
    assert os.path.isfile(dockerfile), dockerfile
    # Named volume used by the service must be declared, and external
    # networks referenced must be listed.
    declared_volumes = set(doc.get("volumes", {}))
    for spec in svc["volumes"]:
        name = spec.split(":", 1)[0]
        if not name.startswith(("/", ".", "$")):
            assert name in declared_volumes, spec
    declared_networks = set(doc.get("networks", {}))
    assert set(svc["networks"]) <= declared_networks
    # Restart policy must be a valid compose value.
    assert svc["restart"] in {"no", "always", "on-failure", "unless-stopped"}
    # Port mappings parse as host:container ints.
    for p in svc.get("ports", []):
        host, container = str(p).split(":")
        assert host.isdigit() and container.isdigit(), p


def test_compose_yaml_parses():
    """docker/compose.yml must stay valid YAML with the expected top-level
    structure even on hosts without the compose plugin (the README's
    live-Kafka path depends on it booting unchanged elsewhere)."""
    import os
    import re

    import pytest

    yaml = pytest.importorskip("yaml")
    path = os.path.join(os.path.dirname(__file__), "..", "docker", "compose.yml")
    with open(path) as f:
        txt = f.read()
    doc = yaml.safe_load(re.sub(r"\$\{[A-Z_]+\}", "x", txt))
    assert set(doc) == {"services", "volumes", "networks"}
    svc = doc["services"]["spark-submit"]
    assert svc["restart"] == "unless-stopped"
    assert any("KAFKA_BOOTSTRAP_SERVERS" in e for e in svc["environment"])
