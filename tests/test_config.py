"""Provider bootstrap parity: defaults, string parsing, feature gating
(FirehoseEventStoreProviderFactory.java:62-142)."""

from __future__ import annotations

from keycloak_event_stream_spark.config import EngineConfig, create_event_store
from keycloak_event_stream_spark.sources.keycloak import KeycloakEventStore


def test_defaults_match_reference_posture():
    c = EngineConfig()
    assert c.enabled is False  # off by default (isSupported gate)


def test_bool_parsing():
    assert EngineConfig.from_mapping({"enabled": "true"}).enabled is True
    assert EngineConfig.from_mapping({"enabled": "0"}).enabled is False


def test_factory_gates_on_enabled(spark, tmp_path):
    off = create_event_store(spark, EngineConfig(enabled=False))
    assert off is None
    on = create_event_store(
        spark, EngineConfig(enabled=True, store_root=str(tmp_path / "s"))
    )
    assert isinstance(on, KeycloakEventStore)


def test_unknown_keys_ignored():
    c = EngineConfig.from_mapping({"no_such_key": "x", "store_root": "/data/x"})
    assert c.store_root == "/data/x"
