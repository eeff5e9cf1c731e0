"""Engine configuration: the reference's provider bootstrap, typed.

``FirehoseEventStoreProviderFactory.init`` reads 12 config keys with
defaults (stream/table names :63-70, poll budget :73-74), warns and
falls back on invalid numerics (:131-142), and gates the whole provider
on an enabled flag defaulting to off (``isSupported``, :115-119).

Same observable behavior here, minus the AWS client plumbing: a frozen
dataclass, ``from_mapping`` over string values, and a factory that
returns ``None`` when the feature flag is off. Only keys something
reads are kept: the store is one root path (no stream or table names),
queries run synchronously (no poll budget), and no key numeric enough
to need the reference's warn-and-default parsing remains. Session conf
is never written here: the shuffle width belongs to the session and to
the scopes in ``catalog``.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class EngineConfig:
    """Typed analogue of the reference's config keys that apply here."""

    enabled: bool = False  # isSupported gate; off by default (ref :115-119)
    store_root: str = "/tmp/keycloak-event-store"

    @classmethod
    def from_mapping(cls, raw: dict) -> "EngineConfig":
        """Parse a string-valued config mapping; unknown keys are
        ignored."""
        kwargs: dict = {}
        for f in fields(cls):
            if f.name not in raw:
                continue
            value = str(raw[f.name])
            if f.type in ("bool", bool):
                value = value.strip().lower() in ("1", "true", "yes", "on")
            kwargs[f.name] = value
        return cls(**kwargs)


def create_event_store(spark: SparkSession, config: EngineConfig):
    """Provider factory: ``None`` when the feature flag is off (the
    reference's ``isSupported`` contract — callers treat an unsupported
    provider as absent)."""
    if not config.enabled:
        return None
    from keycloak_event_stream_spark.sources.keycloak import KeycloakEventStore

    return KeycloakEventStore(spark, config.store_root)
