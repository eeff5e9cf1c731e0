"""Engine configuration: the reference's provider bootstrap, typed.

``FirehoseEventStoreProviderFactory.init`` reads 12 config keys with
defaults (stream/table names :63-70, poll budget :73-74), warns and
falls back on invalid numerics (:131-142), and gates the whole provider
on an enabled flag defaulting to off (``isSupported``, :115-119).

Same observable behavior here, minus the AWS client plumbing: a frozen
dataclass, ``from_mapping`` with the warn-and-default numeric parsing,
and a factory that returns ``None`` when the feature flag is off. Only
keys something reads are kept: the store is one root path (no stream
or table names) and queries run synchronously (no poll budget).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, fields

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class EngineConfig:
    """Typed analogue of the reference's config keys that apply here."""

    enabled: bool = False  # isSupported gate; off by default (ref :115-119)
    store_root: str = "/tmp/keycloak-event-store"
    shuffle_partitions: int | None = None  # None -> session default

    @classmethod
    def from_mapping(cls, raw: dict) -> "EngineConfig":
        """Parse a string-valued config mapping; invalid numerics warn
        and keep the default (ref :131-142), unknown keys are ignored."""
        kwargs: dict = {}
        defaults = cls()
        for f in fields(cls):
            if f.name not in raw:
                continue
            value = raw[f.name]
            try:
                if f.type in ("bool", bool):
                    kwargs[f.name] = str(value).strip().lower() in (
                        "1", "true", "yes", "on",
                    )
                elif f.type.startswith("int") if isinstance(f.type, str) else f.type is int:
                    kwargs[f.name] = int(value)
                else:
                    kwargs[f.name] = str(value)
            except (TypeError, ValueError):
                log.warning(
                    "invalid value %r for %s; using default %r",
                    value, f.name, getattr(defaults, f.name),
                )
        return cls(**kwargs)


def create_event_store(spark: SparkSession, config: EngineConfig):
    """Provider factory: ``None`` when the feature flag is off (the
    reference's ``isSupported`` contract — callers treat an unsupported
    provider as absent)."""
    if not config.enabled:
        return None
    from keycloak_event_stream_spark.sources.keycloak import KeycloakEventStore

    if config.shuffle_partitions:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(config.shuffle_partitions)
        )
    return KeycloakEventStore(spark, config.store_root)
