"""Layered configuration for ETL pipelines — the `etl-config` crate's
surface re-expressed as stdlib dataclasses.

Reference parity (`crates/etl-config/src`):

- environment detection (`environment.rs`): ``APP_ENVIRONMENT`` ∈
  {dev, staging, prod}, case-insensitive, defaulting to prod;
  ``is_prod`` is true for prod AND staging.
- layered loading (`load.rs`): a ``configuration/`` directory (or the
  absolute ``APP_CONFIG_DIR`` override) holding ``base.json`` plus
  ``{environment}.json``; the environment file deep-merges over base,
  then ``APP_``-prefixed environment variables override individual keys
  (``__`` separates nested segments, comma-separated values for keys the
  config class declares in ``LIST_PARSE_KEYS``). The reference accepts
  yaml|yml|json for each file; this engine supports the json member of
  that list (stdlib-only — a documented scope cut, not a semantics
  change: every reference config expressible in YAML has a 1:1 JSON
  form).
- secret handling (`secret.rs` / SerializableSecretString): secrets
  never appear in repr/str/serialization; ``expose()`` is the single
  deliberate accessor, and ``without_secrets()`` twins
  (`PgConnectionConfigWithoutSecrets`, pipeline.rs:436) drop them
  entirely.
- shared types + validation (`shared/pipeline.rs`, `shared/connection.rs`):
  BatchConfig, TableSyncCopyConfig, InvalidatedSlotBehavior, TlsConfig,
  PgConnectionConfig, PipelineConfig — the fields this engine reads, with
  the reference's defaults and constraint messages (``field`` +
  ``constraint``) so operators see the errors they know. Reference keys
  the engine does not read are ignored on load (see ``_build_dataclass``).

Integration: ``PgConnectionConfig.to_source_kwargs()`` maps onto
``SocketReplicationSource`` (ssl-mode ladder per connection.rs:303-311 —
tls+hostaddr → verify-ca, tls → verify-full, plaintext → prefer), and
``PipelineConfig.invalidated_slot_behavior`` feeds
``resolve_start_lsn``'s policy knob directly.
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field
from typing import Any


class ValidationError(ValueError):
    """A config field violated its constraint (shared/validators.rs
    shape: the offending field path plus the human constraint)."""

    def __init__(self, field_name: str, constraint: str):
        self.field = field_name
        self.constraint = constraint
        super().__init__(f"invalid value for field `{field_name}`: {constraint}")


class LoadConfigError(RuntimeError):
    """Configuration files/overrides could not be loaded (load.rs)."""


# ---------------------------------------------------------------------------
# Environment (environment.rs)
# ---------------------------------------------------------------------------

APP_ENVIRONMENT_ENV_NAME = "APP_ENVIRONMENT"
_ENV_NAMES = ("dev", "staging", "prod")


class Environment:
    """Runtime environment: dev / staging / prod (environment.rs)."""

    DEV, STAGING, PROD = _ENV_NAMES

    def __init__(self, name: str):
        low = name.strip().lower()
        if low not in _ENV_NAMES:
            raise LoadConfigError(
                f"{name!r} is not a supported environment "
                f"(use one of {', '.join(_ENV_NAMES)})"
            )
        self.name = low

    @classmethod
    def load(cls) -> "Environment":
        """Reads ``APP_ENVIRONMENT``; defaults to prod like the reference
        (environment.rs:33: unset means production)."""
        return cls(os.environ.get(APP_ENVIRONMENT_ENV_NAME, "prod"))

    def set(self) -> None:
        os.environ[APP_ENVIRONMENT_ENV_NAME] = self.name

    def is_prod(self) -> bool:
        """True for prod-LIKE environments — prod and staging both count
        (environment.rs:50)."""
        return self.name in ("prod", "staging")

    def __str__(self) -> str:  # file stem for {environment}.json
        return self.name

    def __repr__(self) -> str:
        return f"Environment({self.name!r})"

    def __eq__(self, other) -> bool:
        return isinstance(other, Environment) and other.name == self.name


# ---------------------------------------------------------------------------
# Secrets (secret.rs)
# ---------------------------------------------------------------------------

class SecretString:
    """A string that refuses to leak: repr/str show a redaction marker,
    equality works by value, and ``expose()`` is the one deliberate
    accessor (SerializableSecretString semantics)."""

    __slots__ = ("_value",)
    REDACTED = "[REDACTED]"

    def __init__(self, value: str):
        self._value = str(value)

    def expose(self) -> str:
        return self._value

    def __repr__(self) -> str:
        return self.REDACTED

    def __str__(self) -> str:
        return self.REDACTED

    def __eq__(self, other) -> bool:
        if isinstance(other, SecretString):
            return other._value == self._value
        return NotImplemented

    def __hash__(self) -> int:
        return hash(self._value)


# ---------------------------------------------------------------------------
# Shared config types (shared/pipeline.rs, shared/connection.rs)
# ---------------------------------------------------------------------------

@dataclass
class BatchConfig:
    """Stream-batching knobs (pipeline.rs:11-99)."""

    DEFAULT_MAX_BYTES = 8 * 1024 * 1024

    max_bytes: int = DEFAULT_MAX_BYTES

    def validate(self) -> None:
        if self.max_bytes <= 0:
            raise ValidationError("batch.max_bytes", "must be greater than 0")


@dataclass
class TableSyncCopyConfig:
    """Which tables get an initial copy (pipeline.rs:145-181): a tagged
    union — include_all_tables | skip_all_tables | include_tables |
    skip_tables, the latter two carrying ``table_ids``."""

    type: str = "include_all_tables"
    table_ids: list[int] = field(default_factory=list)

    _KINDS = ("include_all_tables", "skip_all_tables",
              "include_tables", "skip_tables")

    def validate(self) -> None:
        if self.type not in self._KINDS:
            raise ValidationError(
                "table_sync_copy.type",
                f"must be one of {', '.join(self._KINDS)}",
            )

    def should_copy_table(self, table_id: int) -> bool:
        """pipeline.rs:171-179, verbatim truth table."""
        if self.type == "include_all_tables":
            return True
        if self.type == "skip_all_tables":
            return False
        if self.type == "include_tables":
            return table_id in self.table_ids
        return table_id not in self.table_ids


#: pipeline.rs:123-143 — error (default, operator must intervene) or
#: recreate (reset tables to Init, drop + recreate the slot). These are
#: exactly the two policies sources/live.py's resolve_start_lsn accepts.
INVALIDATED_SLOT_BEHAVIORS = ("error", "recreate")


@dataclass
class TlsConfig:
    """connection.rs:243-257: PEM roots + an on/off switch."""

    trusted_root_certs: str = ""
    enabled: bool = False

    @classmethod
    def disabled(cls) -> "TlsConfig":
        return cls(trusted_root_certs="", enabled=False)


@dataclass
class PgConnectionConfig:
    """connection.rs:174-198 — where the pipeline replicates from."""

    host: str = "localhost"
    port: int = 5432
    name: str = "postgres"
    username: str = "postgres"
    password: SecretString | None = None
    hostaddr: str | None = None
    tls: TlsConfig = field(default_factory=TlsConfig)

    def without_secrets(self) -> dict:
        """PgConnectionConfigWithoutSecrets (connection.rs:208-239):
        the serializable twin — password dropped, not redacted."""
        d = _as_plain_dict(self)
        d.pop("password", None)
        return d

    def ssl_mode(self) -> str:
        """The sqlx ssl-mode ladder (connection.rs:303-311): TLS with a
        numeric hostaddr verifies the CA but not the hostname (the IP
        literal would never match a DNS SAN); TLS with a hostname
        verifies fully; plaintext configs ask for opportunistic TLS."""
        if self.tls.enabled and self.hostaddr is not None:
            return "verify-ca"
        if self.tls.enabled:
            return "verify-full"
        return "prefer"

    def to_source_kwargs(self, publication: str = "etl") -> dict:
        """Keyword arguments for ``SocketReplicationSource`` — the
        network target prefers hostaddr (libpq semantics: hostaddr
        dials, host names the TLS identity, connection.rs:177-183)."""
        kwargs: dict[str, Any] = {
            "host": self.hostaddr or self.host,
            "port": self.port,
            "user": self.username,
            "database": self.name,
            "password": self.password.expose() if self.password else None,
            "publication": publication,
            "ssl_mode": self.ssl_mode(),
        }
        if self.tls.enabled:
            kwargs["ssl_server_name"] = self.host
            if self.tls.trusted_root_certs:
                kwargs["ssl_root_cert"] = self.tls.trusted_root_certs
        return kwargs


@dataclass
class PipelineConfig:
    """pipeline.rs:248-398 — everything a replication pipeline needs."""

    DEFAULT_TABLE_ERROR_RETRY_DELAY_MS = 10_000
    DEFAULT_TABLE_ERROR_RETRY_MAX_ATTEMPTS = 5
    DEFAULT_MAX_COPY_CONNECTIONS_PER_TABLE = 4

    id: int = 0
    publication_name: str = "etl"
    pg_connection: PgConnectionConfig = field(default_factory=PgConnectionConfig)
    batch: BatchConfig = field(default_factory=BatchConfig)
    table_error_retry_delay_ms: int = DEFAULT_TABLE_ERROR_RETRY_DELAY_MS
    table_error_retry_max_attempts: int = DEFAULT_TABLE_ERROR_RETRY_MAX_ATTEMPTS
    max_copy_connections_per_table: int = DEFAULT_MAX_COPY_CONNECTIONS_PER_TABLE
    table_sync_copy: TableSyncCopyConfig = field(
        default_factory=TableSyncCopyConfig
    )
    invalidated_slot_behavior: str = "error"

    LIST_PARSE_KEYS = ("table_sync_copy.table_ids",)

    def validate(self) -> None:
        """pipeline.rs:349-398, same order, same constraint text."""
        self.batch.validate()
        if self.table_error_retry_max_attempts <= 0:
            raise ValidationError(
                "table_error_retry_max_attempts", "must be greater than 0"
            )
        if self.max_copy_connections_per_table <= 0:
            raise ValidationError(
                "max_copy_connections_per_table", "must be greater than 0"
            )
        if self.invalidated_slot_behavior not in INVALIDATED_SLOT_BEHAVIORS:
            raise ValidationError(
                "invalidated_slot_behavior",
                f"must be one of {', '.join(INVALIDATED_SLOT_BEHAVIORS)}",
            )
        self.table_sync_copy.validate()


# ---------------------------------------------------------------------------
# Loading (load.rs)
# ---------------------------------------------------------------------------

CONFIGURATION_DIR = "configuration"
CONFIG_DIR_ENV_VAR = "APP_CONFIG_DIR"
ENV_PREFIX = "APP"
ENV_PREFIX_SEPARATOR = "_"
ENV_SEPARATOR = "__"
LIST_SEPARATOR = ","
#: the reference probes yaml → yml → json per stem (load.rs:20); this
#: engine implements the json member (stdlib-only scope cut)
CONFIG_FILE_EXTENSIONS = ("json",)

_SECRET_FIELDS = frozenset({"password"})


def _deep_merge(base: dict, over: dict) -> dict:
    out = dict(base)
    for k, v in over.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def _find_configuration_file(directory: str, stem: str) -> str:
    attempted = []
    for ext in CONFIG_FILE_EXTENSIONS:
        path = os.path.join(directory, f"{stem}.{ext}")
        attempted.append(f"`{path}`")
        if os.path.isfile(path):
            return path
    raise LoadConfigError(
        f"Could not locate {stem} configuration in `{directory}`; "
        f"attempted: {', '.join(attempted)}"
    )


def _env_overrides(environ: dict, list_parse_keys: tuple[str, ...]) -> dict:
    """``APP_``-prefixed variables become nested keys: ``APP_BATCH__MAX_BYTES``
    → {'batch': {'max_bytes': ...}}; values are parsed as JSON scalars when
    possible (the config crate's try_parsing), comma-split for declared
    list keys."""
    out: dict = {}
    prefix = ENV_PREFIX + ENV_PREFIX_SEPARATOR
    for var, raw in environ.items():
        if not var.startswith(prefix) or var == APP_ENVIRONMENT_ENV_NAME:
            continue
        if var == CONFIG_DIR_ENV_VAR:
            continue
        segments = [s.lower() for s in var[len(prefix):].split(ENV_SEPARATOR)]
        dotted = ".".join(segments)
        value: Any
        if dotted in list_parse_keys:
            value = [
                _parse_scalar(part) for part in raw.split(LIST_SEPARATOR) if part
            ]
        else:
            value = _parse_scalar(raw)
        node = out
        for seg in segments[:-1]:
            node = node.setdefault(seg, {})
        node[segments[-1]] = value
    return out


def _parse_scalar(raw: str):
    try:
        return json.loads(raw)
    except (ValueError, TypeError):
        return raw


def _build_dataclass(cls, data: dict, path: str = ""):
    """Recursively constructs nested dataclasses from plain dicts,
    wrapping secret fields. Unknown keys are IGNORED — the reference
    pins forward compatibility (pipeline.rs:563 deserializes a config
    carrying a future field), so a newer file works on an older engine."""
    if not isinstance(data, dict):
        raise LoadConfigError(
            f"expected a mapping for `{path or cls.__name__}`, got {type(data).__name__}"
        )
    fields = {f.name: f for f in dataclasses.fields(cls)}
    kwargs = {}
    for name, value in data.items():
        if name not in fields:
            continue
        sub = f"{path}.{name}" if path else name
        target = _field_dataclass(fields[name])
        if name in _SECRET_FIELDS and value is not None:
            kwargs[name] = SecretString(value)
        elif target is not None and value is not None:
            kwargs[name] = _build_dataclass(target, value, sub)
        else:
            kwargs[name] = value
    return cls(**kwargs)


def _field_dataclass(f) -> type | None:
    """Resolves a dataclass field's nested-config type from the known
    shared types (string annotations keep this lookup explicit)."""
    mapping = {
        "BatchConfig": BatchConfig,
        "TableSyncCopyConfig": TableSyncCopyConfig,
        "TlsConfig": TlsConfig,
        "PgConnectionConfig": PgConnectionConfig,
    }
    ann = f.type if isinstance(f.type, str) else getattr(f.type, "__name__", "")
    return mapping.get(ann)


def _as_plain_dict(obj) -> dict:
    d = {}
    for f in dataclasses.fields(obj):
        v = getattr(obj, f.name)
        if dataclasses.is_dataclass(v):
            d[f.name] = _as_plain_dict(v)
        elif isinstance(v, SecretString):
            d[f.name] = SecretString.REDACTED
        else:
            d[f.name] = v
    return d


def load_config(cls=PipelineConfig, *, environ: dict | None = None,
                validate: bool = True):
    """Loads ``base.json`` + ``{environment}.json`` +
    ``APP_``-env-var overrides into ``cls`` (load.rs:104-165 semantics:
    environment file over base, env vars over both).

    ``environ`` defaults to ``os.environ``; pass a dict for hermetic
    tests. Raises :class:`LoadConfigError` for missing files/dirs and
    :class:`ValidationError` when the merged config violates a
    constraint (unless ``validate=False``).
    """
    env_map = os.environ if environ is None else environ
    if CONFIG_DIR_ENV_VAR in env_map:
        directory = env_map[CONFIG_DIR_ENV_VAR]
    else:
        directory = os.path.join(os.getcwd(), CONFIGURATION_DIR)
    if not os.path.isdir(directory):
        raise LoadConfigError(
            f"Configuration directory `{directory}` does not exist"
        )
    environment = Environment(env_map.get(APP_ENVIRONMENT_ENV_NAME, "prod"))

    base_file = _find_configuration_file(directory, "base")
    env_file = _find_configuration_file(directory, str(environment))
    try:
        with open(base_file) as fh:
            merged = json.load(fh)
        with open(env_file) as fh:
            merged = _deep_merge(merged, json.load(fh))
    except json.JSONDecodeError as exc:
        raise LoadConfigError(f"Failed to parse configuration: {exc}") from exc

    list_keys = tuple(getattr(cls, "LIST_PARSE_KEYS", ()))
    merged = _deep_merge(merged, _env_overrides(dict(env_map), list_keys))

    config = _build_dataclass(cls, merged)
    if validate and hasattr(config, "validate"):
        config.validate()
    return config
