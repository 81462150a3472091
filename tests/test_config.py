"""Layered-config tests (the etl-config crate's behavior: environment
detection, base + environment + env-var layering, secret redaction,
validation constraint text — environment.rs / load.rs / secret.rs /
shared/pipeline.rs / shared/connection.rs)."""

from __future__ import annotations

import json
import os

import pytest

from etl_spark.config import (
    BatchConfig,
    Environment,
    LoadConfigError,
    PgConnectionConfig,
    PipelineConfig,
    SecretString,
    TableSyncCopyConfig,
    TlsConfig,
    ValidationError,
    load_config,
)


# --- environment ----------------------------------------------------------

def test_environment_defaults_to_prod(monkeypatch):
    monkeypatch.delenv("APP_ENVIRONMENT", raising=False)
    assert Environment.load().name == "prod"


def test_environment_case_insensitive_and_is_prod():
    assert Environment("STAGING").name == "staging"
    assert Environment("staging").is_prod()  # prod-LIKE includes staging
    assert Environment("prod").is_prod()
    assert not Environment("dev").is_prod()


def test_environment_rejects_unknown():
    with pytest.raises(LoadConfigError):
        Environment("qa")


# --- secrets --------------------------------------------------------------

def test_secret_string_never_leaks():
    s = SecretString("hunter2")
    assert "hunter2" not in repr(s) and "hunter2" not in str(s)
    assert s.expose() == "hunter2"
    assert s == SecretString("hunter2")


def test_connection_repr_and_without_secrets_hide_password():
    pg = PgConnectionConfig(password=SecretString("hunter2"))
    assert "hunter2" not in repr(pg)
    plain = pg.without_secrets()
    assert "password" not in plain
    assert plain["host"] == "localhost"


# --- validation -----------------------------------------------------------

def test_batch_validation_bounds():
    BatchConfig().validate()  # defaults pass
    with pytest.raises(ValidationError) as e:
        BatchConfig(max_bytes=0).validate()
    assert e.value.field == "batch.max_bytes"


def test_table_sync_copy_truth_table():
    assert TableSyncCopyConfig().should_copy_table(7)
    assert not TableSyncCopyConfig(type="skip_all_tables").should_copy_table(7)
    inc = TableSyncCopyConfig(type="include_tables", table_ids=[1, 2])
    assert inc.should_copy_table(1) and not inc.should_copy_table(3)
    skip = TableSyncCopyConfig(type="skip_tables", table_ids=[1, 2])
    assert not skip.should_copy_table(1) and skip.should_copy_table(3)
    with pytest.raises(ValidationError):
        TableSyncCopyConfig(type="all_of_them").validate()


def test_pipeline_validation_matrix():
    PipelineConfig().validate()
    for field_name, bad in [
        ("table_error_retry_max_attempts", 0),
        ("max_copy_connections_per_table", 0),
    ]:
        cfg = PipelineConfig(**{field_name: bad})
        with pytest.raises(ValidationError) as e:
            cfg.validate()
        assert e.value.field == field_name
    with pytest.raises(ValidationError):
        PipelineConfig(invalidated_slot_behavior="panic").validate()


# --- ssl-mode ladder + source integration ---------------------------------

def test_ssl_mode_ladder():
    plain = PgConnectionConfig()
    assert plain.ssl_mode() == "prefer"
    tls = PgConnectionConfig(tls=TlsConfig(enabled=True, trusted_root_certs="PEM"))
    assert tls.ssl_mode() == "verify-full"
    ip = PgConnectionConfig(
        hostaddr="10.0.0.5", tls=TlsConfig(enabled=True, trusted_root_certs="PEM")
    )
    # numeric target: verify the CA, skip hostname verification
    assert ip.ssl_mode() == "verify-ca"


def test_to_source_kwargs_builds_a_socket_source():
    from etl_spark.sources.socket_transport import SocketReplicationSource

    pg = PgConnectionConfig(
        host="db.internal",
        hostaddr="10.0.0.5",
        port=5999,
        name="app",
        username="repl",
        password=SecretString("pw"),
        tls=TlsConfig(enabled=True, trusted_root_certs="PEM DATA"),
    )
    kwargs = pg.to_source_kwargs(publication="pub1")
    assert kwargs["host"] == "10.0.0.5"  # hostaddr dials
    assert kwargs["ssl_server_name"] == "db.internal"  # host names TLS identity
    assert kwargs["ssl_root_cert"] == "PEM DATA"
    src = SocketReplicationSource(**kwargs)
    assert src.port == 5999 and src.publication == "pub1"
    assert src.ssl_mode == "verify-ca"


# --- layered loading -------------------------------------------------------

def _write_config_dir(tmp_path, base: dict, env_name: str, env_cfg: dict):
    d = tmp_path / "configuration"
    d.mkdir(exist_ok=True)
    (d / "base.json").write_text(json.dumps(base))
    (d / f"{env_name}.json").write_text(json.dumps(env_cfg))
    return str(d)


def test_load_config_layers_env_file_over_base(tmp_path):
    d = _write_config_dir(
        tmp_path,
        {"id": 7, "publication_name": "pub",
         "max_copy_connections_per_table": 2, "batch": {"max_bytes": 1024}},
        "dev",
        {"batch": {"max_bytes": 2048}},
    )
    cfg = load_config(environ={"APP_CONFIG_DIR": d, "APP_ENVIRONMENT": "dev"})
    assert cfg.id == 7
    assert cfg.max_copy_connections_per_table == 2  # from base
    assert cfg.batch.max_bytes == 2048  # dev override
    assert (cfg.table_error_retry_max_attempts
            == PipelineConfig.DEFAULT_TABLE_ERROR_RETRY_MAX_ATTEMPTS)


def test_load_config_env_vars_override_files(tmp_path):
    d = _write_config_dir(
        tmp_path, {"id": 1, "publication_name": "pub"}, "prod", {}
    )
    cfg = load_config(environ={
        "APP_CONFIG_DIR": d,
        "APP_BATCH__MAX_BYTES": "4096",
        "APP_PUBLICATION_NAME": "wired",
        "APP_TABLE_SYNC_COPY__TYPE": "include_tables",
        "APP_TABLE_SYNC_COPY__TABLE_IDS": "1,2,3",
    })
    assert cfg.batch.max_bytes == 4096  # scalar coercion
    assert cfg.publication_name == "wired"
    assert cfg.table_sync_copy.table_ids == [1, 2, 3]  # declared list key


def test_load_config_wraps_secret_and_tolerates_unknown_keys(tmp_path):
    d = _write_config_dir(
        tmp_path,
        {"id": 1, "publication_name": "p",
         "pg_connection": {"host": "h", "password": "s3cret",
                           "future_field": True},
         "future_top_level": {"x": 1},
         # settings the engine never read, still present in older files
         "batch": {"max_fill_ms": 1000},
         "memory_backpressure": {"activate_threshold": 0.85}},
        "prod",
        {},
    )
    cfg = load_config(environ={"APP_CONFIG_DIR": d})
    assert isinstance(cfg.pg_connection.password, SecretString)
    assert cfg.pg_connection.password.expose() == "s3cret"
    assert "s3cret" not in repr(cfg)


def test_load_config_missing_pieces_error(tmp_path):
    with pytest.raises(LoadConfigError):  # directory absent
        load_config(environ={"APP_CONFIG_DIR": str(tmp_path / "nope")})
    d = tmp_path / "configuration"
    d.mkdir()
    (d / "base.json").write_text("{}")
    with pytest.raises(LoadConfigError):  # prod.json absent
        load_config(environ={"APP_CONFIG_DIR": str(d)})


def test_load_config_validates_merged_result(tmp_path):
    d = _write_config_dir(
        tmp_path, {"id": 1, "publication_name": "p"}, "prod",
        {"max_copy_connections_per_table": 0},
    )
    with pytest.raises(ValidationError):
        load_config(environ={"APP_CONFIG_DIR": d})
    cfg = load_config(environ={"APP_CONFIG_DIR": d}, validate=False)
    assert cfg.max_copy_connections_per_table == 0


def test_invalidated_slot_policy_names_match_live_source():
    """The config enum and resolve_start_lsn accept the SAME two policy
    strings — a rename on either side breaks the wiring."""
    import inspect

    from etl_spark.config import INVALIDATED_SLOT_BEHAVIORS
    from etl_spark.sources import live

    src = inspect.getsource(live.resolve_start_lsn)
    for policy in INVALIDATED_SLOT_BEHAVIORS:
        assert f'"{policy}"' in src
