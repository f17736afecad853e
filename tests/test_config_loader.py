"""Provider-chain config loading: defaults < files < env < CLI.

Reference semantics: /root/reference/internal/config/loader.go:103-160
(priority order yaml < toml < json < env), merger.go (field-wise
override), env_provider.go (DOPPEL_-prefixed typed env parsing).
No Spark session needed — the loader is pure driver-side code.
"""

from __future__ import annotations

import json

import pytest

from doppel_spark.config import FilterConfigError
from doppel_spark.config_loader import JobConfig, load_job_config


def test_defaults_only():
    cfg = load_job_config(env={})
    assert isinstance(cfg, JobConfig)
    assert cfg.mode == "both"
    assert cfg.output_format == "json"
    assert cfg.filter.min_size == 0
    assert cfg.neardup.bands == 32
    assert cfg.provenance == ()


def test_file_priority_json_over_toml(tmp_path):
    (tmp_path / "config.toml").write_text(
        '[neardup]\nbands = 16\nshingle_k = 7\n')
    (tmp_path / "config.json").write_text(
        json.dumps({"neardup": {"bands": 8}}))
    cfg = load_job_config(config_dir=str(tmp_path), env={})
    # json (priority 30) overrides toml (20) per loader.go:150-160
    assert cfg.neardup.bands == 8
    # toml key not set by json survives
    assert cfg.neardup.shingle_k == 7


def test_env_overrides_file_and_cli_overrides_env(tmp_path):
    (tmp_path / "config.json").write_text(json.dumps({
        "filter": {"min_size": "1KB"},
        "job": {"mode": "exact", "output_format": "pretty"},
    }))
    env = {
        "DOPPEL_SPARK_FILTER_MIN_SIZE": "2KiB",
        "DOPPEL_SPARK_JOB_MODE": "near",
        "DOPPEL_SPARK_NEARDUP_JACCARD_THRESHOLD": "0.7",
    }
    cfg = load_job_config(config_dir=str(tmp_path), env=env)
    assert cfg.filter.min_size == 2048          # env beat the file's 1000
    assert cfg.mode == "near"
    assert cfg.neardup.jaccard_threshold == 0.7
    assert cfg.output_format == "pretty"        # file key untouched by env

    cfg2 = load_job_config(config_dir=str(tmp_path), env=env,
                           cli={"job": {"mode": "both"},
                                "filter": {"min_size": "3KB"}})
    assert cfg2.mode == "both"                  # CLI is the top layer
    assert cfg2.filter.min_size == 3000


def test_preset_is_base_and_explicit_keys_override():
    cfg = load_job_config(env={"DOPPEL_SPARK_JOB_PRESET": "docs",
                               "DOPPEL_SPARK_FILTER_MIN_SIZE": "64"})
    # docs preset sets min_size=1024 + css/js/ico excludes; the explicit
    # min_size wins, the preset's other fields survive
    assert cfg.filter.min_size == 64
    assert cfg.filter.exclude_url_regexes


def test_typed_coercion_from_env():
    cfg = load_job_config(env={
        "DOPPEL_SPARK_FILTER_LANGS": "en, de ,fr",
        "DOPPEL_SPARK_JOB_SIMHASH": "true",
        "DOPPEL_SPARK_NEARDUP_NUM_PERM": "64",
        "DOPPEL_SPARK_NEARDUP_BANDS": "16",
    })
    assert cfg.filter.langs == ("en", "de", "fr")
    assert cfg.simhash is True
    assert cfg.neardup.num_perm == 64
    assert cfg.neardup.rows_per_band == 4


@pytest.mark.parametrize("env", [
    {"DOPPEL_SPARK_JOB_MODE": "everything"},        # invalid choice
    {"DOPPEL_SPARK_NEARDUP_BANDS": "7"},            # 128 % 7 != 0
    {"DOPPEL_SPARK_FILTER_MIN_SIZE": "1 lightyear"},  # bad size literal
])
def test_validation_rejects(env):
    with pytest.raises(FilterConfigError):
        load_job_config(env=env)


def test_removed_simhash_bits_key_is_rejected(tmp_path):
    # NearDupConfig.simhash_bits was never read (SimHash is 64-bit);
    # a config file still setting it fails loudly, not silently
    (tmp_path / "config.json").write_text(
        json.dumps({"neardup": {"simhash_bits": 64}}))
    with pytest.raises(FilterConfigError, match="neardup.simhash_bits"):
        load_job_config(config_dir=str(tmp_path), env={})


@pytest.mark.parametrize("env", [
    {"DOPPEL_SPARK_FILTER_NO_SUCH_FIELD": "1"},     # unknown key
    {"DOPPEL_SPARK_BOGUS_SECTION_X": "1"},          # unknown section
])
def test_unknown_env_vars_warn_and_skip(env):
    # a stray forward-compat deployment variable must not crash the job
    # (the reference env provider silently ignores unknown keys); we
    # warn instead of staying silent so typos are noticed
    with pytest.warns(RuntimeWarning):
        cfg = load_job_config(env=env)
    assert cfg == load_job_config(env={})


def test_yaml_without_lib_raises_not_skips(tmp_path):
    (tmp_path / "config.yaml").write_text("filter:\n  min_size: 1KB\n")
    try:
        import yaml  # noqa: F401
        pytest.skip("PyYAML installed; silent-skip hazard not reachable")
    except ImportError:
        pass
    with pytest.raises(FilterConfigError, match="PyYAML"):
        load_job_config(config_dir=str(tmp_path), env={})


def test_provenance_records_application_order(tmp_path):
    (tmp_path / "config.json").write_text(
        json.dumps({"neardup": {"bands": 8}}))
    cfg = load_job_config(config_dir=str(tmp_path),
                          env={"DOPPEL_SPARK_NEARDUP_BANDS": "16"},
                          cli={"neardup": {"bands": 32}})
    assert [p[0] for p in cfg.provenance] == ["config.json", "env", "cli"]
    assert cfg.neardup.bands == 32
