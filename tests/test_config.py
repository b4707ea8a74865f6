"""D7 config laws: defaults <- YAML deep-merge <- CLI precedence,
plus validation (mirror of doc_to_md/config_manager.py:36-242)."""

import argparse

import pytest

from tool_documentsconverter_spark import config as C


def test_defaults_valid():
    assert C.validate(C.default_config()) == []


def test_deep_merge_laws():
    base = {"a": {"x": 1, "y": 2}, "b": [1, 2], "c": "s"}
    over = {"a": {"y": 20, "z": 30}, "b": [9]}
    merged = C.deep_merge(base, over)
    assert merged == {"a": {"x": 1, "y": 20, "z": 30}, "b": [9], "c": "s"}
    # inputs untouched
    assert base["a"] == {"x": 1, "y": 2}


def test_yaml_file_overrides_defaults(tmp_path):
    p = tmp_path / "job.yaml"
    p.write_text(
        "conversion:\n"
        "  force: true\n"
        "performance:\n"
        "  buckets: 128\n"
        "file_types: [pdf, docx]\n"
        "filters:\n"
        "  exclude_sources:\n"
        "    - spamdir\n"
        "    - .git\n",
        encoding="utf-8",
    )
    cfg = C.load_config(str(p))
    assert C.get(cfg, "conversion.force") is True
    assert C.get(cfg, "performance.buckets") == 128
    assert C.get(cfg, "performance.salt") == 32  # default survives merge
    assert C.get(cfg, "file_types") == ["pdf", "docx"]
    assert C.get(cfg, "filters.exclude_sources") == ["spamdir", ".git"]
    assert C.validate(cfg) == []


def test_missing_file_is_pure_defaults():
    assert C.load_config(None) == C.default_config()


def test_cli_overrides_yaml(tmp_path):
    p = tmp_path / "job.yaml"
    p.write_text("performance:\n  buckets: 128\n  salt: 4\n", encoding="utf-8")
    cfg = C.load_config(str(p))
    args = argparse.Namespace(
        force=True, buckets=256, salt=None, partitions=None,
        types=None, exclude=None, compression="snappy",
    )
    out = C.update_from_args(cfg, args)
    assert C.get(out, "performance.buckets") == 256     # CLI wins
    assert C.get(out, "performance.salt") == 4          # yaml survives
    assert C.get(out, "conversion.force") is True
    assert C.get(out, "output.compression") == "snappy"
    # original config untouched
    assert C.get(cfg, "performance.buckets") == 128


def test_types_all_expands():
    args = argparse.Namespace(types=["all"])
    out = C.update_from_args(C.default_config(), args)
    assert "all" not in out["file_types"]
    assert set(out["file_types"]) == {"text", "pdf", "docx", "doc", "html"}


@pytest.mark.parametrize("patch,needle", [
    ({"file_types": ["pdf", "rtf"]}, "invalid file type"),
    ({"performance": {"buckets": "64"}}, "buckets"),
    ({"performance": {"salt": 1.5}}, "salt"),
    ({"performance": {"buckets": 0}}, "buckets"),
    ({"performance": {"salt": -1}}, "salt"),
    ({"performance": {"partitions": -2}}, "partitions"),
    ({"performance": {"partitions": "4"}}, "partitions"),
    ({"filters": {"exclude_sources": "notalist"}}, "exclude_sources"),
])
def test_validate_errors(patch, needle):
    cfg = C.deep_merge(C.default_config(), patch)
    errs = C.validate(cfg)
    assert errs and any(needle in e for e in errs), errs


def test_subset_parser_matches_pyyaml(tmp_path):
    text = (
        "# a job config\n"
        "file_types: [pdf, docx, doc]\n"
        "conversion:\n"
        "  force: true\n"
        "  fail_fast: false\n"
        "performance:\n"
        "  buckets: 128   # comment after value\n"
        "  heavy_threshold: 0.1\n"
        "filters:\n"
        "  exclude_sources:\n"
        "    - .git\n"
        "    - node_modules\n"
        "logging:\n"
        "  level: debug\n"
    )
    import yaml

    assert C._parse_yaml_subset(text) == yaml.safe_load(text)


def test_bad_config_exits_before_spark(tmp_path):
    from tool_documentsconverter_spark.jobs.extract_job import main

    p = tmp_path / "bad.yaml"
    p.write_text("performance:\n  buckets: 0\n", encoding="utf-8")
    rc = main([
        "--input", "/nonexistent", "--output", "/tmp/x",
        "--lineage", "/tmp/y", "--config", str(p),
    ])
    assert rc == 1
