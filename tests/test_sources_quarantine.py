"""Robust corpus ingestion (sources/corpus.py): every non-empty input
line lands in exactly one of (good, quarantine); nothing is silently
dropped or silently nulled."""

from __future__ import annotations

import pytest


def _write(path, text):
    path.write_text(text, encoding="utf-8")
    return str(path)


def test_ndjson_quarantine_splits_lines(spark, tmp_path):
    from rulemorph_spark.sources import read_ndjson_quarantine
    p = _write(tmp_path / "docs.ndjson", "\n".join([
        '{"doc_id": 1, "text": "hello world"}',
        'this is not json at all',
        '{"doc_id": 2, "text": "second", "extra_field": true}',
        '',
        '{"doc_id": 3}',
        '{broken json',
    ]) + "\n")
    good, bad = read_ndjson_quarantine(
        spark, p, "doc_id long, text string")
    rows = {r["doc_id"]: r["text"] for r in good.collect()}
    # drift semantics: extra field ignored, missing field NULL
    assert rows == {1: "hello world", 2: "second", 3: None}
    q = sorted(r["raw"] for r in bad.collect())
    assert q == ["this is not json at all", "{broken json"]
    assert all(r["source_file"].endswith("docs.ndjson")
               for r in bad.collect())


def test_ndjson_quarantine_empty_and_all_good(spark, tmp_path):
    from rulemorph_spark.sources import read_ndjson_quarantine
    p = _write(tmp_path / "ok.ndjson",
               '{"a": 1}\n{"a": 2}\n')
    good, bad = read_ndjson_quarantine(spark, p, "a int")
    assert sorted(r["a"] for r in good.collect()) == [1, 2]
    assert bad.count() == 0


# --------------------------------------------------- pipeline CLI command

def test_cli_pipeline_ndjson_to_parquet(spark, tmp_path):
    import json as _json
    import subprocess
    import sys

    inp = tmp_path / "docs.ndjson"
    lines = [_json.dumps({"doc_id": i, "text": f"document number {i} "
                          + "with some words here", "source": "src0"})
             for i in range(20)]
    lines.insert(5, "NOT JSON")
    inp.write_text("\n".join(lines) + "\n")
    spec = tmp_path / "spec.yaml"
    spec.write_text("""
steps:
  - {op: hash_sample, fraction: 1.0}
  - {op: hash_split, weights: {train: 0.5, valid: 0.5}}
""")
    out = tmp_path / "out"
    quar = tmp_path / "bad"
    r = subprocess.run(
        [sys.executable, "-m", "rulemorph_spark.cli", "pipeline",
         "-s", str(spec), "-i", str(inp), "-o", str(out),
         "--input-schema", "doc_id long, text string, source string",
         "--quarantine", str(quar)],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr
    payload = _json.loads(r.stdout.strip().splitlines()[-1])
    assert payload["rows_out"] == 20
    got = spark.read.parquet(str(out))
    assert got.count() == 20 and "split" in got.columns
    bad = spark.read.parquet(str(quar))
    assert [x["raw"] for x in bad.collect()] == ["NOT JSON"]


def test_cli_pipeline_bad_spec_exit_2(tmp_path):
    import subprocess
    import sys
    spec = tmp_path / "spec.yaml"
    spec.write_text("steps: [{op: no_such_op}]")
    r = subprocess.run(
        [sys.executable, "-m", "rulemorph_spark.cli", "pipeline",
         "-s", str(spec), "-i", "x.parquet", "-o", "y"],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 2
    assert "InvalidPipeline" in r.stderr
