"""CLI surface: list, run (+ --output sink), and error paths — in-process
(get_spark reuses the test session, so no second JVM)."""

from __future__ import annotations

import gzip
import json

from evidence_datasource_parsers_spark.__main__ import main


def test_list_names_every_query(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "q62_multimodal_meta" in out
    assert out.count("oracle") == 50  # every entry carries its oracle tag


def test_run_shows_rows(spark, sf_dir, capsys):
    assert main(["run", "q04_region_rollup", "--sf-dir", sf_dir,
                 "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "r_name" in out or "region" in out.lower()


def test_run_writes_gzip_jsonl(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "out.json.gz")
    assert main(["run", "q04_region_rollup", "--sf-dir", sf_dir,
                 "--output", dest]) == 0
    with gzip.open(dest, "rt") as fh:
        rows = [json.loads(line) for line in fh]
    assert len(rows) == 5  # five regions


def test_unknown_query_exits_2(spark, capsys):
    assert main(["run", "q99_nope"]) == 2
    assert "unknown query" in capsys.readouterr().err
