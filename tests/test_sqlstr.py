"""Focused tests for the shared SQL-string helpers (functions/sqlstr.py)."""

from __future__ import annotations

import pytest

from evidence_datasource_parsers_spark.functions.sqlstr import (
    reject_reserved_columns,
    slit,
)


def test_slit_round_trips_quotes_and_backslashes(spark):
    # quote escaping is by DOUBLING (''), valid under both parser modes;
    # backslash doubling requires the default parser mode, which the
    # session factory pins (spark.sql.parser.escapedStringLiterals=false)
    for s in ["plain", "it's", "a\\b", "mix '\\' end", "''", "\\'"]:
        got = spark.sql(f"SELECT {slit(s)} AS v").collect()[0].v
        assert got == s, (s, got)


def test_reject_reserved_columns():
    # only ACTUAL collisions with the operator's internal names reject;
    # unrelated __-prefixed inputs pass (catalog builders carry them)
    reject_reserved_columns(["a", "__other"], {"__ts"}, "op")  # no raise
    with pytest.raises(ValueError, match=r"__ts"):
        reject_reserved_columns(["a", "__ts"], {"__ts"}, "op")


def test_session_refuses_escaped_string_literals_in_any_case(spark):
    """The escapedStringLiterals guard compares case-insensitively: Spark
    accepts "TRUE" as true, so the guard must refuse it too."""
    from evidence_datasource_parsers_spark.session import get_spark

    key = "spark.sql.parser.escapedStringLiterals"
    try:
        with pytest.raises(RuntimeError, match="escapedStringLiterals"):
            get_spark("tests", shuffle_partitions=4, extra_conf={key: "TRUE"})
    finally:
        spark.conf.unset(key)
    assert spark.conf.get(key, "false") == "false"
