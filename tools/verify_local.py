"""Local stand-in for the driver's correctness gate.

Runs every catalog query through Spark AND its DuckDB oracle at a given scale
factor, canonicalizes both results EXACTLY like the driver does — Spark side
via ``df.toPandas()``, oracle side via ``rel.df()`` (pandas) — and reports
row-count/schema/value mismatches with a sample diff.

Round 9 lesson: the old ``collect()``/``fetchall()`` comparison was blind to
dtype-level divergence (DuckDB typed an uncast ``LEAST(SUM(...))`` as HUGEINT,
pandas rendered it float64, the driver hashed ``10025.0`` vs Spark's
``10025`` — q42 red at the gate while this tool said green).  The pandas path
is now the PRIMARY gate; on mismatch the legacy plain-Python extraction is
re-run as a second opinion so the failure message says whether values differ
or only dtypes do.  A static pre-pass additionally fails any query whose
oracle result carries a type the driver's canonicalizer coerces
(HUGEINT/DECIMAL/DATE — see ``forensics.oracle_type_offenders``).

Usage:  python tools/verify_local.py [--vanilla] [sf_dir] [query ...]

``--vanilla`` builds a bare SparkSession exactly like the correctness driver
does (no session-factory confs) and additionally fails any query whose result
schema contains array/map/struct columns — the driver's pandas canonicalizer
cannot sort those (round-1 failure mode for q18/q19).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from evidence_datasource_parsers_spark.forensics import (  # noqa: E402
    TABLES,
    canon_pandas,
    canon_rows,
    oracle_type_offenders,
)


def run(sf_dir: str, only: list[str], vanilla: bool = False) -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("verify-vanilla")
            .getOrCreate()
        )
    else:
        from evidence_datasource_parsers_spark.session import get_spark

        spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = queries(), oracle_sql()
    names = only or list(qs)
    failures = 0

    # Static pre-pass: any oracle result column typed so that the driver's
    # pandas canonicalizer renders it differently from Spark (HUGEINT /
    # DECIMAL → float64, DATE → midnight Timestamp) fails BEFORE Spark runs.
    for name in names:
        if name not in oracles:
            continue
        try:
            offenders = oracle_type_offenders(con.sql(oracles[name]))
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error in type sweep: {exc}")
            failures += 1
            continue
        if offenders:
            print(
                f"FAIL  {name}: oracle columns with driver-coercing types "
                f"{offenders} — CAST them (BIGINT/DOUBLE/VARCHAR) in the "
                "oracle SQL"
            )
            failures += 1
    if failures:
        print(f"\ntype sweep failed ({failures}) — fix oracles first")
        return 1

    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            s_cols = sdf.columns
            if vanilla:
                bad = [
                    f"{f.name}:{f.dataType.simpleString()}"
                    for f in sdf.schema.fields
                    if f.dataType.typeName() in ("array", "map", "struct")
                ]
                if bad:
                    print(f"FAIL  {name}: driver-unsortable columns {bad}")
                    failures += 1
                    continue
            s_pdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?   {name}: rows={len(s_pdf)} (no oracle — rows-only)")
            continue
        try:
            rel = con.sql(oracles[name])
            d_pdf = rel.df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {exc}")
            failures += 1
            continue
        # Per-leg hash forensics (free: reuses the frames already in
        # hand) — when a multi-leg host query (q62's codec kernels,
        # q42's counter stores) goes red, the failing LEG is named in
        # {Q}_LEGS_AUDIT.json instead of bisected.  The IMPORT sits
        # inside the try too: forensics (even a broken forensics module)
        # must never fail the gate for any query.
        try:
            from evidence_datasource_parsers_spark.plans.q62_audit import (
                LEG_AUDITS,
            )

            if name in LEG_AUDITS:
                leg_audit = LEG_AUDITS[name](s_pdf, d_pdf, sf_dir=sf_dir)
                print(
                    f"      {name} leg audit: {leg_audit['status']}"
                    + (
                        f" failing={leg_audit['failing_legs']}"
                        if leg_audit["failing_legs"]
                        else ""
                    )
                )
        except Exception as exc:  # noqa: BLE001 — forensics never
            print(f"      leg audit errored (gate unaffected): {exc}")
        sc, sr = canon_pandas(s_pdf)
        dc, dr = canon_pandas(d_pdf)
        if sc != dc:
            print(f"FAIL  {name}: schema {sc} vs oracle {dc}")
            failures += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL  {name}: rowcount {len(sr)} vs oracle {len(dr)}")
            failures += 1
            continue
        if sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            # Second opinion: the legacy plain-Python extraction.  If IT
            # matches, the values are equal and only a dtype rendering
            # diverged — name the class so the fix is obvious.
            verdict = "value mismatch"
            try:
                _, sr2 = canon_rows(
                    s_cols, [tuple(r) for r in qs[name](spark, sf_dir).collect()]
                )
                _, dr2 = canon_rows(
                    list(rel.columns), con.sql(oracles[name]).fetchall()
                )
                if sr2 == dr2:
                    verdict = (
                        "DTYPE-ONLY mismatch (values equal via "
                        "collect/fetchall; pandas rendering diverges)"
                    )
            except Exception:  # noqa: BLE001
                pass
            print(f"FAIL  {name}: {verdict}; first diffs: {diffs}")
            failures += 1
            continue
        print(f"OK    {name}: rows={len(sr)}")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    args = [a for a in args if a != "--vanilla"]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = args[1:] if args and "/" in args[0] else args
    raise SystemExit(run(sf, only, vanilla=vanilla))
