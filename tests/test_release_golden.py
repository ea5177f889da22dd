"""Golden gate for the 12 release outputs.

Builds every reference-parser output through ``Runner.run`` on the
benchmark's seeded fixtures (``perfbench/gen_release.py``, with the
pipelines, output schemas and JSON Schemas of ``perfbench/release.py``) and
compares each written ``<name>.json.gz`` with a committed
``(rows, order-insensitive digest)`` pair (``perfbench/worker.py:digest``).
A refactor of a pipeline, a reader, the runner or the sink that changes any
output row fails here.  The same fixtures check the runner's run records,
that it leaves no cached frame behind, and that the sink counts violations
of six tightened contracts exactly as ``jsonschema`` Draft 7 does.

``ROWS`` is the primary-input size: 50 is the smallest multiple of 10 at
which both seeds build all 12 outputs nonzero (below it chembl's
stop-reason expectation fails or otar_crispr comes out empty on one seed).
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, PERFBENCH)

from gen_release import generate  # noqa: E402
from release import CONTRACTS, build_runner  # noqa: E402
from worker import digest  # noqa: E402

ROWS = 50

GOLDEN = {
    7: {
        "slapenrich": (29, "c459f7bb3978f7ad8322c1644a727c574e904d4aa5895241b942718e5b880b01"),
        "biomarkers": (100, "c63a6c7b7ecd47ae93b0129fd47b296151bac2283b1f294f97138940b56b5424"),
        "chembl": (50, "91445fc424ad3fa30e9841272b573d1891d156baa0b94d59d7903fe0d75b5dac"),
        "gene_burden": (40, "3cf15b8f051ba5fc37fb5b842410aff6a3a4eddacf22fe204afc47fd79985ace"),
        "clingen": (25, "5a4be9f473a84a9aa39e3e740863d9bf8d6b0d647c32d3e14633f9564df854c9"),
        "g2p": (50, "4c49833b741562bb663034e4bd699adb19fcd705a86569728b137b61f115bcf0"),
        "impc": (52, "9128e449db8d5333f537b8e11b0bd72c76f32ef8bf0a3522b3c9f55148c03925"),
        "mouse_phenotypes": (26, "db0b7ee653f0e35cea8238eed3cffc02a938665c172081d1119be3aed094cad4"),
        "essentiality": (40, "034e3a7cc0c4d40596d28b4ed910c6fedca574e62d8b7dd5fd72ab43aa295a88"),
        "otar_crispr": (3, "2aa0e952f45b15f055c4102fc4937c2e099696524f1cc941b42cf9347dddcda8"),
        "encore": (70, "b138b2096984e7862b5394fab29ee5006175271322967cb8a6bb4776d02a0670"),
        "chemical_probes": (47, "f75da5e778876113ef60823ed1684dffc823bc3a40537d85349c2ca3c0157f74"),
    },
    11: {
        "slapenrich": (31, "cc4027c8e70b09fcdd35b0045c396b5072493569d11bf82fe1d4d6953c4113e7"),
        "biomarkers": (110, "267261eaea9563df25c0033434254344c1eef1179b8a12485e2c959bf0755385"),
        "chembl": (50, "d17b5b54ae5f977e2f12af000e5ee989ebeadd8bb3de6222d67c6578e0b0a39d"),
        "gene_burden": (41, "63488cd49f8bfe9a66a544cbf68df0c9fd332fdd0e426ab43a61a9807c186a94"),
        "clingen": (25, "27e0c015064c6c38c1c02ad0544d75a564511da89bcaf17698451ac0cdb2b2a0"),
        "g2p": (49, "99beee0997f0c9849ef8bb0f9fc7d066e122cfb42cda6b5070acfb97bf25d81a"),
        "impc": (54, "f160173dcd01b1e37a446c4f55ffa1871e1383f6b671139875c0d25f22a81775"),
        "mouse_phenotypes": (24, "e904f6314226de7e87fa5b4a312ca79e059b6837e004782b4f3b160aa35cb5dc"),
        "essentiality": (40, "3f1d8bdf327f5beb46d276103a63fa65ff81ac9d8c235e0dec099297e2a85293"),
        "otar_crispr": (6, "dc72c46a196a66a730090170375e24d932fa8088de40c338bda129ee1fe3bcec"),
        "encore": (72, "805aa1157a7f16b4f2004c0a998532f3d0e8c20a99421c75e2903e36109fd0f8"),
        "chemical_probes": (47, "18e79bc04816749123e8357fa8e625e8c8ef521d07cf2591f72dab8ca674157a"),
    },
}


@pytest.mark.parametrize("seed", sorted(GOLDEN))
def test_release_outputs_match_goldens(spark, tmp_path, seed):
    config = generate(str(tmp_path / "in"), seed, ROWS)
    runner, _ = build_runner(lambda layer, name: contextlib.nullcontext())
    assert sorted(runner.pipelines) == sorted(GOLDEN[seed])
    out = tmp_path / "out"
    runner.run(spark, config, out_dir=str(out))
    got = {name: digest(str(out / f"{name}.json.gz"))
           for name in runner.pipelines}
    assert got == GOLDEN[seed]
    # the run record comes from the sink's own observed metrics
    assert {n: (r["rows_out"], r["violations"])
            for n, r in runner.records.items()} == {
        n: (rows, 0) for n, (rows, _) in GOLDEN[seed].items()}
    assert all(r["wall_s"] > 0 for r in runner.records.values())


def test_runner_releases_pipeline_caches(spark, tmp_path):
    """gene_burden and chembl persist their output for their eager
    expectations; once the runner has written it, nothing stays cached."""
    config = generate(str(tmp_path / "in"), 7, ROWS)
    runner, _ = build_runner(lambda layer, name: contextlib.nullcontext())
    spark.catalog.clearCache()
    runner.run(spark, config, out_dir=str(tmp_path / "out"),
               only=["gene_burden", "chembl"])
    assert set(runner.records) == {"gene_burden", "chembl"}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _tightened() -> dict[str, dict]:
    """Six release contracts made stricter than their outputs, each through
    a different keyword path: bounds on doubles and longs, the runtime
    integer test, patterns and enums inside arrays of structs, item counts,
    array-element bounds and absent (NULL) struct fields."""
    c = {n: copy.deepcopy(CONTRACTS[n][1]) for n in (
        "slapenrich", "chembl", "impc", "otar_crispr", "essentiality",
        "chemical_probes")}
    p = {n: s["properties"] for n, s in c.items()}
    p["slapenrich"]["resourceScore"]["exclusiveMaximum"] = 1e-9
    p["slapenrich"]["pathways"]["items"]["properties"]["id"]["pattern"] = (
        "^R-HSA-[0-2]")
    p["chembl"]["clinicalPhase"]["maximum"] = 2
    p["chembl"]["studyStopReasonCategories"]["items"] = {
        "enum": ["Negative", "Safety_Sideeffects"]}
    p["impc"]["resourceScore"]["type"] = "integer"
    p["impc"]["diseaseModelAssociatedModelPhenotypes"]["maxItems"] = 1
    p["otar_crispr"]["replicateStats"]["items"] = {"maximum": 0.02}
    p["essentiality"]["tissues"]["maxItems"] = 5
    p["chemical_probes"]["probes"]["items"]["required"] = ["probe", "score1"]
    return c


def test_tightened_contracts_match_jsonschema(spark, tmp_path):
    """On violating outputs the sink's observed violation count equals an
    independent Draft 7 validator's count over the same rows' JSON lines,
    the run raises SchemaContractError, and no file is left behind."""
    from jsonschema import Draft7Validator
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.validation import (
        SchemaContractError,
    )

    config = generate(str(tmp_path / "in"), 7, ROWS)
    runner, _ = build_runner(lambda layer, name: contextlib.nullcontext())
    out = tmp_path / "out"
    for name, schema in _tightened().items():
        spec = runner.pipelines[name]
        spec.json_schema = schema
        df = spec.build(spark, config)
        lines = [r[0] for r in
                 df.select(F.to_json(F.struct(*df.columns))).collect()]
        df.unpersist()
        draft7 = Draft7Validator(schema)
        expected = sum(not draft7.is_valid(json.loads(ln)) for ln in lines)
        with pytest.raises(SchemaContractError, match="rows"):
            runner.run(spark, config, out_dir=str(out), only=[name])
        assert runner.records[name]["violations"] == expected > 0, name
        assert runner.records[name]["rows_out"] == len(lines)
        assert not (out / f"{name}.json.gz").exists()
        assert not (out / f"{name}.json.gz.spark-tmp").exists()
