"""Golden gate for the 12 release outputs.

Builds every reference-parser output through ``Runner.run`` on the
benchmark's seeded fixtures (``perfbench/gen_release.py``, with the
pipelines, output schemas and JSON Schemas of ``perfbench/release.py``) and
compares each written ``<name>.json.gz`` with a committed
``(rows, order-insensitive digest)`` pair (``perfbench/worker.py:digest``).
A refactor of a pipeline, a reader, the runner or the sink that changes any
output row fails here.

``ROWS`` is the primary-input size: 50 is the smallest multiple of 10 at
which both seeds build all 12 outputs nonzero (below it chembl's
stop-reason expectation fails or otar_crispr comes out empty on one seed).
"""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, PERFBENCH)

from gen_release import generate  # noqa: E402
from release import build_runner  # noqa: E402
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
