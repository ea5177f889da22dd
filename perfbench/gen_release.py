"""Seeded fixture-shaped inputs for the ``release`` workload.

One input set per reference-parser pipeline, in the native format FIXTURES.md
gives for it (TSV, CSV with and without preamble, nested JSON-lines, parquet,
wide matrices).  Only ``numpy``/``pyarrow`` and the standard library run
here; the measured process receives the written files.  ``n`` scales the
row count of every primary input.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSEQUENCES = [
    "absent gene product", "altered gene product structure",
    "decreased gene product level", "increased gene product level",
    "uncertain",
]
TISSUES = ["Lung", "Breast", "Skin", "Liver", "Kidney", "Bone", "Blood"]


def _gene(i) -> str:
    return f"GENE{int(i):05d}"


def _tsv(path: str, header: list[str], rows, sep: str = "\t") -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, delimiter=sep, lineterminator="\n")
        if header:
            w.writerow(header)
        w.writerows(rows)


def generate(out: str, seed: int, n: int) -> dict:
    """Write every fixture under ``out`` and return the config dict that the
    release pipelines read their paths and parameters from."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    p = lambda name: os.path.join(out, name)  # noqa: E731
    n_genes = max(200, n // 4)
    cancers = [f"CT{k:02d}" for k in range(30)]

    # slapenrich: TSV, inferSchema; LUT TSV (FIXTURES F01)
    _tsv(p("slapenrich.tsv"), ["ctype", "gene", "pathway", "SLAPEnrichPval"], [
        (cancers[rng.integers(0, 32) % 30] if rng.random() > 0.05 else "UNKN",
         _gene(rng.integers(0, n_genes)),
         f"R-HSA-{rng.integers(0, 400)}: Pathway {rng.integers(0, 400)}",
         float(10.0 ** -rng.uniform(0, 12)))
        for _ in range(n)
    ])
    _tsv(p("cancer2efo.tsv"), ["Cancer_type_acronym", "Cancer_type_name",
                               "EFO_id", "EFO_name", "Source"],
         [(c, f"cancer {c}", f"EFO:{1000 + k:07d}", f"carcinoma {c}", "TCGA")
          for k, c in enumerate(cancers)])

    # biomarkers: TSV with ';'-multi-valued cells (F02)
    _tsv(p("biomarkers.tsv"), [
        "Biomarker", "Gene", "Alteration", "Drug", "Association",
        "PrimaryTumorTypeFullName", "Source", "EvidenceLevel"], [
        (f"{_gene(g)} V{rng.integers(1, 900)}E",
         ";".join(_gene(x) for x in rng.integers(0, n_genes, rng.integers(1, 3))
                  ) if rng.random() > 0.1 else f"{_gene(g)};",
         rng.choice(["MUT", "AMP", "DEL", "FUS"]),
         (f"[Drug{rng.integers(0, 80)}]" if rng.random() < 0.3
          else f"drug{rng.integers(0, 80)} "),
         rng.choice(["Responsive", "Resistant", "Increased Toxicity"]),
         ";".join(f"Tumor {t}" for t in rng.integers(0, 40, rng.integers(1, 3))),
         ";".join(rng.choice([f"PMID:{rng.integers(10**5, 10**7)}",
                              f"NCT{rng.integers(10**6, 10**7)}",
                              "CancerCommons"], rng.integers(1, 3))),
         rng.choice(["A", "B", "C", "D"]))
        for g in rng.integers(0, n_genes, n)
    ])

    # chembl: nested JSON-lines evidence + predictions JSON (F03).  About a
    # fifth of rows are stopped trials, inside the pipeline's 5-50% bound.
    ncts = [f"NCT{k:08d}" for k in rng.choice(10**7, n, replace=False)]
    with open(p("chembl.json"), "w") as fh:
        for k in range(n):
            stopped = rng.random() < 0.2
            url = (f"https://clinicaltrials.gov/ct2/show/{ncts[k]}"
                   if rng.random() < 0.8 else f"https://example.org/x{k}")
            fh.write(json.dumps({
                "targetFromSourceId": f"ENSG{rng.integers(0, n_genes):011d}",
                "diseaseFromSourceMappedId": f"EFO_{rng.integers(0, 500):07d}",
                "drugId": f"CHEMBL{rng.integers(0, 3000)}",
                "clinicalPhase": int(rng.integers(0, 5)),
                "studyStopReason": "Slow accrual" if stopped else None,
                "urls": [{"niceName": "ClinicalTrials" if "clinical" in url
                          else "Other", "url": url}],
            }) + "\n")
    with open(p("chembl_predictions.json"), "w") as fh:
        for k in range(0, n, 2):
            fh.write(json.dumps({"nct_id": ncts[k], "subclasses": sorted(
                rng.choice(["Business_Administrative", "Insufficient_Enrollment",
                            "Safety_Sideeffects", "Negative"], 2,
                           replace=False).tolist())}) + "\n")

    # gene burden: parquet pair with divergent schemas + controls CSV (F04)
    def burden(k):
        pv = np.where(rng.random(k) < 0.02, 0.0, 10.0 ** -rng.uniform(2, 14, k))
        return {
            "Gene": [_gene(g) for g in rng.integers(0, n_genes, k)],
            "Phenotype": [f"trait {t}" for t in rng.integers(0, 60, k)],
            "pValue": pv,
            "CollapsingModel": rng.choice(["ptv", "ptv5pcnt", "syn"], k,
                                          p=[0.45, 0.45, 0.1]).tolist(),
        }
    b = burden(n)
    b["binOddsRatio"] = np.round(rng.uniform(0.2, 6.0, n), 4)
    pq.write_table(pa.table(b), p("burden_binary.parquet"))
    q = burden(n // 2)
    q["beta"] = np.round(rng.normal(0, 0.5, n // 2), 4)
    pq.write_table(pa.table(q), p("burden_quant.parquet"))
    _tsv(p("burden_controls.csv"), ["targetFromSourceId", "statisticalMethod"],
         [(_gene(g), "syn") for g in range(0, n_genes, 7)], sep=",")

    # clingen: headerless CSV behind a 6-line metadata preamble (F05)
    with open(p("clingen.csv"), "w", newline="") as fh:
        fh.write("CLINGEN GENE VALIDITY CURATIONS\nFILE CREATED: 2024-01-01\n"
                 "WEBPAGE: https://search.clinicalgenome.org\n+++++++++++\n"
                 "GENE SYMBOL,GENE ID,DISEASE LABEL,DISEASE ID,MOI,SOP,"
                 "CLASSIFICATION,ONLINE REPORT,CLASSIFICATION DATE,GCEP\n"
                 "++++++++++++\n")
        w = csv.writer(fh, lineterminator="\n")
        for k in range(n // 2):
            w.writerow([f" {_gene(rng.integers(0, n_genes))} ",
                        f"HGNC:{rng.integers(1, 50000)}",
                        f"syndrome {rng.integers(0, 300)}",
                        f"MONDO:{rng.integers(0, 10**7):07d}",
                        rng.choice(["AD", "AR", "XL"]), f"SOP{rng.integers(4, 9)}",
                        rng.choice(["Definitive", "Strong", "Moderate", "Limited"]),
                        f"https://search.clinicalgenome.org/r/{k}",
                        f"20{rng.integers(10, 24)}-0{rng.integers(1, 10)}-1"
                        f"{rng.integers(0, 9)}T16:00:00.000Z",
                        rng.choice(["cardio", "neuro", "renal"])])

    # g2p: several CSV panels with an explicit schema (F06)
    panels = []
    for panel in ("DD", "Eye", "Skin", "Cancer"):
        path = p(f"g2p_{panel}.csv")
        panels.append(path)
        _tsv(path, ["g2p id", "gene symbol", "gene mim", "hgnc id",
                    "disease name", "disease mim", "disease MONDO",
                    "confidence", "variant consequence", "publications",
                    "panel"], [
            (f"G2P{k:05d}", _gene(rng.integers(0, n_genes)),
             int(rng.integers(10**5, 10**6)), int(rng.integers(1, 50000)),
             f"disorder {rng.integers(0, 200)}",
             str(rng.integers(10**5, 10**6)),
             f"MONDO:{rng.integers(0, 10**7):07d}" if rng.random() < 0.7 else "",
             rng.choice(["definitive", "strong", "limited"]),
             ";".join(rng.choice(CONSEQUENCES, rng.integers(1, 3)).tolist()),
             ";".join(str(x) for x in rng.integers(10**5, 10**7,
                                                    rng.integers(0, 3))),
             panel)
            for k in range(n // 4)], sep=",")

    # impc: the 6-input join graph as TSVs (F07)
    n_mice = n_genes
    mgi = [f"MGI:{k}" for k in range(n_mice)]
    _tsv(p("impc_mouse_genes.tsv"), ["targetInModelMgiId", "targetInModel"],
         [(m, f"Mus{k}") for k, m in enumerate(mgi)])
    _tsv(p("impc_gene_map.tsv"), ["gene_id", "hgnc_gene_id"],
         [(m, f"HGNC:{k}") for k, m in enumerate(mgi)] +
         [(mgi[k], f"HGNC:{k + 1}") for k in range(0, n_mice - 1, 25)])
    _tsv(p("impc_human_genes.tsv"), ["hgnc_gene_id", "targetFromSourceId"],
         [(f"HGNC:{k}", f"ENSG{k:011d}") for k in range(n_mice)])
    models, pheno_rows = [], []
    for k in range(n // 2):
        m = mgi[rng.integers(0, n_mice)]
        mid = f"{m}#{rng.choice(['hom', 'het'])}#{rng.choice(['early', 'late'])}"
        models.append((mid, m))
        pheno_rows.append((mid, m, ",".join(
            f"MP:{x:07d} phenotype {x}" for x in rng.integers(0, 900,
                                                              rng.integers(1, 5)))))
    _tsv(p("impc_model_phenotypes.tsv"),
         ["model_id", "marker_id", "model_phenotypes"], pheno_rows)
    _tsv(p("impc_disease_model.tsv"), [
        "model_id", "marker_id", "disease_id", "disease_term",
        "disease_model_avg_norm", "model_description"], [
        (mid, m, f"OMIM:{d}", f"disease {d}",
         round(float(rng.uniform(0, 100)), 3), f"model of {mid}")
        for mid, m in models for d in rng.integers(0, 300, 2)])
    _tsv(p("impc_disease_phenotypes.tsv"), ["disease_id", "disease_phenotypes"],
         [(f"OMIM:{d}", ",".join(f"HP:{x:07d} sign {x}" for x in
                                 rng.integers(0, 700, rng.integers(1, 4))))
          for d in range(0, 300, 2)])

    # essentiality: wide gene-effect matrix + cell-line metadata (F08)
    cells = [f"ACH-{k:06d}" for k in range(max(20, n // 40))]
    genes = [f"{_gene(g)} ({1000 + g})" for g in range(max(40, n // 20))]
    effect = np.round(rng.normal(-0.3, 0.5, (len(cells), len(genes))), 4)
    _tsv(p("depmap_effect.csv"), ["depmapId", *genes], [
        [c, *("" if rng.random() < 0.03 else float(v) for v in row)]
        for c, row in zip(cells, effect)], sep=",")
    _tsv(p("depmap_models.csv"),
         ["depmapId", "cellLineName", "tissueFromSource", "tissueId"],
         [(c, f"cell{k}", TISSUES[k % len(TISSUES)],
           f"UBERON:{k % len(TISSUES):07d}") for k, c in enumerate(cells)],
         sep=",")

    # otar crispr: per-study MAGeCK screens, '|' and '.' separator variants,
    # a control screen and the study table (F10)
    stats = ["score", "p-value", "fdr", "rank", "goodsgrna", "lfc"]
    studies = []
    for s in range(4):
        sep = "|" if s % 2 == 0 else "."
        path = p(f"crispr_{s}.tsv")
        rows = []
        for g in rng.integers(0, n_genes, n // 4):
            for rep in range(2):
                rows.append([f"{_gene(g)}_g{rep}", int(rng.integers(1, 9)),
                             *np.round(rng.uniform(0, 1, 12) ** 2, 6).tolist()])
        _tsv(path, ["id", "num", *[f"{d}{sep}{st}" for d in ("neg", "pos")
                                   for st in stats]], rows)
        studies.append({"studyId": f"S{s}", "projectId": f"OTAR{s:03d}",
                        "diseases": f"EFO:{s:07d}|EFO:{s + 10:07d}",
                        "filterColumn": "pos_fdr", "threshold": 0.05,
                        "replicateNumber": 2, "dataFile": path,
                        "ControlDataset": "ctrl" if s == 0 else ""})
    _tsv(p("crispr_ctrl.tsv"), ["id", "pos|fdr", "pos|score"],
         [(f"{_gene(g)}_c", 0.001, 0.1) for g in range(0, n_genes, 9)])
    _tsv(p("crispr_studies.tsv"), list(studies[0]),
         [list(s.values()) for s in studies])

    # encore: wide replicate z-score matrix, 'GENE1~GENE2' ids (F11)
    zcols = [f"SIDM{c:05d}_CS{r}_zscore" for c in range(6) for r in range(3)]
    z = np.round(rng.normal(0, 1.6, (n // 2, len(zcols))), 4)
    _tsv(p("encore.csv"), ["id", *zcols], [
        [f"{_gene(a)}~{_gene(b)}", *("" if rng.random() < 0.05 else float(v)
                                     for v in row)]
        for a, b, row in zip(rng.integers(0, n_genes, n // 2),
                             rng.integers(0, n_genes, n // 2), z)], sep=",")

    # chemical probes: one-hot probe sets + targets (F14, CSV export)
    n_probes = max(50, n // 4)
    _tsv(p("probes.csv"), ["pdid", "compound_name", "set_a", "set_b", "set_c",
                           "action", "score1", "score2"], [
        (f"pd{k}", f"PROBE-{k}", *rng.integers(0, 2, 3).tolist(),
         "[" + ",".join(f"'{a}'" for a in rng.choice(
             ["inhibitor", "binder", "agonist", "degrader"],
             rng.integers(0, 3), replace=False)) + "]",
         rng.choice(["-", "0", str(rng.integers(1, 100))]),
         rng.choice(["-", "0", str(rng.integers(1, 100))]))
        for k in range(n_probes)], sep=",")
    _tsv(p("probe_targets.csv"), ["pdid", "target", "uniprot"], [
        (f"pd{rng.integers(0, n_probes)}", _gene(g), f"Q{g:05d}")
        for g in rng.integers(0, n_genes, n_probes)], sep=",")

    return {"dir": out, "g2p_panels": panels, "crispr_studies":
            p("crispr_studies.tsv")}
