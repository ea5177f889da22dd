"""The ``release`` workload: every reference-parser pipeline in one Runner.

Each pipeline is registered with the Spark output schema it must produce and
a JSON Schema for its evidence strings, and reads its fixture through
``sources.readers`` in the native format.  ``g2p`` maps its diseases through
``enrich.CachedEnricher`` with a deterministic local lookup, so the first
pass of a process calls the lookup for every key and later passes hit the
cache.  ``span(layer, name)`` is the caller's span context manager, opened
around reads, pipeline builds and the enrichment.
"""

from __future__ import annotations

import csv
import hashlib

from evidence_datasource_parsers_spark.enrich import CachedEnricher
from evidence_datasource_parsers_spark.pipelines.biomarkers_like import (
    biomarkers_evidence,
)
from evidence_datasource_parsers_spark.pipelines.chembl_like import (
    chembl_evidence,
)
from evidence_datasource_parsers_spark.pipelines.clingen_like import (
    clingen_evidence,
    read_clingen_csv,
)
from evidence_datasource_parsers_spark.pipelines.encore_like import (
    encore_evidence,
)
from evidence_datasource_parsers_spark.pipelines.essentiality_like import (
    essentiality_evidence,
)
from evidence_datasource_parsers_spark.pipelines.g2p_like import (
    g2p_evidence,
    read_panels,
)
from evidence_datasource_parsers_spark.pipelines.gene_burden import (
    gene_burden_evidence,
    shape_binary_source,
    shape_quant_source,
)
from evidence_datasource_parsers_spark.pipelines.impc_like import (
    impc_evidence,
    mouse_phenotypes_dataset,
)
from evidence_datasource_parsers_spark.pipelines.otar_crispr_like import (
    otar_crispr_evidence,
)
from evidence_datasource_parsers_spark.pipelines.probes_like import (
    probes_evidence,
)
from evidence_datasource_parsers_spark.pipelines.slapenrich import (
    slapenrich_evidence,
)
from evidence_datasource_parsers_spark.runner import Runner
from evidence_datasource_parsers_spark.sources.readers import (
    read_csv,
    read_json,
    read_parquet,
)

STR = {"type": "string", "minLength": 1}
NUM = {"type": "number"}
INT = {"type": "integer"}
STRS = {"type": "array", "items": STR}
ENSG = {"type": "string", "pattern": "^ENSG[0-9]{11}$"}
GENE = {"type": "string", "pattern": "^GENE[0-9]{5}$"}
PHENOS = {"type": "array", "minItems": 1, "items": {
    "type": "object", "required": ["phenotype_id", "phenotype_term"],
    "properties": {"phenotype_id": {"type": "string", "pattern": "^(MP|HP):"},
                   "phenotype_term": STR}}}


def _obj(required: dict, optional: dict | None = None) -> dict:
    return {"type": "object", "required": sorted(required),
            "properties": {**required, **(optional or {})}}


def _ds(name: str) -> dict:
    return {"type": "string", "const": name}


#: name → (Spark output schema DDL, JSON Schema of one evidence string)
CONTRACTS: dict[str, tuple[str, dict]] = {
    "slapenrich": (
        "datasourceId string, datatypeId string, targetFromSourceId string,"
        " diseaseFromSource string, diseaseFromSourceMappedId string,"
        " resourceScore double,"
        " pathways array<struct<id:string,name:string>>",
        _obj({"datasourceId": _ds("slapenrich"), "targetFromSourceId": GENE,
              "diseaseFromSourceMappedId": {"type": "string",
                                            "pattern": "^EFO:"},
              "resourceScore": {"type": "number", "minimum": 0,
                                "exclusiveMaximum": 1e-4},
              "pathways": {"type": "array", "minItems": 1, "items": _obj(
                  {"id": {"type": "string", "pattern": "^R-HSA-"},
                   "name": STR})}})),
    "biomarkers": (
        "targetFromSourceId string, diseaseFromSource string,"
        " drugName string, EvidenceLevel string, Association string,"
        " biomarkers array<struct<name:string,alteration:string>>,"
        " literature array<string>, datasourceId string",
        _obj({"datasourceId": _ds("cancer_biomarkers"),
              "targetFromSourceId": GENE, "diseaseFromSource": STR,
              "drugName": STR,
              "Association": {"enum": ["responsive", "resistant",
                                       "increased_toxicity"]},
              "biomarkers": {"type": "array", "minItems": 1, "items": _obj(
                  {"name": STR, "alteration": STR})}},
             {"literature": {"type": "array", "minItems": 1,
                             "items": {"type": "string",
                                       "pattern": "^[0-9]+$"}}})),
    "chembl": (
        "targetFromSourceId string, diseaseFromSourceMappedId string,"
        " drugId string, clinicalPhase bigint, studyStopReason string,"
        " urls array<struct<niceName:string,url:string>>,"
        " studyStopReasonCategories array<string>",
        _obj({"targetFromSourceId": ENSG, "drugId": STR,
              "clinicalPhase": {"type": "integer", "minimum": 0,
                                "maximum": 4},
              "urls": {"type": "array", "minItems": 1}},
             {"studyStopReasonCategories": STRS})),
    "gene_burden": (
        "targetFromSourceId string, statisticalMethod string,"
        " diseaseFromSource string, pValue double, oddsRatio double,"
        " traitType string, beta double, pValueMantissa double,"
        " pValueExponent int",
        _obj({"targetFromSourceId": GENE, "diseaseFromSource": STR,
              "pValue": {"type": "number", "exclusiveMinimum": 0,
                         "maximum": 1e-7},
              "statisticalMethod": {"enum": ["ptv", "ptv5pcnt", "syn"]},
              "pValueMantissa": NUM, "pValueExponent": INT},
             {"oddsRatio": NUM, "beta": NUM})),
    "clingen": (
        "datasourceId string, datatypeId string, targetFromSourceId string,"
        " diseaseFromSource string, diseaseFromSourceId string,"
        " allelicRequirements array<string>,"
        " confidence struct<classification:string,date:string>,"
        " urls array<struct<niceName:string,url:string>>",
        _obj({"datasourceId": _ds("clingen"), "targetFromSourceId": GENE,
              "diseaseFromSourceId": {"type": "string",
                                      "pattern": "^MONDO:"},
              "allelicRequirements": STRS,
              "confidence": _obj({"classification": STR, "date": {
                  "type": "string",
                  "pattern": "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"}})})),
    "g2p": (
        "datasourceId string, targetFromSourceId string,"
        " diseaseFromSource string, diseaseFromSourceId string,"
        " confidence string, variantFunctionalConsequence string,"
        " literature array<string>, studyId string,"
        " diseaseFromSourceMappedId string",
        _obj({"datasourceId": _ds("gene2phenotype"),
              "targetFromSourceId": GENE,
              "diseaseFromSourceId": {"type": "string",
                                      "pattern": "^(MONDO|OMIM):"},
              "variantFunctionalConsequence": {"enum": [
                  "absent gene product", "altered gene product structure",
                  "decreased gene product level",
                  "increased gene product level", "uncertain"]},
              "studyId": STR},
             {"literature": STRS,
              "diseaseFromSourceMappedId": {"type": "string",
                                            "pattern": "^EFO_"}})),
    "impc": (
        "datasourceId string, datatypeId string, targetFromSourceId string,"
        " targetInModel string, targetInModelMgiId string,"
        " diseaseFromSource string, diseaseFromSourceId string,"
        " biologicalModelId string, biologicalModelAllelicComposition string,"
        " resourceScore double,"
        " diseaseModelAssociatedModelPhenotypes"
        " array<struct<phenotype_id:string,phenotype_term:string>>,"
        " diseaseModelAssociatedHumanPhenotypes"
        " array<struct<phenotype_id:string,phenotype_term:string>>",
        _obj({"datasourceId": _ds("impc"), "targetFromSourceId": ENSG,
              "biologicalModelAllelicComposition": {"enum": ["hom", "het"]},
              "diseaseFromSourceId": {"type": "string",
                                      "pattern": "^OMIM:"},
              "resourceScore": {"type": "number", "minimum": 0,
                                "maximum": 100}},
             {"diseaseModelAssociatedModelPhenotypes": PHENOS,
              "diseaseModelAssociatedHumanPhenotypes": PHENOS})),
    "mouse_phenotypes": (
        "targetFromSourceId string,"
        " modelPhenotypes array<struct<phenotype_id:string,"
        "phenotype_term:string>>, nModels bigint",
        _obj({"targetFromSourceId": ENSG, "modelPhenotypes": PHENOS,
              "nModels": {"type": "integer", "minimum": 1}})),
    "essentiality": (
        "targetSymbol string,"
        " tissues array<struct<tissueFromSource:string,tissueId:string>>,"
        " depMapEssentiality array<struct<tissueFromSource:string,"
        "tissueId:string,screens:array<struct<depmapId:string,"
        "cellLineName:string,geneEffect:double,isEssential:boolean>>>>",
        _obj({"targetSymbol": GENE, "tissues": {"type": "array",
                                                "minItems": 1},
              "depMapEssentiality": {"type": "array", "minItems": 1,
                                     "items": _obj({
                                         "tissueId": STR,
                                         "screens": {"type": "array",
                                                     "minItems": 1}})}})),
    "otar_crispr": (
        "datasourceId string, studyId string, projectId string,"
        " diseases array<string>, targetFromSourceId string,"
        " replicateStats array<double>, n_replicates bigint",
        _obj({"datasourceId": _ds("ot_crispr"),
              "projectId": {"type": "string", "pattern": "^OTAR"},
              "targetFromSourceId": GENE, "diseases": STRS,
              "replicateStats": {"type": "array", "minItems": 2,
                                 "maxItems": 2},
              "n_replicates": {"const": 2}})),
    "encore": (
        "datasourceId string, targetFromSourceId string,"
        " interactingTargetFromSourceId string, cell_line string,"
        " resourceScore double, pValue double, n_replicates bigint",
        _obj({"datasourceId": _ds("encore"), "targetFromSourceId": GENE,
              "interactingTargetFromSourceId": GENE, "cell_line": STR,
              "pValue": {"type": "number", "minimum": 0,
                         "exclusiveMaximum": 0.05},
              "n_replicates": {"type": "integer", "minimum": 1}})),
    "chemical_probes": (
        "target string, uniprot string,"
        " probes array<struct<probe:string,probesets:array<string>,"
        "score1:int,score2:int>>, datasourceId string",
        _obj({"datasourceId": _ds("chemical_probes"), "target": GENE,
              "uniprot": STR, "probes": {"type": "array", "minItems": 1,
                                         "items": _obj({"probe": STR})}})),
}


def disease_lookup(parts: tuple) -> list[dict]:
    """Deterministic stand-in for an ontology-mapping service: about one key
    in ten has no mapping and one in twenty maps to two terms."""
    v = int(hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()[:8], 16)
    if v % 10 == 0:
        return []
    hits = [{"diseaseFromSourceMappedId": f"EFO_{v % 10**7:07d}"}]
    if v % 20 == 1:
        hits.append({"diseaseFromSourceMappedId": f"EFO_{v % 10**6:07d}"})
    return hits


def header_schema(path: str, sep: str, types=None) -> str:
    """Explicit read schema from a file's header line (header-driven column
    discovery, as the wide-matrix parsers do): ``types(index, name)`` gives
    each column's type, string by default.  One driver-side line read
    instead of a Spark schema-inference job."""
    with open(path, newline="") as fh:
        cols = next(csv.reader(fh, delimiter=sep))
    return ", ".join(f"`{c}` {types(i, c) if types else 'string'}"
                     for i, c in enumerate(cols))


def first_string_then_double(i: int, name: str) -> str:
    return "string" if i == 0 else "double"


def screen_types(i: int, name: str) -> str:
    return {"id": "string", "num": "int"}.get(name, "double")


def build_runner(span) -> tuple[Runner, CachedEnricher]:
    enricher = CachedEnricher(disease_lookup, ["diseaseFromSourceMappedId"])

    def tsv(spark, path, types=None, **kw):
        return csv_(spark, path, types, sep="\t", **kw)

    def csv_(spark, path, types=None, sep=",", **kw):
        with span("sources", "read"):
            if "schema" not in kw and not kw.get("infer_schema"):
                kw["schema"] = header_schema(path, sep, types)
            return read_csv(spark, path, sep=sep, **kw)

    def slapenrich(spark, c):
        d = c["dir"]
        return slapenrich_evidence(
            tsv(spark, f"{d}/slapenrich.tsv", infer_schema=True),
            tsv(spark, f"{d}/cancer2efo.tsv"))

    def biomarkers(spark, c):
        return biomarkers_evidence(
            tsv(spark, f"{c['dir']}/biomarkers.tsv"),
            {"Responsive": "responsive", "Resistant": "resistant",
             "Increased Toxicity": "increased_toxicity"})

    def chembl(spark, c):
        with span("sources", "read"):
            ev = read_json(spark, f"{c['dir']}/chembl.json", schema=(
                "targetFromSourceId string, diseaseFromSourceMappedId string,"
                " drugId string, clinicalPhase bigint, studyStopReason string,"
                " urls array<struct<niceName:string,url:string>>"))
            pred = read_json(spark, f"{c['dir']}/chembl_predictions.json",
                             schema="nct_id string, subclasses array<string>")
        return chembl_evidence(ev, pred)

    def gene_burden(spark, c):
        d = c["dir"]
        with span("sources", "read"):
            binary = read_parquet(spark, f"{d}/burden_binary.parquet")
            quant = read_parquet(spark, f"{d}/burden_quant.parquet")
        return gene_burden_evidence(
            [shape_binary_source(binary), shape_quant_source(quant)],
            control_models=csv_(spark, f"{d}/burden_controls.csv"))

    def clingen(spark, c):
        with span("sources", "read"):
            raw = read_clingen_csv(spark, f"{c['dir']}/clingen.csv")
        return clingen_evidence(raw)

    def g2p(spark, c):
        with span("sources", "read"):
            panels = read_panels(spark, c["g2p_panels"])
        ev = g2p_evidence(panels)
        with span("enrich", "join_back"):
            return enricher(ev, ["diseaseFromSource", "diseaseFromSourceId"])

    def impc_inputs(spark, d):
        return {k: tsv(spark, f"{d}/impc_{k}.tsv", **kw) for k, kw in (
            ("disease_model", {"schema": (
                "model_id string, marker_id string, disease_id string,"
                " disease_term string, disease_model_avg_norm double,"
                " model_description string")}),
            ("mouse_genes", {}), ("gene_map", {}), ("human_genes", {}),
            ("model_phenotypes", {}), ("disease_phenotypes", {}))}

    def impc(spark, c):
        i = impc_inputs(spark, c["dir"])
        return impc_evidence(i["disease_model"], i["mouse_genes"],
                             i["gene_map"], i["human_genes"],
                             i["model_phenotypes"], i["disease_phenotypes"])

    def mouse_phenotypes(spark, c):
        i = impc_inputs(spark, c["dir"])
        return mouse_phenotypes_dataset(i["mouse_genes"], i["gene_map"],
                                        i["human_genes"],
                                        i["model_phenotypes"])

    def essentiality(spark, c):
        d = c["dir"]
        return essentiality_evidence(
            csv_(spark, f"{d}/depmap_effect.csv", first_string_then_double),
            csv_(spark, f"{d}/depmap_models.csv"))

    def otar_crispr(spark, c):
        with open(c["crispr_studies"]) as fh:
            studies = [
                {**s, "threshold": float(s["threshold"]),
                 "replicateNumber": int(s["replicateNumber"])}
                for s in csv.DictReader(fh, delimiter="\t")]
        screens = {s["studyId"]: tsv(spark, s["dataFile"], screen_types)
                   for s in studies}
        control = tsv(spark, f"{c['dir']}/crispr_ctrl.tsv",
                      first_string_then_double)
        return otar_crispr_evidence(studies, screens, {"ctrl": control})

    def encore(spark, c):
        return encore_evidence(
            csv_(spark, f"{c['dir']}/encore.csv", first_string_then_double))

    def chemical_probes(spark, c):
        d = c["dir"]
        probes = csv_(spark, f"{d}/probes.csv", schema=(
            "pdid string, compound_name string, set_a int, set_b int,"
            " set_c int, action string, score1 string, score2 string"))
        return probes_evidence(
            probes, {"set_a": "SetA", "set_b": "SetB", "set_c": "SetC"},
            csv_(spark, f"{d}/probe_targets.csv"), ["score1", "score2"])

    builds = {
        "slapenrich": slapenrich, "biomarkers": biomarkers, "chembl": chembl,
        "gene_burden": gene_burden, "clingen": clingen, "g2p": g2p,
        "impc": impc, "mouse_phenotypes": mouse_phenotypes,
        "essentiality": essentiality, "otar_crispr": otar_crispr,
        "encore": encore, "chemical_probes": chemical_probes,
    }

    def timed_build(name, fn):
        def build(spark, config):
            with span("pipelines", name):
                return fn(spark, config)
        return build

    runner = Runner()
    for name, fn in builds.items():
        ddl, schema = CONTRACTS[name]
        runner.register(name, timed_build(name, fn), output_schema=ddl,
                        json_schema=schema)
    return runner, enricher

