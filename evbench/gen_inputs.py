#!/usr/bin/env python3
"""Seeded input synthesizer for the evidence benchmark.

Writes one directory of raw source files per evidence pipeline, shaped
like the PipelinesSpec fixtures and FIXTURES.md section B (same column
names, same file formats the reference parsers read), plus a manifest
the benchmark JVM reads:

    <out>/manifest.tsv        pipeline <TAB> input key <TAB> relative path
    <out>/<pipeline>/<key>.<csv|tsv|json|parquet|xml>

Row counts are fixed by --scale; the seed only permutes identifiers and
draws values inside each row's pass/fail class, so every pipeline's
evidence row count is the same for every seed at one scale (the pinned
counts in pins.json rely on this). The edge rows FIXTURES.md asks for
are planted in every input family: null join keys, multi-valued
delimited cells, wide matrices with many dynamic columns, duplicate
evidence keys with distinct scores, p-values spanning 1e-300..0.05 with
exact zeros, and aggregation groups that come out empty.

Usage: python3 gen_inputs.py --seed N --scale S --out DIR [--violate tep]
"""
import argparse
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def sizes(scale):
    """Input row counts. The gene-burden family, ChEMBL and IMPC are the
    large inputs; everything else stays reference-sized."""
    big = lambda n: max(1, int(n * scale))
    return {
        "az": big(120_000), "genebass": big(80_000), "cvdi": big(30_000),
        "chembl": big(40_000), "impc": big(40_000),
        "ess_models": 60, "ess_genes": 120,
        "small": 3_000, "lut": 400,
    }


class Gen:
    def __init__(self, seed, out):
        self.rng = np.random.RandomState(seed)
        self.out = out
        self.manifest = []

    # -- identifier pools: a seeded permutation of a fixed-size pool, so
    #    the number of distinct keys never depends on the seed.
    def pool(self, prefix, n, width=6):
        perm = self.rng.permutation(n)
        return np.array([f"{prefix}{i:0{width}d}" for i in perm], dtype=object)

    def unif(self, lo, hi, n):
        return self.rng.uniform(lo, hi, n)

    def path(self, pipeline, key, ext):
        d = os.path.join(self.out, pipeline)
        os.makedirs(d, exist_ok=True)
        rel = f"{pipeline}/{key}.{ext}"
        self.manifest.append((pipeline, key, rel))
        return os.path.join(self.out, rel)

    def csv(self, pipeline, key, df, sep=","):
        ext = "tsv" if sep == "\t" else "csv"
        df.to_csv(self.path(pipeline, key, ext), sep=sep, index=False)

    def jsonl(self, pipeline, key, records):
        with open(self.path(pipeline, key, "json"), "w") as f:
            for r in records:
                f.write(json.dumps(r, separators=(",", ":")))
                f.write("\n")

    def parquet(self, pipeline, key, df):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       self.path(pipeline, key, "parquet"))

    def text(self, pipeline, key, ext, body):
        with open(self.path(pipeline, key, ext), "w") as f:
            f.write(body)


def build(g, z, violate=None):
    n = z["small"]
    idx = np.arange(n)
    genes = g.pool("GENE", 2_000, 5)

    # clingen: CSV with a timestamp column; a third of the rows carry no
    # MONDO id (null-safe LUT join), some no MOI / no report URL.
    diseases = np.array([f"disease {i}" for i in range(300)], dtype=object)
    mondo = np.array([f"MONDO:{i:07d}" for i in g.rng.permutation(300)], dtype=object)
    d_i = idx % 300
    g.csv("clingen", "raw", pd.DataFrame({
        "GENE SYMBOL": genes[idx % 2_000],
        "DISEASE LABEL": diseases[d_i],
        "DISEASE ID (MONDO)": np.where(d_i % 3 == 0, None, mondo[d_i]),
        "MOI": np.where(idx % 7 == 0, None, "Autosomal dominant"),
        "CLASSIFICATION": np.where(idx % 2 == 0, "Definitive", "Limited"),
        "ONLINE REPORT": np.where(idx % 11 == 0, None,
                                  [f"https://search.clinicalgenome.org/kb/gene-validity/{i}" for i in idx]),
        "CLASSIFICATION DATE": [f"20{10 + i % 12:02d}-{1 + i % 12:02d}-{1 + i % 28:02d} 10:00:00" for i in idx],
    }))
    li = np.arange(z["lut"])
    g.csv("clingen", "efoLut", pd.DataFrame({
        "diseaseFromSource": diseases[li % 300],
        "diseaseFromSourceId": np.where(li % 3 == 0, None, mondo[li % 300]),
        "diseaseFromSourceMappedId": [f"EFO_{i:07d}" for i in li],
    }))

    # slapenrich: half the rows under the 1e-4 cutoff; a pathway LUT that
    # misses every fifth pathway (left join keeps the row, no pathways).
    g.csv("slapenrich", "raw", pd.DataFrame({
        "gene": genes[idx % 2_000],
        "tumor_type": np.array(["BRCA", "LUAD", "COAD", "SKCM"])[idx % 4],
        "pathway": [f"P{i % 200}" for i in idx],
        "SLAPEnrichPval": np.where(idx % 2 == 0, g.unif(1e-9, 9e-5, n), g.unif(2e-4, 0.05, n)),
    }), sep="\t")
    pw = np.array([i for i in range(200) if i % 5], dtype=int)
    g.csv("slapenrich", "pathwayLut", pd.DataFrame({
        "pathway": [f"P{i}" for i in pw],
        "reactomeId": [f"R-HSA-{100 + i}" for i in pw],
        "description": [f"pathway {i}" for i in pw],
    }), sep="\t")

    # gene2phenotype: ';'-separated publications with blanks and repeats.
    g.csv("gene2phenotype", "raw", pd.DataFrame({
        "gene symbol": genes[idx % 2_000],
        "disease name": diseases[idx % 300],
        "confidence": np.array(["definitive", "strong", "limited"])[idx % 3],
        "allelic requirement": np.where(idx % 5 == 0, None, "monoallelic"),
        "publications": np.where(idx % 9 == 0, None,
                                 [f"{100 + i % 50}; {200 + i % 70};{100 + i % 50} " for i in idx]),
        "variant consequence": np.where(idx % 2 == 0, "uncertain;absent gene product", "made-up term"),
    }))

    # gene_burden: AZ PheWAS parquet sized inside the reference's count
    # window shape (a significant slice, exact-zero p-values that the
    # min/2 repair pulls under the cutoff), curated TSV, trait LUT.
    na = z["az"]
    ai = np.arange(na)
    az_genes = g.pool("ENSG", 20_000)
    sig = ai < na * 29 // 200
    pval = np.where(sig, g.unif(1e-300, 1e-8, na) * g.unif(0, 1, na) ** 40,
                    g.unif(1e-4, 0.05, na))
    pval[ai >= na - 20] = 0.0
    g.parquet("gene_burden", "azRaw", pd.DataFrame({
        "Gene": az_genes[ai % 20_000],
        "diseaseFromSource": [f"trait{i % 500}" for i in ai],
        "Type": np.where(ai % 2 == 0, "Quantitative", "Binary"),
        "pValue": pval,
        "beta": g.unif(-1, 1, na),
        "oddsRatio": g.unif(1, 3, na),
    }))
    g.csv("gene_burden", "azTraitLut", pd.DataFrame({
        "diseaseFromSource": [f"trait{i}" for i in range(0, 500, 2)],
        "diseaseFromSourceMappedId": [f"EFO_{i:07d}" for i in g.rng.permutation(250)],
    }), sep="\t")
    g.csv("gene_burden", "curated", pd.DataFrame({
        "targetFromSourceId": az_genes[idx % 20_000],
        "diseaseFromSource": diseases[idx % 300],
        "diseaseFromSourceMappedId": [f"EFO_{i % 300:07d}" for i in idx],
        "projectId": np.array(["Epi25", "Autism", "SCHEMA"])[idx % 3],
        "resourceScore": g.unif(1e-12, 5e-8, n),
        "sex": np.where(idx % 4 == 0, None, "male, female"),
    }), sep="\t")

    # panelapp: JSON lines (string confidence levels); phenotype cells mix
    # OMIM numbers, ontology ids, free text and empty segments.
    ph = ["{Breast cancer susceptibility} 600185;Ovarian cancer, HP:0100615",
          "Some disease MIM# 123456; Another (no OMIM number)",
          "Orphanet:558 Marfan syndrome;MONDO:0007947",
          None]
    g.jsonl("panelapp", "raw", ({
        "gene_symbol": genes[i % 2_000], "panel_name": f"panel {i % 40}",
        "confidence_level": str(1 + i % 3), "phenotypes": ph[i % 4]} for i in idx))

    # essentiality: DepMap-style wide matrix, "SYMBOL (entrez)" columns,
    # missing cells, models absent from the LUT (tissue "other").
    nm, ng = z["ess_models"], z["ess_genes"]
    mat = g.unif(-2.0, 1.0, (nm, ng)).round(6)
    mat[g.rng.uniform(size=(nm, ng)) < 0.05] = np.nan
    wide = pd.DataFrame(mat, columns=[f"SYM{j} ({1000 + j})" for j in range(ng)])
    wide.insert(0, "depmapId", [f"ACH-{i:06d}" for i in range(nm)])
    g.csv("essentiality", "geneEffectWide", wide)
    mi = np.arange(nm - nm // 10)
    g.csv("essentiality", "modelLut", pd.DataFrame({
        "depmapId": [f"ACH-{i:06d}" for i in mi],
        "cellLineName": [f"CL{i}" for i in mi],
        "tissueName": np.array(["Lung", "Skin", "Breast", "Blood"])[mi % 4],
    }))

    # impc: model summary with comma-separated phenotype free text,
    # missing scores (null < cutoff keeps the row out), gene chain LUTs
    # with unmapped genes.
    ni = z["impc"]
    ii = np.arange(ni)
    mgi = g.pool("MGI:", 4_000, 7)
    score = np.where(ii % 4 == 0, g.unif(10, 39, ni), g.unif(60, 100, ni)).round(3)
    score = np.where(ii % 13 == 0, np.nan, score)
    g.csv("impc", "diseaseModelSummary", pd.DataFrame({
        "model_id": [f"m{i % 20_000}" for i in ii],
        "model_phenotypes": [f"MP:{i % 900:07d} increased x,MP:{(i * 7) % 900:07d} weird y" for i in ii],
        "disease_id": [f"OMIM:{i % 3_000}" for i in ii],
        "disease_model_avg_norm": score,
        "targetInModelMgiId": mgi[ii % 4_000],
    }))
    gi = np.arange(3_600)
    g.csv("impc", "mouseGeneMap", pd.DataFrame({
        "gene_id": mgi[gi], "hgnc_gene_id": [f"HGNC:{i}" for i in gi]}))
    g.csv("impc", "humanGeneMap", pd.DataFrame({
        "hgnc_id": [f"HGNC:{i}" for i in gi[: 3_400]],
        "ensembl_gene_id": [f"ENSG{i:011d}" for i in g.rng.permutation(3_400)]}))

    # encore: gene-pair matrix with per-cell-line pval/lfc column pairs.
    ne = n // 3
    ei = np.arange(ne)
    wide = {"id": [f"{genes[i % 2_000]}~{genes[(i * 7 + 1) % 2_000]}" for i in ei]}
    for c in range(6):
        wide[f"SIDM{c}_pval"] = g.unif(1e-8, 0.5, ne)
        wide[f"SIDM{c}_lfc"] = g.unif(-3, 3, ne)
    g.csv("encore", "wide", pd.DataFrame(wide))

    # cancer_biomarkers: gDNA strings, some unparseable; ';'-joined
    # alterations.
    g.csv("cancer_biomarkers", "raw", pd.DataFrame({
        "gene": genes[idx % 2_000],
        "tumorType": np.array(["Melanoma", "CRC", "NSCLC"])[idx % 3],
        "drug": [f"drug{i % 150}" for i in idx],
        "gDNA": [f"chr{1 + i % 22}:g.{140000 + i}A>T" if i % 6 else "not-gdna" for i in idx],
        "alterations": np.where(idx % 2 == 0, "V600E;V600K", "G12D"),
        "alterationTypes": "MUT",
    }), sep="\t")

    # target_safety: two sources sharing (target, event) keys; a third of
    # the rows have no study -> empty studies groups.
    for s in (1, 2):
        g.csv("target_safety", f"source{s}", pd.DataFrame({
            "targetFromSourceId": genes[(idx + s) % 1_500],
            "event": np.array(["cardiotoxicity", "hepatotoxicity", "nephrotoxicity"])[idx % 3],
            "studyType": np.where(idx % 3 == 0, None, np.where(idx % 2 == 0, "clinical", "preclinical")),
            "studyDesc": np.where(idx % 3 == 0, None, [f"study {i % 90}" for i in idx]),
            "datasource": f"src{s}",
        }))

    # baseline_expression: gene x tissue wide matrix; every 17th gene is
    # expressed in one tissue only (zeros elsewhere). An all-zero row has
    # no Gini coefficient and fails the contract's required gini.
    nb = n
    tissues = [f"tissue{t}" for t in range(24)]
    bm = g.unif(0, 60, (nb, len(tissues))).round(4)
    bm[np.arange(nb) % 17 == 0, 1:] = 0.0
    wide = pd.DataFrame(bm, columns=tissues)
    wide.insert(0, "gene_id", [f"ENSG{i:011d}" for i in g.rng.permutation(nb)])
    g.csv("baseline_expression", "wide", wide, sep="\t")

    # chembl: JSON lines with nested url structs; a quarter of the
    # evidence has a stop reason, predictions cover a subset of trials.
    nc = z["chembl"]
    nct = g.rng.permutation(nc)
    stop = ["Trial was stopped", "Low accrual", "Sponsor decision"]
    g.jsonl("chembl", "evidence", ({
        "id": f"e{i}",
        "studyStopReason": stop[i % 3] if i % 4 == 0 else None,
        "urls": [{"niceName": "ClinicalTrials", "url": f"https://clinicaltrials.gov/study/NCT{nct[i]:08d}"}],
    } for i in range(nc)))
    g.jsonl("chembl", "predictions", ({
        "nct_id": f"NCT{nct[i]:08d}",
        "subclasses": ["Safety_Sideeffects", "Covid19"][: 1 + i % 2],
    } for i in range(0, nc, 8)))

    # orphanet: product6 XML, one disorder with 1-2 gene associations,
    # some with an unassessed status (filtered).
    parts = ['<?xml version="1.0"?>\n<JDBOR><DisorderList count="%d">\n' % (n // 2)]
    for d in range(n // 2):
        parts.append(f'<Disorder id="{d}"><OrphaCode>{10 + d}</OrphaCode>'
                     f'<Name lang="en">Disorder {d}</Name>'
                     f'<DisorderType><Name lang="en">Disease</Name></DisorderType>'
                     f'<DisorderGeneAssociationList count="{1 + d % 2}">')
        for a in range(1 + d % 2):
            gsym = genes[(d * 3 + a) % 2_000]
            status = "Assessed" if (d + a) % 5 else "Not yet assessed"
            parts.append(
                f'<DisorderGeneAssociation><SourceOfValidation>{21538838 + d}[PMID]</SourceOfValidation>'
                f'<Gene id="{d * 3 + a}"><Name lang="en">gene {gsym}</Name><Symbol>{gsym}</Symbol>'
                f'<ExternalReferenceList count="1"><ExternalReference><Source>Ensembl</Source>'
                f'<Reference>ENSG{(d * 3 + a):011d}</Reference></ExternalReference></ExternalReferenceList></Gene>'
                f'<DisorderGeneAssociationType><Name lang="en">Disease-causing germline mutation(s) in</Name>'
                f'</DisorderGeneAssociationType><DisorderGeneAssociationStatus><Name lang="en">{status}</Name>'
                f'</DisorderGeneAssociationStatus></DisorderGeneAssociation>')
        parts.append("</DisorderGeneAssociationList></Disorder>\n")
    parts.append("</DisorderList></JDBOR>\n")
    g.text("orphanet", "associations", "xml", "".join(parts))

    # intogen: Bonferroni filter from an in-plan count; cohort LUT.
    g.csv("intogen", "raw", pd.DataFrame({
        "SYMBOL": genes[idx % 2_000],
        "CANCER_TYPE": np.array(["BRCA", "LUAD", "COAD"])[idx % 3],
        "QVALUE_COMBINATION": np.where(idx % 3 == 0, g.unif(1e-12, 1e-7, n), g.unif(0.01, 0.5, n)),
        "SOURCE": np.where(idx % 2 == 0, "PMID:123", "DOI:10.1038/ng.2529"),
        "COHORT": [f"C{i % 30}" for i in idx],
    }), sep="\t")
    g.csv("intogen", "cohorts", pd.DataFrame({
        "COHORT": [f"C{i}" for i in range(30)], "cohortShortName": [f"cohort {i}" for i in range(30)]}), sep="\t")

    # pharmacogenetics: multi-allelic genotype ids (explode, self-filter
    # ref==alt, right join back), LUT with array-valued EFO ids.
    texts = [f"annotation {i}" for i in range(120)]
    g.csv("pharmacogenetics", "raw", pd.DataFrame({
        "genotypeId": [f"{1 + i % 22}_{100000 + i}_G_A,T" if i % 4 else f"{1 + i % 22}_{100000 + i}_C_C"
                       for i in idx],
        "gene": genes[idx % 2_000],
        "drug": [f"drug{i % 150}" for i in idx],
        "genotypeAnnotationText": [texts[i % 150] if i % 150 < 120 else "No effect" for i in idx],
    }), sep="\t")
    g.jsonl("pharmacogenetics", "phenotypeLut", ({
        "genotypeAnnotationText": texts[i], "phenotypeText": f"response {i}",
        "phenotypeEfoIds": [f"EFO_{i:07d}", f"EFO_{i + 500:07d}"][: 1 + i % 2]} for i in range(120)))

    # chemical_probes
    g.csv("chemical_probes", "raw", pd.DataFrame({
        "targetFromSourceId": genes[idx % 2_000],
        "probeName": [f"probe{i}" for i in idx],
        "cellScore": g.unif(0, 100, n).round(2),
        "organismScore": g.unif(0, 100, n).round(2),
        "isPanelMember": idx % 2,
    }))

    # crispr_brain: '|'-structured descriptions, bare titles, LUT gaps.
    g.csv("crispr_brain", "raw", pd.DataFrame({
        "screenId": [f"S{i % 60}" for i in idx],
        "targetFromSourceId": genes[idx % 2_000],
        "resourceScore": g.unif(0, 1, n).round(4),
        "description": [f"Neuron survival screen {i % 60} | experiment: CRISPRi KO | analysis: MAGeCK"
                        if i % 3 else f"Bare title {i % 60}" for i in idx],
    }), sep="\t")
    g.csv("crispr_brain", "diseaseLut", pd.DataFrame({
        "screenId": [f"S{i}" for i in range(0, 60, 2)],
        "diseaseFromSourceMappedId": [f"EFO_{i:07d}" for i in range(0, 60, 2)]}), sep="\t")

    # cvdi_gene_burden: per-mask cutoff column, unparseable "NA" CIs.
    nv = z["cvdi"]
    vi = np.arange(nv)
    g.csv("cvdi_gene_burden", "raw", pd.DataFrame({
        "gene": [f"GENE{i % 3_000}" for i in vi],
        "phenotype": [f"pheno{i % 200}" for i in vi],
        "pValue": np.where(vi < nv * 31 // 600, g.unif(1e-9, 3e-6, nv), 0.5),
        "pCutoff": np.where(vi % 2 == 0, 5e-6, 4e-6),
        "orCi": np.where(vi % 3 == 0, "NA", "1.25 (1.10-1.42)"),
    }))
    g.csv("cvdi_gene_burden", "efoLut", pd.DataFrame({
        "diseaseFromSource": [f"pheno{i}" for i in range(0, 200, 2)],
        "diseaseFromSourceMappedId": [f"EFO_{i:07d}" for i in range(0, 200, 2)]}))

    # project_score: right join keeps passport lines with no cancer type.
    npc = n // 3
    pi = np.arange(npc)
    g.csv("project_score", "cellLines", pd.DataFrame({
        "CANCER_TYPE": np.array(["COAD", "BRCA", "LUAD", "SKCM"])[pi[: npc * 2 // 3] % 4],
        "CMP_ID": [f"SIDM{i:05d}" for i in pi[: npc * 2 // 3]]}))
    g.jsonl("project_score", "passportCellLines", ({
        "id": f"SIDM{i:05d}",
        "diseaseCellLine": {"name": f"CL{i}", "tissue": ["large intestine", "breast", "lung"][i % 3]}}
        for i in pi))

    # tep: '/'-joined gene symbols (two evidence rows from one). The
    # failure self-test plants one symbol with a space, which breaks the
    # contract's URL pattern.
    tep_genes = [f"SLC{i % 900}A/SLC{i % 900}B" if i % 2 else f"BRD{i % 900}" for i in idx]
    if violate == "tep":
        tep_genes[0] = "AB CD"
    g.csv("tep", "raw", pd.DataFrame({
        "Gene": tep_genes,
        "Therapeutic Area": np.array(["Neuro", "Oncology", "Immunology"])[idx % 3],
        "Description": [f"desc {i}" for i in idx],
    }))

    # genebass: parquet, a significant slice under the 6.7e-7 cutoff.
    nb = z["genebass"]
    bi = np.arange(nb)
    gb_genes = g.pool("ENSG", 15_000)
    g.parquet("genebass", "raw", pd.DataFrame({
        "gene_id": gb_genes[bi % 15_000],
        "description": [f"phenotype {i % 800}" for i in bi],
        "Pvalue_Burden": np.where(bi < nb * 91 // 1200, g.unif(1e-12, 6e-7, nb), g.unif(1e-3, 0.9, nb)),
        "BETA_Burden": g.unif(-1, 1, nb),
        "SE_Burden": g.unif(0.005, 0.05, nb),
    }))

    # validation_lab: biomarker status columns (string "0" = not applied).
    g.jsonl("validation_lab", "raw", ({
        "cellLineName": f"CL{i % 200}", "targetFromSourceId": genes[i % 2_000],
        "MS_status": str(i % 2), "KRAS_status": str((i // 2) % 2)} for i in idx))
    g.csv("validation_lab", "biomarkerLut", pd.DataFrame({
        "biomarkerName": ["MS_status", "KRAS_status"],
        "biomarkerValue": ["1", "1"],
        "mappedName": ["MSI", "KRAS_mut"],
        "mappedDescription": ["microsatellite instable", "KRAS mutated"]}).astype(str), sep="\t")

    # sysbio: per-study min-max renormalization.
    g.csv("sysbio", "raw", pd.DataFrame({
        "studyId": [f"S{i % 25}" for i in idx],
        "targetFromSourceId": genes[idx % 2_000],
        "diseaseFromSource": diseases[idx % 300],
        "score": g.unif(0, 100, n).round(3),
    }), sep="\t")

    # crispr_screens: heterogeneous sources sharing only the key.
    g.csv("crispr_screens", "source1", pd.DataFrame({
        "targetFromSourceId": genes[idx % 2_000], "resourceScore": g.unif(0, 1, n).round(4)}))
    g.csv("crispr_screens", "source2", pd.DataFrame({
        "targetFromSourceId": genes[(idx + 7) % 2_000], "comment": [f"note {i % 30}" for i in idx]}))

    # progeny: ', '-joined targets, inner pathway join with misses.
    ctypes = ["BRCA", "LUAD", "COAD", "SKCM", "PRAD"]
    paths = [f"PW{i}" for i in range(14)]
    g.csv("progeny", "raw", pd.DataFrame({
        "Cancer_type": np.array(ctypes)[idx % 5],
        "Pathway": np.array(paths)[idx % 14],
        "target": [f"{genes[i % 2_000]}, {genes[(i + 3) % 2_000]}" for i in idx],
        "P.Value": g.unif(1e-9, 1e-3, n),
    }), sep="\t")
    g.csv("progeny", "diseaseLut", pd.DataFrame({
        "Cancer_type": ctypes[:4], "EFO_id": [f"EFO_{i:07d}" for i in range(4)]}), sep="\t")
    g.csv("progeny", "pathwayLut", pd.DataFrame({
        "Pathway": paths[:12], "reactomeId": [f"R-HSA-{i}" for i in range(12)],
        "description": [f"Signaling by {p}" for p in paths[:12]]}), sep="\t")

    # ot_crispr: two replicates, control genes removed by left-anti join.
    for r in (1, 2):
        g.csv("ot_crispr", f"rep{r}", pd.DataFrame({
            "targetFromSourceId": genes[idx % 2_000],
            "resourceScore": np.where(idx % 2 == 0, g.unif(1e-5, 0.04, n), g.unif(0.06, 1, n)),
            "log2FoldChangeValue": g.unif(-3, 0, n).round(4),
        }))
    g.csv("ot_crispr", "controls", pd.DataFrame({"targetFromSourceId": genes[:50]}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--violate", choices=["tep"], help="plant one contract-violating row")
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    g = Gen(a.seed, tmp)
    build(g, sizes(a.scale), a.violate)
    with open(os.path.join(tmp, "manifest.tsv"), "w") as f:
        for row in g.manifest:
            f.write("\t".join(row) + "\n")
    os.replace(tmp, a.out)
    print(f"[gen] seed={a.seed} scale={a.scale} files={len(g.manifest)} -> {a.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
