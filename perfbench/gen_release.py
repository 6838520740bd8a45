"""Seeded, ClinVar-shaped VCV release generator for the benchmark.

``make_release(out_dir, seed, n_records)`` writes, under ``out_dir``:

- ``R0.xml``: a VariationArchive release of ``n_records`` records;
- ``R1.xml``: R0 with known churn (changed, new and removed simple
  records), the next night's release;
- ``genes.parquet``: the genes dim (some release genes are missing);
- ``aux/*.parquet``: orthologs, ont_terms, ont_synonyms, concept_omim
  and an empty existing_annotations table, the --annotate inputs;
- ``manifest.json``: the ground truth the benchmark checks the
  incremental run's counters against.

The input properties the pipeline's behaviour depends on are varied on
purpose: gene choice is Zipf-skewed over a pool with some genes absent
from the dim; ClinicalAssertion counts per record are heavy-tailed (the
notes/trait/submitter collections and the byte-trim UDF); condition
names hit the tier-1 (term name), tier-2 (MedGen alias), tier-3 (exact
synonym) and concept (MedGen x gene -> OMIM) matchers, the HP track, and
no term at all; multi-allele, genotype, haplotype, non-current and
non-human records all occur.

The same seed gives byte-identical files. Pure Python plus pyarrow: no
Spark session is needed to generate.
"""

from __future__ import annotations

import json
import os
import random
from xml.sax.saxutils import escape, quoteattr

import pyarrow as pa
import pyarrow.parquet as pq

HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<ClinVarVariationRelease ReleaseDate="2026-01-01">\n'
)
TRAILER = "</ClinVarVariationRelease>\n"

N_GENES = 400
GENE_MISSING_EVERY = 10  # every 10th pool gene is absent from genes.parquet
N_RDO = 300
N_HP = 120
N_SUBMITTERS = 150
N_CUIS = 200

# churn shares of R0's simple records; removals stay well under the 5%
# annotation and 8% xdb stale-delete guards so neither breaker trips
CHURN_CHANGED = 0.03
CHURN_NEW = 0.02
CHURN_REMOVED = 0.015

KIND_WEIGHTS = [
    ("simple", 0.93),
    ("multi_allele", 0.03),
    ("genotype", 0.02),
    ("haplotype", 0.02),
]
VARIANT_TYPES = [
    ("single nucleotide variant", 0.55),
    ("Deletion", 0.15),
    ("Duplication", 0.08),
    ("Insertion", 0.06),
    ("Indel", 0.06),
    ("copy number gain", 0.04),
    ("Variation", 0.06),
]
CLASSIFICATIONS = [
    ("Pathogenic", 0.35),
    ("Likely pathogenic", 0.2),
    ("Benign", 0.12),
    ("Likely benign", 0.08),
    ("Uncertain significance", 0.15),
    ("not provided", 0.05),
    ("risk factor", 0.05),
]
REVIEW_STATUSES = [
    "criteria provided, single submitter",
    "no assertion criteria provided",
    "criteria provided, multiple submitters, no conflicts",
    "reviewed by expert panel",
]
METHOD_TYPES = ["clinical testing", "literature only", "research", "curation"]
CONSEQUENCES = [
    ("missense variant", "SO:0001583"),
    ("frameshift variant", "SO:0001589"),
    ("synonymous variant", "SO:0001819"),
    ("stop gained", "SO:0001587"),
]
# condition classes, by the matcher path each one exercises
CONDITION_CLASSES = [
    ("tier1", 0.30),
    ("tier2", 0.12),
    ("tier3", 0.12),
    ("concept", 0.08),
    ("hp", 0.10),
    ("unmatched", 0.18),
    ("not_provided", 0.10),
]
BASES = "ACGT"
# severity rank of the emitted classifications (the QC merge's order)
CLINSIG_RANK = {
    "pathogenic": 0,
    "likely pathogenic": 10,
    "risk factor": 20,
    "benign": 40,
    "likely benign": 50,
    "uncertain significance": 90,
    "not provided": 2000,
}
BASE_SEED = 0


def _pick(rng: random.Random, weighted):
    x = rng.random()
    acc = 0.0
    for value, w in weighted:
        acc += w
        if x < acc:
            return value
    return weighted[-1][0]


def _zipf_index(rng: random.Random, n: int, s: float = 1.1) -> int:
    """Index in [0, n) with P(i) ~ 1/(i+1)^s, by inverse-CDF on a
    cached table (Zipf-skewed gene choice)."""
    table = _ZIPF_CDF.get((n, s))
    if table is None:
        w = [1.0 / (i + 1) ** s for i in range(n)]
        tot = sum(w)
        acc, table = 0.0, []
        for x in w:
            acc += x / tot
            table.append(acc)
        _ZIPF_CDF[(n, s)] = table
    x = rng.random()
    lo, hi = 0, n - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if table[mid] < x:
            lo = mid + 1
        else:
            hi = mid
    return lo


_ZIPF_CDF: dict = {}


def rdo_name(i: int) -> str:
    return f"Hereditary disorder type {i}"


def rdo_synonym(i: int) -> str:
    return f"Inherited condition variant {i}"


def hp_name(i: int) -> str:
    return f"Abnormal phenotype feature {i}"


def gene_symbol(i: int) -> str:
    return f"GENE{i}"


def _assertion(rng: random.Random, seq: int, classes: list) -> str:
    sub = _zipf_index(rng, N_SUBMITTERS, 0.9)
    cls = _pick(rng, CLASSIFICATIONS)
    classes.append(cls.lower())
    date = f"20{10 + rng.randrange(15):02d}-{1 + rng.randrange(12):02d}-{1 + rng.randrange(28):02d}"
    pmid = 10000000 + rng.randrange(20000000)
    comment = (
        f"Observation {seq} by lab {sub}: "
        + " ".join(rng.choice(("segregates", "de novo", "in trans", "heterozygous",
                               "homozygous", "functional assay", "case report",
                               "population frequency low", "family history"))
                   for _ in range(6 + rng.randrange(10)))
    )
    return (
        "      <ClinicalAssertion>\n"
        f'        <ClinVarAccession SubmitterName="Laboratory {sub}" OrgAbbreviation="L{sub}"/>\n'
        f'        <Classification DateLastEvaluated="{date}">\n'
        f"          <ReviewStatus>{rng.choice(REVIEW_STATUSES)}</ReviewStatus>\n"
        f"          <GermlineClassification>{cls}</GermlineClassification>\n"
        f'          <Citation><ID Source="PubMed">{pmid}</ID></Citation>\n'
        "        </Classification>\n"
        f"        <ObservedInList><ObservedIn><Method><MethodType>{rng.choice(METHOD_TYPES)}"
        "</MethodType></Method></ObservedIn></ObservedInList>\n"
        f"        <Comment>{escape(comment)}</Comment>\n"
        "      </ClinicalAssertion>\n"
    )


def _n_assertions(rng: random.Random) -> int:
    # heavy-tailed: most records carry 1-3 submissions, a few carry
    # dozens (those overflow the 4000-byte notes budget and hit the trim)
    return min(60, int(rng.paretovariate(1.2)))


def _condition(rng: random.Random) -> tuple[str, str, str, str]:
    """Return (class, condition name, MedGen CUI, MedGen name)."""
    cls = _pick(rng, CONDITION_CLASSES)
    cui = f"C{1000000 + rng.randrange(N_CUIS)}"
    if cls == "tier1":
        name = rdo_name(rng.randrange(N_RDO))
        return cls, name, cui, name
    if cls == "tier2":
        # the condition text matches nothing; its MedGen name (the
        # variant alias) is a term name
        return cls, f"Clinical presentation {rng.randrange(5000)}", cui, rdo_name(rng.randrange(N_RDO))
    if cls == "tier3":
        name = rdo_synonym(rng.randrange(N_RDO // 2))
        return cls, name, cui, name
    if cls == "concept":
        # concept_omim maps the first N_CUIS//4 CUIs x every dim gene
        cui = f"C{1000000 + rng.randrange(N_CUIS // 4)}"
        return cls, f"Syndromic presentation {rng.randrange(5000)}", cui, "unassigned"
    if cls == "hp":
        name = hp_name(rng.randrange(N_HP))
        return cls, name, cui, name
    if cls == "unmatched":
        suffix = " response" if rng.random() < 0.2 else ""
        name = f"Unmapped disorder {rng.randrange(3000)}{suffix}"
        return cls, name, cui, name
    return cls, "not provided", "None", "not provided"


def _simple_allele(rng: random.Random, vid: int, aid: int, name_suffix: str = "") -> str:
    vtype = _pick(rng, VARIANT_TYPES)
    r = rng.random()
    genes = []
    if r < 0.8:
        genes = [_zipf_index(rng, N_GENES)]
    elif r < 0.9:
        genes = [_zipf_index(rng, N_GENES), _zipf_index(rng, N_GENES)]
    chrom = str(1 + rng.randrange(22))
    pos = 10000 + rng.randrange(100_000_000)
    if vtype == "single nucleotide variant":
        ref = rng.choice(BASES)
        alt = rng.choice([b for b in BASES if b != ref])
        stop = pos
    else:
        ref = "".join(rng.choice(BASES) for _ in range(2 + rng.randrange(6)))
        alt = ref[0]
        stop = pos + len(ref) - 1
    sym = gene_symbol(genes[0]) if genes else "intergenic"
    mc, so = rng.choice(CONSEQUENCES)
    gene_xml = "".join(
        f'        <Gene Symbol="{gene_symbol(g)}" GeneID="{1000 + g}" HGNC_ID="HGNC:{5000 + g}"/>\n'
        for g in genes
    )
    xrefs = f'        <XRef DB="dbSNP" ID="{100000 + aid}" Type="rs"/>\n'
    if rng.random() < 0.3:
        xrefs += f'        <XRef DB="OMIM" ID="{600000 + rng.randrange(9000)}.{1 + rng.randrange(20):04d}" Type="Allelic variant"/>\n'
    return (
        f'    <SimpleAllele AlleleID="{aid}" VariationID="{vid}">\n'
        f"      <Name>NM_{100000 + aid}.1({sym}):c.{pos % 5000}{ref}&gt;{alt}{name_suffix}</Name>\n"
        f"      <VariantType>{vtype}</VariantType>\n"
        + (f"      <GeneList>\n{gene_xml}      </GeneList>\n" if genes else "")
        + "      <Location>\n"
        f"        <CytogeneticLocation>{chrom}p{1 + rng.randrange(30)}.{1 + rng.randrange(3)}</CytogeneticLocation>\n"
        f'        <SequenceLocation Assembly="GRCh38" Accession="NC_0000{chrom}.1" Chr="{chrom}" start="{pos}" stop="{stop}" referenceAlleleVCF="{ref}" alternateAlleleVCF="{alt}"/>\n'
        f'        <SequenceLocation Assembly="GRCh37" Accession="NC_0000{chrom}.0" Chr="{chrom}" start="{pos + 7}" stop="{stop + 7}" referenceAlleleVCF="{ref}" alternateAlleleVCF="{alt}"/>\n'
        "      </Location>\n"
        "      <HGVSlist>\n"
        f'        <HGVS Type="coding"><NucleotideExpression><Expression>NM_{100000 + aid}.1:c.{pos % 5000}{ref}&gt;{alt}</Expression></NucleotideExpression>\n'
        f'          <MolecularConsequence Type="{mc}" ID="{so}"/></HGVS>\n'
        "      </HGVSlist>\n"
        f"      <XRefList>\n{xrefs}      </XRefList>\n"
        "    </SimpleAllele>\n"
    )


def _record(rng: random.Random, vid: int, kind: str, name_suffix: str = "") -> tuple[str, list]:
    """One VariationArchive and its (lower-cased) classifications.
    ``vid`` keys every id in the record (VCV accession, allele id, RCV
    accessions), so ids never collide."""
    status = "current" if rng.random() < 0.97 else "replaced"
    species = "Homo sapiens" if rng.random() < 0.995 else "Mus musculus"
    head = (
        f'<VariationArchive Accession="VCV{vid:09d}" VariationID="{vid}" RecordType="classified">\n'
        f"  <RecordStatus>{status}</RecordStatus>\n"
        f"  <Species>{species}</Species>\n"
        "  <ClassifiedRecord>\n"
    )
    aid = 2 * vid
    if kind == "multi_allele":
        body = _simple_allele(rng, vid, aid) + _simple_allele(rng, vid, aid + 1)
    elif kind == "genotype":
        body = (
            f'    <Genotype VariationID="{vid}">\n'
            + _simple_allele(rng, vid, aid)
            + "    </Genotype>\n"
        )
    elif kind == "haplotype":
        body = (
            f'    <Haplotype VariationID="{vid}">\n'
            + _simple_allele(rng, vid, aid)
            + "    </Haplotype>\n"
        )
    else:
        body = _simple_allele(rng, vid, aid, name_suffix)
    _cls, cond, cui, medgen_name = _condition(rng)
    rcvs = (
        f'    <RCVList>\n      <RCVAccession Accession="RCV{vid:09d}">\n'
        f"        <ClassifiedConditionList><ClassifiedCondition>{escape(cond)}"
        "</ClassifiedCondition></ClassifiedConditionList>\n"
        "      </RCVAccession>\n"
    )
    if rng.random() < 0.2:
        rcvs += f'      <RCVAccession Accession="RCV{vid + 500_000_000:09d}"/>\n'
    rcvs += "    </RCVList>\n"
    n_as = _n_assertions(rng)
    classes: list = []
    asserts = "".join(_assertion(rng, i, classes) for i in range(n_as))
    traits = (
        "    <TraitMappingList>\n"
        f"      <TraitMapping MappingRef=\"Preferred\" MappingValue={quoteattr(cond)}>\n"
        f"        <MedGen CUI=\"{cui}\" Name={quoteattr(medgen_name)}/>\n"
        "      </TraitMapping>\n"
        "    </TraitMappingList>\n"
    )
    return (
        head
        + body
        + rcvs
        + f"    <ClinicalAssertionList>\n{asserts}    </ClinicalAssertionList>\n"
        + traits
        + "  </ClassifiedRecord>\n</VariationArchive>\n"
    ), classes


def reordered_on_reload(classes: list) -> bool:
    """Whether a matched, otherwise unchanged record reads as a variant
    UPDATE: the first load stores the clinical-significance set sorted
    alphabetically, the QC merge of every later load sorts it by
    severity rank, so a multi-valued set whose two orders differ
    changes once."""
    values = sorted(set(classes))
    return values != sorted(values, key=lambda v: (CLINSIG_RANK[v], v))


def _write_table(path: str, columns: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(columns, schema=schema), path)


def _write_dims(out_dir: str) -> dict:
    aux = os.path.join(out_dir, "aux")
    os.makedirs(aux, exist_ok=True)
    in_dim = [g for g in range(N_GENES) if g % GENE_MISSING_EVERY != GENE_MISSING_EVERY - 1]
    _write_table(
        os.path.join(out_dir, "genes.parquet"),
        {
            "gene_rgd_id": [100000 + g for g in in_dim],
            "gene_id": [str(1000 + g) for g in in_dim],
            "symbol": [gene_symbol(g) for g in in_dim],
        },
        pa.schema([("gene_rgd_id", pa.int64()), ("gene_id", pa.string()), ("symbol", pa.string())]),
    )
    # rat/mouse homologs for most dim genes, plus non-searchable species
    orth = [(100000 + g, 900000 + g, 3 if g % 3 else 4) for g in in_dim if g % 5]
    _write_table(
        os.path.join(aux, "orthologs.parquet"),
        {
            "gene_rgd_id": [o[0] for o in orth],
            "homolog_rgd_id": [o[1] for o in orth],
            "homolog_species_type_key": [o[2] for o in orth],
        },
        pa.schema([
            ("gene_rgd_id", pa.int64()),
            ("homolog_rgd_id", pa.int64()),
            ("homolog_species_type_key", pa.int32()),
        ]),
    )
    terms = [(f"RDO:{i:07d}", "RDO", rdo_name(i), i % 50 == 49) for i in range(N_RDO)]
    terms += [(f"HP:{i:07d}", "HP", hp_name(i), False) for i in range(N_HP)]
    _write_table(
        os.path.join(aux, "ont_terms.parquet"),
        {
            "acc_id": [t[0] for t in terms],
            "ontology_id": [t[1] for t in terms],
            "term": [t[2] for t in terms],
            "is_obsolete": [t[3] for t in terms],
        },
        pa.schema([
            ("acc_id", pa.string()), ("ontology_id", pa.string()),
            ("term", pa.string()), ("is_obsolete", pa.bool_()),
        ]),
    )
    syns = [(f"RDO:{i:07d}", rdo_synonym(i), "exact") for i in range(N_RDO // 2)]
    syns += [(f"RDO:{i:07d}", f"OMIM:{700000 + i}", "exact") for i in range(0, N_RDO, 3)]
    syns += [(f"RDO:{i:07d}", f"Related disorder {i}", "broad") for i in range(0, N_RDO, 7)]
    _write_table(
        os.path.join(aux, "ont_synonyms.parquet"),
        {
            "term_acc": [s[0] for s in syns],
            "name": [s[1] for s in syns],
            "type": [s[2] for s in syns],
        },
        pa.schema([("term_acc", pa.string()), ("name", pa.string()), ("type", pa.string())]),
    )
    co = [
        (f"C{1000000 + c}", 100000 + g, str(700000 + 3 * ((c + g) % (N_RDO // 3))))
        for c in range(N_CUIS // 4)
        for g in in_dim[:40]
    ]
    _write_table(
        os.path.join(aux, "concept_omim.parquet"),
        {
            "cui": [x[0] for x in co],
            "gene_rgd_id": [x[1] for x in co],
            "omim_id": [x[2] for x in co],
        },
        pa.schema([("cui", pa.string()), ("gene_rgd_id", pa.int64()), ("omim_id", pa.string())]),
    )
    write_annotations(os.path.join(aux, "existing_annotations.parquet"), [])
    return {"genes_in_dim": len(in_dim), "genes_in_pool": N_GENES}


ANNOTATIONS_SCHEMA = pa.schema([
    ("annotated_object_rgd_id", pa.int64()),
    ("term_acc", pa.string()),
    ("aspect", pa.string()),
    ("evidence", pa.string()),
    ("with_info", pa.string()),
    ("xref_source", pa.string()),
    ("notes", pa.string()),
])


def write_annotations(path: str, rows: list) -> None:
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(ANNOTATIONS_SCHEMA)}
    _write_table(path, cols, ANNOTATIONS_SCHEMA)


def make_release(out_dir: str, seed: int, n_records: int, base_seed: int = BASE_SEED) -> dict:
    """Write R0, R1, the dims and the manifest; return the manifest.

    R0 and the dims depend on ``base_seed`` and ``n_records`` only, so
    one bootstrapped snapshot of R0 serves every ``seed``; ``seed``
    picks R1's churn and writes its new records."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(base_seed)
    kinds = [_pick(rng, KIND_WEIGHTS) for _ in range(n_records)]

    # one sub-generator per record so a record's text depends only on
    # (its seed, vid, revision), never on its neighbours
    def record(s: int, vid: int, kind: str, suffix: str = "") -> tuple[str, list]:
        return _record(random.Random(f"{s}:{vid}"), vid, kind, suffix)

    vids = list(range(1, n_records + 1))
    simple = [v for v, k in zip(vids, kinds) if k == "simple"]
    churn = random.Random(f"{seed}:churn")
    picked = churn.sample(simple, int(len(simple) * (CHURN_CHANGED + CHURN_REMOVED)))
    n_removed = int(len(simple) * CHURN_REMOVED)
    removed, changed = set(picked[:n_removed]), set(picked[n_removed:])
    n_new = int(len(simple) * CHURN_NEW)
    new_vids = list(range(n_records + 1, n_records + 1 + n_new))

    r0 = os.path.join(out_dir, "R0.xml")
    r1 = os.path.join(out_dir, "R1.xml")
    reordered = 0
    with open(r0, "w", encoding="utf-8") as f0, open(r1, "w", encoding="utf-8") as f1:
        f0.write(HEADER)
        f1.write(HEADER)
        for vid, kind in zip(vids, kinds):
            rec, classes = record(base_seed, vid, kind)
            f0.write(rec)
            if vid in removed:
                continue
            if vid in changed:
                # a changed record keeps its ids (it matches by RCV) but
                # carries a revised name: one variant UPDATE each
                f1.write(record(base_seed, vid, kind, " revised")[0])
            else:
                f1.write(rec)
                reordered += kind == "simple" and reordered_on_reload(classes)
        for vid in new_vids:
            f1.write(record(seed, vid, "simple")[0])
        f0.write(TRAILER)
        f1.write(TRAILER)

    r1_kinds = {k: 0 for k, _ in KIND_WEIGHTS}
    for vid, kind in zip(vids, kinds):
        if vid not in removed:
            r1_kinds[kind] += 1
    r1_kinds["simple"] += n_new
    updates = len(changed) + reordered
    counters = {f"RECORDS_{k.upper()}": n for k, n in r1_kinds.items() if n}
    counters.update({
        "VARIANTS_INSERT": n_new,
        "VARIANTS_UPDATE": updates,
        "VARIANTS_DELETE": len(removed),
        "VARIANTS_UNCHANGED": len(simple) - len(removed) - updates,
    })
    manifest = {
        "seed": seed,
        "base_seed": base_seed,
        "r0_records": n_records,
        "r1_records": sum(r1_kinds.values()),
        "r0_bytes": os.path.getsize(r0),
        "r1_bytes": os.path.getsize(r1),
        "r0_simple": len(simple),
        "churn": {"changed": len(changed), "reordered": reordered,
                  "new": n_new, "removed": len(removed)},
        "load_counters": counters,
        **_write_dims(out_dir),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
