"""Seeded multi-center GENIE upload generator.

Writes the uploads of two nightly sweeps in the layout ``cmd_nightly``
reads (``<sweep>/<CENTER>/<upload files>``), an oncotree JSON for the
release, and the row counts the program must produce.  Pure Python and
single-threaded; the same seed gives byte-identical files.

Sweep 1 is every center's first upload.  Sweep 2 re-sends the files of
the ``amended`` center: its clinical files change (amended values plus
one new sample), its BED and MAF files are byte-identical, and a patient
retraction file arrives.

Every release filter removes a stated share of the input:

* ``no_panel``   samples whose SEQ_ASSAY_ID has no BED file
* ``retracted``  samples whose patient is named in patientRetraction.csv
* ``cis``        samples carrying an adjacent-variant (mutation-in-cis)
                 pair
* ``deprecated`` samples whose ONCOTREE_CODE is not in the oncotree
* ``germline``   MAF rows with a gnomAD allele frequency above 0.0005
                 (the release keeps these today; see ``_expected``)
* ``off_panel``  MAF rows outside every padded BED interval of the
                 sample's panel

Usage: python3 perfbench/genie_gen.py <out_dir> <seed>
"""

from __future__ import annotations

import json
import os
import random
import sys

# The fixed input shape.  Sizes are skewed: ALPHA holds two thirds of
# the samples; BETA re-sends its files in sweep 2, the clinical pair
# amended, with a patient retraction file.  Every center uploads a
# clinical pair, a BED panel and a MAF.
SHAPE = {
    "centers": [("ALPHA", 120), ("BETA", 60)],
    "amended": "BETA",
    "variants_per_sample": 5,
}

# share of samples (or MAF rows) each release filter removes
SAMPLE_FILTER_SHARE = {"no_panel": 0.04, "deprecated": 0.04, "cis": 0.04, "retracted": 0.04}
ROW_FILTER_SHARE = {"germline": 0.08, "off_panel": 0.08}
# share of the amended center's clinical samples changed in sweep 2
AMEND_SHARE = 0.1

GENES = [
    ("TP53", "17"), ("EGFR", "7"), ("KRAS", "12"), ("PIK3CA", "3"),
    ("BRAF", "7"), ("PTEN", "10"), ("APC", "5"), ("NRAS", "1"),
    ("IDH1", "2"), ("ERBB2", "17"), ("CDKN2A", "9"), ("ARID1A", "1"),
]
GENE_SPAN = 1000
PAD = 10
# a sample's variants sit on distinct slots SLOT bp apart, so no two of
# them form an adjacent (mutation-in-cis) pair by accident
SLOT = 20
SLOTS = (GENE_SPAN - 2 * PAD) // SLOT - 1
ONCOTREE = {
    "BREAST": [("BRCA", "Breast Cancer"), ("IDC", "Breast Cancer")],
    "LUNG": [("LUAD", "Non-Small Cell Lung Cancer"), ("LUSC", "Non-Small Cell Lung Cancer")],
    "BOWEL": [("COAD", "Colorectal Cancer"), ("READ", "Colorectal Cancer")],
    "SKIN": [("SKCM", "Melanoma")],
}
CODES = [code for kids in ONCOTREE.values() for code, _ in kids]
DEPRECATED_CODE = "OLDCODE"
BASES = "ACGT"
SAMPLE_COLS = ["SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE",
               "SAMPLE_TYPE", "SEQ_ASSAY_ID", "SAMPLE_CLASS"]
PATIENT_COLS = ["PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY", "BIRTH_YEAR",
                "YEAR_CONTACT", "INT_CONTACT", "DEAD", "YEAR_DEATH", "INT_DOD",
                "CENTER"]
MAF_COLS = ["Chromosome", "Start_Position", "End_Position", "Reference_Allele",
            "Tumor_Seq_Allele2", "Tumor_Sample_Barcode", "Hugo_Symbol",
            "t_alt_count", "t_ref_count", "t_depth", "gnomAD_AFR_AF"]


def _gene_start(g: int) -> int:
    return 100_000 + g * 50_000


def _slot_pos(g: int, slot: int) -> int:
    return _gene_start(g) + PAD + SLOT * (slot + 1)


def _write(path: str, text: str) -> None:
    with open(path, "w", newline="\n") as f:
        f.write(text)


def _tsv(header: list[str], rows: list[list]) -> str:
    return "\t".join(header) + "\n" + "".join(
        "\t".join(str(v) for v in r) + "\n" for r in rows
    )


class _Center:
    """One center's generated samples, patients and MAF rows."""

    def __init__(self, rng: random.Random, idx: int, name: str, n: int,
                 variants: int):
        self.name = name
        self.panel = f"{name}-PANEL-1"
        # each center's panel covers 9 of the 12 genes, a different subset
        self.genes = [(idx * 3 + k) % len(GENES) for k in range(9)]
        self.samples: list[dict] = []
        self.patients: list[dict] = []
        self.maf: list[dict] = []
        self.slots: dict[str, set] = {}
        for p in range(n):
            pid = f"GENIE-{name}-{p + 1}"
            self.patients.append({
                "PATIENT_ID": pid, "SEX": rng.choice((1, 2)),
                "PRIMARY_RACE": rng.choice((1, 2, 3, 4)),
                "ETHNICITY": rng.choice((1, 2)),
                "BIRTH_YEAR": rng.randint(1940, 1990),
                "YEAR_CONTACT": rng.randint(2015, 2020),
                "INT_CONTACT": rng.randint(15000, 25000), "DEAD": "False",
                "YEAR_DEATH": "Not Applicable", "INT_DOD": "Not Applicable",
                "CENTER": name,
            })
            cfdna = rng.random() < 0.1
            self.samples.append({
                "SAMPLE_ID": f"{pid}-1", "PATIENT_ID": pid,
                "AGE_AT_SEQ_REPORT": rng.randint(15000, 30000),
                "ONCOTREE_CODE": rng.choice(CODES),
                "SAMPLE_TYPE": 8 if cfdna else 1,
                "SEQ_ASSAY_ID": self.panel,
                "SAMPLE_CLASS": "cfDNA" if cfdna else "Tumor",
            })
        for s in self.samples:
            for _ in range(variants):
                self.add_variant(rng, s["SAMPLE_ID"])

    def add_variant(self, rng: random.Random, sid: str, cls: str = "kept",
                    offset: int = 0, like: dict | None = None) -> dict:
        """Append one SNV on a free slot of the sample (or ``offset`` bp
        after ``like``'s position, copying its allele counts)."""
        if like is None:
            used = self.slots.setdefault(sid, set())
            g, slot = rng.choice(self.genes), rng.randrange(SLOTS)
            while (g, slot) in used:
                g, slot = rng.choice(self.genes), rng.randrange(SLOTS)
            used.add((g, slot))
            pos = _slot_pos(g, slot)
            depth = rng.randint(50, 500)
            alt_n = rng.randint(5, depth // 2)
            chrom, symbol = GENES[g][1], GENES[g][0]
        else:
            pos = like["Start_Position"] + offset
            depth, alt_n = like["t_depth"], like["t_alt_count"]
            chrom, symbol = like["Chromosome"], like["Hugo_Symbol"]
        ref = rng.choice(BASES)
        row = {
            "Chromosome": chrom, "Start_Position": pos, "End_Position": pos,
            "Reference_Allele": ref,
            "Tumor_Seq_Allele2": rng.choice(BASES.replace(ref, "")),
            "Tumor_Sample_Barcode": sid, "Hugo_Symbol": symbol,
            "t_alt_count": alt_n, "t_ref_count": depth - alt_n,
            "t_depth": depth, "gnomAD_AFR_AF": 0.0, "_class": cls,
        }
        self.maf.append(row)
        return row


def _pick(rng: random.Random, items: list, share: float, taken: set) -> list:
    """Pick ``round(share * len)`` (at least one) items not yet taken."""
    free = [i for i in range(len(items)) if i not in taken]
    k = min(len(free), max(1, round(share * len(items))))
    picked = sorted(rng.sample(free, k))
    taken.update(picked)
    return [items[i] for i in picked]


def generate(out_dir: str, seed: int) -> dict:
    """Write both sweeps' uploads under ``out_dir`` and return the
    manifest: sweep directories, the oncotree path, one record per
    ``cmd_ingest`` batch, and the row counts the program must produce."""
    rng = random.Random(seed)
    centers = [
        _Center(rng, i, name, n, SHAPE["variants_per_sample"])
        for i, (name, n) in enumerate(SHAPE["centers"])
    ]
    amended = next(c for c in centers if c.name == SHAPE["amended"])

    removed: dict[str, set] = {k: set() for k in SAMPLE_FILTER_SHARE}
    for c in centers:
        taken: set = set()
        for key, share in SAMPLE_FILTER_SHARE.items():
            if key == "retracted" and c is not amended:
                continue
            for s in _pick(rng, c.samples, share, taken):
                removed[key].add(s["SAMPLE_ID"])
                if key == "no_panel":
                    s["SEQ_ASSAY_ID"] = f"{c.name}-PANEL-9"
                elif key == "deprecated":
                    s["ONCOTREE_CODE"] = DEPRECATED_CODE
        taken = set()
        for r in _pick(rng, c.maf, ROW_FILTER_SHARE["germline"], taken):
            r["gnomAD_AFR_AF"] = 0.01
            r["_class"] = "germline"
        for r in _pick(rng, c.maf, ROW_FILTER_SHARE["off_panel"], taken):
            r["Start_Position"] += 10 * GENE_SPAN
            r["End_Position"] = r["Start_Position"]
            r["_class"] = "off_panel"
        for s in c.samples:
            if s["SAMPLE_ID"] in removed["cis"]:
                # two SNVs 3 bp apart with the same allele counts
                first = c.add_variant(rng, s["SAMPLE_ID"], "cis")
                c.add_variant(rng, s["SAMPLE_ID"], "cis", offset=3, like=first)
    retract_patients = sorted(sid.rsplit("-", 1)[0] for sid in removed["retracted"])

    sweeps = [os.path.join(out_dir, "sweep1"), os.path.join(out_dir, "sweep2")]
    batches: list[list[dict]] = [[], []]
    for i, root in enumerate(sweeps):
        for c in centers if i == 0 else [amended]:
            d = os.path.join(root, c.name)
            os.makedirs(d)
            if i == 0:
                changed = {"clinical": len(c.samples), "maf": len(c.maf)}
                retractions = None
            else:
                changed, retractions = _amend(rng, c), retract_patients
            batches[i].extend(_write_center(d, c, changed, retractions))
    onco_path = os.path.join(out_dir, "oncotree.json")
    _write(onco_path, json.dumps(_oncotree_json(), sort_keys=True))
    return {
        "seed": seed,
        "sweeps": sweeps,
        "sweep_centers": [[c.name for c in centers], [amended.name]],
        "oncotree_json": onco_path,
        "upload_bytes": sum(_tree_bytes(s) for s in sweeps),
        "batches": batches,
        "expected": _expected(centers, removed, batches),
        "removed_samples": {k: len(v) for k, v in sorted(removed.items())},
    }


def _amend(rng: random.Random, c: _Center) -> dict:
    """Sweep-2 amendments: change a non-key value of a share of the
    clinical samples and add one new sample (without variants, so the
    MAF file stays byte-identical).  Returns changed rows by table."""
    n_s = max(1, round(AMEND_SHARE * len(c.samples)))
    for s in rng.sample(c.samples, n_s):
        s["AGE_AT_SEQ_REPORT"] += 365
    pid = f"GENIE-{c.name}-{len(c.patients) + 1}"
    c.patients.append({**c.patients[0], "PATIENT_ID": pid})
    c.samples.append({
        "SAMPLE_ID": f"{pid}-1", "PATIENT_ID": pid, "AGE_AT_SEQ_REPORT": 20000,
        "ONCOTREE_CODE": CODES[0], "SAMPLE_TYPE": 1, "SEQ_ASSAY_ID": c.panel,
        "SAMPLE_CLASS": "Tumor",
    })
    return {"clinical": n_s + 1, "maf": 0}


def _batch(paths: list[str], table: str, rows: int, changed: int) -> dict:
    return {"files": sorted(os.path.basename(p) for p in paths), "table": table,
            "center": os.path.basename(os.path.dirname(paths[0])),
            "rows": rows, "changed": changed}


def _write_center(d: str, c: _Center, changed: dict,
                  retract_patients: list | None) -> list[dict]:
    """Write one center's uploads; returns one record per ``cmd_ingest``
    batch, in the order ``cmd_nightly`` sends them.  ``changed`` counts
    the clinical and MAF rows that differ from what the warehouse holds;
    the other files are new on sweep 1 and unchanged on sweep 2."""
    n = c.name
    first = retract_patients is None
    out = []
    sp = os.path.join(d, f"data_clinical_supp_sample_{n}.txt")
    pp = os.path.join(d, f"data_clinical_supp_patient_{n}.txt")
    _write(sp, _tsv(SAMPLE_COLS, [[s[k] for k in SAMPLE_COLS] for s in c.samples]))
    _write(pp, _tsv(PATIENT_COLS, [[p[k] for k in PATIENT_COLS] for p in c.patients]))
    clinical = _batch([pp, sp], "clinical", len(c.samples), changed["clinical"])
    maf = os.path.join(d, f"data_mutations_extended_{n}.txt")
    _write(maf, _tsv(MAF_COLS, [[r[k] for k in MAF_COLS] for r in c.maf]))
    out.append(_batch([maf], "maf", len(c.maf), changed["maf"]))
    bed = os.path.join(d, f"{c.panel}.bed")
    _write(bed, "".join(
        f"{GENES[g][1]}\t{_gene_start(g)}\t{_gene_start(g) + GENE_SPAN}\t{GENES[g][0]}\tTrue\n"
        for g in c.genes
    ))
    out.append(_batch([bed], "bed", len(c.genes), len(c.genes) if first else 0))
    if retract_patients is not None:
        path = os.path.join(d, "patientRetraction.csv")
        _write(path, "".join(f"{p}\n" for p in retract_patients))
        out.append(_batch([path], "patientRetraction", len(retract_patients),
                          len(retract_patients)))
    # cmd_nightly sends the clinical pair first, then each file by name
    return [clinical, *sorted(out, key=lambda b: b["files"][0])]


def _oncotree_json() -> dict:
    children = {}
    for primary, kids in ONCOTREE.items():
        children[primary] = {
            "level": 1, "mainType": kids[0][1], "name": primary.title(),
            "children": {
                code: {"level": 2, "mainType": main, "name": f"{code} detailed",
                       "children": {}}
                for code, main in kids
            },
        }
    return {"TISSUE": {"children": children}}


def _expected(centers: list[_Center], removed: dict, batches: list) -> dict:
    """Row counts after both sweeps: each bronze table (retractions
    cascaded into clinical) and the consortium release's clinical and
    MAF data rows."""
    # every table is keyed, so each center's latest upload is its content
    latest = {(b["table"], b["center"]): b["rows"] for sweep in batches for b in sweep}
    bronze: dict[str, int] = {}
    for (table, _), rows in latest.items():
        bronze[table] = bronze.get(table, 0) + rows
    bronze["clinical"] -= len(removed["retracted"])
    gone = set().union(*removed.values())
    # Germline rows are released: the MAF reader upper-cases every
    # header (GNOMAD_AFR_AF) and the release's germline filter looks
    # its gnomAD columns up by their mixed-case names, so it finds none.
    released = ("kept", "germline")
    release = {
        "clinical": sum(
            1 for c in centers for s in c.samples if s["SAMPLE_ID"] not in gone
        ),
        "maf": sum(
            1 for c in centers for r in c.maf
            if r["_class"] in released and r["Tumor_Sample_Barcode"] not in gone
        ),
    }
    return {"bronze": dict(sorted(bronze.items())), "release": release}


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2])), indent=1, sort_keys=True))
