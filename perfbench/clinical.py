"""Seeded generator for a clinical drop zone in the reference's real format.

One call writes two variants of the same drop zone plus the two config
files the pipeline reads:

- ``A``: every generated patient;
- ``B``: ``A`` minus every 100th patient, removed from every file (the
  "alternative" drop-zone shape of the reference's e2e data set).

Format features the sources2csr parser must handle, all present:

- ``sources_config.json`` without ``id_attribute``, with strptime date
  formats, a top-level ``codebooks`` map and per-file delimiters;
- an ``ontology_config.json`` that binds every concept the tranSMART
  stage emits (``transmart.OBS_ATTRS``);
- codebooks in the record format with ``\\r`` line ends, including a
  quoted label that holds a comma;
- a ``.sha1`` sidecar beside every file, carrying the file name after
  the digest;
- TSV and CSV sources, quoted CSV fields holding commas, ``ddMMMyyyy``
  and ``dd/MM/yyyy H:mm:ss`` dates;
- several sources for ``birth_date``, ``gender`` and ``death_date`` (the
  first listed source wins), and one or two diagnoses per patient.

The generator also returns the row counts the pipeline must produce,
computed from the values it wrote. The same seed and size give
byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
          "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]

#: every patient whose 1-based index is a multiple of this is absent
#: from variant B
DROPPED_EVERY = 100

RDP_SEX = {"M": "male", "V": "female"}
STUDY_SEX = {"1": "male", "2": "female", "9": "unknown"}
CONSENT = {"1": "yes", "2": "no"}
HOSPITALS = {"200": "AMC", "201": "UMCG", "205": "LUMC", "210": "Erasmus MC",
             "217": "UMCU", "220": "Radboudumc"}
TUMOR_TYPES = {"80000": "Neoplasm, benign", "80003": "Neoplasm, malignant",
               "95913": "Malignant lymphoma, non-Hodgkin",
               "89603": "Nephroblastoma", "94703": "Medulloblastoma",
               "95003": "Neuroblastoma"}
TOPOGRAPHY = ["C64.9", "C71.6", "C74.9", "C40.2", "C22.0", "C49.4"]
STAGES = ["I", "II", "III", "IV"]
IC_TYPES = ["expliciete toestemming", "geen bezwaar", "geen toestemming"]
TISSUES = ["kidney", "brain", "liver", "bone marrow", "blood"]
STUDIES = [
    ("PMCST0001", "NEPHRO", "Nephroblastoma, long-term follow-up",
     "Registry study, all centres"),
    ("PMCST0002", "NEURO", "Neuroblastoma biology, imaging and outcome",
     "Prospective cohort, single arm"),
]

HEADERS = {
    "clinic/RDP-Patient.tsv":
        ["INDIVIDUAL_ID", "Gebdat", "Geslacht", "Overleden", "Overldat"],
    "clinic/RDP-IC.tsv":
        ["INDIVIDUAL_ID", "00004_Toestemmingsstatus",
         "00007_Datum toestemming", "00010_Datum geen toestemming",
         "00012_Datum einde deelname"],
    "studies/individual.csv":
        ["MARK:", "ID", "IDAA", "INDIVIDUAL_ID", "SEX", "IFCDATR",
         "IFCGIV", "IFCMAT", "IFCCOM", "DTOB"],
    "studies/diagnosis.csv":
        ["MARK:", "ID", "IDAA", "INDIVIDUAL_ID", "CIDDIAG", "HOSPDIAG",
         "DIAGCD", "PLOCCD", "DIAGGRSTX", "IDAABA"],
    "studies/death.csv":
        ["MARK:", "ID", "IDAA", "INDIVIDUAL_ID", "STATUSA", "IDAABB",
         "DTDEATH"],
    "studies/study.csv":
        ["STUDY_ID", "acronym", "title", "description", "datadictionary"],
    "studies/individual_study.csv":
        ["STUDY_ID_INDIVIDUAL_STUDY_ID", "STUDY_ID", "INDIVIDUAL_ID",
         "INDIVIDUAL_STUDY_ID"],
    "laboratory/biosource.tsv":
        ["biosource_id", "biosource_dedicated", "tissue", "biosource_date",
         "disease_status", "individual_id", "diagnosis_id",
         "src_biosource_id", "tumor_percentage", "label", "description"],
}

CODEBOOKS = {
    "clinic/RDP-Patient.tsv": "clinic/RDP-Patient_codebook.tsv",
    "studies/individual.csv": "studies/individual_codebook.tsv",
    "studies/death.csv": "studies/individual_codebook.tsv",
    "studies/diagnosis.csv": "studies/diagnosis_codebook.tsv",
}


def _src(file: str, column: str, date_format: str | None = None) -> dict:
    s = {"file": file, "column": column}
    if date_format:
        s["date_format"] = date_format
    return s


DMY_HMS = "%d/%m/%Y %H:%M:%S"
DMY = "%d/%m/%Y"
DBY = "%d%b%Y"
RDP, RIC, IND, DIA, DTH = ("clinic/RDP-Patient.tsv", "clinic/RDP-IC.tsv",
                           "studies/individual.csv",
                           "studies/diagnosis.csv", "studies/death.csv")
STU, IST, BIO = ("studies/study.csv", "studies/individual_study.csv",
                 "laboratory/biosource.tsv")


def sources_config() -> dict:
    """The sources config in the reference's real on-disk format."""
    def attr(name, *sources):
        return {"name": name, "sources": list(sources)}

    entities = {
        "Individual": {"attributes": [
            attr("individual_id", _src(RDP, "INDIVIDUAL_ID"),
                 _src(IND, "INDIVIDUAL_ID"), _src(RIC, "INDIVIDUAL_ID"),
                 _src(DTH, "INDIVIDUAL_ID")),
            attr("birth_date", _src(RDP, "Gebdat", DBY),
                 _src(IND, "DTOB", DMY_HMS)),
            attr("gender", _src(RDP, "Geslacht"), _src(IND, "SEX")),
            attr("death_date", _src(RDP, "Overldat", DBY),
                 _src(DTH, "DTDEATH", DMY_HMS)),
            attr("ic_type", _src(RIC, "00004_Toestemmingsstatus")),
            attr("ic_given_date", _src(RIC, "00007_Datum toestemming", DMY)),
            attr("ic_withdrawn_date",
                 _src(RIC, "00010_Datum geen toestemming", DMY)),
            attr("report_her_susc", _src(IND, "IFCCOM", DMY_HMS)),
        ]},
        "Diagnosis": {"attributes": [
            attr("diagnosis_id", _src(DIA, "CIDDIAG")),
            attr("individual_id", _src(DIA, "INDIVIDUAL_ID")),
            attr("tumor_type", _src(DIA, "DIAGCD")),
            attr("topography", _src(DIA, "PLOCCD")),
            attr("tumor_stage", _src(DIA, "DIAGGRSTX")),
            attr("diagnosis_date", _src(DIA, "IDAABA", DMY_HMS)),
            attr("diagnosis_center", _src(DIA, "HOSPDIAG")),
        ]},
        "Biosource": {"attributes": [
            attr("biosource_id", _src(BIO, "biosource_id")),
            attr("individual_id", _src(BIO, "individual_id")),
            attr("diagnosis_id", _src(BIO, "diagnosis_id")),
            attr("tissue", _src(BIO, "tissue")),
            attr("biosource_date", _src(BIO, "biosource_date", DMY)),
            attr("disease_status", _src(BIO, "disease_status")),
            attr("tumor_percentage", _src(BIO, "tumor_percentage")),
        ]},
        "Study": {"attributes": [
            attr("study_id", _src(STU, "STUDY_ID")),
            attr("acronym", _src(STU, "acronym")),
            attr("title", _src(STU, "title")),
            attr("description", _src(STU, "description")),
        ]},
        "IndividualStudy": {"attributes": [
            attr("study_id_individual_study_id",
                 _src(IST, "STUDY_ID_INDIVIDUAL_STUDY_ID")),
            attr("individual_study_id", _src(IST, "INDIVIDUAL_STUDY_ID")),
            attr("individual_id", _src(IST, "INDIVIDUAL_ID")),
            attr("study_id", _src(IST, "STUDY_ID")),
        ]},
    }
    file_format = {f: {"delimiter": "," if f.endswith(".csv") else "\t"}
                   for f in HEADERS}
    return {"entities": entities, "codebooks": dict(CODEBOOKS),
            "file_format": file_format}


def ontology_config() -> dict:
    """A two-folder ontology whose leaves bind every emitted concept."""
    from pmc_conversion_spark.plans.transmart import OBS_ATTRS
    folders = []
    for i, (entity, (_, _, attrs)) in enumerate(OBS_ATTRS.items(), start=1):
        leaves = [{"name": f"{j:02d}. {a.replace('_', ' ')}",
                   "concept_code": f"{entity}.{a}"}
                  for j, a in enumerate(attrs, start=1)]
        folders.append({"name": f"{i:02d}. {entity}", "children": leaves})
    return {"nodes": folders}


# ----------------------------------------------------------- formatting

def _dby(y: int, m: int, d: int) -> str:
    return f"{d:02d}{MONTHS[m - 1]}{y}"


def _dmy(y: int, m: int, d: int) -> str:
    return f"{d:02d}/{m:02d}/{y}"


def _dmy_hms(y: int, m: int, d: int, hour: int) -> str:
    return f"{d:02d}/{m:02d}/{y} {hour}:00:00"


def _csv_field(v: str) -> str:
    return '"' + v.replace('"', '""') + '"'


def _csv_line(values: list[str]) -> str:
    return ",".join(_csv_field(v) for v in values) + "\n"


def _tsv_line(values: list[str]) -> str:
    return "\t".join(values) + "\n"


def _codebook(groups: list[tuple[list[str], dict[str, str]]]) -> str:
    """Record format: group line, then code/label pairs on one line,
    ``\\r`` line ends, comma-bearing labels quoted."""
    out = []
    for n, (cols, mapping) in enumerate(groups, start=1):
        out.append(f"{n}\t{' '.join(cols)}\t\t\r")
        pairs = []
        for code, label in mapping.items():
            pairs += [code, _csv_field(label) if "," in label else label]
        out.append("\t" + "\t".join(pairs) + "\r")
    return "".join(out)


def _date(rng: random.Random, y0: int, y1: int) -> tuple[int, int, int]:
    return rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28)


# ------------------------------------------------------------ generation

def _patients(seed: int, n: int) -> list[dict]:
    """Per-patient source values; None = the source has no row."""
    rng = random.Random(seed)
    pats = []
    dia_no = bio_no = 0
    for i in range(1, n + 1):
        birth = _date(rng, 1990, 2015)
        sex = rng.choice(["1", "2", "9"])
        p = {"i": i, "id": f"PAT{i}", "birth": birth, "sex": sex}
        # RDP-Patient: 90% of patients; wins birth_date and gender
        if rng.random() < 0.9:
            rdp_birth = birth if rng.random() < 0.8 else _date(rng, 1990, 2015)
            dead = rng.random() < 0.08
            p["rdp"] = {"birth": rdp_birth,
                        "sex": "M" if sex == "1" else "V",
                        "dead": dead,
                        "death": _date(rng, 2016, 2023) if dead else None}
        else:
            p["rdp"] = None
        p["death_csv"] = (_date(rng, 2016, 2023) if rng.random() < 0.1
                          else None)
        if rng.random() < 0.8:
            withdrawn = rng.random() < 0.1
            p["ic"] = {"type": rng.choice(IC_TYPES),
                       "given": (_date(rng, 2016, 2020)
                                 if rng.random() < 0.9 else None),
                       "withdrawn": (_date(rng, 2020, 2023)
                                     if withdrawn else None),
                       "end": (_date(rng, 2021, 2023)
                               if rng.random() < 0.05 else None)}
        else:
            p["ic"] = None
        p["her_susc"] = (_date(rng, 2016, 2023) if rng.random() < 0.3
                         else None)
        p["consent"] = rng.choice(list(CONSENT))
        diags = []
        for _ in range(rng.choice([1, 1, 2])):
            dia_no += 1
            diags.append({"id": f"DIA{dia_no}",
                          "hosp": rng.choice(list(HOSPITALS)),
                          "type": rng.choice(list(TUMOR_TYPES)),
                          "topo": rng.choice(TOPOGRAPHY),
                          "stage": (rng.choice(STAGES)
                                    if rng.random() < 0.6 else ""),
                          "date": _date(rng, 2005, 2022),
                          "hour": rng.randint(0, 23)})
        p["diags"] = diags
        bios = []
        for d in diags:
            if rng.random() < 0.5:
                bio_no += 1
                bios.append({"id": f"BIOS{bio_no}T", "dia": d["id"],
                             "tissue": rng.choice(TISSUES),
                             "date": _date(rng, 2005, 2022),
                             "pct": str(rng.randint(5, 100))})
        p["bios"] = bios
        p["study"] = rng.randrange(len(STUDIES))
        pats.append(p)
    return pats


def _render(pats: list[dict]) -> dict[str, str]:
    """File contents (relative path -> text) for one variant."""
    files = {f: [] for f in HEADERS}
    for f, cols in HEADERS.items():
        line = _csv_line if f.endswith(".csv") else _tsv_line
        files[f].append(line(cols))
    for p in pats:
        pid = p["id"]
        r = p["rdp"]
        if r is not None:
            files[RDP].append(_tsv_line([
                pid, _dby(*r["birth"]), r["sex"], "1" if r["dead"] else "0",
                _dby(*r["death"]) if r["death"] else ""]))
        ic = p["ic"]
        if ic is not None:
            files[RIC].append(_tsv_line([
                pid, ic["type"],
                _dmy(*ic["given"]) if ic["given"] else "",
                _dmy(*ic["withdrawn"]) if ic["withdrawn"] else "",
                _dmy(*ic["end"]) if ic["end"] else ""]))
        files[IND].append(_csv_line([
            "X", str(p["i"]), f"AA{p['i']}", pid, p["sex"], p["consent"],
            p["consent"], "",
            _dmy_hms(*p["her_susc"], 0) if p["her_susc"] else "",
            _dmy_hms(*p["birth"], 0)]))
        if p["death_csv"] is not None:
            files[DTH].append(_csv_line([
                "X", str(p["i"]), f"AA{p['i']}", pid, "1", "",
                _dmy_hms(*p["death_csv"], 0)]))
        for d in p["diags"]:
            files[DIA].append(_csv_line([
                "X", str(p["i"]), f"AA{p['i']}", pid, d["id"], d["hosp"],
                d["type"], d["topo"], d["stage"],
                _dmy_hms(*d["date"], d["hour"])]))
        for b in p["bios"]:
            files[BIO].append(_tsv_line([
                b["id"], "yes", b["tissue"], _dmy(*b["date"]),
                "primary tumor", pid, b["dia"], "", b["pct"],
                f"L{b['id']}", "extra column, not in the config"]))
        sid = STUDIES[p["study"]][0]
        files[IST].append(_csv_line([
            f"{sid}_{p['i']}", sid, pid, str(p["i"])]))
    for s in STUDIES:
        files[STU].append(_csv_line(list(s) + [""]))
    out = {f: "".join(lines) for f, lines in files.items()}
    out["clinic/RDP-Patient_codebook.tsv"] = _codebook(
        [(["Geslacht"], RDP_SEX)])
    out["studies/individual_codebook.tsv"] = _codebook(
        [(["SEX"], STUDY_SEX), (["IFCDATR", "IFCGIV"], CONSENT)])
    out["studies/diagnosis_codebook.tsv"] = _codebook(
        [(["HOSPDIAG"], HOSPITALS), (["DIAGCD"], TUMOR_TYPES)])
    return out


def _expected(pats: list[dict]) -> dict[str, int]:
    """Row counts the pipeline must produce for these patients.

    Observations: one per non-empty attribute value after the priority
    merge (``transmart.OBS_ATTRS``), per patient and per diagnosis.
    """
    obs = 0
    for p in pats:
        r, ic = p["rdp"], p["ic"]
        obs += 2  # birth_date and gender: individual.csv always has both
        if (r is not None and r["death"]) or p["death_csv"] is not None:
            obs += 1
        if ic is not None:
            obs += 1 + (ic["given"] is not None) + (ic["withdrawn"]
                                                   is not None)
        obs += p["her_susc"] is not None
        for d in p["diags"]:
            obs += 4 + (d["stage"] != "")
    return {"individual_rows": len(pats), "observation_rows": obs}


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = text.encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    name = os.path.basename(path)
    with open(path + ".sha1", "wb") as f:
        f.write(f"{hashlib.sha1(data).hexdigest()}  {name}\n".encode())


def generate(out_dir: str, *, seed: int, patients: int) -> dict:
    """Write ``out_dir/{config,A,B}`` and return the expected counts per
    variant plus the drop-zone byte sizes."""
    pats = _patients(seed, patients)
    variants = {"A": pats,
                "B": [p for p in pats if p["i"] % DROPPED_EVERY != 0]}
    result: dict = {"variants": {}}
    for name, vp in variants.items():
        root = os.path.join(out_dir, name)
        nbytes = 0
        for rel, text in sorted(_render(vp).items()):
            _write(os.path.join(root, rel), text)
            nbytes += len(text.encode("utf-8"))
        result["variants"][name] = dict(_expected(vp), dropzone_bytes=nbytes)
    cfg_dir = os.path.join(out_dir, "config")
    os.makedirs(cfg_dir, exist_ok=True)
    for fname, obj in (("sources_config.json", sources_config()),
                       ("ontology_config.json", ontology_config())):
        with open(os.path.join(cfg_dir, fname), "w", encoding="utf-8") as f:
            json.dump(obj, f, indent=2, sort_keys=True)
            f.write("\n")
    result["sources_config"] = os.path.join(cfg_dir, "sources_config.json")
    result["ontology_config"] = os.path.join(cfg_dir, "ontology_config.json")
    return result
