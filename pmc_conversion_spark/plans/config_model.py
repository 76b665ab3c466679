"""Config model — the engine's logical-plan input.

Mirrors the *shape* of the reference's ``sources_config.json``
(test_data_e2e/current/config/sources_config.json:2-458): entities own
attributes; each attribute lists its contributing (file, column) sources
in priority order, optionally with a per-source date format; files carry
a delimiter override and optional codebook binding
(sources_config.json:459-480). Schemas are config-declared, never
inferred (SURVEY.md §1.1: schema-on-config; fail on missing columns,
ignore extras).
"""

from __future__ import annotations

from dataclasses import dataclass, field

KINDS = ("text", "numeric", "date")


@dataclass(frozen=True)
class SourceRef:
    """One contributing source for an attribute: take ``column`` from
    ``file`` (column omitted -> attribute name, sources_config.json:
    185-189); ``date_format`` is one of functions.dates.FORMATS."""
    file: str
    column: str | None = None
    date_format: str | None = None


@dataclass(frozen=True)
class Attribute:
    name: str
    kind: str = "text"
    sources: tuple[SourceRef, ...] = ()

    def __post_init__(self):
        if self.kind not in KINDS:
            raise ValueError(f"attribute {self.name!r}: bad kind {self.kind!r}")


@dataclass(frozen=True)
class EntityConfig:
    """A CSR entity: id attribute + attributes (sources_config.json:3-112
    for Individual)."""
    name: str
    id_attr: str
    attributes: tuple[Attribute, ...]

    def attr(self, name: str) -> Attribute:
        for a in self.attributes:
            if a.name == name:
                return a
        raise KeyError(name)

    def files(self) -> list[str]:
        """The source files of every attribute, in first-seen order."""
        return list(dict.fromkeys(s.file for a in self.attributes
                                  for s in a.sources))


@dataclass(frozen=True)
class FileFormat:
    """Per-file read options (sources_config.json:465-480) + codebook
    binding (sources_config.json:459-464)."""
    delimiter: str = "\t"
    codebook: str | None = None  # codebook file name, if any


@dataclass
class SourcesConfig:
    entities: tuple[EntityConfig, ...]
    file_formats: dict[str, FileFormat] = field(default_factory=dict)
    #: columns decoded via codebook, per file: {file: [column, ...]}
    codebook_columns: dict[str, list[str]] = field(default_factory=dict)

    def fmt(self, file: str) -> FileFormat:
        return self.file_formats.get(file, FileFormat())


#: CSR-model identity attributes that do not follow the
#: ``snake_case(entity) + "_id"`` convention. The id attribute is part
#: of the CSR entity *model*, not the sources config — the reference's
#: real sources_config.json has no id_attribute key anywhere (verified:
#: 0 occurrences); its external csr2transmart model code declares the
#: identities. IndividualStudy's identity is the precomputed composite
#: key column (STUDY_ID_INDIVIDUAL_STUDY_ID, individual_study.csv:1 —
#: "PMCST000AAC_8301"), the only per-row-unique attribute of the bridge.
CSR_ID_OVERRIDES = {"IndividualStudy": "study_id_individual_study_id"}


def _snake(name: str) -> str:
    import re
    return re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()


def infer_id_attr(entity_name: str, attr_names: list[str]) -> str:
    """Identity attribute for a CSR entity (used when the config carries
    no explicit ``id_attribute`` — the reference's real format):
    explicit model override, else ``snake_case(entity)_id`` when
    declared (Individual -> individual_id, Diagnosis -> diagnosis_id,
    ... sources_config.json:3-458 all follow it), else the first
    declared attribute."""
    override = CSR_ID_OVERRIDES.get(entity_name)
    if override and override in attr_names:
        return override
    conventional = f"{_snake(entity_name)}_id"
    if conventional in attr_names:
        return conventional
    return attr_names[0]


def from_json_dict(cfg: dict) -> SourcesConfig:
    """Parse a sources-config JSON dict — BOTH the reference's real
    format (test_data_e2e/current/config/sources_config.json: entities
    without id_attribute, strptime date formats like ``%d%b%Y``,
    top-level ``codebooks`` {data_file: codebook_file} map, per-file
    ``file_format`` {delimiter}) and the engine-shaped fixture format
    (explicit id_attribute / kind / codebook_columns, Java date format
    keys)."""
    from pmc_conversion_spark.functions.dates import strptime_to_java

    entities = []
    for ename, edef in cfg.get("entities", {}).items():
        attrs = []
        for adef in edef.get("attributes", []):
            sources = tuple(
                SourceRef(file=s["file"], column=s.get("column"),
                          date_format=(strptime_to_java(s["date_format"])
                                       if s.get("date_format") else None))
                for s in adef.get("sources", []))
            # the real format carries no kind; a declared date_format on
            # any source makes the attribute a date (csr2transmart
            # contract: date_format present iff the attribute is a date)
            kind = adef.get("kind")
            if kind is None:
                kind = ("date" if any(s.date_format for s in sources)
                        else "text")
            attrs.append(Attribute(name=adef["name"], kind=kind,
                                   sources=sources))
        id_attr = edef.get("id_attribute") or infer_id_attr(
            ename, [a.name for a in attrs])
        entities.append(EntityConfig(name=ename, id_attr=id_attr,
                                     attributes=tuple(attrs)))
    file_formats = {
        f: FileFormat(delimiter=d.get("delimiter", "\t"),
                      codebook=d.get("codebook"))
        for f, d in cfg.get("file_format", {}).items()}
    # real format: top-level codebooks map binds data file -> codebook
    # file; fold into the per-file FileFormat codebook slot
    for data_file, cb_file in cfg.get("codebooks", {}).items():
        prev = file_formats.get(data_file, FileFormat())
        file_formats[data_file] = FileFormat(delimiter=prev.delimiter,
                                             codebook=cb_file)
    codebook_columns = {f: list(cols)
                        for f, cols in cfg.get("codebook_columns", {}).items()}
    return SourcesConfig(entities=tuple(entities), file_formats=file_formats,
                         codebook_columns=codebook_columns)
