"""Multi-format date parsing (SURVEY.md §2.8 `f_to_date_multi`).

The reference declares per-source date formats in sources_config.json
(:32,:37,:88,:335): ``%d%b%Y`` (15AUG2000, uppercase month), ``%d/%m/%Y
%H:%M:%S`` (single-digit hour), ``%d/%m/%Y``, ``%Y-%m-%d``. Java's MMM
parser is case-sensitive, so the ddMMMyyyy path decomposes the string and
rebuilds via make_date — fully JVM-side, no UDF (SURVEY §7.4 risk 1).
"""

from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F

MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
          "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]

#: format keys as used in source configs -> parser
FORMATS = ("ddMMMyyyy", "dd/MM/yyyy H:mm:ss", "dd/MM/yyyy", "yyyy-MM-dd")

#: strptime directive -> Java DateTimeFormatter token. The reference's
#: real sources_config.json declares formats as Python strptime strings
#: ("%d%b%Y", sources_config.json:32,37,88,335); the engine's canonical
#: keys are the Java forms in FORMATS. %H maps to bare H because the
#: data carries non-zero-padded hours ("15/09/2000 0:00:00",
#: individual.csv) which strict HH would reject.
_STRPTIME_TO_JAVA = {
    "%d": "dd", "%b": "MMM", "%m": "MM", "%Y": "yyyy",
    "%H": "H", "%M": "mm", "%S": "ss", "%y": "yy",
}


def strptime_to_java(fmt: str) -> str:
    """Translate a strptime format string to the Java form used by
    :data:`FORMATS` / :func:`to_date_multi`. Already-Java strings (no
    ``%``) pass through unchanged, so engine-shaped configs keep
    working."""
    if "%" not in fmt:
        return fmt
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i:i + 2]
            if tok == "%%":
                out.append("%")
            elif tok in _STRPTIME_TO_JAVA:
                out.append(_STRPTIME_TO_JAVA[tok])
            else:
                raise ValueError(f"unsupported strptime directive {tok!r} "
                                 f"in {fmt!r}")
            i += 2
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def _parse_ddmmmyyyy(col: Column) -> Column:
    """``15AUG2000`` -> date, case-insensitive month token.

    Rebuilt as ``yyyy-M-d`` and parsed with try_to_date so malformed
    input (bad month token, day 32, 30FEB) yields NULL, never an ANSI
    error — parity with DuckDB TRY/strptime in the oracle.

    The month token is upper-cased by ``translate`` over ASCII letters,
    not ``upper``: the month names are ASCII, and DuckDB's ``%b`` also
    folds ASCII case only. The first ``upper``/``lower`` in a JVM builds
    ICU's case-mapping tables, 1.2-1.9 s more than a first
    ``translate`` on a 4-core host, and this parser is the only case
    mapping on the DAG's path.
    """
    day = F.substring(col, 1, 2)
    mon = F.array_position(
        F.array(*[F.lit(m) for m in MONTHS]),
        F.translate(F.substring(col, 3, 3), string.ascii_lowercase,
                    string.ascii_uppercase))
    year = F.substring(col, 6, 4)
    rebuilt = F.concat_ws("-", year, mon.cast("string"), day)
    return F.when(mon > 0, F.try_to_date(rebuilt, "yyyy-M-d"))


def to_date_multi(col: Column, fmt: str) -> Column:
    """Parse ``col`` with one of the reference's four date formats.

    try_to_date: unparseable -> NULL (Spark 4 ANSI mode would otherwise
    raise mid-task on the first empty cell — and empty date cells are
    pervasive in the sources, e.g. RDP-Patient Overldat).
    """
    col = F.trim(col)
    col = F.when(col == "", None).otherwise(col)
    if fmt == "ddMMMyyyy":
        return _parse_ddmmmyyyy(col)
    if fmt in ("dd/MM/yyyy H:mm:ss", "dd/MM/yyyy", "yyyy-MM-dd"):
        return F.try_to_date(col, fmt)
    raise ValueError(f"unsupported date format {fmt!r}; known: {FORMATS}")


def to_date_any(col: Column) -> Column:
    """Try every known format in declaration order (first hit wins)."""
    return F.coalesce(*[to_date_multi(col, f) for f in FORMATS])


def format_iso(col: Column) -> Column:
    """ISO rendering for output TSVs [ext-contract]."""
    return F.date_format(col, "yyyy-MM-dd")
