"""SwissProt flat-file record parse (S4) as Catalyst expressions.

The reference delegates to Biopython (uniprot_protein_adapter.py:47-49,
uniprot_adapter.py:34-36). Spark has no native reader for '//'-terminated
multi-line records; in the graft's span model each record arrives as ONE
span (kind='swiss_record'), so `parse_swiss_spans` splits the record
into lines and reads the field set the adapters consume (ID entry name,
AC accessions, DR cross references) with array expressions, row by row
in the JVM. `parse_record_text` is the same parse in plain Python, the
oracle the expressions are tested against; the line split and the
whitespace strip copy `str.splitlines()` and `str.strip()`.

`read_swiss_file` (whole-file text -> records) exists for fixture parity
tests and modest file sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from biocypher_metta_spark.dims import local_frame

# str.isspace() characters, and the line breaks of str.splitlines()
_WS = ("\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
       "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000")
_LINE_BREAK = "\r\n|[\n\r\x0b\x0c\x1c\x1d\x1e\x85\u2028\u2029]"


def parse_record_text(record: str) -> tuple | None:
    """One '//'-terminated record body -> (entry_name, accessions, xrefs);
    None without an entry name (the last ID line's first token) or an
    accession."""
    entry_name = None
    accessions: list[str] = []
    xrefs: list[list[str]] = []
    for line in record.splitlines():
        tag = line[:2]
        if tag == "ID":
            entry_name = next(iter(line[5:].split()), None)
        elif tag == "AC":
            accessions.extend(
                a.strip() for a in line[5:].strip().rstrip(";").split(";") if a.strip()
            )
        elif tag == "DR":
            body = line[5:].strip()
            if body.endswith("."):
                body = body[:-1]
            xrefs.append([p.strip() for p in body.split(";")])
    if entry_name is None or not accessions:
        return None
    return entry_name, accessions, xrefs


def _strip(c: Column) -> Column:
    return F.trim(c, F.lit(_WS))


def _fields(lines: Column, tag: str) -> Column:
    """The text after column 5 of every line tagged `tag`."""
    return F.transform(F.filter(lines, lambda ln: ln.startswith(tag)),
                       lambda ln: F.substring(ln, 6, 1 << 30))


def parse_swiss_spans(spans: DataFrame, text_col: str = "value") -> DataFrame:
    """spans whose text is one full record each -> (entry_name,
    accessions, cross_references), the rows `parse_record_text` keeps."""
    lines = F.split(F.col(text_col), _LINE_BREAK)
    ids = _fields(lines, "ID")
    name = F.regexp_extract(F.get(ids, F.size(ids) - 1), f"^[{_WS}]*([^{_WS}]+)", 1)
    accessions = F.flatten(F.transform(_fields(lines, "AC"), lambda b: F.filter(
        F.transform(F.split(b, ";"), _strip), lambda a: a != "")))
    xrefs = F.transform(_fields(lines, "DR"), lambda b: F.transform(
        F.split(F.regexp_replace(_strip(b), r"\.$", ""), ";"), _strip))
    return (spans.select(F.nullif(name, F.lit("")).alias("entry_name"),
                         accessions.alias("accessions"),
                         xrefs.alias("cross_references"))
            .filter(F.col("entry_name").isNotNull() & (F.size("accessions") > 0)))


def read_swiss_file(spark: SparkSession, path: str) -> DataFrame:
    """Fixture-scale reader: split a (possibly gzipped) .dat file into
    records driver-side, then parse them as spans."""
    import gzip
    from pathlib import Path

    p = Path(path)
    opener = gzip.open if p.suffix == ".gz" else open
    with opener(p, "rt") as f:
        content = f.read()
    records = [r for r in content.split("\n//\n") if r.strip()]
    return parse_swiss_spans(local_frame(spark, {"record": records}, "record string"),
                             "record")
