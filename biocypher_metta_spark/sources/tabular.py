"""Delimited span parsing (the S7/S8 CSV/TSV/BED families) as expressions.

Each reference adapter's `csv.reader` + column-index dict becomes a
split + F.get projection. `csv_cols` handles the plain (unquoted) case;
`csv_cols_quoted` handles RFC-style quoted fields (roadmap cells contain
quoted commas) via from_csv.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_cols(lines: DataFrame, names_by_index: dict[str, int],
               delimiter: str = "\t", skip_prefix: str | None = None) -> DataFrame:
    """Project named columns out of delimiter-split `value` lines (no
    quoting)."""
    c = F.col("value")
    out = lines
    if skip_prefix:
        out = out.filter(~c.startswith(skip_prefix))
    out = out.filter(F.trim(c) != "")
    t = F.split(c, F.lit(delimiter), -1)
    passthrough = [F.col(f) for f in lines.columns if f != "value"]
    cols = passthrough + [F.get(t, i).alias(name) for name, i in names_by_index.items()]
    return out.select(*cols)


def quoted_csv_cols(lines: DataFrame, n_fields: int,
                    names_by_index: dict[str, int],
                    delimiter: str = ",") -> DataFrame:
    """RFC-quoted CSV `value` lines via from_csv (JVM parser, handles
    embedded delimiters/quotes like Python's csv.reader)."""
    schema = ", ".join(f"_c{i} string" for i in range(n_fields))
    c = F.col("value")
    out = lines.filter(F.trim(c) != "")
    parsed = F.from_csv(c, schema, {"sep": delimiter})
    passthrough = [F.col(f) for f in lines.columns if f != "value"]
    cols = passthrough + [parsed.getField(f"_c{i}").alias(name)
                          for name, i in names_by_index.items()]
    return out.select(*cols)
