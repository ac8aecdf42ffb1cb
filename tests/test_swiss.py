"""SwissProt record parse (S4): the Catalyst parse against the plain
Python oracle `parse_record_text`, without the reference checkout."""

from __future__ import annotations

import random
from collections import Counter

from biocypher_metta_spark.dims import local_frame
from biocypher_metta_spark.sources.swiss import parse_record_text, parse_swiss_spans


def spans(spark, records):
    return local_frame(spark, {"value": records}, "value string").repartition(3)


def as_multiset(rows):
    return Counter((name, tuple(acc), tuple(tuple(x) for x in xrefs))
                   for name, acc, xrefs in rows)


def random_record(rng):
    """A record of ID/AC/DR lines and others, with LF, CRLF, CR and
    vertical-tab line ends, tabs and unicode spaces, trailing ';' and
    '.', repeated or token-less ID lines and missing AC lines."""
    def ws():
        return rng.choice(["", " ", "  ", "\t", " \t", "　", "\xa0"])

    def tok():
        return rng.choice(["P1", "Q9_HUMAN", "A0A0", "X-1", "GO:0005", "ENST1", ""]) \
            + str(rng.randrange(100))

    lines = []
    for _ in range(rng.randrange(0, 8)):
        tag = rng.choice(["ID", "AC", "DR", "DE", "SQ", "  ", "I", "ACX", "DRY"])
        if tag == "ID":
            body = rng.choice([f"{tok()}{ws()}Reviewed;   100 AA.", ws(), f"{ws()}{tok()}"])
        elif tag in ("AC", "ACX"):
            body = ";".join(ws() + tok() + ws() for _ in range(rng.randrange(0, 4))) \
                + rng.choice(["", ";", ";;", " ; "])
        elif tag in ("DR", "DRY"):
            body = ";".join(ws() + tok() + ws() for _ in range(rng.randrange(0, 4))) \
                + rng.choice(["", ".", "..", ". ", ";", " . "])
        else:
            body = tok()
        lines.append(tag + rng.choice(["   ", "  ", "", " ", "\t  "]) + body)
    return rng.choice(["\n", "\r\n", "\r", "\x0b"]).join(lines) + rng.choice(["", "\n", "\r\n"])


def test_parse_matches_python_oracle_fuzz(spark):
    rng = random.Random(3)
    records = [random_record(rng) for _ in range(3000)]
    want = as_multiset(p for p in map(parse_record_text, records) if p)
    got = as_multiset(tuple(r) for r in parse_swiss_spans(spans(spark, records)).collect())
    assert sum(want.values()) > 100
    assert got == want


def test_record_whose_id_line_has_no_token_is_dropped(spark):
    records = ["ID   \nAC   P1;\nDR   GO; GO:1.",
               "ID   P2_HUMAN  Reviewed;\nAC   P2; Q2;\nDR   GO; GO:2; C:x.\nDR   Pfam; PF1."]
    got = [tuple(r) for r in parse_swiss_spans(spans(spark, records)).collect()]
    assert got == [("P2_HUMAN", ["P2", "Q2"], [["GO", "GO:2", "C:x"], ["Pfam", "PF1"]])]
    assert parse_record_text(records[0]) is None
