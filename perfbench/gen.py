"""Seeded inputs for the benchmark workloads, and the outputs they must give.

Every generator is a pure function of its seed and sizes: it returns the
documents rows (the engine's `documents(doc_id, spans)` table), any
dimension maps, and an `expected` dict computed here in plain Python from
the same arithmetic. The engine never sees `expected`; the benchmark
compares the engine's written output against it.

Hashes are order-free: the sum mod 2^64 of per-row hashes, where a row
hash is the first 8 bytes of the MD5 of the row's text. A sum (unlike a
xor) still sees duplicate rows, which the build workloads do write.
"""

from __future__ import annotations

import hashlib
import os
import random

MASK = (1 << 64) - 1
NULL = "\\N"

GENE_TYPES = ("protein_coding", "lncRNA", "miRNA")
GENCODE = ("GENCODE", "https://www.gencodegenes.org/human/")
STRING = ("STRING", "https://string-db.org/")
COXPRESDB = ("CoXPresdb", "https://coxpresdb.jp/")
EXONS_PER_TRANSCRIPT = 2
TEXT_KIND = "text"


def row_hash(text: str) -> int:
    return int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")


def row_text(values) -> str:
    """The text a table row is hashed as: tab-joined, NULL as \\N."""
    return "\t".join(NULL if v is None else str(v) for v in values)


class Digest:
    """Order-free digest of a multiset of rows: count and hash sum."""

    def __init__(self) -> None:
        self.n = 0
        self.h = 0

    def add(self, text: str) -> None:
        self.n += 1
        self.h = (self.h + row_hash(text)) & MASK

    def as_dict(self) -> dict:
        return {"n": self.n, "hash": self.h}


def write_documents(rows: list[tuple], path: str, n_files: int = 8) -> int:
    """Write documents rows as `n_files` parquet files; returns bytes written.
    Several files keep the scan parallel, as a real documents table is."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    total = 0
    for k in range(n_files):
        chunk = rows[k * per:(k + 1) * per]
        table = pa.Table.from_pylist(
            [{"doc_id": d, "spans": [dict(zip(("kind", "text", "media_ref",
                                               "offset"), s)) for s in spans]}
             for d, spans in chunk], schema=schema)
        f = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(table, f, compression="snappy")
        total += os.path.getsize(f)
    return total


def _media(i: int, offset: int) -> tuple:
    return ("image", None, f"media://img/{i}", offset)


# ---------------------------------------------------------------------------
# gencode_job / probe_reads: GTF gene, transcript and exon lines
# ---------------------------------------------------------------------------


def gene_fields(num: int) -> dict:
    """The `sources.synth` formulas, keyed by an id number."""
    start = 1 + (num * 9973) % 100_000_000
    ver = 1 + num % 9
    return {
        "chr": f"chr{1 + num % 22}", "start": start,
        "end": start + 100 + num % 5000,
        "gene_id": f"ENSG{num:011d}.{ver}", "gene": f"ENSG{num:011d}",
        "gene_type": GENE_TYPES[num % 3], "gene_name": f"G{num:011d}",
        "transcript_id": f"ENST{num:011d}.{ver}", "transcript": f"ENST{num:011d}",
        "transcript_name": f"T{num:011d}",
    }


def exon_fields(g: dict, num: int, k: int) -> dict:
    start = g["start"] + 50 * (k - 1)
    return {"exon": f"ENSE{num * EXONS_PER_TRANSCRIPT + k:011d}",
            "start": start, "end": start + 40, "exon_number": k}


def gtf_lines(num: int) -> list[str]:
    g = gene_fields(num)
    head = f"{g['chr']}\tHAVANA\t{{}}\t{{}}\t{{}}\t.\t+\t.\t"
    gene_attrs = (f'gene_id "{g["gene_id"]}"; gene_type "{g["gene_type"]}"; '
                  f'gene_name "{g["gene_name"]}";')
    tx_attrs = (f'gene_id "{g["gene_id"]}"; transcript_id "{g["transcript_id"]}"; '
                f'gene_type "{g["gene_type"]}"; gene_name "{g["gene_name"]}"; '
                f'transcript_type "{g["gene_type"]}"; '
                f'transcript_name "{g["transcript_name"]}";')
    lines = [head.format("gene", g["start"], g["end"]) + gene_attrs,
             head.format("transcript", g["start"], g["end"]) + tx_attrs]
    for k in range(1, EXONS_PER_TRANSCRIPT + 1):
        x = exon_fields(g, num, k)
        lines.append(head.format("exon", x["start"], x["end"]) + tx_attrs
                     + f' exon_number {k}; exon_id "{x["exon"]}.1";')
    return lines


def gencode_inputs(seed: int, n_docs: int, dup_ratio: float) -> dict:
    """One document per gene line; `dup_ratio` of the documents repeat an
    earlier gene exactly, so dedup has work and atoms repeat."""
    rng = random.Random(seed)
    base = rng.randrange(10**9)
    n_genes = n_docs - round(n_docs * dup_ratio)
    genes = list(range(n_genes)) + [rng.randrange(n_genes)
                                    for _ in range(n_docs - n_genes)]
    rng.shuffle(genes)
    rows = []
    for i, g in enumerate(genes):
        spans = [("gtf", line, None, off)
                 for off, line in enumerate(gtf_lines(base + g))]
        spans.append(_media(i, len(spans)))
        rows.append((f"doc-{i:07d}", spans))
    return {"rows": rows, "nums": [base + g for g in genes],
            "meta": {"docs": n_docs, "genes": n_genes,
                     "duplicate_ratio": dup_ratio,
                     "spans": n_docs * (3 + EXONS_PER_TRANSCRIPT)}}


def _atom(key: str, head: str, value) -> str:
    return f"({key} {head} {value})"


def _provenance(head: str, source: tuple) -> list[str]:
    return [_atom("source", head, source[0]), _atom("source_url", head, source[1])]


def _edge_head(edge_out, label: str, src: str, tgt: str) -> str:
    final, src_t, tgt_t = edge_out(label)
    return f"({final} ({src_t} {src}) ({tgt_t} {tgt}))"


def gencode_expected(nums: list[int], edge_out) -> dict:
    """Atoms, node rows and edge rows of the five gencode adapters through
    `pipeline.build` + `materialize`: atoms and edges keep duplicates,
    nodes are deduplicated on (label, id)."""
    atoms, edges, nodes = Digest(), Digest(), Digest()
    seen: set[int] = set()
    for num in nums:
        g = gene_fields(num)
        gh = f"(gene {g['gene']})"
        th = f"(transcript {g['transcript']})"
        out = [gh, _atom("gene_type", gh, g["gene_type"]),
               _atom("chr", gh, g["chr"]), _atom("start", gh, g["start"]),
               _atom("end", gh, g["end"]), _atom("gene_name", gh, g["gene_name"]),
               *_provenance(gh, GENCODE),
               th, _atom("transcript_id", th, g["transcript_id"]),
               _atom("transcript_name", th, g["transcript_name"]),
               _atom("transcript_type", th, g["gene_type"]),
               _atom("chr", th, g["chr"]), _atom("start", th, g["start"]),
               _atom("end", th, g["end"]), _atom("gene_name", th, g["gene_name"]),
               *_provenance(th, GENCODE)]
        node_rows = [(g["gene"], "gene", g["chr"], g["start"], g["end"]),
                     (g["transcript"], "transcript", g["chr"], g["start"], g["end"])]
        for k in range(1, EXONS_PER_TRANSCRIPT + 1):
            x = exon_fields(g, num, k)
            xh = f"(exon {x['exon']})"
            out += [xh, _atom("gene_id", xh, g["gene"]),
                    _atom("transcript_id", xh, g["transcript"]),
                    _atom("chr", xh, g["chr"]), _atom("start", xh, x["start"]),
                    _atom("end", xh, x["end"]),
                    _atom("exon_number", xh, x["exon_number"]),
                    _atom("exon_id", xh, x["exon"]), *_provenance(xh, GENCODE)]
            node_rows.append((x["exon"], "exon", g["chr"], x["start"], x["end"]))
        for label, src, tgt in (("transcribed_to", g["gene"], g["transcript"]),
                                ("transcribed_from", g["transcript"], g["gene"])):
            eh = _edge_head(edge_out, label, src, tgt)
            out += [eh, *_provenance(eh, GENCODE)]
            edges.add(row_text((src, tgt, label)))
        for a in out:
            atoms.add(a)
        if num not in seen:
            seen.add(num)
            for r in node_rows:
                nodes.add(row_text(r))
    return {"atoms": atoms.as_dict(), "nodes": nodes.as_dict(),
            "edges": edges.as_dict()}


def probe_plan(seed: int, nums: list[int], n_rounds: int,
               window_genes: int = 40) -> list[dict]:
    """Seeded probe arguments and their expected answers over the gencode
    output: a window holding about `window_genes` genes, one gene's
    properties, and the nodes sharing one gene's chr and start."""
    rng = random.Random(seed ^ 0x5EED)
    genes = {num: gene_fields(num) for num in set(nums)}
    by_chr: dict[str, list[dict]] = {}
    for g in genes.values():
        by_chr.setdefault(g["chr"], []).append(g)
    for lst in by_chr.values():
        lst.sort(key=lambda g: g["start"])
    chrs = sorted(by_chr)
    node_starts: dict[tuple, list[str]] = {}
    for num, g in genes.items():
        for label, nid, start in (
                ("gene", g["gene"], g["start"]),
                ("transcript", g["transcript"], g["start"]),
                *[("exon", exon_fields(g, num, k)["exon"],
                   exon_fields(g, num, k)["start"])
                  for k in range(1, EXONS_PER_TRANSCRIPT + 1)]):
            node_starts.setdefault((g["chr"], start), []).append(f"({label} {nid})")
    plan = []
    for _ in range(n_rounds):
        lst = by_chr[rng.choice(chrs)]
        j = rng.randrange(max(1, len(lst) - window_genes))
        chosen = lst[j:j + window_genes]
        lo = chosen[0]["start"] - 1
        hi = max(g["end"] for g in chosen) + 1
        in_window = sorted(g["gene"] for g in lst if g["start"] > lo and g["end"] < hi)
        g = genes[rng.choice(sorted(genes))]
        props = sorted([("chr", g["chr"]), ("start", str(g["start"])),
                        ("end", str(g["end"])), ("chr_part", g["chr"])])
        m = genes[rng.choice(sorted(genes))]
        plan.append({
            "window": (chosen[0]["chr"], lo, hi), "window_ids": in_window,
            "fetch": g["gene"], "fetch_props": props,
            "match": (m["chr"], str(m["start"])),
            "match_subjects": sorted(node_starts[(m["chr"], m["start"])]),
        })
    return plan


# ---------------------------------------------------------------------------
# scored_edges: STRING and CoXPresdb lines plus their dimension maps
# ---------------------------------------------------------------------------


def scored_inputs(seed: int, n_string: int, n_cox_files: int,
                  cox_per_file: int, n_ids: int, unmapped: float,
                  lines_per_doc: int = 50) -> dict:
    """STRING `9606.<ENSP> 9606.<ENSP> <score>` lines (header first) and
    CoXPresdb `<entrez>\\t<z>` lines keyed by a per-file entrez id. A share
    `unmapped` of each id space is absent from its dimension map, so the
    inner dimension joins drop every line that touches one of them."""
    rng = random.Random(seed)
    base = rng.randrange(10**9)
    missing = set(rng.sample(range(n_ids), round(n_ids * unmapped)))
    ensp = [f"ENSP{base + p:011d}" for p in range(n_ids)]
    ens2uni = {ensp[p]: f"U{base + p:011d}" for p in range(n_ids) if p not in missing}
    entrez = [str(base + 10**9 + e) for e in range(n_ids)]
    ent2ens = {entrez[e]: f"ENSG{base + e:011d}" for e in range(n_ids)
               if e not in missing}

    string_lines = ["protein1 protein2 combined_score"]
    string_edges = []
    for _ in range(n_string):
        a, b, score = rng.randrange(n_ids), rng.randrange(n_ids), rng.randrange(150, 1000)
        string_lines.append(f"9606.{ensp[a]} 9606.{ensp[b]} {score}")
        string_edges.append((ensp[a], ensp[b], score / 1000))
    cox_files = []
    cox_edges = []
    for f in rng.sample(range(n_ids), n_cox_files):
        lines = []
        for _ in range(cox_per_file):
            co = rng.randrange(n_ids)
            z = f"{rng.uniform(0.1, 20.0):.3f}"
            lines.append(f"{entrez[co]}\t{z}")
            cox_edges.append((entrez[f], entrez[co], float(z)))
        cox_files.append((entrez[f], lines))

    rows = []
    for k in range(0, len(string_lines), lines_per_doc):
        spans = [("string", line, None, off)
                 for off, line in enumerate(string_lines[k:k + lines_per_doc])]
        spans.append(_media(len(rows), len(spans)))
        rows.append((f"string-{k // lines_per_doc:06d}", spans))
    for key, lines in cox_files:
        for k in range(0, len(lines), lines_per_doc):
            spans = [(f"coxpresdb:{key}", line, None, off)
                     for off, line in enumerate(lines[k:k + lines_per_doc])]
            spans.append(_media(len(rows), len(spans)))
            rows.append((f"cox-{key}-{k // lines_per_doc:04d}", spans))
    n_lines = n_string + n_cox_files * cox_per_file
    return {"rows": rows, "dims": {"ensembl_to_uniprot": ens2uni,
                                   "entrez_to_ensembl": ent2ens},
            "string_edges": string_edges, "cox_edges": cox_edges,
            "meta": {"lines": n_lines, "ids": n_ids, "unmapped_fraction": unmapped,
                     "spans": n_lines + 1 + len(rows)}}


def scored_expected(inp: dict, edge_out) -> dict:
    atoms, edges, scores = Digest(), Digest(), 0
    for label, source, table, mapping in (
            ("interacts_with", STRING, inp["string_edges"],
             inp["dims"]["ensembl_to_uniprot"]),
            ("coexpressed_with", COXPRESDB, inp["cox_edges"],
             inp["dims"]["entrez_to_ensembl"])):
        for a, b, score in table:
            src, tgt = mapping.get(a), mapping.get(b)
            if src is None or tgt is None:
                continue
            eh = _edge_head(edge_out, label, src, tgt)
            for atom in (eh, _atom("score", eh, str(float(score))),
                         *_provenance(eh, source)):
                atoms.add(atom)
            edges.add(row_text((src, tgt, label)))
            scores += 1
    return {"atoms": atoms.as_dict(), "edges": edges.as_dict(),
            "float_values": scores}


def mapped_string_edges(inp: dict) -> list[tuple[str, str]]:
    """The STRING edges that survive the dimension join, as (src, tgt)."""
    m = inp["dims"]["ensembl_to_uniprot"]
    return [(m[a], m[b]) for a, b, _ in inp["string_edges"] if a in m and b in m]


def two_hop_plan(seed: int, inp: dict, n_rounds: int) -> list[dict]:
    """Seeded sources for the 2-pattern match `(S interacts_with $b),
    ($b interacts_with $c)` over the written edges, with the distinct
    (b, c) pairs each must return."""
    rng = random.Random(seed ^ 0x2407)
    adj: dict[str, set] = {}
    for a, b in mapped_string_edges(inp):
        adj.setdefault(a, set()).add(b)
    sources = sorted(adj)
    plan = []
    for _ in range(n_rounds):
        s = rng.choice(sources)
        pairs = sorted({(b, c) for b in adj[s] for c in adj.get(b, ())})
        plan.append({"source": s, "pairs": pairs})
    return plan


# ---------------------------------------------------------------------------
# link_canon: free text with dictionary mentions, plus alias chains
# ---------------------------------------------------------------------------


def link_inputs(seed: int, n_docs: int, tokens: int, mentions: int,
                n_entities: int, chain_depth: int) -> dict:
    """One text span per document: `tokens` distinct tokens, `mentions` of
    them gene symbols (half in lower case, which links at the casefold
    score). Entities fall into alias chains of `chain_depth` ids each, in a
    seeded order, so each chain's canonical id is its smallest member."""
    rng = random.Random(seed)
    base = rng.randrange(10**9)
    ent = [f"ENSG{base + e:011d}" for e in range(n_entities)]
    dictionary = {f"GS{base + e:011d}": ent[e] for e in range(n_entities)}
    symbols = sorted(dictionary)
    order = list(range(n_entities))
    rng.shuffle(order)
    chains = [order[k:k + chain_depth] for k in range(0, n_entities, chain_depth)]
    alias_edges = [(ent[c[j]], ent[c[j + 1]]) for c in chains for j in range(len(c) - 1)]
    canonical = {}
    for c in chains:
        low = min(ent[e] for e in c)
        for e in c:
            canonical[ent[e]] = low

    rows, links = [], []
    for i in range(n_docs):
        words = [f"w{(i * tokens + p) % 99991}" for p in range(tokens)]
        for j, pos in enumerate(rng.sample(range(tokens), mentions)):
            sym = symbols[rng.randrange(n_entities)]
            while sym in words or sym.lower() in words:
                sym = symbols[rng.randrange(n_entities)]
            exact = j % 2 == 0
            words[pos] = sym if exact else sym.lower()
            links.append((dictionary[sym], 0.75 if exact else 0.6))
        doc = f"txt-{i:07d}"
        rows.append((doc, [(TEXT_KIND, " ".join(words), None, 0), _media(i, 1)]))
    return {"rows": rows, "dictionary": dictionary, "alias_edges": alias_edges,
            "canonical": canonical, "links": links,
            "meta": {"docs": n_docs, "tokens": tokens,
                     "mention_density": mentions / tokens,
                     "entities": n_entities, "chain_depth": chain_depth,
                     "candidates": n_docs * (3 * tokens - 3),
                     "spans": 2 * n_docs}}


def link_expected(inp: dict) -> dict:
    per_entity: dict[str, list] = {}
    for entity, score in inp["links"]:
        c = per_entity.setdefault(entity, [0, 0.0])
        c[0] += 1
        c[1] += score
    counts = Digest()
    for entity, (n, s) in per_entity.items():
        counts.add(row_text((entity, n, f"{s:.4f}", "gene")))
    nodes = Digest()
    for cid in sorted({inp["canonical"][e] for e in per_entity}):
        nodes.add(row_text((cid, "gene")))
    # ids in an alias edge: a chain of one id has none, so CC never sees it
    aliased = {e for edge in inp["alias_edges"] for e in edge}
    canon = {e: c for e, c in inp["canonical"].items() if e in aliased}
    return {"links": len(inp["links"]), "entity_counts": counts.as_dict(),
            "nodes": nodes.as_dict(),
            "mentions": {e: n for e, (n, _) in per_entity.items()},
            "components": len(set(canon.values())),
            "ids_remapped": sum(1 for e, c in canon.items() if e != c)}


def entity_probe_plan(seed: int, mentions: dict, n_rounds: int) -> list[dict]:
    """Seeded linked entities whose mention count a property fetch over
    the written entity counts must return."""
    rng = random.Random(seed ^ 0xE7)
    ents = sorted(mentions)
    plan = []
    for _ in range(n_rounds):
        e = rng.choice(ents)
        plan.append({"entity": e, "props": [("n_mentions", str(mentions[e]))]})
    return plan
