"""Pure-stdlib UCSC chain-file liftover kernel (P11, the real thing).

The reference lifts hg19->hg38 through the `liftover` package
(helpers.py:145-175 `convert_genome_reference`, used by
dbsuper_adapter.py:48-49), which reads the public UCSC ``.over.chain``
format. That library is absent from this container, so this module
implements the chain format directly from the public spec
(https://genome.ucsc.edu/goldenPath/help/chain.html) with nothing but
the stdlib:

    chain score tName tSize tStrand tStart tEnd qName qSize qStrand qStart qEnd [id]
    size dt dq
    ...
    size                      <- final block has no gap fields

* header coordinates are 0-based half-open;
* when a strand is '-', that sequence's start/end count from the far
  end (reverse-strand coordinates); UCSC liftOver chains always have
  tStrand '+', which this parser asserts;
* each block line aligns `size` bases, then skips `dt` on the target
  (source build) and `dq` on the query (destination build).

`ChainLifter.query(chrom, pos)` mirrors the `liftover` package protocol
the reference relies on: 0-based source position in, a list of
``(dst_chrom, dst_pos, dst_strand)`` out, best chain score first. It is
the oracle for the Spark lift: `blocks_table()` feeds
`functions.liftover.chain_blocks`, and `functions.liftover.lift` joins
positions against those blocks.

Scale notes: the full hg19ToHg38 chain expands to ~10^6 aligned blocks,
built once on the driver; each `query` is one bisect + a bounded left
scan, no per-row parsing.
"""

from __future__ import annotations

import gzip
from bisect import bisect_right, insort


def _norm_chrom(name: str) -> str:
    """Index/query chromosome key: 'chr1'/'ch1'/'1' -> '1' (the
    reference strips these prefixes before querying, helpers.py:168)."""
    if name.startswith("chr"):
        return name[3:]
    if name.startswith("ch"):
        return name[2:]
    return name


def parse_chain_blocks(text: str):
    """Parse chain text into flat aligned-block tuples.

    Yields ``(src_chrom, src_start, src_end, dst_chrom, dst_anchor,
    sign, strand, score, ord)`` where the forward-strand destination of
    source position ``p`` inside the block is
    ``dst_anchor + sign * (p - src_start)``; ``ord`` is the chain's
    file order (stable tiebreak for equal scores).
    """
    chain_ord = -1
    header = None
    lines = iter(text.splitlines())
    for raw in lines:
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        if line.startswith("chain"):
            if header is not None:
                raise ValueError("chain header before previous chain's final block")
            f = line.split()
            if len(f) not in (12, 13):
                raise ValueError(f"malformed chain header: {line!r}")
            (score, t_name, t_size, t_strand, t_start, t_end,
             q_name, q_size, q_strand, q_start, q_end) = (
                int(f[1]), f[2], int(f[3]), f[4], int(f[5]), int(f[6]),
                f[7], int(f[8]), f[9], int(f[10]), int(f[11]))
            if t_strand != "+":
                raise ValueError("tStrand '-' not in UCSC liftOver chains")
            chain_ord += 1
            header = [score, t_name, t_strand, q_name, q_size, q_strand,
                      t_start, q_start, t_end, q_end]
            continue
        if header is None:
            raise ValueError(f"alignment line outside a chain: {line!r}")
        parts = line.split()
        size = int(parts[0])
        (score, t_name, _ts, q_name, q_size, q_strand,
         t_cur, q_cur, t_end, q_end) = header
        if size > 0:
            if q_strand == "+":
                dst_anchor, sign = q_cur, 1
            else:
                # q_cur is a reverse-strand coordinate; forward position
                # of offset k in the block is q_size - 1 - (q_cur + k).
                dst_anchor, sign = q_size - 1 - q_cur, -1
            yield (_norm_chrom(t_name), t_cur, t_cur + size,
                   _norm_chrom(q_name), dst_anchor, sign, q_strand,
                   score, chain_ord)
        if len(parts) == 3:
            header[6] = t_cur + size + int(parts[1])
            header[7] = q_cur + size + int(parts[2])
        elif len(parts) == 1:
            if t_cur + size != t_end or q_cur + size != q_end:
                raise ValueError(
                    f"chain #{chain_ord} blocks do not sum to header span")
            header = None
        else:
            raise ValueError(f"malformed alignment line: {line!r}")
    if header is not None:
        raise ValueError("chain file truncated inside a chain")


class ChainLifter:
    """Interval-stabbing index over chain blocks.

    Per source chromosome: block starts sorted ascending, plus a running
    max of block ends, so a point query is ``bisect_right`` + a left
    scan bounded by the running max (classic stabbing on sorted starts —
    overlapping chains are handled, not just the best one).
    """

    def __init__(self, blocks):
        by_chrom: dict[str, list] = {}
        for b in blocks:
            by_chrom.setdefault(b[0], []).append(b)
        self._idx = {}
        for chrom, bl in by_chrom.items():
            bl.sort(key=lambda b: (b[1], b[8]))
            starts = [b[1] for b in bl]
            ends = [b[2] for b in bl]
            prefmax = []
            m = 0
            for e in ends:
                m = e if e > m else m
                prefmax.append(m)
            rest = [(b[3], b[4], b[5], b[6], b[7], b[8]) for b in bl]
            self._idx[chrom] = (starts, ends, prefmax, rest)

    @classmethod
    def from_text(cls, text: str) -> "ChainLifter":
        return cls(parse_chain_blocks(text))

    @classmethod
    def from_path(cls, path: str) -> "ChainLifter":
        opener = gzip.open if str(path).endswith(".gz") else open
        with opener(path, "rt") as fh:
            return cls.from_text(fh.read())

    def query(self, chrom: str, pos: int):
        """All mappings of 0-based `pos`, best chain score first:
        list of (dst_chrom, dst_pos, dst_strand)."""
        entry = self._idx.get(_norm_chrom(str(chrom)))
        if entry is None:
            return []
        starts, ends, prefmax, rest = entry
        j = bisect_right(starts, pos) - 1
        hits = []
        while j >= 0 and prefmax[j] > pos:
            if starts[j] <= pos < ends[j]:
                dst_chrom, anchor, sign, strand, score, order = rest[j]
                insort(hits, (-score, order,
                              dst_chrom, anchor + sign * (pos - starts[j]),
                              strand))
            j -= 1
        return [(c, p, s) for _, _, c, p, s in hits]

    def blocks_table(self):
        """Flat block rows, the liftover dimension's rows:
        (src_chrom, src_start, src_end, dst_chrom, dst_anchor, sign,
        strand, score, ord)."""
        out = []
        for chrom, (starts, ends, _pm, rest) in sorted(self._idx.items()):
            for s, e, r in zip(starts, ends, rest):
                out.append((chrom, s, e) + r)
        return out


def compose_chain(score, t_name, t_size, t_start, q_name, q_size,
                  q_strand, q_start, blocks, chain_id=1) -> str:
    """Emit one well-formed chain record (fixture/test utility).

    `blocks` is ``[(size, dt, dq), ..., (last_size,)]``; tEnd/qEnd are
    derived so the record satisfies the spec's sum invariant.
    """
    t_end, q_end = t_start, q_start
    for b in blocks:
        t_end += b[0] + (b[1] if len(b) == 3 else 0)
        q_end += b[0] + (b[2] if len(b) == 3 else 0)
    lines = [f"chain {score} {t_name} {t_size} + {t_start} {t_end} "
             f"{q_name} {q_size} {q_strand} {q_start} {q_end} {chain_id}"]
    for b in blocks:
        lines.append(" ".join(str(x) for x in b))
    return "\n".join(lines) + "\n"


