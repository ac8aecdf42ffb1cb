"""Entity canonicalization: alias-graph connected components + node dedup.

The reference's only dedup is the sink-level `skip_duplicate_nodes: true`
(biocypher_config.yaml:11 == dropDuplicates(label, id), A5). The north
rule generalizes this to salt-keyed canonicalization via connected
components over the alias graph formed by the id maps (hgnc<->ensembl,
entrez->ensembl, ensembl_protein->uniprot — SURVEY §2.4 J1-J4).

Implementation: iterative min-label propagation with plain DataFrame
joins (no GraphFrames dependency). Alias chains are short (id systems
form star-shaped components around one canonical accession), so the
loop converges in <= `max_iter` rounds; a component it cannot cover
raises instead of returning partial labels. The first round is the
initialization itself (each node's min over its closed neighbourhood);
every later round is one join of the edge list with the labels on the
neighbour id, feeding one aggregate on the node id, and one checkpoint
whose observed change count is the convergence test. Every node starts
as its own label, so the fixed-point label already is the canonical
pick: the lexicographic min id of the component. Hub safety: the
labels side of the join holds one row per id, and the aggregate's
map-side partial min collapses a hub's neighbour rows before the
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from biocypher_metta_spark.ckpt import local_checkpoint_cut as _ckcut


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 10) -> DataFrame:
    """edges -> (id, component) where component = min id reachable.

    Label propagation: round 1 labels each node with the min of itself
    and its neighbours; each later round adopts the min label among a
    node and its neighbours' labels; stop after a round in which no
    label changes. Raises RuntimeError if labels still change in round
    `max_iter`: a component whose diameter exceeds the rounds would
    otherwise get split canonical ids.
    """
    # both directions from ONE scan of the edges: a union of two selects
    # computes the upstream twice (measured: building sym from 900 edges
    # of a Python-list frame took 0.65 s as a union, 0.33 s as one scan,
    # local[4] on 4 vCPUs)
    sym = (edges.select(F.inline(F.array(
               F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
               F.struct(F.col(dst).alias("a"), F.col(src).alias("b")))))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    # checkpoint BEFORE deriving labels: labels' first materialization
    # otherwise re-runs the whole upstream edge pipeline a second time —
    # measured ~70s of a 190s doc-dup-clusters run when the edges come
    # from the LSH candidate-pair join.
    sym = sym.localCheckpoint(eager=True)
    step = (sym.groupBy("a")
            .agg(F.least(F.col("a"), F.min("b")).alias("label"))
            .select(F.col("a").alias("id"), "label", F.col("a").alias("old")))
    for _ in range(max_iter):
        # ONE materialization per round: the checkpoint also counts the
        # changed labels, so no second job reads the convergence flag. A
        # retried task can only over-count, never hide a change; the sum
        # over no rows (an empty graph) is NULL, read as no change.
        obs = Observation()
        labels = (step.observe(obs, F.sum((F.col("label") != F.col("old"))
                                          .cast("long")).alias("changed"))
                  .localCheckpoint(eager=True))
        if not obs.get["changed"]:
            return labels.select("id", F.col("label").alias("component"))
        neigh = (sym.join(labels, sym["b"] == labels["id"])
                 .select(F.col("a").alias("id"), "label", F.lit(None).alias("old")))
        step = (labels.select("id", "label", F.col("label").alias("old"))
                .unionByName(neigh)
                .groupBy("id")
                .agg(F.min("label").alias("label"), F.min("old").alias("old")))
    raise RuntimeError(
        f"connected_components did not converge within {max_iter} "
        "label-propagation rounds (one hop per round); raise max_iter")


def canonical_id_map(alias_edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """(id, canonical_id): lexicographic-min member per alias component,
    which is the component label itself."""
    return (connected_components(alias_edges, max_iter=max_iter)
            .select("id", F.col("component").alias("canonical_id")))


def dedup_nodes(nodes: DataFrame, id_col: str = "id",
                label_col: str = "label") -> DataFrame:
    """skip_duplicate_nodes semantics (A5): one row per (label, id).

    The reference keeps the first row it meets; here the kept row is
    the least of the other columns, compared as one struct in column
    order, so the result does not depend on the input's row order."""
    rest = [c for c in nodes.columns if c not in (label_col, id_col)]
    if not rest:
        return nodes.dropDuplicates([label_col, id_col])
    kept = nodes.groupBy(label_col, id_col).agg(F.min(F.struct(*rest)).alias("_row"))
    return kept.select(*[c if c in (label_col, id_col) else F.col("_row")[c].alias(c)
                         for c in nodes.columns])


def canonicalize_nodes(nodes: DataFrame, id_map: DataFrame,
                       id_col: str = "id",
                       label_col: str = "label") -> DataFrame:
    """Rewrite node ids to their canonical representative, then dedup.

    A hub id needs no salting here: the dedup's map-side partial
    aggregate already collapses its rows to one per map task before
    the shuffle.
    """
    m = id_map.select(F.col("id").alias("_aid"),
                      F.col("canonical_id").alias("_cid"))
    out = (nodes.join(m, nodes[id_col] == m["_aid"], "left")
           .withColumn(id_col, F.coalesce(F.col("_cid"), F.col(id_col)))
           .drop("_aid", "_cid"))
    return dedup_nodes(out, id_col, label_col)


def transitive_closure(edges: DataFrame, src: str = "src",
                       dst: str = "dst",
                       max_iter: int = 20) -> DataFrame:
    """Directed reachability: edges -> distinct (src, dst) pairs where
    dst is reachable from src — the distributed form of the KG ancestor
    query (Biolink is_a chains, ontology subsumption; the reference
    walks these driver-side per class, schema_config YAML semantics).

    Path doubling, not single-step expansion: each round joins the
    CURRENT closure with itself (paths of length <= 2^k after k rounds),
    so a diameter-D graph converges in ceil(log2 D) shuffles instead of
    D. Every round is one self-join on a node key + distinct — skew
    follows in-degree of hub ancestors; AQE's skew split applies to the
    join, and distinct gets map-side partial aggregation. Same
    checkpoint discipline as connected_components: one materialization
    per round, convergence read off the checkpointed count.

    Scale caveat (documented, inherent to the OUTPUT): closure size is
    O(sum of ancestor-set sizes); a deep linear chain is quadratic in
    its length. Ontology DAGs are log-depth with small ancestor sets —
    the intended domain."""
    cur = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
           .filter(F.col("s") != F.col("d"))
           .distinct())
    cur = _ckcut(cur)
    n = cur.count()
    converged = False
    for _ in range(max_iter):
        hop = (cur.alias("a")
               .join(cur.alias("b"), F.col("a.d") == F.col("b.s"))
               .select(F.col("a.s").alias("s"), F.col("b.d").alias("d")))
        nxt = (cur.unionByName(hop)
               .filter(F.col("s") != F.col("d"))
               .distinct())
        # _ckcut, not plain localCheckpoint: path doubling joins cur
        # with itself, so Spark 4's origin-stats propagation would
        # SQUARE the sizeInBytes estimate every round (see ckpt.py)
        nxt = _ckcut(nxt)
        m = nxt.count()
        cur = nxt
        if m == n:
            converged = True
            break
        n = m
    if not converged:
        # a silent partial closure hands callers incomplete reachability;
        # path doubling makes max_iter=20 cover diameter 2^20, so hitting
        # this means either a pathological graph or a too-small override.
        raise RuntimeError(
            f"transitive_closure did not reach a fixed point within "
            f"{max_iter} path-doubling rounds (covers diameter 2^{max_iter}); "
            "raise max_iter")
    return cur.select(F.col("s").alias(src), F.col("d").alias(dst))


def strongly_connected(edges: DataFrame, src: str = "src",
                       dst: str = "dst",
                       max_iter: int = 20) -> DataFrame:
    """SCC labels from mutual reachability: scc(u) = min(u, min{v :
    u ->* v AND v ->* u}) — every node of the edge set gets a row
    (node, scc); a node on no cycle labels itself (trivial SCC).

    The KG use case is CYCLE DETECTION in supposed-DAG hierarchies
    (is_a/subClassOf loops are data-quality errors the reference's
    driver-side ontology walk would spin on): any scc shared by more
    than one node names a loop, and the label is a canonical
    representative for collapsing it.

    Built on transitive_closure (path doubling, ceil(log2 D) shuffle
    rounds) plus ONE pair-keyed self-join — (u,v) matches (v,u), an
    equi-join on both columns, output bounded by the closure size —
    and a node-keyed min aggregation.  Scale caveat is the closure's
    (documented there): output-bound, quadratic on one giant cycle —
    the intended domain is sparse near-DAGs where cycles are small
    anomalies, exactly where closure size stays near-linear.
    """
    c = transitive_closure(edges, src, dst, max_iter)
    mutual = (c.alias("a")
              .join(c.alias("b"),
                    (F.col("a." + src) == F.col("b." + dst))
                    & (F.col("a." + dst) == F.col("b." + src)))
              .select(F.col("a." + src).alias("n"),
                      F.col("a." + dst).alias("m")))
    nodes = (edges.select(F.col(src).alias("n"))
             .unionByName(edges.select(F.col(dst).alias("n")))
             .distinct())
    return (nodes.join(mutual, "n", "left")
            .groupBy("n")
            .agg(F.least(F.col("n"), F.coalesce(F.min("m"), F.col("n")))
                 .alias("scc"))
            .select(F.col("n").alias("node"), "scc"))


def strongly_connected_sql(edges_sql: str, src: str = "src",
                           dst: str = "dst") -> str:
    """DuckDB twin of strongly_connected: recursive-CTE closure
    (semi-naive iteration — a different strategy than the engine's
    path doubling; UNION's dedup is the fixed point, so cycles
    terminate), the same mutual self-join, the same node-min label."""
    return f"""WITH RECURSIVE scc_e AS (
  SELECT {src} AS s, {dst} AS d FROM ({edges_sql.strip()}) AS scc_in
  WHERE {src} <> {dst}
), scc_r AS (
  SELECT s, d FROM scc_e
  UNION
  SELECT scc_r.s, scc_e.d FROM scc_r JOIN scc_e ON scc_r.d = scc_e.s
  WHERE scc_r.s <> scc_e.d
), scc_m AS (
  SELECT a.s AS n, a.d AS m
  FROM scc_r AS a JOIN scc_r AS b ON a.s = b.d AND a.d = b.s
), scc_n AS (
  SELECT {src} AS n FROM ({edges_sql.strip()}) AS scc_in1
  UNION
  SELECT {dst} AS n FROM ({edges_sql.strip()}) AS scc_in2
)
SELECT scc_n.n AS node,
       least(scc_n.n, coalesce(min(scc_m.m), scc_n.n)) AS scc
FROM scc_n LEFT JOIN scc_m ON scc_n.n = scc_m.n
GROUP BY scc_n.n"""


def survivorship_merge(records: DataFrame, cluster_col: str,
                       precedence_cols: list[str],
                       field_cols: list[str]) -> DataFrame:
    """Golden-record survivorship: one merged row per cluster where
    EACH FIELD independently takes the value of the best-precedence
    record that has it non-null — the step after canonical_id_map /
    connected_components turns "these rows are the same entity" into
    one usable row (MDM survivorship; the reference's
    skip_duplicate_nodes keeps an arbitrary first row instead,
    biocypher_config.yaml:11 semantics).

    Precedence is the ascending sort over `precedence_cols` (source
    rank, then e.g. -recency, then a unique id as final tiebreaker).
    Caller contract: precedence columns are NON-NULL and, per cluster,
    no two records share a full precedence tuple unless any field
    value may break the tie — the implementation appends the field
    value itself as the last sort key so the pick stays a total order
    (and the twin replicates exactly that).

    Scale shape: ONE groupBy on the cluster key with one min(struct)
    aggregate per field — all mergeable, so map-side partial
    aggregation absorbs mega-cluster skew; no window, no join, no
    second exchange. Null-skipping is the F.min-ignores-null contract
    on the when()-guarded struct."""
    if not field_cols:
        raise ValueError("field_cols must be non-empty")
    overlap = ({cluster_col} | set(precedence_cols)) & set(field_cols)
    if overlap:
        raise ValueError(f"field_cols overlap cluster/precedence: "
                         f"{sorted(overlap)}")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_members")]
    for f in field_cols:
        picked = F.min(F.when(
            F.col(f).isNotNull(),
            F.struct(*[F.col(p) for p in precedence_cols],
                     F.col(f).alias("_v"))))
        aggs.append(picked["_v"].alias(f))
    return records.groupBy(cluster_col).agg(*aggs)


def survivorship_merge_sql(records_sql: str, cluster_col: str,
                           precedence_cols: list[str],
                           field_cols: list[str]) -> str:
    """DuckDB twin of survivorship_merge — the window spelling: per
    field, rank the non-null rows by (precedence..., value) and join
    the rn=1 picks back per cluster; independent of the single
    grouped min(struct) pass on the Spark side."""
    prec = ", ".join(precedence_cols)
    ctes = [f"""sv_in AS MATERIALIZED (
  SELECT * FROM (
{records_sql.strip()}
  )
), sv_n AS (
  SELECT {cluster_col}, CAST(count(*) AS BIGINT) AS n_members
  FROM sv_in GROUP BY 1
)"""]
    joins = []
    for i, f in enumerate(field_cols):
        ctes.append(f"""sv_f{i} AS (
  SELECT {cluster_col}, {f} FROM (
    SELECT {cluster_col}, {f},
           row_number() OVER (PARTITION BY {cluster_col}
                              ORDER BY {prec}, {f}) AS rn
    FROM sv_in WHERE {f} IS NOT NULL
  ) WHERE rn = 1
)""")
        joins.append(f"LEFT JOIN sv_f{i} USING ({cluster_col})")
    fields = ", ".join(field_cols)
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT {cluster_col}, n_members, {fields}\n"
            f"FROM sv_n\n" + "\n".join(joins))
