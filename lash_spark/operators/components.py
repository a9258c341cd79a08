"""Union-find connected components via large-star / small-star (O4).

Iterative DataFrame self-joins (Kiveris et al., "Connected Components in
MapReduce and Beyond") — O(log n) rounds even on path graphs, each round a
single groupBy + join, with localCheckpoint() per iteration to truncate
lineage (SURVEY.md §4.2(2)). No reference counterpart: the reference emits
pairwise distances only; clustering is the north_rule's addition.

Output: (node, component) where component = min node id in the component —
matching the fixture convention (FIXTURES.md: cluster_id = min url).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Canonical edges at/under which connected_components runs a driver-local
# union-find.
_LOCAL_EDGE_CAP = 2_000_000


def _canonical(edges: DataFrame) -> DataFrame:
    """(src,dst) -> undirected canonical (src>dst), self-loops dropped."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u.

    Output is a MULTISET: the historical trailing distinct() was a dedicated
    exchange whose only consumer is _small_star, where every aggregate is
    duplicate-insensitive (min) and the final distinct() already dedups —
    so duplicate (v, m) emissions ride the next stage's existing map-side
    partial aggregation instead of paying their own shuffle (guide §2.3)."""
    sym = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.withColumn("m", F.least("mn", "src")).drop("mn")
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Edges oriented src > dst. For each u: m = min(N_small(u) ∪ {u});
    emit (v, m) for v in N_small(u) ∪ {u}, v != m."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    nbr = (
        e.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_e = mins.select(F.col("src"), F.col("m").alias("dst"))
    return nbr.unionByName(self_e).distinct()


def _driver_components(e: DataFrame, pdf_e=None) -> DataFrame:
    """Union-find on the driver for a KNOWN-bounded canonical edge set:
    materialize the edges (count already verified <= the cap by the
    caller; Arrow toPandas, two flat columns — no per-row JVM Row
    objects), label each touched node with its component's min id, return
    the same (node, component) frame the distributed rounds produce.
    Union-by-min with path compression keeps the final root equal to the
    component minimum, so labels match the distributed output exactly.

    ``pdf_e``: the already-collected edge pandas frame when the caller's
    gating fetch has it in hand (connected_components' bounded take), so
    the edges cross the Arrow boundary exactly once."""
    import pandas as pd

    spark = e.sparkSession
    if pdf_e is None:
        pdf_e = e.toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf_e.iloc[:, 0].tolist(), pdf_e.iloc[:, 1].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    schema = T.StructType(
        [
            T.StructField("node", e.schema["src"].dataType, True),
            T.StructField("component", e.schema["src"].dataType, True),
        ]
    )
    pdf = pd.DataFrame({"node": nodes, "component": [find(v) for v in nodes]})
    return spark.createDataFrame(pdf, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Edge list -> (node, component) labels. Nodes appearing in no edge are
    absent (caller left-joins and coalesces to self — see assign_clusters).

    Edge sets at or under ``_LOCAL_EDGE_CAP`` canonical edges (2M ~ tens
    of MB; 0 disables) route to a driver-local
    union-find instead of the distributed star rounds: each round is 2
    exchanges + 1 action of mostly near-empty tasks, so below the cap the
    scheduler overhead dominates the actual work by orders of magnitude
    (same bounded-driver-work trade as the IVF k-means fit, guide §1.2/§5
    — the cap bounds driver memory, the count that gates it comes from
    the checksum action the loop needed anyway, and results are identical
    by construction: min-id labels either way). At scale the cap routes
    every real graph to the O(log n) rounds."""
    def _checksum(df: DataFrame):
        """Order-insensitive (count, xor-of-row-hashes) set fingerprint —
        one action per iteration instead of count + exceptAll."""
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    e = _canonical(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    # lazy checkpoints: the per-iteration checksum action materializes them,
    # so each round costs ONE job while lineage still truncates
    e = e.localCheckpoint(eager=False)
    if _LOCAL_EDGE_CAP:
        # gate AND fetch in one bounded action: limit(cap+1).toPandas() is a
        # CollectLimit (incremental take — on an over-cap graph it stops
        # after a few partitions instead of scanning everything), so the
        # common small-graph path pays ONE Spark job total where the old
        # shape paid a checksum job plus a separate full toPandas pass. At
        # or under the cap the limit returns the complete edge set, so the
        # labels are identical by construction.
        head = e.limit(_LOCAL_EDGE_CAP + 1).toPandas()
        if len(head) <= _LOCAL_EDGE_CAP:
            return _driver_components(e, pdf_e=head)
    prev = _checksum(e)
    for _ in range(max_iterations):
        # _small_star's output is already canonical: both emit branches are
        # oriented src > dst by construction (m is a strict minimum on every
        # emitted row — self_e's src always has a smaller neighbor because
        # its input is src>dst oriented), and it ends in distinct(). The r5
        # loop wrapped it in _canonical() anyway, paying one extra distinct
        # SHUFFLE per round for a provable no-op (r6 measurement: ~20% of
        # each CC round).
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:  # star-contracted edge set stable -> converged
            break
        prev = cur
    # final edges are (node > root) stars; add roots' self-labels
    labels = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return labels.unionByName(roots).groupBy("node").agg(F.min("component").alias("component"))


def assign_clusters(
    docs: DataFrame, edges: DataFrame, id_col: str = "url", max_iterations: int = 50
) -> DataFrame:
    """(id) x dup-edges -> (id, cluster_id); singletons get their own id."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    comp = connected_components(edges, src=a, dst=b, max_iterations=max_iterations)
    return (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )
