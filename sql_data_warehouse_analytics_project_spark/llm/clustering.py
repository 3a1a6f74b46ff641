"""Duplicate-cluster resolution: near-dup PAIRS → connected components →
one canonical document per cluster (north-star extension; the reference
has no graph surface — its nearest analogue is the recursive lineage
traversal ``logs/data_lineage.py:378-435``).

Why this exists: every near-dup detector in :mod:`~.llm.dedup` emits
*pairs* (a ~ b). Dropping one side of each pair independently
over-deletes (a~b, b~c would drop both b and c); the correct contract is
transitive closure — group pairs into clusters, keep exactly one
canonical doc per cluster. At 100 TB the cluster graph has billions of
edges, so the closure must be computed distributed, not on the driver.

Algorithm: iterative min-label propagation ("hash-to-min"): every node
starts labeled with itself; each round every node takes the min of its
own and its neighbors' labels. Converges in O(graph diameter) rounds —
and near-dup graphs are short-diameter by construction (detectors emit
near-cliques; chains longer than a few hops are vanishingly rare), so
3-5 rounds close real corpora. Each round is one shuffle on node id
(join + min-aggregate, both map-side combinable); frontiers are
localCheckpointed each round so the plan stays flat and the
convergence probe reads materialized rows. For adversarial
long-chain graphs the alternating large-star/small-star
variant (Kiveris et al., "Connected Components in MapReduce") drops the
round count to O(log n); min-label propagation is the right default for
dedup workloads and keeps every round a plain equi-join Catalyst can
plan (sort-merge or AQE-broadcast as sizes dictate).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: graphs with at most this many raw pair rows resolve on the driver
#: (union-find); larger ones take the distributed label propagation
DRIVER_MAX_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Resolve the undirected graph in ``edges`` to components.

    Returns ``(node, component)`` — one row per distinct node, where
    ``component`` is the MINIMUM node id reachable from ``node`` (a
    stable, deterministic cluster id usable as the canonical member).

    ``max_iter`` bounds the label-propagation rounds (diameter bound);
    convergence short-circuits as soon as a round changes no label.

    Graphs at or under :data:`DRIVER_MAX_EDGES` raw pair rows (known for free
    — the pair list is materialized anyway) resolve with union-find on
    the driver: near-dup pair sets are typically tiny next to the corpus,
    and the distributed loop's cost is per-round JOB overhead, not data,
    so a sub-second exact union-find beats 3+ rounds of join+checkpoint
    by ~10×. The fast path deliberately does NOT symmetrize or
    deduplicate first (union-find is direction- and multiplicity-
    insensitive, so the extra union + exchange would be pure overhead —
    measured ~0.5 s of fixed job cost on a 1k-pair graph); the
    symmetrized-distinct edge list is built only for the distributed
    path, whose per-round joins re-read it. The iterative path is the
    ≥millions-of-edges scale story. Both paths produce identical
    (node, min-reachable-id) labels.
    """
    e0 = edges.select(
        F.col(src).try_cast("long").alias("u"),
        F.col(dst).try_cast("long").alias("v"),
    ).filter("u is not null and v is not null")
    # try_cast + null-filter make malformed/NULL endpoints behave the same
    # under ANSI (where plain cast throws) and non-ANSI (where it yields
    # NULL) sessions, and — critically — give the driver union-find fast
    # path and the distributed min-propagation path the SAME edge set: the
    # fast path would otherwise raise comparing None while the distributed
    # path silently ignored such rows.
    # lazy: the DRIVER_MAX_EDGES count() is a full scan, so it doubles as
    # the materializing action (one job instead of two)
    e0 = e0.localCheckpoint(eager=False)
    if e0.count() <= DRIVER_MAX_EDGES:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        # bounded by DRIVER_MAX_EDGES rows → one collect job (a
        # toLocalIterator here costs one round-trip per partition)
        for row in e0.collect():
            u, v = row.u, row.v
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN root id → labels match the distributed path
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        return e0.sparkSession.createDataFrame(rows, "node long, comp long")
    # Symmetrize once for the distributed rounds; both directions
    # materialized together because every round re-reads the full edge
    # list, and distinct() keeps near-clique detectors from inflating
    # every per-round join.
    e = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        # lazy: the eager init-fold checkpoint just below scans this
        # through a single leaf and pins it as a side effect — one fewer
        # driver job, no stage-level contention
        .localCheckpoint(eager=False)
    )
    # Fold the first propagation round into initialization: the symmetric
    # edge list already holds every node as `u`, so min(self, min neighbor)
    # is both the node inventory and round 1 in a single aggregation.
    labels = (
        e.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select(F.col("u").alias("node"), F.least("u", "_mn").alias("comp"))
        # EAGER: this materialization computes the lazy symmetrized edge
        # list through a single leaf and pins both; the loop's joins then
        # fan out over already-materialized frames
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter - 1):
        nbr_min = (
            e.join(labels.select(F.col("node").alias("v"), "comp"), "v")
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
            .select(F.col("u").alias("node"), "nbr_comp")
        )
        # Compute the convergence flag in the SAME pass as the update; the
        # probe is then one tiny aggregate over the already-materialized
        # checkpoint instead of a second labels⋈labels join per round.
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias(
                    "comp"
                ),
                (F.coalesce("nbr_comp", F.col("comp")) < F.col("comp")).alias(
                    "_changed"
                ),
            )
            .localCheckpoint(eager=False)
        )
        labels = new_labels.select("node", "comp")
        # the convergence probe is a full scan — it materializes the
        # round's lazy checkpoint as a side effect
        if not new_labels.agg(F.max("_changed")).first()[0]:
            break
    return labels


def dup_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", *, max_iter: int = 25
) -> DataFrame:
    """Near-dup pairs → per-node cluster assignment with canonical flags.

    Returns ``(node, cluster_id, cluster_size, is_canonical)`` for every
    node appearing in ``pairs``. ``cluster_id`` is the minimum member id;
    ``is_canonical`` marks exactly one keeper per cluster (the minimum —
    deterministic; callers wanting keep-longest should join their own
    quality signal against this table and re-pick).
    """
    from pyspark.sql.window import Window

    cc = connected_components(pairs, src, dst, max_iter=max_iter)
    # one shuffle on comp (window count) instead of groupBy + join back —
    # same exchange the join would need anyway, minus the join stage
    size = F.count(F.lit(1)).over(Window.partitionBy("comp"))
    return cc.select(
        "node",
        F.col("comp").alias("cluster_id"),
        size.alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )


def dedup_by_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    *,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Corpus minus non-canonical cluster members: transitively-correct
    dedup (never drops both sides of a chain, never keeps two members of
    the same cluster). One anti-join on the id — docs never shuffle on
    content. ``clusters`` accepts a pre-computed (ideally checkpointed)
    :func:`dup_clusters` table over the same pairs so pipelines that also
    split on the clusters (``curate.curate_corpus``) resolve the
    components ONCE."""
    cc = clusters if clusters is not None else dup_clusters(pairs, src, dst)
    drop = cc.filter(~F.col("is_canonical")).select(F.col("node").alias(id_col))
    return docs.join(drop, id_col, "left_anti")


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    splits: Mapping[str, float] | None = None,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    salt: str = "split",
    split_col: str = "split",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Train/val/test assignment where near-duplicates NEVER straddle a
    split boundary — the eval-leakage guard: hashing each doc
    independently would put a near-copy of a training doc into the test
    set, silently inflating eval scores.

    Resolves ``pairs`` to clusters, keys the deterministic
    :func:`~.llm.sampling.hash_split` bucket on the CLUSTER id (docs in
    no pair key on their own id), and assigns the whole cluster together.
    Adds ``split_key`` (the group id used) and ``split_col``. One
    left join of docs against the (tiny relative to corpus) cluster
    table; membership stays a pure function of (salt, cluster), so the
    holdout is recomputable forever, exactly like a per-doc hash split.
    ``clusters`` accepts a pre-computed :func:`dup_clusters` table (same
    sharing contract as :func:`dedup_by_pairs`).
    """
    from sql_data_warehouse_analytics_project_spark.llm.sampling import hash_split

    if splits is None:
        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    cc = (
        clusters if clusters is not None else dup_clusters(pairs, src, dst)
    ).select(F.col("node").alias(id_col), F.col("cluster_id"))
    keyed = docs.join(cc, id_col, "left").withColumn(
        "split_key",
        F.coalesce(F.col("cluster_id"), F.col(id_col)).cast("long"),
    ).drop("cluster_id")
    return hash_split(keyed, "split_key", splits, salt=salt, split_col=split_col)
