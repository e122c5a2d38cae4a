"""Connected components over a pair/edge DataFrame — the clustering
step that turns near-duplicate PAIRS (MinHash-LSH, SimHash, n-gram
Jaccard, embedding cosine — everything in :mod:`.dedup` emits pairs)
into duplicate CLUSTERS with one canonical keeper per cluster, i.e. the
last stage of a fuzzy-dedup pipeline at corpus scale.  No reference
counterpart (the reference engine has no graph/clustering operators);
the algorithm is the standard Spark formulation of iterated min-label
propagation with pointer jumping (cf. Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — the alternating-star
family; GraphFrames/GraphX implement the same shape).

Scale posture:

* Every iteration is two shuffled equi-joins + a hash aggregate — no
  cartesian terms, cost O(|E| + |V|) per round at any cluster shape.
* Neighbor-min propagation alone needs O(diameter) rounds; the pointer
  jumping step (label := label of one's label) halves remaining path
  lengths, giving O(log |V|) rounds on ANY topology — a 1e9-node path
  graph converges in ~30 rounds, and real near-dup clusters (tiny
  diameter) in 2-3.
* ``localCheckpoint`` truncates the logical plan every round:
  iterative DataFrame algorithms otherwise stack O(rounds) joins into
  one plan and die in the optimizer long before the executors hurt.
* Convergence detection is one scalar action per round (an aggregate
  of ``changed`` flags) — driver-bounded, no collect of node data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.mapper import SparkMapper
from ..core.sizing import fits


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 30,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the MINIMUM
    node id of its component (the usual canonical-keeper convention:
    ``component == node`` marks the kept representative).

    Returns ``(node, component)`` for every node that appears in
    ``edges``; isolated nodes never enter the edge list, so callers
    dedup by left-joining this onto the corpus and coalescing missing
    labels to the node id (see :class:`DedupClustersMapper`).

    ``max_iterations`` bounds the doubling rounds; 30 covers any graph
    below 2^30 nodes on a path topology, and the loop exits as soon as
    a round changes nothing.  Raises if the cap is hit without
    convergence (returning half-merged components would silently
    under-dedup).

    **Small-graph tier**: when the deduplicated bidirectional edge
    list holds at most ``small_graph_edges`` rows (known for free —
    the list is counted on the blocks its eager checkpoint just
    materialized), the components are solved with one driver-side
    union-find instead of iterative rounds.  Near-dup edge sets are
    usually MUCH smaller than the corpus (banding emits only genuine
    near-dup candidates), so even at corpus scale the edge list often
    fits; 1M rows is ~16 MB.  Same labels by construction
    (min-id-per-component; property-tested equal), ~one round's cost
    total instead of 2-3 rounds × 2 joins.  ``small_graph_edges=0``
    pins the distributed path.
    """
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    # min-label propagation needs a totally ordered integer id; a
    # silent cast('bigint') would null out string ids (doc_id =
    # 'doc-0017'), drop every edge, and report a clean — empty —
    # clustering.  Refuse loudly instead; callers with non-integer
    # ids enumerate first (operators/fields.py EnumerateFieldMapper).
    int_types = (ByteType, ShortType, IntegerType, LongType)
    for c in (src, dst):
        dt = edges.schema[c].dataType
        if not isinstance(dt, int_types):
            raise TypeError(
                f"connected_components: edge column {c!r} has type "
                f"{dt.simpleString()}, need an integer id — map ids "
                "through EnumerateFieldMapper (or a stable int key) "
                "first; a silent cast would drop non-numeric edges"
            )
    sess = edges.sparkSession
    e = (
        edges.select(
            F.col(src).cast("bigint").alias("u"),
            F.col(dst).cast("bigint").alias("v"),
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
    )
    # undirected: keep one canonical direction + its mirror
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    bidir = bidir.dropDuplicates(["u", "v"]).localCheckpoint(eager=True)

    # bounded probe on the checkpointed blocks: reads at most
    # small_graph_edges+1 rows, no full count of a huge list
    if small_graph_edges > 0 and fits(bidir, small_graph_edges):
        return _components_driver_side(sess, bidir)

    labels = (
        bidir.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iterations):
        # 1) neighbor-min: the smallest label among me and my neighbors
        nbr = (
            bidir.join(
                labels.withColumnRenamed("node", "v"), "v"
            )  # (u, v, component-of-v)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        prop = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.col("component").alias("__old__"),
                F.least(
                    "component", F.coalesce("nbr_min", "component")
                ).alias("component"),
            )
        )
        # 2) pointer jumping: component := component of my component —
        #    halves remaining pointer-chain lengths each round, which
        #    is what turns O(diameter) propagation into O(log n).
        #    `prop` appears in both branches of the self-join below, so
        #    its 2-join subtree can evaluate twice within the round's
        #    single job — a deliberate trade: checkpointing prop first
        #    costs a second action per round, which measured SLOWER
        #    (2 jobs x fixed overhead > the duplicated bounded subtree;
        #    ReuseExchange also collapses the duplicate when both
        #    branches shuffle on `component`).  Old rounds' checkpoint
        #    blocks are released by the ContextCleaner once this loop
        #    drops the previous `labels` reference (lineage is
        #    truncated each round, so nothing chains them together).
        as_parent = prop.select(
            F.col("node").alias("component"),
            F.col("component").alias("grand"),
        )
        jumped = (
            prop.join(as_parent, "component", "left")
            .select(
                "node",
                "__old__",
                F.least(
                    "component", F.coalesce("grand", "component")
                ).alias("component"),
            )
            # lazy checkpoint: the convergence aggregate below is the
            # materializing action, so each round costs ONE job, not an
            # eager-checkpoint job plus a separate changed-count job.
            # The full-scan aggregate (not limit(1)) is deliberate: it
            # computes every partition, so the checkpoint is complete
            # before the next round reads it.
            .localCheckpoint(eager=False)
        )
        # convergence check fused into the materialization: the old
        # label rides along the round's pipeline (carried from `prop`),
        # replacing the former labels-join + count second job
        changed = jumped.agg(
            F.max((F.col("component") != F.col("__old__")).cast("int"))
        ).collect()[0][0]
        labels = jumped.drop("__old__")
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components: no convergence in {max_iterations} "
        "doubling rounds — raise max_iterations (30 covers ~2^30-node "
        "path graphs; needing more suggests the edge list is still "
        "growing mid-job or ids are unstable)"
    )


def _components_driver_side(sess, bidir: DataFrame) -> DataFrame:
    """Union-find over a driver-bounded edge list (the small-graph
    tier — caller has already verified the row count).  Path-halving +
    union-by-root keeps it ~linear; labels are the component's minimum
    node id, matching the distributed path exactly."""
    pdf = bidir.toPandas()
    parent: dict = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
        parent.setdefault(u, find(u))
        parent.setdefault(v, find(v))
    nodes = sorted({*pdf["u"].tolist(), *pdf["v"].tolist()})
    # root is already the min id of its component: unions always point
    # the larger root at the smaller, so every tree root is the
    # component minimum
    import pandas as pd

    out = pd.DataFrame(
        {"node": nodes, "component": [find(n) for n in nodes]}
    )
    return sess.createDataFrame(out, schema="node bigint, component bigint")


class DedupClustersMapper(SparkMapper):
    """Fuzzy-dedup end stage: near-dup PAIRS -> duplicate CLUSTERS ->
    per-document ``(cluster_id, is_kept)``.

    Construct with an edge DataFrame (any of the pair mappers' outputs:
    ``id_a``/``id_b`` columns) and map over the corpus: every document
    gets the minimum doc id of its duplicate cluster as ``cluster_id``
    (its own id when it has no near-dups) and ``is_kept = 1`` exactly
    for the cluster representative — downstream keeps ``is_kept = 1``
    rows for a deduped corpus, or groups by ``cluster_id`` to inspect
    duplicate groups.

    Representative selection: by default the minimum doc id (the
    cluster_id itself).  With ``quality_field`` set, the HIGHEST-
    quality member of each cluster is kept instead (ties and NULL
    qualities break to the minimum id) — the practical dedup policy:
    among near-identical documents, keep the best one, not the one
    with the smallest key.  ``cluster_id`` stays the min id either
    way, so cluster identity is stable across policies.

    Scale: the rep map is computed on the CLUSTER MEMBERS only (the
    pair-connected subset — tiny vs the corpus) via one ``max_by``
    aggregation over a slim ``(component, id, quality)`` projection;
    singletons never touch it.
    """

    def __init__(
        self,
        pairs: DataFrame,
        id_field: str = "doc_id",
        src: str = "id_a",
        dst: str = "id_b",
        max_iterations: int = 30,
        small_graph_edges: int = 1_000_000,
        quality_field: "str | None" = None,
    ) -> None:
        self.pairs = pairs
        self.id_field = id_field
        self.src = src
        self.dst = dst
        self.max_iterations = max_iterations
        self.small_graph_edges = small_graph_edges
        self.quality_field = quality_field
        fields = [id_field] + (
            [quality_field] if quality_field else []
        )
        super().__init__(input_fields=fields)

    def apply(self, df: DataFrame) -> DataFrame:
        comp = connected_components(
            self.pairs,
            src=self.src,
            dst=self.dst,
            max_iterations=self.max_iterations,
            small_graph_edges=self.small_graph_edges,
        ).withColumnRenamed("node", self.id_field)
        out = df.join(comp, self.id_field, "left").withColumn(
            "cluster_id",
            F.coalesce("component", F.col(self.id_field).cast("bigint")),
        )
        if self.quality_field is None:
            return out.drop("component").withColumn(
                "is_kept",
                (F.col("cluster_id") == F.col(self.id_field)).cast(
                    "int"
                ),
            )
        # quality policy: argmax(quality, tiebreak min id) per cluster,
        # computed over the members only.  NULL — and NaN, which Spark
        # orders ABOVE every double and would otherwise win the argmax
        # — sort lowest (-inf), so an all-NULL/NaN cluster falls back
        # to the min id, identical to the default policy.
        q = F.coalesce(
            F.nanvl(
                F.col(self.quality_field).cast("double"),
                F.lit(None).cast("double"),
            ),
            F.lit(float("-inf")),
        )
        members = df.select(
            F.col(self.id_field), F.col(self.quality_field)
        ).join(comp, self.id_field)
        reps = members.groupBy("component").agg(
            F.max_by(
                F.col(self.id_field),
                F.struct(
                    q.alias("q"),
                    (-F.col(self.id_field)).alias("negid"),
                ),
            ).alias("__rep__")
        ).withColumnRenamed("component", "cluster_id")
        return (
            out.drop("component")
            .join(reps, "cluster_id", "left")
            .withColumn(
                "is_kept",
                (
                    F.col(self.id_field)
                    == F.coalesce("__rep__", F.col(self.id_field))
                ).cast("int"),
            )
            .drop("__rep__")
            .select(
                *df.columns, "cluster_id", "is_kept"
            )
        )


__all__ = ["connected_components", "DedupClustersMapper"]
