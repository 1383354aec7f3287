"""Near-duplicate cluster resolution: candidate dup PAIRS -> connected
COMPONENTS -> one canonical doc per component.

The dedup family (operators/dedup.py) emits pairwise evidence
(lsh_verified_pairs, exact_dup_groups); a training-corpus build then
needs "keep exactly one doc per duplicate *cluster*", which is
connected components over the pair graph — pairs (a,b),(b,c) must
collapse to one cluster {a,b,c} even though (a,c) was never emitted.

Spark-first shape: iterative min-label propagation with path-halving
(each round every node takes the min label over itself and its
neighbours, then labels shortcut through one pointer hop) — related
to the large-star/small-star map-reduce CC family (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Every round
is two shuffles on bigint keys (one neighbour-min aggregate, one
label-to-label shortcut join); `localCheckpoint` truncates the lineage
so the plan does not grow with iterations. Convergence is detected by
a changed-row count carried through the round (labels only ever drop
to a smaller node id), a single-row aggregate per round — no
driver-side data movement beyond that scalar.

Round-count reality (measured, r13, pure-python simulation of this
exact loop): the min label still has to TRAVEL the graph one hop per
round; halving shortcuts label-pointer chains but does not square
them while new mins keep arriving, so convergence is ~diameter/2 +
O(1) rounds, NOT the O(log diameter) an idealized pointer-doubling
analysis suggests (a 5000-node near-critical random graph overlaid
with 30-hop chains measured 33 rounds). Dup-pair graphs at corpus
scale are overwhelmingly tiny components (pairs + short chains from
chained near-dups), so the fixpoint typically lands in 1-4 rounds
and the bound is irrelevant there; `max_iter` (default 50, breaks
early on convergence so the default costs nothing) is the explicit
guard for adversarial-diameter graphs.

Reference anchor: the reference's dedup surface stops at per-URL
row dedup (dbt transformed.sql:16-24 ROW_NUMBER over url); cluster
resolution generalizes it to transitive near-dup groups for the
100 TB corpus posture.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iter: int = 50
) -> DataFrame:
    """(id, lab) with lab = min node id reachable from id over the
    undirected pair graph.

    Precondition (relied on structurally, stated so callers other
    than dup_clusters can't violate it silently — r12 advice):
    ``nodes`` must have column ``id`` (bigint-able) with DISTINCT
    values, one row per node: the path-halving self-join treats labels
    as node ids and must stay total and 1:1 (duplicate ids would
    explode it).

    An edge with an endpoint that is not a node id is ignored: it
    loses no row and merges no components. The seed's neighbour min is
    semi-joined against ``nodes`` for this (a label pointing at a
    non-node would fall out of the halving self-join), and later rounds
    only take labels from nodes. Both in-tree callers mine pairs from
    the same doc frame they cluster, so they never produce one.

    Isolated nodes keep lab = id; empty ``nodes`` returns empty (the
    changed-count below is 0 on an empty frame, so the loop exits on
    round 1 — no NULL-sum trap). Exact fixpoint (not an
    approximation), so it agrees with a transitive-closure oracle
    whenever the loop converges within ``max_iter`` rounds; when it
    does not, the labels returned are not final and a RuntimeWarning
    says how many labels changed in its last round.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be at least 1, got {max_iter}")
    a, b = F.col("id_a").cast("long"), F.col("id_b").cast("long")
    # Both directions of every pair from one pass over ``pairs``: a
    # union of the pair frame with its mirror planned the whole
    # upstream pair pipeline twice.
    # The checkpoint is not free at this call: under AQE,
    # localCheckpoint(eager=False) still runs the shuffle-map stages
    # of ``pairs`` here (AQE plans the query stage by stage), and only
    # the final stage's output is deferred to round 1's neighbour join.
    # The eager form would add a dedicated job over that final stage.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(a.alias("src"), b.alias("dst")),
                F.struct(b.alias("src"), a.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").localCheckpoint(eager=False)

    # Seeded start (r13): lab0 = min(id, min neighbour id), computed
    # straight off the edge list — no label frame exists yet, so the
    # neighbour min needs NO edges-to-labels join (the most expensive
    # op of a normal round). This is a full propagation step for the
    # price of one groupBy + two node-scale joins, and dup-pair
    # graphs (mostly 2-node components) already reach their fixpoint
    # here, turning the common case from two full rounds into one.
    # The semi-join drops a min that is not a node id (a bad edge):
    # that node starts from its own id and the rounds, which only take
    # labels from nodes, finish the job.
    node_ids = nodes.select(F.col("id").cast("long").alias("id"))
    seed_nmin = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nmin"))
        .join(node_ids.withColumnRenamed("id", "nmin"), "nmin", "left_semi")
    )
    lab = (
        node_ids.join(seed_nmin, "id", "left")
        .select("id", F.least("id", F.coalesce("nmin", F.col("id"))).alias("lab"))
        .localCheckpoint(eager=False)
    )

    # Deferred checkpoints throughout (r12 optimization, measured
    # 1.2-3.2x on the sf0.1 build): eager=False defers the final
    # stage to the convergence-check aggregate below, so one job per
    # round both materializes the checkpoint and computes the
    # convergence scalar — the eager form ran a write job and then a
    # separate read-back job, i.e. one extra pass over the label frame
    # every round at any scale. Deferred is not lazy under AQE: the
    # checkpoint call itself runs the shuffle-map stages of the round's
    # joins (AQE plans stage by stage), so each round's joins run at
    # the localCheckpoint line and only the last stage rides on the
    # aggregate's job. Lineage is truncated identically once
    # materialized. The seed frame is itself such a checkpoint, which
    # round 1 finishes as part of its own job.
    #
    # Convergence (r13): each round carries the incoming label along
    # as ``lab0`` (free — it rides the joins the round already does)
    # and the per-round aggregate counts rows whose label changed.
    # count(CASE WHEN changed) is 0 on an empty frame where the old
    # sum-of-labels compare returned NULL, and it drops the r12
    # reliance on sum(id)-of-round-1-output equalling the initial
    # label sum (which silently assumed distinct ids twice).
    for _ in range(max_iter):
        nbr = (
            edges.join(lab.select("id", "lab").withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("lab").alias("nmin"))
        )
        prop = lab.join(nbr, "id", "left").select(
            "id",
            F.col("lab").alias("lab0"),
            F.least("lab", F.coalesce("nmin", F.col("lab"))).alias("lab"),
        )
        # Path halving: id -> lab -> lab(lab). Labels are node ids, so
        # the self-join is total.
        hop = prop.select(F.col("id").alias("lab"), F.col("lab").alias("lab2"))
        lab = (
            prop.join(hop, "lab")
            .select("id", "lab0", F.col("lab2").alias("lab"))
            .localCheckpoint(eager=False)
        )
        n_changed = lab.agg(
            F.count(F.when(F.col("lab") != F.col("lab0"), F.lit(1)))
        ).collect()[0][0]
        if n_changed == 0:
            break
    else:
        warnings.warn(
            f"connected_components: max_iter={max_iter} rounds ran out with "
            f"{n_changed} labels changed in the last round; labels are not final",
            RuntimeWarning,
            stacklevel=2,
        )
    return lab.select("id", "lab")


def dup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, keep): every doc labelled
    with its near-dup component (cluster_id = min doc_id in the
    component), the component size, and the keep-one-per-cluster
    decision (canonical = the min-id member — deterministic and
    engine-portable; swap in a quality-score argmax upstream by
    re-keying ids if desired)."""
    nodes = docs.select(F.col(id_col).alias("id"))
    comp = connected_components(nodes, pairs)
    sizes = comp.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "lab")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lab").alias("cluster_id"),
            "cluster_size",
            (F.col("id") == F.col("lab")).alias("keep"),
        )
    )
