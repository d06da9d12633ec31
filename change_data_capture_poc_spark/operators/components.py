"""Connected components via iterative min-label propagation — the
final step of a real dedup pipeline (LSH emits candidate PAIRS; the
training-data decision needs duplicate CLUSTERS, one keeper per
component).

Spark has no native graph operator, so this is the Pregel-style
formulation over DataFrames: every node starts labeled with its own id;
each round, every node takes the minimum of its label and its
neighbors' labels; at fixpoint every node carries its component's
minimum id. Deterministic — no randomness, no tie ambiguity.

Scale design:
- Each round is ONE shuffle (edge-label join + groupBy-min on the
  destination). Rounds needed = graph diameter; near-dup clusters are
  shallow (pairs/triangles, diameter ≤ ~3), so the loop converges in
  2-4 rounds. For adversarially long chains at 100 TB, switch to the
  alternating large-star/small-star formulation (Kiveris et al.,
  "Connected Components in MapReduce and Beyond") — O(log n) rounds;
  the per-round join structure is identical, so this module is the
  right skeleton either way.
- The driver-side loop holds only a per-round CHANGED counter (one
  ``count()`` action per round), never row data — the label table
  stays distributed.
- ``localCheckpoint`` every round truncates the lineage chain;
  without it, iteration k's plan replays all k-1 prior joins and the
  DAG grows quadratically (the classic iterative-algorithm trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from change_data_capture_poc_spark.functions.caching import persist_once


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id reachable from the node.

    Undirected: each input pair is traversed in both directions.
    Raises if the loop hits ``max_rounds`` without converging (a
    diameter that deep means the large-star/small-star variant is
    needed, not more rounds). Round 0 is fused into initialization
    (see below), so ``max_rounds`` must be >= 2: the fused init cannot
    observe its own convergence, and range(max_rounds - 1) would
    otherwise raise unconditionally even on an already-converged graph
    (r13 ADVICE).
    """
    if max_rounds < 2:
        raise ValueError(
            f"max_rounds must be >= 2 (round 0 is fused into the label "
            f"initialization); got {max_rounds}"
        )
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(persist_once)
    )
    # try/finally: the non-convergence RuntimeError below must not leak
    # the persisted edge table into executor storage for the rest of
    # the application.
    try:
        # Round 0 fused into initialization: one min-label round over
        # the identity labeling yields exactly min(self, min neighbor),
        # which this groupBy computes directly — the old shape paid a
        # separate distinct + join + checkpoint + count just to reach
        # the same state (r13: one full round's jobs saved per call;
        # every node appears on the "a" side of the symmetrized edge
        # table, so coverage is identical to the distinct).
        labels = (
            e.groupBy("a")
            .agg(F.min("b").alias("nbr"))
            .select(
                F.col("a").alias("node"),
                F.least(F.col("a"), F.col("nbr")).alias("component"),
            )
            .localCheckpoint()
        )

        # range(max_rounds - 1): the fused init above already spent
        # round 0's propagation, keeping the worst-case round budget
        # identical to the pre-fusion shape.
        for _ in range(max_rounds - 1):
            nbr_min = (
                e.join(labels, e["b"] == labels["node"])
                .groupBy("a")
                .agg(F.min("component").alias("nbr_component"))
                .withColumnRenamed("a", "node")
            )
            # Carry the OLD label through the checkpoint so the changed
            # count is a filter over already-materialized rows — one join
            # per round, not two (the old shape re-joined new vs old labels
            # just to count diffs, doubling per-round shuffle work).
            # LAZY checkpoint (r14): the changed-count action below is
            # the round's materializer, so marking the checkpoint lazy
            # folds truncation into that job — one driver job per round
            # instead of two (eager checkpoint + count), halving the
            # per-round fixed job latency that dominates the iterative
            # block at bench scale (guide §1.2). Later consumers (next
            # round's joins) read the already-persisted blocks.
            stepped = (
                labels.join(nbr_min, "node", "left")
                .select(
                    "node",
                    F.col("component").alias("old_component"),
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_component", F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=False)
            )
            changed = stepped.where(
                F.col("component") != F.col("old_component")
            ).count()
            labels = stepped.select("node", "component")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds"
            )
    finally:
        e.unpersist()
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after a fixed number of power iterations over the
    undirected graph of ``edges``: r(v) = (1-d) + d * Σ r(u)/deg(u)
    over v's neighbors. Deterministic (fixed iteration count, no
    convergence tolerance), so a SQL oracle can unroll the same
    iterations as chained CTEs.

    Scale shape: per iteration ONE shuffle (contribution groupBy on
    the destination); degrees computed once and joined in (the join
    key equals the groupBy key, so AQE keeps it co-partitioned);
    ``localCheckpoint`` per iteration truncates lineage. Every node in
    a pair graph has degree >= 1 — no dangling-node mass term.
    """
    from change_data_capture_poc_spark.functions.caching import (
        free_local_checkpoint,
    )

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # EAGER checkpoint: one job computes the (possibly expensive)
    # upstream edge pipeline exactly once; everything below reads the
    # materialized blocks (r14 — the old persist_once shape needed an
    # extra eager ranks-init job just to serialize the cache fill).
    e = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("a").agg(F.count("*").alias("deg"))
    # Degrees are loop-invariant: fold them into the edge table ONCE so
    # each iteration is a single rank join + contribution shuffle, not
    # rank-join + degree-join. Eager: iterations read these blocks.
    e_deg = e.join(deg, "a").localCheckpoint()
    # e's blocks have no reader anymore (ranks init below derives from
    # e_deg, not deg, exactly so e can be freed here).
    free_local_checkpoint(e)
    ranks = e_deg.select(
        F.col("a").alias("node"), F.lit(1.0).alias("rank")
    ).distinct()

    # LAZY checkpoints (r14): iteration k+1 consumes iteration k's
    # ranks exactly once and every iteration reads the checkpointed
    # e_deg, so the whole fixed-iteration chain materializes inside the
    # CALLER's single action — zero per-iteration driver jobs where the
    # old shape paid one eager checkpoint job per iteration (guide
    # §1.2; lineage still truncates at each marked RDD once computed).
    for _ in range(iterations):
        contribs = (
            e_deg.join(ranks, e_deg["a"] == ranks["node"])
            .select(F.col("b").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = contribs.select(
            "node",
            (F.lit(1.0 - damping) + F.lit(damping) * F.col("csum")).alias(
                "rank"
            ),
        ).localCheckpoint(eager=False)

    return ranks


def two_phase_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 60,
) -> DataFrame:
    """(node, component) via the alternating LARGE-STAR / SMALL-STAR
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the deep-graph complement to ``connected_components``:
    min-label propagation needs DIAMETER rounds (fine for shallow
    near-dup clusters, hopeless for a 5000-node chain), while the
    star operations contract every component to a star in O(log^2 n)
    rounds regardless of diameter.

    One round =
      large-star: every node u attaches its LARGER neighbors to
          m(u) = min(Gamma(u) + {u})      -> edges (v, m(u)), v > u
      small-star: every node u attaches its SMALLER neighbors and
          itself to m = min of the smaller neighborhood
          -> edges (u, m) + (v, m) for v in Gamma_<(u), v != m
    Both preserve connectivity; the fixpoint is a star forest whose
    centers are the component minima. Each operation is one
    groupBy-min + one join (two shuffles per round), labels never
    leave the cluster, ``localCheckpoint`` truncates lineage per
    round. Convergence detect: the (count, xxhash64-sum) checksum of
    the edge set is round-invariant exactly at the fixpoint
    (XOR fold: overflow-free under ANSI mode, order-independent).

    Round-13 measured negative result on the loop-shape alternatives
    (sf0.1 chain fixture, 9 rounds to fixpoint, ~6.3s): the wall time
    is the ~18 per-round materialization jobs' fixed latency, not plan
    work — scoping shuffle partitions to edge volume (6.7s), persisting
    instead of checkpointing the large-star edge set (9.4s — in-job
    recompute races), dropping the large-star checkpoint entirely
    (7.6s), and fusing two star rounds per checkpoint (6.6s) all
    measured AT OR ABOVE the current shape. The early-exit the checksum
    enables already fires (round counts are fixpoint-bound, not
    max_rounds-bound); at production edge volumes the fixed job latency
    amortizes and the two-shuffle round structure is what matters.
    """
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(df: DataFrame) -> tuple:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    prev = checksum(e)
    for _ in range(max_rounds):
        # large-star over the symmetric adjacency
        adj = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = adj.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        ls = (
            adj.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # small-star over the large->small directed edges
        sm = ls.groupBy("a").agg(F.min("b").alias("m"))
        # LAZY checkpoint (r14): the checksum collect below is the
        # round's materializer, so the small-star edge set checkpoints
        # inside that job — two driver jobs per round instead of three
        # (the r13 loop-shape A/Bs all kept the eager pair; folding the
        # convergence action into the materialization is the remaining
        # per-round latency, guide §1.2). ls stays EAGER: it is consumed
        # by two sibling stages (sm's groupBy and the join probe) whose
        # concurrent first-computation would race the cache fill — the
        # measured r13 persist-instead-of-checkpoint regression.
        ss = (
            ls.join(sm, "a")
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("a").alias("x"), F.col("m").alias("y")
                        ),
                        F.struct(
                            F.col("b").alias("x"), F.col("m").alias("y")
                        ),
                    )
                ).alias("p")
            )
            .select(F.col("p.x").alias("a"), F.col("p.y").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur = checksum(ss)
        e = ss
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"two_phase_components did not converge in {max_rounds} rounds"
        )
    return (
        e.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(
            e.select(
                F.col("b").alias("node"), F.col("b").alias("component")
            )
        )
        .distinct()
    )
