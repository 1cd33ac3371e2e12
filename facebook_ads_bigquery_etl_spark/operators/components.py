"""Connected components over duplicate-pair edges — the step that
turns near-dup PAIRS into dedup GROUPS (pick one representative per
cluster, drop the rest). The LLM-corpus pipeline is
pairs (minhash/simhash/embedding) → components → keep min-id doc.

Algorithm (r13 optimization round): iterative MIN-CONTRACTION — each
round every node adopts the minimum id in its 1-ball (itself and its
neighbors), one pointer-jump contracts label chains, and then the
graph is CONTRACTED to the label groups: the next round runs on the
quotient graph (one supernode per label, only cross-group edges
survive, deduplicated). Rounds end when no cross-group edge remains;
the per-round label maps compose back to node grain.

Why contraction instead of the previous label-propagation +
path-halving loop:

* ROUNDS. Pointer jumping (comp[n] ← comp[comp[n]]) only contracts
  chains whose label values point onward — on graphs with RANDOM id
  placement, every local-minimum node m has comp[m] = m and blocks
  the jump, so the old loop degraded to one-hop-per-round diameter
  propagation (measured: 10 rounds on the 896-edge semantic near-dup
  graph at sf0.1; a 400-node id-permuted chain exhausted the round
  budget entirely). Contraction removes the blockers: each round the
  label groups THEMSELVES become the nodes, so every round at least
  halves the remaining supernode count along any path — O(log
  diameter) rounds regardless of id layout (measured: 4 rounds on the
  same 896-edge graph, 6 on the permuted 400-chain).
* BYTES (the 100 TB property). The old loop shuffled the FULL edge
  list every round (neighbor-min join + groupBy). Here only round 1
  touches the full edge list; every later round shuffles the quotient
  graph, which shrinks geometrically (measured edge counts per round
  at sf0.1: 1792 sym → 430 → 64 → 6 → 0). Total shuffled bytes are
  ~2× the edge list instead of rounds×.
* State per round is (node, comp) — two longs — plus the shrinking
  edge list; label maps are one per round and compose with
  label-sized joins at the end.
* Lineage is truncated with ``localCheckpoint`` each round: iterative
  self-joins otherwise stack exponentially-growing plans (the classic
  iterative-DataFrame failure mode; checkpointing keeps each round's
  plan O(1)).

Duplicate edges and self-loops are tolerated (min is idempotent; a
self-loop is internal to its group from round 1) — in-repo pair
generators emit unique a<b pairs, so the symmetrized list is already
duplicate-free and carries no self-loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import checkpoint, persist


def connected_components(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; ``comp`` is
    the minimum node id in the node's connected component.

    Invariant the composition relies on: a label is always the id of a
    REAL node of the same component (min of a neighborhood ball), and
    the component's global-min node is always its own label — so when
    no cross-group edge remains, every group label in a component has
    collapsed to that min, and composing the per-round maps sends
    every original node there.
    """
    # Cache the EDGE list before symmetrizing: the union below reads
    # its input twice, and edges usually arrive with an expensive
    # lineage (a similarity self-join) — uncached, that whole pipeline
    # would run twice just to build sym (observed: 13 s vs 5 s on the
    # near-dup graph). sym is checkpointed (it seeds the loop and the
    # first round reads it several times).
    e = persist(edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst")))
    sym = e.union(e.select(F.col("dst"), F.col("src"))).transform(checkpoint)

    maps: list[DataFrame] = []
    cur = sym
    for _ in range(max_rounds):
        # 1-ball min: comp[n] = min(n, min neighbor) — the first
        # neighbor-min pass fused into label construction (one groupBy,
        # same shuffle the old distinct() init already paid).
        labels = cur.groupBy(F.col("src").alias("node")).agg(
            F.least(F.col("src"), F.min("dst")).alias("comp")
        )
        # one pointer jump on the LABEL table (label-sized join, not
        # edge-sized): comp[n] <- comp[comp[n]] composes two levels of
        # the ball structure before contracting, cutting a round or two
        # from the schedule at negligible cost.
        step = labels.select(F.col("node").alias("comp"), F.col("comp").alias("c2"))
        labels = (
            labels.join(step, "comp", "left")
            .select("node", F.coalesce("c2", "comp").alias("comp"))
            .transform(checkpoint)
        )
        maps.append(labels)
        # contract: map both endpoints through the labels, keep only
        # cross-group edges, dedup — the quotient graph. Shrinks
        # geometrically, so every round after the first shuffles a
        # fraction of the previous round's bytes.
        lsrc = labels.select(F.col("node").alias("src"), F.col("comp").alias("c_src"))
        ldst = labels.select(F.col("node").alias("dst"), F.col("comp").alias("c_dst"))
        nxt = (
            cur.join(lsrc, "src")
            .join(ldst, "dst")
            .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .transform(checkpoint)
        )
        if nxt.limit(1).count() == 0:
            break
        cur = nxt
    else:
        # fail LOUDLY: contraction at least halves the supernode count
        # along any path per round, so 25 rounds cover components past
        # 2^25 supernodes — exhausting them means a bug, and returning
        # partial labels would silently split true clusters into
        # several representatives downstream.
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds}"
            " rounds — component structure exceeds the contraction"
            " budget; raise max_rounds"
        )
    # compose the per-round maps back to node grain: innermost map
    # last — final[n] = maps[k][... maps[0][n]]. Each join is
    # label-sized; supernodes absent from a later map (already final)
    # pass through via the coalesce.
    final = maps[-1]
    for m in reversed(maps[:-1]):
        step = final.select(F.col("node").alias("comp"), F.col("comp").alias("c2"))
        final = m.join(step, "comp", "left").select(
            "node", F.coalesce("c2", "comp").alias("comp")
        )
    return final


def dedup_clusters(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Per document: (id, cluster_rep, cluster_size, keep). Documents
    not in any dup pair are their own singleton cluster. ``keep`` marks
    the canonical representative — the dedup'd corpus is
    ``filter(keep)``.

    ``cluster_rep`` is the minimum id among the component's rows IN
    ``docs`` — not the component's raw min-label. The two coincide
    whenever every edge endpoint appears in ``docs`` (true for every
    in-repo caller: edges come from pair generators over the same
    frame), but if an upstream filter ever drops a doc after pair
    generation, a ghost min-label would make ``keep`` false for every
    member and silently delete the whole cluster (r13 operator
    review); deriving the rep from the doc rows keeps exactly one
    representative regardless."""
    comp = connected_components(edges)
    # identity grain: a replayed id (at-least-once upstream, r11
    # duplicates sweep) is the SAME document — one membership row per
    # identity, and cluster_size counts identities, not delivery
    # copies. distinct() is a no-op on clean input.
    labeled = (
        docs.select(F.col("doc_id"))
        .distinct()
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("comp", F.col("doc_id")).alias("__comp")
        )
    )
    # same shuffle count as the old groupBy(cluster_rep) form: one
    # agg + one join, both keyed on the component label
    per_comp = labeled.groupBy("__comp").agg(
        F.min("doc_id").alias("cluster_rep"),
        F.count("*").alias("cluster_size"),
    )
    return (
        labeled.join(per_comp, "__comp")
        .select(
            "doc_id",
            "cluster_rep",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_rep")).alias("keep"),
        )
    )
