"""Connected components over a candidate-pair graph (SURVEY.md §2.8
L2 scale path, the clustering step after MinHash banding).

Band collisions give candidate EDGES; production dedup needs the
transitive closure — if A~B in one band and B~C in another, {A,B,C}
is ONE duplicate cluster even though A and C never collide. The
classic distributed solution is iterative min-label propagation
(BSP): every node adopts the smallest label among itself and its
neighbors until fixpoint, which lands every node on its component's
minimum id.

Scale properties:
- each iteration is one join + one aggregate (two shuffles), all
  hash-partitioned on node id — no single-task stage anywhere;
- iterations needed = graph diameter, which for banding graphs is
  small (duplicate clusters are near-cliques; star edges keep bucket
  contributions linear, never quadratic, in bucket size);
- ``localCheckpoint`` truncates the lineage each round, so the plan
  does not grow with iterations (the classic iterative-DataFrame
  trap);
- the convergence check is an ``observe`` metric collected by the
  checkpoint job itself (r17) — it moves ONE long to the driver and
  costs zero extra jobs or data passes.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Unique Observation names across calls in one session (deterministic —
# a plain counter, no wall clock).
_OBS_IDS = itertools.count()


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Label every node with the minimum node id of its connected
    component.

    ``nodes``: single-column DataFrame of node ids. ``edges``:
    two-column DataFrame of undirected edges (any names). Returns
    (id, cluster). Deterministic: the fixpoint is unique regardless
    of partitioning or iteration interleaving. Raises ``RuntimeError``
    if the labels have not reached the fixpoint within ``max_iter``
    propagations (rounded up to even).
    """
    a, b = edges.columns
    e = edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    # Materialize the edge list ONCE — BEFORE the symmetrizing union,
    # so the candidate-generation lineage (shingle -> minhash -> bands)
    # executes exactly once regardless of whether ReuseExchange fires
    # across the two union arms (r16; measured neutral-to-better at
    # sf0.1, and the guarantee is structural instead of
    # optimizer-dependent). The union of the checkpointed frame with
    # its swap is row-identical to symmetrizing first.
    e = e.localCheckpoint(eager=True)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    id_col = nodes.columns[0]
    labels = nodes.select(F.col(id_col).alias("id")).withColumn("lbl", F.col("id"))

    def propagate(lbls: DataFrame, first: bool = False) -> DataFrame:
        if first:
            # r16 (guide §2.4): in round 1 every node's label IS its id,
            # so the neighbor minimum needs no join against the label
            # frame — one aggregate over sym replaces join+aggregate
            # (one fewer shuffle of the edge list). Bit-identical to
            # propagate() from identity labels by construction.
            nbr_min = (
                sym.groupBy("dst")
                .agg(F.min("src").alias("nbr_lbl"))
                .withColumnRenamed("dst", "id")
            )
        else:
            nbr_min = (
                sym.join(lbls.withColumnRenamed("id", "src"), "src")
                .groupBy("dst")
                .agg(F.min("lbl").alias("nbr_lbl"))
                .withColumnRenamed("dst", "id")
            )
        return lbls.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"),
            F.col("lbl").alias("old_lbl"),
        )

    # r16: TWO propagation rounds per materialize/convergence-check
    # cycle. The fixpoint is unique, label updates are monotone
    # (least), and a propagation at the fixpoint is the identity, so
    # checking only every second round changes nothing semantically —
    # it halves the per-round fixed cost that dominates on the shallow
    # near-clique graphs banding produces (diameter 2-3). A round-2
    # no-change still certifies the fixpoint: labels can only fall, so
    # if round 2k..2k+1 moved nothing, nothing will move again.
    # Measured on neardup_cluster_components at sf0.1: 1.543 s vs
    # 1.807 s.
    #
    # r17 (VERDICT r16 #5): the changed-label count rides the
    # checkpoint materialization itself via ``observe`` — the metric is
    # collected by the SAME job that writes the checkpoint, so the
    # separate per-cycle count() job (a full pass over the label frame
    # plus a driver round-trip per 2 rounds — real latency at scale) is
    # gone. Pinned by tests/test_components.py: DataFrame.count is
    # never invoked inside this loop.
    #
    # The cycle budget rounds max_iter UP to an even number of
    # propagations (ceil(max_iter/2) cycles x 2 rounds), so a caller
    # passing an odd bound sized to a graph's diameter always gets AT
    # LEAST max_iter propagations (ADVICE r16: the old floor-division
    # form ran max_iter-1 on odd budgets).
    #
    # A budget that runs out while the last cycle still moved labels
    # raises instead of returning unconverged labels as clusters: a
    # graph deeper than the budget (a long chain) would otherwise be
    # silently split into many clusters.
    cycles = max((max_iter + 1) // 2, 1)
    for it in range(cycles):
        p1 = propagate(labels, first=it == 0).select("id", "lbl")
        p2 = propagate(p1)
        obs = Observation(f"cc_changed_{next(_OBS_IDS)}")
        p2 = p2.observe(
            obs,
            F.count(F.when(F.col("lbl") < F.col("old_lbl"), 1)).alias("changed"),
        )
        p2 = p2.localCheckpoint(eager=True)
        labels = p2.select("id", "lbl")
        changed = obs.get["changed"]
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within its budget of "
            f"{cycles} cycles ({2 * cycles} propagations, max_iter="
            f"{max_iter}): {changed} labels still changed in the last "
            "cycle. The graph is deeper than the budget; raise max_iter "
            "above its diameter."
        )
    return labels.select("id", F.col("lbl").alias("cluster"))
