"""Dedup / top-k-per-group operators.

Reference semantics (SURVEY.md §2.5/§2.6):
- A2 argmax dedup: keep the single row with max `close` per (date, symbol)
  (reference pse_edge.py:259 `df.loc[df.groupby(['date','symbol'])['close']
  .idxmax()]`, re-applied at every sync site). pandas idxmax keeps the
  first-seen row on ties — input-order-dependent; we instead take a
  deterministic total order via explicit tiebreak columns (SURVEY.md §7.4).
- O3 top-k per group generalizes A2 (k=1).

Scale notes: a single window over (keys, order) is one shuffle on the
group keys, map-side nothing to pre-aggregate — the optimal distributed
plan for argmax-with-whole-row. For k=1 an alternative is
`groupBy(keys).agg(max_by(struct(*), order))` which enables partial
aggregation (map-side combine) and avoids the full sort; we use max_by
for k=1 when tiebreak allows, window row_number otherwise.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(order_by: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def topk_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    k: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-k rows per group under a total order (O3; A2 when k=1).

    `order_by` must be a total order (append a unique tiebreak column)
    for deterministic output — the reference's first-seen-on-tie behavior
    is input-order-dependent and not reproduced (SURVEY.md §7.5 risk 3).
    """
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_by))
    ranked = df.withColumn("__rn", F.row_number().over(w))
    out = ranked.filter(F.col("__rn") <= k)
    if rank_col:
        return out.withColumnRenamed("__rn", rank_col)
    return out.drop("__rn")


def argmax_dedup(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """A2: one row per `keys`, the one with max `value_col`.

    Deterministic tie-break = smallest `tiebreak` tuple. Implemented with
    max_by over a struct so Catalyst plans a hash aggregate with partial
    (map-side) combine — cheaper at scale than a window sort when groups
    are small and numerous.
    """
    cols = df.columns
    # Order struct: (value DESC) then (tiebreak ASC) — encode by negating
    # comparison via struct ordering: max_by with a struct key of
    # (value, then *negated* tiebreak) is awkward for arbitrary types, so
    # fall back to min_by over (neg rank) only for numeric; the window form
    # is the general, still-single-shuffle path.
    if not tiebreak:
        key_struct = F.struct(F.col(value_col))
        agg = df.groupBy(*keys).agg(
            F.max_by(F.struct(*[F.col(c) for c in cols]), key_struct).alias("__row")
        )
        return agg.select(*[F.col(f"__row.{c}").alias(c) for c in cols])
    order = [F.col(value_col).desc()] + [F.col(c).asc() for c in tiebreak]
    return topk_per_group(df, keys, order, k=1)


def connected_components_min_label(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Minimum-label connected components by iterative label propagation.

    Each vertex starts labeled with its own id; every round each vertex
    takes the min of its label and its neighbors' labels; stop when no
    label changes. The min label travels ONE hop per round, so the loop
    needs `component diameter` rounds. For near-dup clustering
    components are tiny (pairs / small cliques), so a handful of rounds
    suffices — the driver loop runs one small shuffle join per round,
    nothing collects to the driver except the single changed-count.

    If the budget is exhausted before convergence (a component with
    diameter > max_iterations), the call DELEGATES to
    `connected_components_star`, whose round count is
    O(log² n) independent of diameter — so this API always returns the
    correct components rather than raising or silently splitting them
    (round-2 review item 7).

    `edges` must be undirected (both directions present) or will be
    symmetrized here. Returns (id_col, 'component') — component = min id
    reachable.
    """
    sym = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).unionByName(
        edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
    ).distinct().persist()
    labels = vertices.select(
        F.col(id_col).alias("u"), F.col(id_col).alias("component")
    ).persist()
    prev_persisted = labels  # the storage handle of the previous round
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels.withColumnsRenamed({"u": "v", "component": "nc"}), "v")
            .groupBy("u")
            .agg(F.min("nc").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nmin"), F.col("component")),
                ).alias("new_component"),
                F.col("component"),
            )
        ).persist()
        # the count() materializes `updated`, so the previous round's
        # PERSISTED handle (not the lazy projection) can be dropped
        changed = updated.filter(F.col("new_component") != F.col("component")).count()
        prev_persisted.unpersist()
        prev_persisted = updated
        labels = updated.select("u", F.col("new_component").alias("component"))
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        # Plain propagation moves a label ONE HOP per round; a component
        # with diameter > max_iterations would come out split. Hand the
        # graph to the diameter-independent star contraction instead.
        prev_persisted.unpersist()
        return connected_components_star(
            vertices, edges, id_col=id_col, src_col=src_col, dst_col=dst_col
        )
    return labels.withColumnRenamed("u", id_col)


def _orient(e: DataFrame) -> DataFrame:
    """Canonical (larger, smaller) edge orientation, self-loops dropped."""
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm). Unlike one-hop min-label propagation,
    each round contracts whole stars, so convergence needs O(log² n)
    rounds regardless of component DIAMETER — a path graph of depth
    10⁶ converges in ~20 rounds where propagation would need 10⁶.

    large-star: every node u links each strictly-larger neighbor to
    m(u) = min(Γ(u) ∪ {u}).  small-star: with edges oriented
    (larger, smaller), every node u links itself and its smaller
    neighbors to their minimum.  Both are one groupBy + one join —
    shuffle on node id, no driver-side data.

    Returns (id_col, 'component'); component = min reachable id.
    """
    # localCheckpoint (not persist) each round: iterative self-referencing
    # plans double in size per round, and analysis cost alone goes
    # exponential by ~10 rounds. Checkpointing truncates the LINEAGE,
    # keeping every round's plan flat — the standard Spark pattern for
    # GraphX-style iteration.
    e = _orient(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    ).localCheckpoint(eager=True)
    n_e = e.count()
    converged = False
    for _ in range(max_iterations):
        # -- large-star ----------------------------------------------------
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
        large = _orient(
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # -- small-star ----------------------------------------------------
        mn = large.groupBy("u").agg(F.min("v").alias("m"))
        new_e = _orient(
            large.join(mn, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mn.select(F.col("u").alias("u"), F.col("m").alias("v")))
        ).localCheckpoint(eager=True)
        # converged when the (distinct) edge set is unchanged: equal
        # cardinality + empty difference ⇒ set equality
        n_new = new_e.count()
        same = n_new == n_e and new_e.subtract(e).isEmpty()
        e, n_e = new_e, n_new
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {max_iterations} rounds"
        )
    roots = e.groupBy("u").agg(F.min("v").alias("component"))
    return (
        vertices.select(F.col(id_col).alias("u"))
        .join(roots, "u", "left")
        .select(
            F.col("u").alias(id_col),
            F.coalesce(F.col("component"), F.col("u")).alias("component"),
        )
    )
