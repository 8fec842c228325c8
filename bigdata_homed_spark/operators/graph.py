"""Iterative graph operators: deterministic weighted PageRank.

The reference has no graph jobs, but a training-data curation stack does:
CommonCrawl-style corpora rank domains/hosts by link authority to weight
or filter sources, and co-occurrence graphs (items co-ordered, docs
co-cited) feed recommendation and mixing decisions.  This module supplies
the iterative kernel; ``plans/graph_queries.py`` builds the co-occurrence
graph and registers the oracle-checked query.

Why fixed-point integers: PageRank over doubles is order-dependent (float
addition is not associative), so two engines — or two runs with different
partitioning — disagree in the low bits and a value-hash oracle can never
pass.  All rank mass here is ``bigint`` scaled by ``PR_SCALE`` (1.0 ==
10^12) and every division is integral (Spark ``div`` == DuckDB ``//`` on
positive operands), so each iteration is EXACTLY reproducible bit-for-bit
on any engine, any partitioning, any cluster size.  The floor loss per
division (< 1 unit of 10^-12) leaks mass out of the system, which is fine:
ranking order, not stochastic-matrix purity, is the product.

Scale shape (the Pregel-on-DataFrame loop):
- edges carry their source's total strength, attached ONCE before the loop
  and localCheckpointed — the loop never recomputes it;
- the vertex set is dimension-sized (parts, hosts, channels), so the
  V-row strength and rank frames are broadcast: each iteration is a
  map-side hash join over the never re-shuffled edge list plus one
  V-sized shuffle on dst for the contribution sum — no edge shuffle;
- iteration count is FIXED (caller-chosen), not convergence-tested: a
  deterministic output needs a deterministic round count, and fixed-k
  power iteration is how production systems bound the cost anyway.  A
  fixed count also means the loop needs NO per-round action: unlike the
  convergence-checked connected-components loop (plans/text_pipeline.py,
  one eager localCheckpoint per round to evaluate the changed-count), the
  whole k-round recurrence is ONE lazy plan executed by the final action
  — shuffles chain stage-to-stage, nothing is re-materialized per round.
  Ranks are localCheckpointed only every ``checkpoint_every`` rounds to
  bound plan depth for large k.
The edge list may grow to any size; only the vertex set must fit in a
broadcast (tens of MB for millions of nodes).  Per-round cost is linear
in edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fixed-point: 1.0 of rank mass == 10^12.  Headroom check: pr <= ~PR_SCALE,
# edge weight fits in 32 bits, so pr * w <= ~2^72?  No: weights here are
# co-occurrence counts (< 2^20 in any sane graph); pr * w < 2^61 stays in
# bigint.  Callers with larger weights must rescale weights first.
PR_SCALE = 1_000_000_000_000
PR_DAMPING_PCT = 85  # 0.85 damping, as an integer percentage
PR_TELEPORT = (100 - PR_DAMPING_PCT) * PR_SCALE // 100


def pagerank_ranks(
    edges: DataFrame,
    iterations: int = 8,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Weighted PageRank over a DIRECTED edge list ``(src, dst, w)``.

    Symmetrize before calling for undirected graphs.  Every node must
    appear as BOTH a ``src`` and a ``dst`` (true for symmetrized graphs);
    dangling or source-only nodes are the caller's problem — drop them or
    add self-loops.  This contract is what lets each round be exactly one
    join + one aggregation: no per-round left-join repair of nodes that
    received nothing.

    Returns ``(node, pr_rank)`` with ``pr_rank`` the fixed-point bigint
    rank after ``iterations`` rounds from a uniform ``PR_SCALE`` start:

        out_share(u→v)  = (pr_u * w_uv) div strength_u      (exact bigint)
        pr'_v           = PR_TELEPORT + (85 * Σ in_shares) div 100

    The vertex set must be dimension-sized (parts, hosts, channels —
    millions of rows, tens of MB): the rank vector is broadcast, so every
    round is a map-side hash join over the (big, checkpointed, never
    re-shuffled) edge list plus one V-sized aggregation — no per-round
    sort or edge-shuffle at all.
    """
    # the edge list feeds BOTH the strength aggregate and the join below;
    # without the persist the caller's whole edge-build subtree (pair
    # expansion + aggregation) executes once per consumer — persist it for
    # the duration of the checkpoint build, then drop the cache
    edges = edges.persist()
    strength = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("s"))
    # attach strength once; the loop re-reads this checkpoint every round.
    # The strength frame is V-sized by the same argument as the rank
    # broadcast — force the broadcast so the E-sized edge list is never
    # shuffled for this join (post-aggregation size estimates are
    # unreliable, guide §3.1; measured 3.0 → 2.3 s warm on the sf0.1
    # co-purchase build)
    edges_s = (
        edges.join(F.broadcast(strength), "src")
        .select("src", "dst", "w", "s")
        .localCheckpoint()
    )
    edges.unpersist()
    # initial ranks come from the CHECKPOINTED frame (distinct src ==
    # strength's key set), not from `strength`, whose plan would re-run
    # the edge build a third time after the unpersist
    ranks = edges_s.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(PR_SCALE).cast("bigint").alias("pr")
    )
    for i in range(iterations):
        rank_side = F.broadcast(ranks)
        ranks = (
            edges_s.join(rank_side, edges_s["src"] == rank_side["node"])
            .select(F.col("dst"), F.expr("(pr * w) div s").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").cast("bigint").alias("incoming"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(PR_TELEPORT)
                    + F.expr(f"({PR_DAMPING_PCT} * incoming) div 100")
                )
                .cast("bigint")
                .alias("pr"),
            )
        )
        # bound plan depth for large iteration counts; intermediate rounds
        # stay lazy so the recurrence executes as one chained-shuffle job
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("pr").alias("pr_rank"))


def pagerank_oracle_ctes(
    edges_cte: str, iterations: int = 8, prefix: str = "pr_r"
) -> str:
    """DuckDB CTE chain computing the SAME fixed-point iteration.

    ``edges_cte`` must be the name of an already-defined CTE with columns
    (src, dst, w).  Emits ``strength_cte, {prefix}0, ..., {prefix}N``;
    the caller selects from ``{prefix}{iterations}``.  Unrolled rather
    than recursive: DuckDB's recursive CTEs forbid aggregation over the
    recursive term, and an unrolled chain is trivially inspectable.
    """
    parts = [
        # MATERIALIZED: the edge list and strengths are referenced by every
        # unrolled round — without the hint DuckDB may inline (re-evaluate)
        # the whole upstream pair build once per round, which at sf1 spills
        f"pr_strength AS MATERIALIZED (SELECT src, cast(sum(w) as bigint) AS s "
        f"FROM {edges_cte} GROUP BY src)",
        f"{prefix}0 AS (SELECT src AS node, cast({PR_SCALE} as bigint) AS pr "
        f"FROM pr_strength)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"{prefix}{i} AS (\n"
            f"  SELECT e.dst AS node,\n"
            f"         cast({PR_TELEPORT} + ({PR_DAMPING_PCT} *\n"
            f"              cast(sum((r.pr * e.w) // st.s) as bigint)) // 100\n"
            f"              as bigint) AS pr\n"
            f"  FROM {edges_cte} e\n"
            f"  JOIN {prefix}{i - 1} r ON r.node = e.src\n"
            f"  JOIN pr_strength st ON st.src = e.src\n"
            f"  GROUP BY e.dst)"
        )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# Label propagation (semi-supervised hard LPA: Zhu & Ghahramani CMU-CALD-02,
# Raghavan et al. 2007): seeds keep their labels; every round, every
# non-seed node adopts the label with the LARGEST total incident edge
# weight among currently-labeled neighbors (ties broken by label text, so
# the whole iteration is deterministic — votes are INTEGER sums, never
# floats).  The weak-supervision primitive of a training-data pipeline:
# spread a small set of trusted labels (curated domains, human-rated docs)
# over a similarity/co-occurrence graph to label the long tail.
#
# Scale shape: per round one broadcast hash join (V-sized labels ⋈ edges
# on src) + one (node, label) aggregate + one node-keyed window over the
# vote frame — O(E·deg(labels)) work, no edge shuffle, same Pregel-on-
# DataFrame shape as pagerank_ranks.  Fixed round count for the same
# reason as PageRank: deterministic output needs a deterministic loop.


def label_propagation(
    edges: DataFrame, seeds: DataFrame, rounds: int = 3
) -> DataFrame:
    """``edges``: (src, dst, w) DIRECTED (pass both directions for an
    undirected graph); ``seeds``: (node, label).  Returns (node, label,
    is_seed, vote) for every node labeled after ``rounds`` rounds — vote
    is the winning integer weight sum (NULL for seeds).

    The vertex set must be dimension-sized, as for ``pagerank_ranks``:
    each round broadcasts the V-sized label frame (no O(E) exchange,
    guide §3.1), and the V-sized seed anti-join rides the same broadcast."""
    from pyspark.sql import Window

    edges = edges.localCheckpoint(eager=False)
    seeds = seeds.localCheckpoint(eager=False)
    seed_nodes = seeds.select("node")
    anti_side = F.broadcast(seed_nodes)
    w = Window.partitionBy("node").orderBy(F.desc("vote"), F.asc("label"))
    labels = seeds
    winners = None
    for _ in range(rounds):
        label_side = F.broadcast(labels)
        votes = (
            edges.join(label_side, edges["src"] == label_side["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.sum("w").cast("bigint").alias("vote"))
        )
        winners = (
            votes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .join(anti_side, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        labels = seeds.unionByName(winners.select("node", "label"))
    out_seeds = seeds.select(
        "node",
        "label",
        F.lit(1).cast("bigint").alias("is_seed"),
        F.lit(None).cast("bigint").alias("vote"),
    )
    if winners is None:
        return out_seeds
    return out_seeds.unionByName(
        winners.select(
            "node", "label", F.lit(0).cast("bigint").alias("is_seed"), "vote"
        )
    )


def label_propagation_oracle_ctes(
    edges_cte: str, seeds_cte: str, rounds: int = 3, prefix: str = "lp_"
) -> str:
    """DuckDB CTE chain for the SAME deterministic recurrence.  ``edges_cte``
    has (src, dst, w); ``seeds_cte`` has (node, label).  Emits
    ``{prefix}l0 .. {prefix}l{rounds}`` plus per-round vote/winner CTEs;
    the caller reads ``{prefix}l{rounds}`` (node, label) and
    ``{prefix}w{rounds}`` for the final-round winning votes."""
    parts = [f"{prefix}l0 AS (SELECT node, label FROM {seeds_cte})"]
    for i in range(1, rounds + 1):
        parts.append(
            f"""{prefix}v{i} AS (
      SELECT e.dst AS node, l.label, cast(sum(e.w) as bigint) AS vote
      FROM {edges_cte} e JOIN {prefix}l{i - 1} l ON e.src = l.node
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"""{prefix}w{i} AS (
      SELECT node, label, vote FROM (
        SELECT node, label, vote,
               row_number() OVER (PARTITION BY node ORDER BY vote DESC, label) AS rn
        FROM {prefix}v{i}
      ) WHERE rn = 1 AND node NOT IN (SELECT node FROM {seeds_cte})
    )"""
        )
        parts.append(
            f"""{prefix}l{i} AS (
      SELECT node, label FROM {seeds_cte}
      UNION ALL
      SELECT node, label FROM {prefix}w{i}
    )"""
        )
    return ",\n    ".join(parts)


# ---------------------------------------------------------------------------
# Personalized PageRank / TrustRank (Gyongyi et al., VLDB'04; Haveliwala
# WWW'02): identical fixed-point recurrence, but the teleport mass lands
# ONLY on a trusted seed set — trust flows outward from seeds through
# edges and decays with distance, which is how curation stacks weight
# sources by proximity to a hand-vetted whitelist (and how "spam mass" is
# measured: rank under uniform teleport minus rank under trusted
# teleport).  Seeds start at PR_SCALE, everyone else at 0; each round:
#
#     pr'_v = [v in S] * PR_TELEPORT + (85 * sum in_shares) div 100
#
# The teleport injection is a FULL OUTER join of the seed frame with the
# contribution aggregate (a seed with no ranked in-neighbors must still
# be re-injected; an aggregation-only recurrence would drop it).  All
# bigint, same determinism argument as pagerank_ranks.  Mass is bounded
# by |S| * PR_SCALE / 0.15, so pr * w stays far inside bigint for any
# dim-sized seed set.


def trustrank_ranks(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 4,
    checkpoint_every: int = 4,
) -> DataFrame:
    """``edges``: (src, dst, w) directed (symmetrize for undirected);
    ``seeds``: (node,).  Returns (node, trust) for nodes with trust > 0
    after ``iterations`` rounds.

    The vertex set must be dimension-sized, as for ``pagerank_ranks``:
    the V-row strength frame is broadcast (guide §3.1 — post-agg size
    estimates are unreliable, so the hint is explicit)."""
    # same dedup as pagerank_ranks: the edge subtree feeds strength AND
    # the join — persist across the checkpoint build
    edges = edges.persist()
    strength = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("s"))
    edges_s = (
        edges.join(F.broadcast(strength), "src")
        .select("src", "dst", "w", "s")
        .localCheckpoint()
    )
    edges.unpersist()
    seed_tp = seeds.select(
        "node", F.lit(PR_TELEPORT).cast("bigint").alias("tp")
    ).localCheckpoint()
    ranks = seeds.select("node", F.lit(PR_SCALE).cast("bigint").alias("pr"))
    for i in range(iterations):
        contrib = (
            edges_s.join(ranks, edges_s["src"] == ranks["node"])
            .select(F.col("dst"), F.expr("(pr * w) div s").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").cast("bigint").alias("incoming"))
            .select(F.col("dst").alias("node"), "incoming")
        )
        ranks = (
            seed_tp.join(contrib, "node", "full_outer")
            .select(
                "node",
                (
                    F.coalesce(F.col("tp"), F.lit(0))
                    + F.expr(
                        f"({PR_DAMPING_PCT} * coalesce(incoming, 0)) div 100"
                    )
                )
                .cast("bigint")
                .alias("pr"),
            )
            .where(F.col("pr") > 0)
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("pr").alias("trust"))


def trustrank_oracle_ctes(
    edges_cte: str, seeds_cte: str, iterations: int = 4, prefix: str = "tr_"
) -> str:
    """DuckDB CTE chain for the SAME seeded recurrence.  ``seeds_cte``
    has (node); caller reads ``{prefix}{iterations}`` (node, pr)."""
    parts = [
        f"{prefix}strength AS MATERIALIZED (SELECT src, cast(sum(w) as bigint) AS s "
        f"FROM {edges_cte} GROUP BY src)",
        f"{prefix}0 AS (SELECT node, cast({PR_SCALE} as bigint) AS pr "
        f"FROM {seeds_cte})",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""{prefix}{i} AS (
      SELECT node, pr FROM (
        SELECT coalesce(s.node, c.node) AS node,
               cast(CASE WHEN s.node IS NOT NULL THEN {PR_TELEPORT} ELSE 0 END
                    + ({PR_DAMPING_PCT} * coalesce(c.incoming, 0)) // 100
                    as bigint) AS pr
        FROM {seeds_cte} s
        FULL OUTER JOIN (
          SELECT e.dst AS node,
                 cast(sum((r.pr * e.w) // st.s) as bigint) AS incoming
          FROM {edges_cte} e
          JOIN {prefix}{i - 1} r ON r.node = e.src
          JOIN {prefix}strength st ON st.src = e.src
          GROUP BY e.dst
        ) c ON s.node = c.node
      ) WHERE pr > 0
    )"""
        )
    return ",\n    ".join(parts)
