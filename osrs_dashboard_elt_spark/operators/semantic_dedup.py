"""SemDeDup-style semantic deduplication: trained k-means cells bound
the pairwise-cosine work, a one-pass dominance rule picks survivors.

The lexical dedup family (``operators/dedup.py``) and the LSH
embedding near-dup (``operators/similarity.py``,
``operators/dedup_index.py``) catch COPIES — same shingles, same
hash buckets.  Semantic dedup (Abbas et al., "SemDeDup:
Data-efficient learning at web-scale through semantic
deduplication", 2023) removes documents that merely SAY the same
thing: cluster the embedding space, then compare pairs only WITHIN a
cluster, where semantic duplicates live by construction.  This
composes two operators the repo already trains/verifies: Lloyd's
k-means (``operators/kmeans.py``) supplies the cells, and the exact
unit-dot scoring fragments (``operators/similarity.py``) supply the
engine-agnostic cosine.

Spark shape, and why it holds at 100 TB:

- cell assignment is the scan-side literal-centroid expression
  (``kmeans_assignments``) — no Python, no shuffle, no NULL cells
  (invalid vectors are dropped by contract);
- pair generation is ONE self-join keyed on the cell id; each side
  shuffles (id, cell, unit-vector) rows exactly once, and the
  candidate count is sum_i |cell_i|^2 / 2 — choose k so cells stay
  small (SemDeDup uses k on the order of sqrt(N)); a degenerate hot
  cell is excluded from pair generation by ``max_cell_size`` (the
  ``_drop_hot_keys`` trade: those cells keep ALL members — bounded
  work, documented recall loss — they are not silently truncated);
- scoring is the unrolled exact unit-dot rounded to 6 decimals via
  the decimal cast both engines agree on (same arithmetic as
  ``probe_embedding_index``), so a SQL oracle replays every score
  bit-for-bit;
- the keep rule is one-pass DOMINANCE: a vector is dropped iff some
  SMALLER-id cell-mate scores >= threshold against it.  No
  iteration, deterministic, embarrassingly parallel.  (A dropped
  vector can itself dominate — the rule is "has any earlier
  near-twin", not a chain walk; the transitive variant is what
  ``dedup_clusters`` over :func:`semantic_dup_pairs` computes.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _drop_hot_keys
from .kmeans import _cells_sql, valid_vec
from .similarity import (
    _score6,
    dot_sql,
    fold_unit_sql,
    vd_cast,
)


def _members(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    id_col: str,
    _checkpoint: bool = True,
) -> DataFrame:
    """(id, cell, uv) in ONE corpus scan: project ``__vd`` once,
    assign the cell scan-side, unit-normalize from the SAME row's
    ``__vd`` — no self-join of two projections (zipping columns that
    both derive from one row through an id-equi-join would scan the
    corpus twice and shuffle every (id, cell) and (id, uv) row just
    to re-pair them).  Materialized once because both pair-join sides
    and the decision frame read it.  Validity filter matches
    ``kmeans_assignments`` exactly."""
    dim = len(centroids[0])
    base = df.select(F.col(id_col), vd_cast(vec_col).alias("__vd")).filter(
        valid_vec(dim)
    )
    # norm + unit-scale in FOLD form: unrolled, they fuse with the
    # k*dim score array into one whole-stage method past janino's
    # 64 KB cap — the compile fails and the corpus scan (the widest
    # stage of the whole dedup) runs interpreted.  Fold values are
    # bit-identical (same left-fold / per-element ops), and the score
    # array's own stage compiles again
    idc = f"`{id_col}`"
    cells = _cells_sql([idc, "__vd"], [("cell", centroids)])
    out = base.sparkSession.sql(
        f"SELECT {idc}, cell, {fold_unit_sql('__vd')} AS uv FROM ({cells})",
        base=base,
    )
    # _checkpoint=False exposes the raw plan (the checkpoint swaps it
    # for an ExistingRDD scan) for the janino-safety plan gate
    return out.localCheckpoint(eager=False) if _checkpoint else out


def _pairs_from_members(
    members: DataFrame,
    threshold: float,
    dim: int,
    id_col: str,
    max_cell_size: int | None,
) -> DataFrame:
    # id-ONLY candidate generation, vectors joined back by id for the
    # (surviving) candidates — the same shape as every other pair
    # generator here.  Joining the vectors through the cell self-join
    # directly is a trap twice over: the shuffle carries dim doubles
    # per row instead of 8 bytes, and Catalyst pushes the score
    # predicate INTO the SortMergeJoin condition, where the unrolled
    # dot is evaluated per candidate inside the join (measured 6x
    # wall on a 1M-candidate cell join) instead of in the codegen'd
    # post-join projection.
    if max_cell_size is not None:
        members = _drop_hot_keys(members, ["cell"], max_cell_size)
    ids = members.select(F.col(id_col), "cell")
    a = ids.select(F.col(id_col).alias("id_a"), "cell")
    b = ids.select(F.col(id_col).alias("id_b"), "cell")
    cand = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
    # explicit-width repartition before scoring (the
    # embedding_neardup_pairs discipline): AQE coalesces the candidate
    # exchange by SIZE, and (id, id, cell) rows are tiny — but the
    # scoring stage is CPU-dense, so size-based coalescing would
    # serialize the unrolled dot onto a few cores (measured 3 tasks
    # for a 1M-candidate stage).  An explicit count is preserved by
    # AQE and feeds the first score join's distribution requirement.
    cand = cand.repartition(
        members.sparkSession.sparkContext.defaultParallelism, "id_a"
    )
    ua = members.select(
        F.col(id_col).alias("id_a"), F.col("uv").alias("ua")
    )
    ub = members.select(
        F.col(id_col).alias("id_b"), F.col("uv").alias("ub")
    )
    return (
        cand.join(ua, "id_a")
        .join(ub, "id_b")
        .withColumn("score", _score6(dot_sql("ua", "ub", dim)))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "cell", "score")
    )


def semantic_dup_pairs(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    max_cell_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cell, score) within-cell pairs at cosine >=
    ``threshold`` (id_a < id_b, score 6-decimal exact).  Feed these
    into ``dedup_clusters`` for transitive semantic groups, or let
    :func:`semantic_dedup` apply the one-pass dominance rule."""
    members = _members(df, vec_col, centroids, id_col)
    return _pairs_from_members(
        members, threshold, len(centroids[0]), id_col, max_cell_size
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    max_cell_size: int | None = None,
) -> DataFrame:
    """(id, cell, kept) semantic-dedup decision for every valid
    vector: ``kept`` is false iff a smaller-id member of the same
    cell scores >= ``threshold``.  Survivors are
    ``.filter("kept")``; the full frame keeps the decision auditable
    (which cell, was it deduped) without a second pass."""
    members = _members(df, vec_col, centroids, id_col)
    dropped = (
        _pairs_from_members(
            members, threshold, len(centroids[0]), id_col, max_cell_size
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        members.select(id_col, "cell")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cell",
            F.col("__dropped").isNull().alias("kept"),
        )
    )
