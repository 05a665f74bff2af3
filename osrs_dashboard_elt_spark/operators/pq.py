"""Product quantization (PQ) for compressed ANN over embeddings.

Jégou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split each d-dim vector into ``m`` contiguous
subvectors, train an independent k-codeword codebook per subspace
(plain Lloyd's — ``operators/kmeans.py`` already trains those with a
bit-replayable trajectory), and store each vector as ``m`` small
codes.  A 64-dim float32 embedding (256 B) becomes 4 bytes at
``m=4, k<=256`` — the difference between an embedding corpus that
fits in cluster memory and one that doesn't.  Search is asymmetric
distance computation (ADC): the query is NOT quantized; a tiny
``m x k`` lookup table of ``dot(q_j, codeword)`` partials is built
driver-side and inlined into a scan expression, so scoring a code is
``m`` array lookups + ``m-1`` adds — no vector math touches the scan.

Spark shape:

- training: one Lloyd's round updates ALL ``m`` codebooks from one
  scan of the full vectors (``kmeans._lloyd_round``): every element
  is extracted once, subspace ``j`` scores its own ``subdim``
  elements, and one aggregate keyed (subspace, cell) carries every
  codebook's sums — ``n_iter`` scans in total, each with an
  m*k*subdim-bounded shuffle; the slices never materialize;
- the round and the encode pass are each ONE SQL statement handed
  to ``spark.sql`` with the projected frame as its input, so the
  driver builds them with a fixed handful of JVM calls at any
  m*k*subdim (a Column object per element would cost a round trip
  each);
- encoding: ONE narrow pass — all ``m`` cell assignments are
  scan-side chunked-codegen expressions (``kmeans._cells_sql``), no
  shuffle, output is (id, array<int> codes);
- search: one scan of the CODES table (m ints/row, not d floats),
  LUT lookups inlined as literals, ``TakeOrderedAndProject`` top-k —
  the full-precision vectors are never read at query time.

Exactness contract (what lets a DuckDB oracle replay all of it):
subspace training inherits the kmeans decimal-sum/IEEE-divide
guarantee, so codebooks match bit-for-bit; assignments are the same
first-index-at-max rule both sides; the ADC score is a left-fold sum
of ``m`` doubles both engines compute on identical operands, compared
through the repo-standard DECIMAL(28,6) cast.

At 100 TB: codes are ~1.6% of the raw embedding bytes, so the ADC
scan reads 60x less; compose with IVF (assign codes WITHIN
centroid cells and partition the codes table by cell —
``write_pq_index(..., partition_cols=["cell"])``) for
partition-pruned probes that read only nprobe/k of that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kmeans import (
    _MIN_EXACT_ABS,
    _cells_sql,
    _lloyd_round,
    kmeans_init,
    valid_vec,
)
from .similarity import _dlit, vd_cast


def _fold_dot(a, b) -> float:
    """Left-fold dot product starting at 0.0 — the exact fold order of
    ``plane_dot_sql`` / DuckDB ``list_dot_product``, so a LUT entry
    computed here is bit-identical to the oracle's join-side dot."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int,
    k: int,
    n_iter: int = 2,
    id_col: str = "vec_id",
    seed: int = 0,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train ``m`` subspace codebooks of ``k`` codewords each.
    Returns ``codebooks[j][c]`` = codeword ``c`` of subspace ``j``
    (driver-side floats — m*k*subdim doubles, tiny).  ``dim`` defaults
    to the first valid vector's length and must be divisible by
    ``m``."""
    if dim is None:
        probe = (
            df.select(vd_cast(vec_col).alias("__vd"))
            .filter(F.col("__vd").isNotNull())
            .select(F.size("__vd").alias("n"))
            .limit(1)
            .collect()
        )
        if not probe:
            raise ValueError("pq_train: no non-null vectors")
        dim = int(probe[0]["n"])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    sub = dim // m
    # FULL-vector validity up front: every subspace trains on slices
    # of the same row set (the encode contract), and the shared scans
    # below run once instead of once per subspace
    base = df.select(
        F.col(id_col), vd_cast(vec_col).alias("__vd")
    ).filter(valid_vec(dim))
    # one md5-ordered init pick over the full vectors, sliced
    # driver-side (the pick order depends only on ids, so it is the
    # same for every subspace); one magnitude-floor scan covers all
    # slices because their union IS the full element set
    full_init = kmeans_init(base, "__vd", k, id_col, seed)
    if len(full_init) < k:
        raise ValueError(
            f"pq_train: need >= {k} valid vectors, got {len(full_init)}"
        )
    # Shared-pass subspace training: every round updates ALL m
    # codebooks from ONE scan — the per-subspace Lloyd's rounds are
    # independent given the current codebooks, so their m assignments
    # ride the same pass and one aggregate keyed (subspace, cell)
    # carries every codebook's sums (kmeans._lloyd_round: n_iter
    # passes total instead of m * n_iter).  Bit-exact to m separate
    # kmeans_fit runs over the slices: the same first-index-at-max
    # assignment over the same elements, the same integerized decimal
    # means, and empty cells keep their codeword — pinned by
    # tests/test_pq.py::test_pq_train_shared_pass_matches_per_subspace.
    books = [
        [v[j * sub : (j + 1) * sub] for v in full_init] for j in range(m)
    ]
    floor_out: dict = {}
    for i in range(n_iter):
        books = _lloyd_round(
            base, books, floor_out=floor_out if i == 0 else None
        )
        if i == 0:
            # exact-mean magnitude guard, folded into round 1's
            # aggregate (the union of the subspace slices IS the full
            # element set) — raises before any trained codeword is
            # returned, same as the former standalone scan
            floor = floor_out.get("floor")
            if floor is not None and floor < _MIN_EXACT_ABS:
                raise ValueError(
                    f"pq_train exact-mean contract: nonzero |element| "
                    f"{floor!r} < 2^-27 — subspace centroid means would "
                    "pick up engine-dependent rounding.  Rescale the "
                    "embeddings."
                )
    return books


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    codes_col: str = "codes",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id, codes[, carry...]) — ``codes[j]`` is the nearest codeword
    index in subspace ``j`` (first-index-at-max tie rule, same as
    kmeans).  One narrow scan-side pass: every assignment is an
    inlined expression, nothing shuffles.  Invalid vectors (NULL,
    wrong length, null elements) are dropped, matching the training
    contract (``kmeans.valid_vec``).  ``carry_cols`` ride through the
    same pass — e.g. an IVF cell column destined to partition the
    at-rest index (a join-back would shuffle the corpus)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    dim = m * sub
    carry = list(carry_cols or [])
    base = df.select(
        F.col(id_col), *carry, vd_cast(vec_col).alias("__vd")
    ).filter(valid_vec(dim))
    idc, carried = f"`{id_col}`", [f"`{c}`" for c in carry]
    cells = _cells_sql(
        [idc, *carried], [(f"__c{j}", cb) for j, cb in enumerate(codebooks)]
    )
    codes = ", ".join(f"__c{j}" for j in range(m))
    out = [idc, f"array({codes}) AS `{codes_col}`", *carried]
    return base.sparkSession.sql(
        f"SELECT {', '.join(out)} FROM ({cells})", base=base
    )


def adc_score_expr(
    codebooks: list[list[list[float]]],
    query: list[float],
    codes_col: str = "codes",
):
    """The ADC score as ONE Column expression: per subspace, the
    ``dot(q_j, codeword)`` partials become an inlined literal array
    indexed by the stored code; the total is the left-fold sum of the
    ``m`` lookups.  Cast through DECIMAL(28,6) — the repo-standard
    cross-engine score comparison."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    terms = []
    for j, cb in enumerate(codebooks):
        qj = query[j * sub : (j + 1) * sub]
        lut = [_fold_dot(qj, cw) for cw in cb]
        arr = "ARRAY(" + ", ".join(_dlit(v) for v in lut) + ")"
        terms.append(
            f"element_at({arr}, element_at({codes_col}, {j + 1}) + 1)"
        )
    z = " + ".join(terms)
    return F.expr(f"CAST(CAST(({z}) AS DECIMAL(28,6)) AS DOUBLE)")


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Top-k by ADC score over an encoded table.  The plan is a scan
    of (id, m ints) + a TakeOrderedAndProject — per-partition heaps,
    no global sort, and the raw vectors are never touched."""
    return (
        codes.select(
            F.col(id_col),
            adc_score_expr(codebooks, query, codes_col).alias("score"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def write_pq_index(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    partition_cols: list[str] | None = None,
) -> None:
    """Materialize the encoded table (the at-rest PQ index).  Pass
    ``partition_cols`` (e.g. an IVF cell column already on ``df``) to
    make probes partition-pruned scans.  Partition values ride
    through the encode pass (no join-back), and the write
    repartitions on them first so each partition directory gets one
    writer's worth of files, not one file per (task x value) — the
    ``write_ivf_index`` discipline."""
    enc = pq_encode(
        df, vec_col, codebooks, id_col=id_col, carry_cols=partition_cols
    )
    w = enc
    if partition_cols:
        w = enc.repartition(*[F.col(c) for c in partition_cols])
    w = w.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def pq_append_index(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    partition_cols: list[str] | None = None,
    skip_existing: bool = False,
) -> None:
    """Append a new batch to an existing PQ index — the ingest-side
    half of the lifecycle (the dedup posting indexes already have
    it): encode ONLY the batch with the SAME codebooks the index was
    written with and append the code rows.  Per-batch cost is
    O(batch), never O(corpus).  Single-writer contract, like every
    at-rest index here.

    ``skip_existing=True`` anti-joins the batch against the index's
    id column first (redelivery safety).  That reads the id column of
    the whole index — cheap in bytes (ids only, column-pruned) but
    O(corpus) rows; prefer deduplicating upstream (the streaming
    ingest's routing) and leave this off on hot paths.

    ``partition_cols`` must MATCH how the index was written: an
    unpartitioned append into a cell-partitioned layout (or vice
    versa) corrupts partition discovery — validated against the
    on-disk layout."""
    jvm = df.sparkSession._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(df.sparkSession._jsc.hadoopConfiguration())
    on_disk_partitioned = any(
        "=" in st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory()
    ) if fs.exists(hpath) else bool(partition_cols)
    if bool(partition_cols) != on_disk_partitioned:
        raise ValueError(
            f"pq_append_index: partition_cols={partition_cols!r} does "
            f"not match the on-disk layout at {path!r} "
            f"(partitioned={on_disk_partitioned}) — a mismatched "
            "append corrupts partition discovery"
        )
    enc = pq_encode(
        df, vec_col, codebooks, id_col=id_col, carry_cols=partition_cols
    )
    if skip_existing:
        spark = df.sparkSession
        from pyspark.errors import AnalysisException

        try:
            existing = spark.read.parquet(path).select(id_col)
            enc = enc.join(existing, id_col, "left_anti")
        except AnalysisException:
            # a bootstrap index written from an EMPTY frame has no
            # part files (only _SUCCESS), so the read cannot infer a
            # schema — nothing exists to anti-join against.  Other
            # failures (bad path, permissions, corrupt footers) must
            # NOT be swallowed: silently skipping the anti-join would
            # quietly re-append redelivered ids
            if fs.exists(hpath) and any(
                st.getPath().getName().endswith(".parquet")
                for st in fs.listStatus(hpath)
            ):
                raise
    w = enc
    if partition_cols:
        w = enc.repartition(*[F.col(c) for c in partition_cols])
    w = w.write.mode("append")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def _tombstone_path(path: str) -> str:
    return path.rstrip("/") + "__tombstones"


def pq_delete_from_index(
    df_or_ids, path: str, id_col: str = "vec_id"
) -> int:
    """Tombstone vectors in an at-rest PQ index (takedown, quality
    re-filter): their codes stop matching searches IMMEDIATELY, and
    ``pq_compact_index`` drops them physically — the same lifecycle
    contract as the dedup posting indexes
    (``dedup_index.delete_from_index``).  Tombstones are an
    append-only one-column parquet dir next to the index — bytes-tiny
    and broadcast at search time.  Returns the count tombstoned."""
    if isinstance(df_or_ids, DataFrame):
        tomb = df_or_ids.select(
            F.col(df_or_ids.columns[0]).alias(id_col)
        )
        spark = df_or_ids.sparkSession
    else:
        ids = list(df_or_ids)
        if not ids:
            return 0
        from pyspark.sql import SparkSession as _S

        spark = _S.getActiveSession()
        # Resolve the id type from the index itself (string-keyed
        # indexes exist) — mirrors dedup_index.delete_from_index.  A
        # bootstrap index dir with no data files yet (empty-frame
        # write: _SUCCESS only) has no readable schema — fall back to
        # the long default, the only key type such an index can have
        # gotten ids from so far.
        from pyspark.errors import AnalysisException
        from pyspark.sql.types import LongType

        try:
            fields = {
                f.name: f.dataType
                for f in spark.read.parquet(path).schema
            }
            if id_col not in fields:
                raise ValueError(
                    f"id column {id_col!r} not in index {path} "
                    f"(columns: {sorted(fields)})"
                )
            id_type = fields[id_col]
        except AnalysisException:
            id_type = LongType()
        from ..literals import local_frame

        tomb = local_frame(
            spark, [(i,) for i in ids],
            f"{id_col} {id_type.simpleString()}",
        )
    tomb = tomb.distinct().persist()
    n = tomb.count()
    tomb.coalesce(1).write.mode("append").parquet(_tombstone_path(path))
    tomb.unpersist()
    return n


def _without_tombstones(
    spark: SparkSession, codes: DataFrame, path: str, id_col: str
) -> DataFrame:
    # Only PATH-ABSENT means "no tombstones"; any other read failure
    # (corrupt footer, permissions, transient FS error) must surface —
    # swallowing it would silently resurrect deleted/takedown vectors.
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(_tombstone_path(path))
    try:
        fs = jpath.getFileSystem(
            spark._jsc.hadoopConfiguration()  # noqa: SLF001
        )
        exists = fs.exists(jpath)
    except Py4JJavaError as e:  # pragma: no cover - FS outage
        raise RuntimeError(
            f"tombstone existence check failed for {path}: {e}"
        ) from e
    if not exists:
        return codes  # no tombstones ever written
    tomb = spark.read.parquet(_tombstone_path(path)).select(id_col)
    return codes.join(F.broadcast(tomb.distinct()), id_col, "left_anti")


def pq_compact_index(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    partition_cols: list[str] | None = None,
) -> int:
    """Physically drop tombstoned codes and merge append small-files:
    rewrite the survivors into a fresh sibling dir and swap by rename
    (single-writer contract).  Tombstones are KEPT — a deleted id
    redelivered later must not resurrect just because the compactor
    ran.  Returns surviving row count."""
    import uuid as _uuid

    live = _without_tombstones(
        spark, spark.read.parquet(path), path, id_col
    ).persist()
    n = live.count()
    tmp = f"{path}__swap-{_uuid.uuid4().hex[:8]}"
    w = live
    if partition_cols:
        w = live.repartition(*[F.col(c) for c in partition_cols])
    w = w.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp)
    live.unpersist()
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    old = f"{path}__old-{_uuid.uuid4().hex[:8]}"
    fs.rename(jvm.org.apache.hadoop.fs.Path(path), jvm.org.apache.hadoop.fs.Path(old))
    fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), jvm.org.apache.hadoop.fs.Path(path))
    fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
    return n


def pq_adc_topk_at_rest(
    spark: SparkSession,
    path: str,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a written PQ index: the scan reads only the code bytes
    (column pruning drops everything else at the parquet reader).
    Tombstoned ids (``pq_delete_from_index``) never surface."""
    codes = _without_tombstones(
        spark, spark.read.parquet(path), path, id_col
    )
    return pq_adc_topk(codes, codebooks, query, k, id_col=id_col)


def ivfpq_topk_at_rest(
    spark: SparkSession,
    path: str,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    query: list[float],
    k: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    probe_cells: list[int] | None = None,
    cell_rank: str = "cosine",
) -> DataFrame:
    """IVF-PQ: the full compressed scale path.  The index was written
    ``write_pq_index(..., partition_cols=[cell_col])`` with cells from
    the IVF centroids; the probe ranks the query against the
    centroids driver-side (k x d doubles — tiny), reads ONLY the
    ``nprobe`` nearest cell partitions (a partition-pruned scan), and
    ADC-scores their codes.  Compared to raw IVF the probed bytes
    shrink by the PQ ratio (m ints vs d floats); compared to flat PQ
    the scan shrinks by nprobe/k_cells.

    ``cell_rank`` picks the centroid ranking: ``"cosine"`` for
    unit-norm dot cells, ``"kmeans"`` for Euclidean Lloyd's cells
    (``dot - |c|^2/2`` — the rule ``kmeans_assignments`` encodes, and
    the left fold a SQL oracle replays).  ``probe_cells`` overrides
    the ranking entirely."""
    from .similarity import _fold_norm

    if cell_rank not in ("cosine", "kmeans"):
        raise ValueError(
            f"cell_rank must be 'cosine' or 'kmeans', got {cell_rank!r} "
            "— a silently-wrong ranking probes the wrong cells"
        )
    if probe_cells is None:
        scores = []
        for c, cent in enumerate(centroids):
            if cell_rank == "kmeans":
                s = _fold_dot(query, cent) - 0.5 * _fold_dot(cent, cent)
            else:
                s = _fold_dot(query, cent) / max(_fold_norm(cent), 1e-30)
            scores.append((s, c))
        probe_cells = [
            c for _, c in sorted(scores, key=lambda t: (-t[0], t[1]))[:nprobe]
        ]
    codes = _without_tombstones(
        spark,
        spark.read.parquet(path).filter(F.col(cell_col).isin(probe_cells)),
        path, id_col,
    )
    return pq_adc_topk(codes, codebooks, query, k, id_col=id_col)
