"""Distributed Lloyd's k-means over an embedding column.

The IVF ANN path (`operators/similarity.py::ivf_assign`) partitions
vectors by nearest CENTROID — until now the centroids were a
deterministic sample.  This trains them properly: classic Lloyd's,
Spark-shaped —

- centroids live driver-side (k x d doubles — tiny) and are written
  as exact literals into the round's SQL text (broadcast-by-literal;
  no Python in the scan);
- each round is ONE SQL statement over the projected vectors
  (``_round_sql``): element extraction, chunked score arrays and the
  first-index-at-max cell, then the per-cell aggregate.  The driver
  builds it as one string and hands it to ``spark.sql`` in one call,
  so building a round costs the same few driver->JVM calls at any
  k*d (a Column object per element would cost a round trip each);
- each round is one scan + one bounded shuffle: the per-(cell, dim)
  sums partial-aggregate map-side, so the exchange carries at most
  k*d values per upstream partition regardless of data size;
- the update is EXACT: float32-origin elements integerize exactly
  via a power-of-two scale (x * 2^50, an exponent shift), sum as
  DECIMAL integers (order-independent), and scale back exactly — one
  IEEE division per (cell, dim) is the only rounding, so a DuckDB
  oracle reproduces every centroid bit-for-bit, iteration by
  iteration, and so does any re-run on any partitioning.

The same generators serve PQ (``operators/pq.py``: one round trains
every subspace codebook, one statement encodes every subspace) and
the semantic-dedup cell assignment.

At 100 TB: K iterations = K scan jobs (cache the projected vector
column once if memory allows); the shuffle is k*d*partitions rows of
decimals — centroid count, not data size, bounds it.  Init is a
deterministic hash-order sample (md5 of the id, seeded) — k-means++
would cost k more scans for usually-nicer seeds; the hash pick keeps
init reproducible everywhere, which the oracle needs.

Assignment ties (exactly equidistant centroids) resolve to the
smallest cell index, matching the oracle's (score DESC, cell ASC)
window rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _dlit, vd_cast


def valid_vec(dim: int, col: str = "__vd"):
    """The shared validity predicate over a projected vector column:
    non-null array, exact length, and NO null ELEMENTS — an element
    null makes every score term NULL, so the assignment cell would be
    NULL (crashing the fit's ``new[cell]`` update and silently
    diverging downstream consumers from their SQL oracles)."""
    return (
        F.col(col).isNotNull()
        & (F.size(col) == dim)
        & F.forall(col, lambda x: x.isNotNull())
    )


def _half_sq_norm(c: list[float]) -> float:
    """0.5 * |c|^2 as the exact left-fold python double — the same
    fold order as ``plane_dot_sql(c, c)`` so both engines agree."""
    acc = 0.0
    for x in c:
        acc = acc + x * x
    return 0.5 * acc


def kmeans_init(
    df: DataFrame, vec_col: str, k: int, id_col: str, seed: int = 0
) -> list[list[float]]:
    """Deterministic pseudo-random init: the k vectors whose
    md5(seed || id) sorts smallest.  Reproducible on any engine that
    has md5 — which is what lets the oracle replay training."""
    rows = (
        df.select(
            F.md5(F.concat(F.lit(str(seed) + ":"), F.col(id_col).cast("string"))).alias(
                "__h"
            ),
            vd_cast(vec_col).alias("__vd"),
        )
        # a NULL vector (or one carrying null ELEMENTS) must not
        # become a seed centroid; wrong-LENGTH vectors are dropped
        # downstream once dim is fixed by the picks
        .filter(
            F.col("__vd").isNotNull()
            & F.forall("__vd", lambda x: x.isNotNull())
        )
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["__vd"]] for r in rows]


# Exact integerization of float32-origin doubles: x * 2^50 is an
# integer whenever |x| >= 2^-27 (24-bit mantissa, exponent >= -27);
# the multiply is a pure exponent shift (exact), the DECIMAL(38,0)
# sum is integer arithmetic (order-independent), and the scale-back
# by 2^-50 is again exact — so a centroid mean incurs exactly ONE
# IEEE rounding (the division), identical in any engine and under
# any partitioning.  kmeans_fit validates the magnitude floor.
_SCALE_UP = 2.0**50
_SCALE_DOWN = 2.0**-50
_MIN_EXACT_ABS = 2.0**-27


def kmeans_iterate(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    floor_out: dict | None = None,
) -> list[list[float]]:
    """One Lloyd's round: assign to the nearest current centroid, then
    exact element means per cell (integerized sums).  Empty cells
    keep their old centroid.  One scan, one k*d-bounded shuffle.

    NULL, wrong-length, or null-element vectors take no part in
    training (a NULL assignment would otherwise surface as a
    ``new[None]`` TypeError mid-fit — the scores array over any
    invalid vector is NULL).

    ``floor_out``: when a dict is passed, the round's aggregate ALSO
    computes the global min |nonzero element| (the exact-mean
    magnitude guard) and stores it under ``floor_out["floor"]`` —
    the fit folds its validation scan into round 1 this way instead
    of paying a separate full pass (guide §1.2: don't add passes the
    pipeline already makes)."""
    dim = len(centroids[0])
    base = df.select(vd_cast(vec_col).alias("__vd")).filter(valid_vec(dim))
    return _lloyd_round(base, [centroids], floor_out)[0]


def _lloyd_round(
    base: DataFrame,
    books: list[list[list[float]]],
    floor_out: dict | None = None,
) -> list[list[list[float]]]:
    """One Lloyd's round for every codebook in ``books`` at once:
    codebook ``j`` covers elements ``j*sub .. (j+1)*sub - 1`` of the
    valid vectors ``base`` carries as ``__vd`` (k-means is the one-
    codebook case, a PQ round has one per subspace).  The whole round
    is ONE SQL statement (:func:`_round_sql`) and one ``collect`` —
    one scan, one shuffle bounded by the (codebook, cell) count — so
    building it costs a fixed number of driver->JVM calls at any
    k*dim.  Empty cells keep their codeword."""
    sub = len(books[0][0])
    stats = base.sparkSession.sql(
        _round_sql(books, floor_out is not None), base=base
    ).collect()
    if floor_out is not None:
        floors = [r["__floor"] for r in stats if r["__floor"] is not None]
        floor_out["floor"] = min(floors) if floors else None
    new = [[list(cw) for cw in cb] for cb in books]  # empty cells keep old
    for r in stats:
        new[r["j"]][r["cell"]] = [float(r[f"__m{d}"]) for d in range(sub)]
    return new


def _round_sql(books: list[list[list[float]]], floor: bool) -> str:
    """The round's statement over ``{base}``: the cell columns
    ``__c{j}`` (:func:`_cells_sql`), one ``(j, cell, e0..)`` row per
    codebook (``inline`` of ``named_struct``s over the SAME extracted
    elements), and per (j, cell) the count, the DECIMAL(38,0) sums of
    the 2^50-scaled elements and the means.  ``floor`` adds
    ``__floor``, the min |nonzero element| of the rows."""
    m, sub = len(books), len(books[0][0])
    cells = _cells_sql(
        [f"__x{i}" for i in range(m * sub)],
        [(f"__c{j}", cb) for j, cb in enumerate(books)],
    )
    rows = ", ".join(
        f"named_struct('j', {j}, 'cell', __c{j}, "
        + ", ".join(f"'e{d}', __x{j * sub + d}" for d in range(sub))
        + ")"
        for j in range(m)
    )
    aggs = ["count(1) AS __n"]
    if floor:
        nonzero = ", ".join(
            f"CASE WHEN e{d} != {_dlit(0.0)} THEN abs(e{d}) END"
            for d in range(sub)
        )
        aggs.append(f"min(array_min(array({nonzero}))) AS __floor")
    aggs += [
        f"sum(CAST(e{d} * {_dlit(_SCALE_UP)} AS DECIMAL(38,0))) AS __s{d}"
        for d in range(sub)
    ]
    outs = (["__floor"] if floor else []) + [
        f"((CAST(__s{d} AS DOUBLE) / __n) * {_dlit(_SCALE_DOWN)}) AS __m{d}"
        for d in range(sub)
    ]
    # NOTE: past 512 score terms per codebook (k=16 at dim=64, or k=32
    # at PQ's subdim 16) the round's stage — the projections fused
    # with the partial aggregate — overflows janino's 64 KB method
    # limit even though each score chunk stays within it: Spark logs
    # one "Failed to compile" and runs that stage without whole-stage
    # codegen.  Results are unaffected, and the assignment-only
    # frames (kmeans_assignments, pq_encode) compile at those sizes.
    return (
        f"SELECT j, cell, {', '.join(outs)} FROM ("
        f"SELECT j, cell, {', '.join(aggs)} FROM ("
        f"SELECT inline(array({rows})) FROM ({cells})) GROUP BY j, cell)"
    )


# centroids per scores-array chunk: each chunk expression carries
# ~(this * dim) multiply-adds — 512 terms is the measured-safe size
# for janino's per-method bytecode limit (the k=8, dim=64 path)
_CHUNK_TERMS = 512


def _score_sql(xs: list[str], c: list[float]) -> str:
    """``x . c - |c|^2/2`` over the extracted element columns ``xs``,
    as the left fold from 0.0 the oracle's ``list_dot_product``
    replays, with every literal exact (``_dlit``)."""
    terms = " + ".join(f"{x} * {_dlit(v)}" for x, v in zip(xs, c))
    return f"({_dlit(0.0)} + {terms} - {_dlit(_half_sq_norm(c))})"


def _cells_sql(
    keep: list[str], spaces: list[tuple[str, list[list[float]]]]
) -> str:
    """SQL text over ``{base}`` (a frame carrying ``__vd``): the
    columns ``keep`` plus, per ``(name, centroids)`` space, an INT
    column ``name`` holding the first-index-at-max of that space's
    scores — smallest index wins ties, matching the oracle's (score
    DESC, cell ASC) rank.  Space ``j`` scores the next
    ``len(centroids[0])`` elements of ``__vd`` after those of the
    spaces before it.  ``keep`` may name the extracted elements
    ``__x0 ..``.

    The element extraction is ONE projection of every
    ``element_at(__vd, i)`` as a plain column ``__x{i-1}``:
    element_at generates bounds-check + error-branch code, so
    referencing the array k times per element would bloat the fused
    method past janino's limit, while an extracted column referenced
    k times is kept as its own projection by CollapseProject.  Scores
    live in CHUNKED arrays of <= ~``_CHUNK_TERMS`` terms each, so
    every generated method stays under janino's size limit at ANY k
    (a single k*dim array fails compilation past ~512 terms, and
    Spark then pays an expensive failed-compile + interpreted
    fallback per stage — measured 3x wall on a k=32, dim=64
    assignment).  The argmax is a CASE over per-chunk maxes: first
    chunk holding the space's max ``__b{j}``, first position within
    it.  The chunk arrays and ``__b{j}`` each get their OWN
    projection and are referenced more than once above it, so
    CollapseProject keeps them materialized instead of re-fusing one
    giant expression."""
    dim = sum(len(cents[0]) for _, cents in spaces)
    xs = [f"__x{i}" for i in range(dim)]
    arrays, bests, cells = [], [], []
    first = 0
    for j, (name, cents) in enumerate(spaces):
        sub = len(cents[0])
        per = max(1, _CHUNK_TERMS // sub)
        chunks = [f"__sc{j}_{g}" for g in range((len(cents) + per - 1) // per)]
        for g, sc in enumerate(chunks):
            scores = ", ".join(
                _score_sql(xs[first : first + sub], c)
                for c in cents[g * per : (g + 1) * per]
            )
            arrays.append(f"ARRAY({scores}) AS {sc}")
        maxes = [f"array_max({sc})" for sc in chunks]
        best = f"greatest({', '.join(maxes)})" if len(maxes) > 1 else maxes[0]
        bests.append(f"{best} AS __b{j}")
        whens = " ".join(
            f"WHEN {mx} = __b{j} THEN "
            f"CAST({g * per} + array_position({sc}, __b{j}) - 1 AS INT)"
            for g, (sc, mx) in enumerate(zip(chunks, maxes))
        )
        cells.append(f"CASE {whens} END AS {name}")
        first += sub
    extract = ", ".join(
        f"element_at(__vd, {i + 1}) AS {x}" for i, x in enumerate(xs)
    )
    return (
        f"SELECT {', '.join(keep + cells)} FROM ("
        f"SELECT *, {', '.join(bests)} FROM ("
        f"SELECT *, {', '.join(arrays)} FROM ("
        f"SELECT *, {extract} FROM {{base}})))"
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    k: int,
    n_iter: int = 3,
    id_col: str = "vec_id",
    seed: int = 0,
    init: list[list[float]] | None = None,
    check_floor: bool = True,
) -> list[list[float]]:
    """Train k centroids with ``n_iter`` Lloyd's rounds.  Returns the
    final centroids (driver-side floats, ready to hand to
    ``ivf_assign``/``write_ivf_index`` after unit-normalizing if the
    index uses dot-product cells).  ``check_floor=False`` skips the
    exact-mean magnitude guard — for callers that already validated
    the SAME elements (e.g. ``pq_train`` checks the full vector once
    instead of paying one check per subspace slice).  The guard no
    longer costs its own corpus scan: it rides round 1's aggregate
    (round 13) and raises before any trained centroid is returned —
    the training rows a bad corpus would corrupt are exactly the rows
    the folded guard inspects."""
    if n_iter < 1 and check_floor:
        raise ValueError(
            "kmeans_fit: check_floor requires n_iter >= 1 (the guard "
            "rides round 1's aggregate)"
        )
    cents = init if init is not None else kmeans_init(df, vec_col, k, id_col, seed)
    if len(cents) < k:
        raise ValueError(f"need >= {k} vectors to init, got {len(cents)}")
    floor_out: dict | None = {} if check_floor else None
    for i in range(n_iter):
        cents = kmeans_iterate(
            df, vec_col, cents, floor_out=floor_out if i == 0 else None
        )
        if i == 0 and floor_out is not None:
            floor = floor_out.get("floor")
            if floor is not None and floor < _MIN_EXACT_ABS:
                raise ValueError(
                    f"kmeans_fit exact-mean contract: nonzero |element| "
                    f"{floor!r} < 2^-27 — x*2^50 would not be an integer "
                    "and the centroid means would pick up "
                    "engine-dependent rounding.  Rescale the embeddings "
                    "(or lower _SCALE_UP)."
                )
    return cents


def kmeans_assignments(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell) for the given centroids — the scan-side expression
    IVF uses, exposed for the final labeling pass.  Invalid vectors
    (NULL, wrong length, null elements) are dropped, matching the
    training-pass contract."""
    dim = len(centroids[0])
    base = df.select(F.col(id_col), vd_cast(vec_col).alias("__vd")).filter(
        valid_vec(dim)
    )
    return base.sparkSession.sql(
        _cells_sql([f"`{id_col}`"], [("cell", centroids)]), base=base
    )
