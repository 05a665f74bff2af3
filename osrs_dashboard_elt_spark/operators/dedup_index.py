"""Incremental near-duplicate detection against AT-REST band-posting
indexes — MinHash over text, banded sign-LSH over embeddings.

``minhash_lsh_pairs`` is the right shape for a one-shot corpus dedup,
but an ingest pipeline does not re-dedup 100 TB per day: it asks "is
anything in TODAY'S batch a near-dup of anything already in the
corpus?"  Recomputing the corpus's signatures per batch makes every
ingest O(corpus); the corpus side must live AT REST.

This module persists the band-posting table (corpus_id, band_key) as
a Hive-bucketed parquet table, bucketed on ``band_key``:

- **Write once, probe cheaply.** The index holds ``bands`` rows of a
  few dozen bytes per document — ~1/1000th of the corpus bytes — and
  is produced by the same single-pass signature aggregate the batch
  dedup uses (``minhash_band_posts``).
- **Probe without shuffling the corpus.** The probe computes the NEW
  batch's postings (small), and the equi-join on ``band_key`` reads
  the index's bucket-aligned splits directly: no Exchange on the
  index side (bucketing metadata satisfies the join's required
  distribution; asserted in tests/test_dedup_index.py).  Only the
  (tiny) new-batch side shuffles.
- **Append-able.** New batches' postings append into the same
  bucketed table after they pass dedup, keeping the index current
  without rewrites (same bucket count = same layout contract).
- **Same guards as the batch path.** A hot band key (a boilerplate
  shingle signature shared by thousands of docs) is dropped by the
  ``max_bucket_size`` cap on the index side at WRITE time — the
  probe never meets a degenerate bucket.

``band_key`` folds (band index, band hash) into one string because a
Hive bucket spec co-locates on the EXACT bucket columns: bucketing on
``bk`` alone while joining on (bi, bk) would not satisfy the join's
hashpartitioning(bi, bk) requirement and the index would reshuffle.

Verification (exact Jaccard) joins token arrays back by id for the
(small) candidate set only — pass the corpus docs frame for that;
the index itself never stores text.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _drop_hot_keys, minhash_band_posts, with_shingles
from .similarity import (
    _score6,
    dot_sql,
    embedding_band_posts,
    norm_sql,
    unit_array_sql,
    vd_cast,
)


def _band_key(posts: DataFrame) -> DataFrame:
    return posts.select(
        "id", F.concat_ws("|", F.col("bi").cast("string"), F.col("bk")).alias("band_key")
    )


# ---------------------------------------------------------------------------
# Index lifecycle plumbing: location resolution, sidecar meta, tombstones
# ---------------------------------------------------------------------------


def _describe(spark: SparkSession, table: str) -> dict:
    return {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }


def _strip_scheme(loc: str) -> str:
    return loc[len("file:"):] if loc.startswith("file:") else loc


def _base_path(location: str) -> str:
    """The index's STABLE identity path: compaction moves the data to
    ``{base}__compact-<hex>`` dirs, so stripping the suffix recovers
    the path every sidecar (meta, tombstones) hangs off."""
    return _strip_scheme(location).split("__compact", 1)[0]


def _write_meta(
    spark: SparkSession, table: str, n_buckets: int
) -> None:
    """Atomically record the index's CURRENT
    location, schema and bucket spec at ``{base}__meta.json`` so a
    fresh process can re-register the table without guessing —
    re-registering the original path after a compaction moved the data
    would resurrect the stale pre-compaction directory and orphan
    every later append."""
    # Schema comes from the DESCRIBE rows, NOT spark.table(table):
    # resolving the relation here would pin a (possibly empty) file
    # listing into THIS session's relation cache, which appends from
    # foreachBatch's CLONED sessions never invalidate — the caller
    # would then read a permanently stale snapshot.
    rows = spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    detail = {r.col_name: r.data_type for r in rows}
    location = detail.get("Location")
    if not location:
        return
    base = _base_path(location)
    col_rows = []
    for r in rows:
        if not r.col_name or r.col_name.startswith("#"):
            break
        col_rows.append(f"{r.col_name} {r.data_type}")
    cols = ", ".join(col_rows)
    meta = {
        "table": table,
        "location": _strip_scheme(location),
        "columns": cols,
        "bucket_keys": ["band_key"],
        "n_buckets": n_buckets,
    }
    # the sidecar meta is a control-plane blob (re-registration reads
    # it to find the CURRENT data location) — publish through the
    # injectable commit protocol, not a raw rename (round-10 ADVICE)
    from ..sources import commitio

    commitio.publish_bytes(
        f"{base}__meta.json", json.dumps(meta, indent=1).encode()
    )


def register_index(spark: SparkSession, base_path: str, table: str | None = None) -> str:
    """Re-register an at-rest index in a FRESH session's in-memory
    catalog from its sidecar meta (``{base_path}__meta.json``) —
    pointing the DDL at the CURRENT data location, which compaction
    may have moved off the base path.  Returns the table name."""
    with open(f"{base_path}__meta.json") as f:
        meta = json.load(f)
    name = table or meta["table"]
    keys = ", ".join(meta["bucket_keys"])
    spark.sql(
        f"CREATE TABLE {name} ({meta['columns']}) USING PARQUET "
        f"CLUSTERED BY ({keys}) SORTED BY ({keys}) "
        f"INTO {meta['n_buckets']} BUCKETS LOCATION '{meta['location']}'"
    )
    return name


def _tombstone_path(spark: SparkSession, table: str) -> str | None:
    location = _describe(spark, table).get("Location")
    if not location:
        return None
    return f"{_base_path(location)}__tombstones"


def delete_from_index(spark: SparkSession, table: str, ids) -> int:
    """Tombstone corpus documents (takedown, quality re-filter): their
    postings stop matching probes IMMEDIATELY, and the next
    ``compact_index`` drops them physically.  ``ids`` is a list or a
    one-column DataFrame.  Returns the number of ids tombstoned.

    Tombstones are an append-only one-column parquet dir next to the
    index (``{base}__tombstones``) — bytes-tiny, broadcast at probe
    time, and they SURVIVE compaction: a deleted doc redelivered by an
    at-least-once source must not be re-accepted just because the
    compactor already ran.  Re-admitting an id on purpose is
    :func:`clear_tombstones`."""
    path = _tombstone_path(spark, table)
    if path is None:
        raise ValueError(f"{table} has no resolvable location")
    id_type = dict(spark.table(table).dtypes)["corpus_id"]
    if isinstance(ids, DataFrame):
        tomb = ids.select(
            F.col(ids.columns[0]).cast(id_type).alias("corpus_id")
        )
    else:
        ids = list(ids)
        if not ids:
            return 0
        from ..literals import local_frame

        tomb = local_frame(
            spark, [(i,) for i in ids], f"corpus_id {id_type}"
        )
    tomb = tomb.distinct().persist()
    n = tomb.count()
    tomb.coalesce(1).write.mode("append").parquet(path)
    tomb.unpersist()
    return n


def clear_tombstones(spark: SparkSession, table: str, ids=None) -> None:
    """Explicitly re-admit tombstoned ids (``ids=None`` clears all) —
    the only way a deleted corpus id becomes probe-visible again.

    A selective clear writes the surviving ids into the tombstone dir
    as NEW files, then deletes the files listed before the write.
    Every intermediate state (a crash, a failed delete, a concurrent
    probe) is therefore a superset of the new set: a still-deleted id
    is never re-admitted, only a cleared one may stay blocked until
    the clear is re-run.  The survivors are read from the listed
    files by name, never from the dir being appended to, so a
    recompute (cache eviction, task retry) reads the same bytes."""
    import shutil

    path = _tombstone_path(spark, table)
    if path is None or not os.path.exists(path):
        return
    if ids is None:
        shutil.rmtree(path)
        return
    old = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not old:
        return
    spark.read.parquet(*[os.path.join(path, f) for f in old]).filter(
        ~F.col("corpus_id").isin(list(ids))
    ).coalesce(1).write.mode("append").parquet(path)
    for f in old:
        os.remove(os.path.join(path, f))
        crc = os.path.join(path, f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def _without_tombstoned(
    spark: SparkSession, cand: DataFrame, table: str
) -> DataFrame:
    """Anti-join candidates against the (tiny, broadcast) tombstone
    set — applied in every probe so a deleted corpus id can never
    surface as a match, before OR after compaction."""
    path = _tombstone_path(spark, table)
    if path is None or not os.path.exists(path):
        return cand
    tomb = spark.read.parquet(path).select("corpus_id").distinct()
    return cand.join(F.broadcast(tomb), "corpus_id", "left_anti")


def write_minhash_index(
    df: DataFrame,
    table: str,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    seed: int = 42,
    shingle_n: int | None = 3,
    n_buckets: int = 32,
    max_bucket_size: int | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus band-posting table as a bucketed parquet
    table ``table`` (columns: corpus_id, band_key), bucketed+sorted on
    ``band_key``.  ``mode="append"`` adds a new batch's postings to an
    existing index (same ``n_buckets`` — the layout contract).

    The (num_perm, bands, seed, shingle_n) parameters are part of the
    index's identity: probes MUST use the same values or band keys
    never collide.  Keep them with the table (e.g. in its comment or a
    sidecar) exactly as an ANN index pins its hyperplanes.
    """
    from ..sources.bucketed import write_bucketed

    base = with_shingles(df, id_col, text_col, shingle_n)
    posts = _band_key(minhash_band_posts(base, num_perm, bands, seed))
    if max_bucket_size is not None:
        posts = _drop_hot_keys(posts, ["band_key"], max_bucket_size)
    write_bucketed(
        posts.withColumnRenamed("id", "corpus_id"),
        table,
        keys=["band_key"],
        n_buckets=n_buckets,
        path=path,
        mode=mode,
    )
    if mode != "append":
        _write_meta(df.sparkSession, table, n_buckets)


def probe_minhash_index(
    spark: SparkSession,
    new_docs: DataFrame,
    table: str,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    seed: int = 42,
    shingle_n: int | None = 3,
    corpus_docs: DataFrame | None = None,
    verify_threshold: float | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """(new_id, corpus_id) candidate near-dup pairs between a NEW
    batch and the at-rest index — the corpus is never re-signatured
    and its posting table never shuffles (bucketed join).

    With ``verify_threshold`` (requires ``corpus_docs``), candidates
    are confirmed by exact token-set Jaccard: the token arrays join
    back by id for the candidate set only, so the corpus pays one
    semi-join on ids, not a signature pass.  Returns an extra
    ``jaccard`` column in that mode.  Self-matches (a new id already
    present in the corpus index) are excluded by default;
    ``exclude_self=False`` keeps them — an O(batch) membership test
    for "was this exact id already ingested", which the streaming
    ingest uses for cross-batch redelivery idempotency.
    """
    base = with_shingles(new_docs, id_col, text_col, shingle_n)
    probe = _band_key(minhash_band_posts(base, num_perm, bands, seed))
    index = spark.table(table)
    cand = probe.withColumnRenamed("id", "new_id").join(index, "band_key")
    if exclude_self:
        cand = cand.filter(F.col("new_id") != F.col("corpus_id"))
    cand = cand.select("new_id", "corpus_id").dropDuplicates(
        ["new_id", "corpus_id"]
    )
    cand = _without_tombstoned(spark, cand, table)
    if verify_threshold is None:
        return cand
    if corpus_docs is None:
        raise ValueError(
            "verify_threshold needs corpus_docs (the index stores no text)"
        )
    ta = base.select(F.col("id").alias("new_id"), F.col("toks").alias("toks_a"))
    tb = with_shingles(corpus_docs, id_col, text_col, shingle_n).select(
        F.col("id").alias("corpus_id"), F.col("toks").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(ta, "new_id")
        .join(tb, "corpus_id")
        .withColumn("__jac", jac)
        .filter(F.col("__jac") >= verify_threshold)
        .select(
            "new_id",
            "corpus_id",
            F.col("__jac").cast("decimal(28,6)").cast("double").alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding variant: same at-rest contract over sign-LSH band postings
# ---------------------------------------------------------------------------


def write_embedding_index(
    df: DataFrame,
    table: str,
    id_col: str,
    vec_col: str,
    n_planes: int = 18,
    seed: int = 42,
    dim: int = 64,
    bands: int = 3,
    n_buckets: int = 32,
    max_bucket_size: int | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's banded sign-LSH postings (corpus_id,
    band_key) as a bucketed table — the embedding twin of
    :func:`write_minhash_index`.  (n_planes, seed, dim, bands,
    n_buckets) are the index contract; probes must match them."""
    from ..sources.bucketed import write_bucketed

    posts = _band_key(
        embedding_band_posts(df, id_col, vec_col, n_planes, seed, dim, bands)
    )
    if max_bucket_size is not None:
        posts = _drop_hot_keys(posts, ["band_key"], max_bucket_size)
    write_bucketed(
        posts.withColumnRenamed("id", "corpus_id"),
        table,
        keys=["band_key"],
        n_buckets=n_buckets,
        path=path,
        mode=mode,
    )
    if mode != "append":
        _write_meta(df.sparkSession, table, n_buckets)


def probe_embedding_index(
    spark: SparkSession,
    new_vecs: DataFrame,
    table: str,
    id_col: str,
    vec_col: str,
    n_planes: int = 18,
    seed: int = 42,
    dim: int = 64,
    bands: int = 3,
    corpus_vecs: DataFrame | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """(new_id, corpus_id) embedding near-dup candidates for a NEW
    batch against the at-rest posting index — the corpus is never
    re-hashed and its posting table never shuffles.

    With ``threshold`` (requires ``corpus_vecs``), candidates are
    scored by exact cosine on pre-normalized vectors — the corpus
    pays one id-join for the candidate set only — and filtered to
    ``score >= threshold``; adds a ``score`` column (6-decimal
    rounded, same arithmetic as ``embedding_neardup_pairs``)."""
    probe = _band_key(
        embedding_band_posts(
            new_vecs, id_col, vec_col, n_planes, seed, dim, bands
        )
    )
    index = spark.table(table)
    cand = (
        probe.withColumnRenamed("id", "new_id")
        .join(index, "band_key")
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    cand = _without_tombstoned(spark, cand, table)
    if threshold is None:
        return cand
    if corpus_vecs is None:
        raise ValueError(
            "threshold needs corpus_vecs (the index stores no vectors)"
        )

    def unit(df_, out_id):
        withn = df_.select(
            F.col(id_col).alias(out_id), vd_cast(vec_col).alias("v")
        ).select(
            out_id, "v", F.expr(norm_sql("v", dim)).alias("nrm")
        )
        return withn.select(
            out_id,
            F.expr(unit_array_sql("v", "nrm", dim)).alias(f"u_{out_id}"),
        )

    scored = (
        cand.join(unit(new_vecs, "new_id"), "new_id")
        .join(unit(corpus_vecs, "corpus_id"), "corpus_id")
        .withColumn("score", _score6(dot_sql("u_new_id", "u_corpus_id", dim)))
    )
    return scored.filter(F.col("score") >= threshold).select(
        "new_id", "corpus_id", "score"
    )


def compact_index(
    spark: SparkSession,
    table: str,
    n_buckets: int | None = None,
    max_bucket_size: int | None = None,
) -> int:
    """Rewrite a posting index: drop duplicate (corpus_id, band_key)
    rows (replayed appends — harmless to probes but dead weight) and
    merge append-accumulated small files back to one bucketed layout.
    Returns the compacted row count.

    ``n_buckets`` defaults to the TABLE'S OWN declared bucket count
    (read from the catalog) so a typo cannot silently rewrite the
    index with a different layout contract.  ``max_bucket_size``
    applies the hot-band-key cap ACROSS the whole accumulated index —
    the per-append cap only ever sees one batch's postings, so a
    boilerplate signature can grow a degenerate bucket over many
    appends; periodic compaction with a cap is the global control
    (probes against a capped-away key lose that key's recall, same
    trade as the write-time cap).

    Tombstoned postings (:func:`delete_from_index`) are dropped
    physically; the tombstone sidecar itself survives (a redelivered
    deleted doc must stay rejected).

    Run from the ingest owner (single writer).  The publish is
    atomic to readers: the compacted data is written to a FRESH
    external dir under a temp table name, then the live table is
    repointed with a single ``ALTER TABLE ... SET LOCATION`` — the
    table name never leaves the catalog, so a racing ``spark.table``
    always resolves (to the old snapshot before the repoint, the new
    one after).  If the compactor dies before the repoint, the live
    table is untouched and the orphan dir is vacuumable.  The
    previous location's files are left in place (a reader may still
    be scanning them); the sidecar meta records the current location
    for fresh-process re-registration (:func:`register_index`)."""
    import uuid

    from ..sources.bucketed import write_bucketed

    current = spark.table(table)
    detail = _describe(spark, table)
    if n_buckets is None:
        try:
            n_buckets = int(str(detail.get("Num Buckets", "")).strip())
        except ValueError:
            raise ValueError(
                f"{table} declares no bucket spec; pass n_buckets explicitly"
            ) from None
    location = detail.get("Location")
    deduped = current.dropDuplicates(["corpus_id", "band_key"])
    if max_bucket_size is not None:
        deduped = _drop_hot_keys(deduped, ["band_key"], max_bucket_size)
    tomb_path = _tombstone_path(spark, table)
    if tomb_path and os.path.exists(tomb_path):
        tomb = spark.read.parquet(tomb_path).select("corpus_id").distinct()
        deduped = deduped.join(F.broadcast(tomb), "corpus_id", "left_anti")
    tmp = f"{table}__compact"
    # stable base + fresh suffix: repeated compactions must not grow
    # the path (loc__compact__compact__...) and must not collide with
    # a previous compaction's still-vacuumable dir
    tmp_loc = None
    if location:
        tmp_loc = f"{_base_path(location)}__compact-{uuid.uuid4().hex[:8]}"
    write_bucketed(
        deduped, tmp, keys=["band_key"], n_buckets=n_buckets, path=tmp_loc
    )
    n = spark.table(tmp).count()
    if tmp_loc is not None:
        # external table: one catalog op repoints the live name; the
        # tmp name is then dropped metadata-only (files survive)
        spark.sql(f"ALTER TABLE {table} SET LOCATION '{tmp_loc}'")
        spark.sql(f"DROP TABLE {tmp}")
    else:
        # managed table (no explicit location): fall back to the
        # rename swap — DROP deletes managed data, so repointing is
        # not available; the window only exists for catalog-managed
        # test tables, never the production external layout
        spark.sql(f"DROP TABLE {table}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    _write_meta(spark, table, n_buckets)
    return n
