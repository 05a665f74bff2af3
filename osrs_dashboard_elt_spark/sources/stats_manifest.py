"""File-skipping stats manifest: per-file column min/max (and optional
per-file bloom filters) recorded at write time so selective readers
prune FILES before the scan starts.

Parquet footers already carry row-group min/max, but the engine only
consults them AFTER the file is opened — listing, opening and footer-
reading a million files to discard 99% of them is the dominant cost of
a selective probe on a 100 TB table.  Table formats (Delta, Iceberg)
solve this with write-time file statistics in the commit log; this
module re-expresses that idea for plain parquet dirs: one small
manifest (itself parquet, in an underscore-prefixed subdir the readers
ignore) mapping ``file -> (n_rows, min_c, max_c, ..., bloom_c, ...)``
for the chosen columns, written right after the data, consulted BEFORE
any data file is touched.

Two pruning regimes:

- **Range bounds** (``pruned_scan(bounds=...)``): min/max interval
  overlap — composes with z-ordering (``operators/zorder.py``), which
  makes every participating column's per-file ranges TIGHT.
- **Point lookups** (``pruned_scan(points=...)``): per-file bloom
  filters (the Delta bloom / Iceberg value-sketch analog) serve
  equality probes on high-cardinality keys NOT clustered by the
  layout, where every file's [min, max] spans the whole domain and
  range pruning keeps everything.  Blooms are built with Spark's
  native bitmap aggregates (``bitmap_construct_agg``): k positions per
  row from ``xxhash64(col, seed)``, one 32768-bit bitmap per (file,
  bucket) with map-side partial aggregation — the shuffle carries at
  most ``bits/32768 * 4 KB`` per (file, input partition), never row
  data.  Membership is tested with native byte/bit expressions over
  the manifest (no data file touched; the driver receives file names
  only).  False positives only ⇒ extra files read, never missed rows.

Freshness: every reader lists the data dir and checks it against the
manifest, failing loudly on drift (a file written or removed without
a manifest refresh).

Commit protocol: each manifest write lands in a fresh epoch dir
(``_stats_manifest/m0000001/...``) and becomes visible only when its
``_meta.json`` is atomically published (``commitio``) — readers always
see a complete manifest (never the half-written or deleted-mid-swap
states a delete-then-write would expose).  An epoch's meta names the live
SEGMENT dirs (each holding some files' rows) plus tombstoned file
names: a refresh appends one O(batch) segment instead of rewriting the
world, and folds to a single segment when the segment/tombstone bounds
trip.  Vacuum keeps every dir referenced by the last ``keep_metas``
committed metas, so an in-flight reader of an older meta always finds
all of its segments.  Epoch numbers are claimed with create-if-absent
markers (``commitio.claim_slot``) so concurrent refreshers cannot
collide on a dir.  Every meta carries ``format_version``; readers
refuse a meta without it or with another value, and refuse parquet
written flat under ``_stats_manifest/``.

Hive-partitioned dirs are supported: file subsets are read with
``basePath`` so partition columns keep their values (a leaf-file read
without it would return them as NULL and silently break bound filters
on partition columns).

Scale shape: the stats pass is ONE distributed column-pruned scan
grouped by ``input_file_name()`` (no wide shuffle — |files| groups);
each bloom column adds one scan pruned to that single column.  The
manifest is |files| rows; readers collect only FILE NAMES (pruning
runs in Spark over the manifest), the same driver-side planning cost
every table format pays, bounded by file count, not data size.

NULL semantics: min/max ignore NULLs, and range predicates never match
NULLs, so skipping a file whose stats-column is all-NULL (NULL
min/max) is exact, not approximate.  Equality points must be non-null
(``c = NULL`` matches nothing).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_stats_manifest"
_META = "_meta.json"
# layout of an epoch meta and its segment dirs; readers refuse any
# other value (bump it with any change to either)
_FORMAT_VERSION = 2
_BUCKET_BITS = 32768  # bits per Spark bitmap bucket (engine constant)


def _manifest_root(path: str) -> str:
    return path.rstrip("/") + "/" + _MANIFEST_DIR


def _epoch_dir(root: str, epoch: int) -> str:
    return os.path.join(root, f"m{epoch:07d}")


def _norm(uri: str) -> str:
    """Normalize a file URI for set comparison: ``input_file_name()``
    and ``DataFrame.inputFiles()`` render the same local file as
    ``file:///x`` vs ``file:/x``."""
    if uri.startswith("file:"):
        return "file:///" + uri[5:].lstrip("/")
    return uri


def _norm_col(c):
    """SQL-side twin of :func:`_norm` for joins on stored file names."""
    return F.regexp_replace(c, "^file:/+", "file:///")


def _local_path(uri: str) -> str:
    """``file:///x`` -> ``/x`` (no-op on plain paths) — the ONE
    canonical uri->path mapping; every module imports it (three
    diverging copies would silently break (name, size) identity)."""
    return "/" + uri[5:].lstrip("/") if uri.startswith("file:") else uri


def _as_uri(local: str) -> str:
    """``/x`` -> ``file:///x`` in :func:`_norm`'s canonical form."""
    return "file://" + local if local.startswith("/") else _norm(local)


# Segment-fold thresholds: a refresh appends ONE segment (the new
# files' rows) and tombstones removals in meta — O(batch) write — until
# either bound trips, at which point the refresh folds everything into
# a single fresh segment (the Delta checkpoint analog).  Readers union
# the live segments minus tombstones, so read cost is bounded by
# |files| rows + one InSet over <= _MAX_TOMBSTONES names.
_MAX_SEGMENTS = 8
_MAX_TOMBSTONES = 10_000

# Deletion-vector bound: total tombstone ROWS (across columns) a
# manifest may carry before `maintenance.apply_deletion_vectors`
# compacts them into real file rewrites — the same
# amortize-then-fold discipline as segments/tombstones above.
_MAX_DV_ENTRIES = 10_000


# Manifest rows per output part file: bounds how much manifest a
# single write task serializes.  A bloom-bearing row is ~bloom_bits/8
# bytes (~128 KB at defaults), so 4096 rows ≈ 512 MB per task — a
# million-file fold fans out over ~250 tasks instead of funneling
# ~100 GB through coalesce(1).  Readers union directories, so part
# count is invisible to them.
_MANIFEST_ROWS_PER_FILE = 4096


def _bounded_write(man: DataFrame, n_rows: int, edir: str) -> None:
    """Write a manifest segment with write parallelism derived from
    its row count (known for free: manifest rows == file count)."""
    parts = max(1, -(-int(n_rows) // _MANIFEST_ROWS_PER_FILE))
    man.repartition(parts).write.mode("overwrite").parquet(edir)


def _manifest_df(
    spark: SparkSession, path: str, meta: dict
) -> DataFrame:
    """The LIVE manifest rows: union of the meta's segment dirs minus
    its tombstoned file names."""
    root = _manifest_root(path)
    man = spark.read.parquet(
        *[_epoch_dir(root, e) for e in meta["segments"]]
    )
    tomb = meta["tombstones"]
    if tomb:
        man = man.filter(~_norm_col(F.col("file")).isin(tomb))
    return man


def _committed_epochs(root: str) -> list[int]:
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("m") and n[1:].isdigit():
            if os.path.exists(os.path.join(root, n, _META)):
                out.append(int(n[1:]))
    return sorted(out)


def _load_meta(path: str) -> tuple[int, dict]:
    """(epoch, meta) of the newest committed manifest.  Raises
    FileNotFoundError when there is none, and ValueError when the
    meta's ``format_version`` is missing or not this module's — as it
    is for parquet written flat under ``_stats_manifest/``, a layout
    no reader here understands."""
    from .commitio import check_format_version

    root = _manifest_root(path)
    epochs = _committed_epochs(root)
    if not epochs:
        if os.path.isdir(root) and any(
            n.endswith(".parquet") for n in os.listdir(root)
        ):
            check_format_version(root, None, _FORMAT_VERSION)
        raise FileNotFoundError(
            f"no stats manifest under {path} — write one with "
            "write_stats_manifest (or pass stats_cols to the writer)"
        )
    epoch = epochs[-1]
    meta_path = os.path.join(_epoch_dir(root, epoch), _META)
    with open(meta_path) as f:
        meta = json.load(f)
    check_format_version(
        meta_path, meta.get("format_version"), _FORMAT_VERSION
    )
    return epoch, meta


def has_stats_manifest(path: str) -> bool:
    """Whether a committed manifest exists — the bootstrap-vs-refresh
    probe for incremental maintainers."""
    return bool(_committed_epochs(_manifest_root(path)))


def _claim_epoch(root: str, start: int) -> int:
    """Claim the next epoch number with a create-if-absent marker
    (``commitio.claim_slot`` — one conditional PUT per probe) so
    concurrent writers get distinct dirs."""
    from . import commitio

    os.makedirs(root, exist_ok=True)
    return commitio.claim_slot(
        os.path.join(root, ".claim-m{:07d}"), start
    )


class ManifestCommitConflict(RuntimeError):
    """Another writer committed between this refresh's meta load and
    its commit: the meta being committed was computed from a parent
    epoch that is no longer the head, so committing it would silently
    orphan the interleaved segment.  ``refresh_stats_manifest``
    catches this and retries from the new head."""


def _commit_gate(root: str, timeout: float = 30.0):
    """Short mutex serializing the check-parent + publish-meta
    critical section (without it, two refreshers could both pass the
    lineage check and the second would still orphan the first) —
    ``commitio.mutex``: a lease lock on a conditional-PUT claim blob
    with a loud bounded timeout."""
    from . import commitio

    return commitio.mutex(
        os.path.join(root, ".commit.lock"), timeout,
        "manifest commit gate",
    )


def _commit_epoch(root: str, epoch: int, meta: dict) -> None:
    """Atomically publish the epoch (one whole-blob PUT of its meta —
    the commit point, and the one write point, so every meta carries
    this module's ``format_version``), then vacuum epochs not
    referenced by the last ``keep_metas`` committed metas (kept so an
    in-flight reader of an
    older manifest finishes — under a streaming refresh cadence, a
    reader that loaded a meta several refreshes ago would otherwise
    have its segment dirs deleted mid-read; raise ``keep_metas`` at
    write time to match the longest reader, Delta's retention
    caveat).

    Commit-lineage guard: a meta carrying ``parent_epoch`` commits
    only if the current head IS that parent — otherwise another
    writer interleaved, and committing a meta computed from the old
    head would silently omit the interleaved segment from the live
    set (caught only later by the staleness check, with a full
    rebuild as the only recovery).  The check + publish run under a
    short lease gate so two same-parent writers serialize; the loser
    raises :class:`ManifestCommitConflict` and
    ``refresh_stats_manifest`` retries it from the new head.  Metas
    without ``parent_epoch`` (full builds — they rebuild from the
    current listing, so last-writer-wins IS the correct semantics)
    skip the check."""
    from . import commitio

    edir = _epoch_dir(root, epoch)
    with _commit_gate(root):
        parent = meta.get("parent_epoch")
        if parent is not None:
            pre = _committed_epochs(root)
            head = pre[-1] if pre else 0
            if head != parent:
                raise ManifestCommitConflict(
                    f"manifest head under {root} moved from epoch "
                    f"{parent} to {head} while this refresh ran — "
                    "the refresh must recompute from the new head"
                )
        # the commit point: one atomic blob publish under the gate
        commitio.publish_json(
            os.path.join(edir, _META),
            dict(meta, format_version=_FORMAT_VERSION),
        )
    committed = _committed_epochs(root)
    # keep every epoch dir REFERENCED by the last keep_metas committed
    # metas' segment sets (plus those metas' own dirs): an in-flight
    # reader of any retained meta must find all of its segments
    keep_n = max(2, int(meta["keep_metas"]))
    keep = set(committed[-keep_n:])
    for e in committed[-keep_n:]:
        try:
            with open(os.path.join(_epoch_dir(root, e), _META)) as f:
                m = json.load(f)
            keep |= set(m["segments"])
            # deletion-vector sidecars live in their own epoch dirs
            # and must survive as long as a retained meta cites them
            for info in (m.get("dv") or {}).values():
                keep |= set(info["segments"])
        except FileNotFoundError:
            continue
    for old in committed:
        if old in keep:
            continue
        odir = _epoch_dir(root, old)
        try:  # un-commit first so a racing reader skips it cleanly
            os.remove(os.path.join(odir, _META))
        except FileNotFoundError:
            pass
        shutil.rmtree(odir, ignore_errors=True)
        try:
            os.remove(os.path.join(root, f".claim-m{old:07d}"))
        except FileNotFoundError:
            pass


def _stats_aggs(cols: list[str]) -> list:
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return aggs


def _bloom_positions(col, dtype_col, bits: int, hashes: int) -> list:
    """k 1-based bit positions in [1, bits] for a value: independent
    hashes from xxhash64 over (value, seed)."""
    return [
        F.pmod(F.xxhash64(col, F.lit(s)), F.lit(bits)) + F.lit(1)
        for s in range(1, hashes + 1)
    ]


def _bloom_for_files(
    reader: DataFrame, c: str, bits: int, hashes: int
) -> DataFrame:
    """(file, bloom_c: map<bucket, 4KB bitmap>) per file.  One scan
    pruned to column ``c``; partial aggregation bounds the shuffle at
    ``bits/32768`` bitmaps per (file, input partition)."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(c), None, bits, hashes))
    ).alias("pos")
    per_bucket = (
        reader.select(F.input_file_name().alias("file"), F.col(c))
        .select("file", pos)
        .groupBy("file", F.bitmap_bucket_number("pos").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("pos")).alias("bm"))
    )
    return per_bucket.groupBy("file").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("bucket", "bm")))
        ).alias(f"bloom_{c}")
    )


def _build_manifest_df(
    spark: SparkSession,
    path: str,
    reader: DataFrame,
    cols: list[str],
    bloom_cols: list[str],
    bloom_bits: int,
    bloom_hashes: int,
) -> DataFrame:
    stats = (
        reader.select(F.input_file_name().alias("file"), *cols)
        .groupBy("file")
        .agg(*_stats_aggs(cols))
    )
    for c in bloom_cols:
        stats = stats.join(
            _bloom_for_files(reader, c, bloom_bits, bloom_hashes),
            "file",
            "left",
        )
    return stats


def write_stats_manifest(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 20,
    bloom_hashes: int = 5,
    keep_metas: int = 2,
) -> int:
    """Record per-file (n_rows, min/max per stats column, optional
    bloom per ``bloom_cols``) for every parquet file under ``path``.
    Returns the file count.  Call right after the data write
    (``write_zordered`` does this when given ``stats_cols``); re-call
    or :func:`refresh_stats_manifest` after any append or compaction
    — readers verify freshness.

    Bloom sizing: false-positive rate ≈ (1 - e^(-k·n/m))^k for n
    distinct values per file, m = ``bloom_bits``, k = ``bloom_hashes``
    — size m ≈ 10·n (the default 2^20 bits ≈ 128 KB/file/col suits
    ~100k distinct per file; raise it for 128 MB files of unique ids).

    ``keep_metas`` is the vacuum retention depth (a table property,
    carried through every refresh): epoch dirs referenced by the last
    N committed metas survive.  The default 2 suits batch cadence;
    a manifest refreshed every streaming micro-batch should set it
    high enough that the longest-running concurrent reader never has
    a segment vacuumed mid-read.
    """
    reader = spark.read.parquet(path)
    man = _build_manifest_df(
        spark, path, reader, cols, list(bloom_cols or []),
        bloom_bits, bloom_hashes,
    )
    root = _manifest_root(path)
    epochs = _committed_epochs(root)
    # a full rebuild REPLACES stats but must never lose deletion
    # vectors: dropping meta['dv'] would silently resurrect every
    # tombstoned row for manifest-aware readers — carry them forward
    # (their sidecar epochs stay in the vacuum keep-set as long as
    # this meta cites them)
    prior_dv: dict = {}
    if epochs:
        try:
            with open(
                os.path.join(_epoch_dir(root, epochs[-1]), _META)
            ) as f:
                prior_dv = json.load(f).get("dv") or {}
        except FileNotFoundError:
            pass
    epoch = _claim_epoch(root, (epochs[-1] + 1) if epochs else 1)
    edir = _epoch_dir(root, epoch)
    files = reader.inputFiles()
    _bounded_write(man, len(files), edir)
    n = spark.read.parquet(edir).count()
    # hive partition columns = pinned fields absent from the file
    # footers (one driver-side footer read); recorded so mutations can
    # tell a partition column from a column ADDED by schema evolution
    # (both are absent from old footers — only the meta can tell)
    footer_cols = set(spark.read.parquet(sorted(files)[0]).columns)
    meta = {
        "epoch": epoch,
        "cols": list(cols),
        "bloom_cols": list(bloom_cols or []),
        "bloom_bits": bloom_bits,
        "bloom_hashes": bloom_hashes,
        "schema": reader.schema.jsonValue(),
        "partition_cols": [
            f.name
            for f in reader.schema.fields
            if f.name not in footer_cols
        ],
        "file_count": n,
        "segments": [epoch],
        "tombstones": [],
        "keep_metas": max(2, int(keep_metas)),
    }
    if prior_dv:
        meta["dv"] = prior_dv
    _commit_epoch(root, epoch, meta)
    return n


def _full_read(
    spark: SparkSession, path: str, pinned: StructType
) -> DataFrame:
    """The plain listing read used by freshness/drift checks, safe on
    a table whose every file was deleted or compacted away (a fully
    taken-down corpus is a legal state): schema inference has nothing
    to sample, so fall back to an empty frame under the pinned schema
    (zero inputFiles == the true listing)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return spark.createDataFrame([], pinned)
        raise


def _fields_subset(schema: StructType, pinned: StructType) -> bool:
    by_name = {f.name: f.dataType for f in pinned.fields}
    return all(
        f.name in by_name and by_name[f.name] == f.dataType
        for f in schema.fields
    )


def _schema_compatible(
    spark: SparkSession,
    path: str,
    pinned: StructType,
    sampled: StructType | None = None,
) -> bool:
    """Whether the data dir's schema is a typed SUBSET of the pinned
    schema — the relaxation that makes ADD COLUMN evolution legal:
    old files simply lack the added column (read back NULL under the
    pinned schema), while real drift (renamed columns, changed types,
    partition-type drift) still fails the check.

    Cost discipline: ``sampled`` is the schema the caller already has
    from the plain read (ONE footer + partition inference — exactly
    the pre-evolution check's visibility).  If it subsets pinned, the
    answer is yes without any extra I/O — the steady post-evolution
    state, so evolution does NOT tax every read with a footer sweep.
    Only when the sampled schema DISAGREES (possible drift, or a
    sampled file that already carries the new column while others
    might be drifted) does the mergeSchema confirmation run — a
    distributed every-footer read, the same job a rebuild would
    need."""
    if sampled is not None and _fields_subset(sampled, pinned):
        return True
    merged = (
        spark.read.option("mergeSchema", "true").parquet(path).schema
    )
    return _fields_subset(merged, pinned)


def _check_schema(
    spark: SparkSession, path: str, pinned: StructType, full: DataFrame
) -> None:
    """Refuse a data dir whose schema drifted from the manifest's
    pinned one.  Partition-column TYPE drift is the dangerous case: a
    first epoch whose run_id dirs all looked numeric pins int, and a
    later string run id would read back NULL under the pinned schema —
    catch it loudly instead of corrupting pruned reads.  A schema that
    is a typed SUBSET of pinned is fine: that is ADD COLUMN evolution
    (:func:`evolve_table_schema`), where old files legitimately lack
    the added columns."""
    if full.schema != pinned and not _schema_compatible(
        spark, path, pinned, sampled=full.schema
    ):
        raise ValueError(
            f"table schema under {path} no longer matches the "
            f"manifest's pinned schema (was {pinned.simpleString()}, "
            f"now {full.schema.simpleString()}) — partition-column "
            "type drift or a schema change; rebuild with "
            "write_stats_manifest"
        )


def evolve_table_schema(
    spark: SparkSession,
    path: str,
    added_ddl: str = "",
    drop_cols: list[str] | None = None,
    renames: dict[str, str] | None = None,
) -> None:
    """ADD COLUMN on a manifest-backed table: commit a new epoch whose
    pinned schema carries the added nullable fields (DDL, e.g.
    ``"note string, score double"``).  NO data file is touched — old
    files read back NULL for the added columns under the pinned
    schema (Delta/Iceberg's metadata-only ALTER TABLE ADD COLUMN on
    the epoch substrate).  New appends/upserts carry the columns;
    rewrites of old files materialize the NULLs (backfill-on-write).
    Added columns cannot join the stats/bloom set here — rebuild the
    manifest to prune on them.

    Evolution is ADD-only BY CONTRACT.  ``drop_cols`` / ``renames``
    exist solely to refuse LOUDLY: parquet binds columns by NAME, so
    a metadata rename needs Iceberg-style field ids (out of scope for
    a name-mapped manifest) — a name-level rename would read the old
    data back as NULL, which is silent data loss, not evolution; a
    drop would orphan recorded stats/blooms and un-pin columns that
    readers project.  The supported path for either is an explicit
    rewrite: ``select``-reshape into a new dir plus
    :func:`write_stats_manifest` there, never in place."""
    if drop_cols:
        raise NotImplementedError(
            f"DROP COLUMN ({sorted(drop_cols)}) is not supported on a "
            "manifest-backed table: parquet footers, recorded stats "
            "and blooms all bind by name — rewrite into a new dir "
            "with the column projected away instead"
        )
    if renames:
        raise NotImplementedError(
            f"RENAME COLUMN ({dict(renames)}) is not supported: "
            "parquet binds by NAME (no Iceberg field ids here), so a "
            "metadata rename would read existing data back as NULL — "
            "rewrite into a new dir with the column aliased instead"
        )
    if not added_ddl:
        raise ValueError("added_ddl is empty — nothing to evolve")
    epoch, meta = _load_meta(path)
    new_fields = StructType.fromDDL(added_ddl).fields
    pinned = StructType.fromJson(meta["schema"])
    existing = set(pinned.fieldNames())
    dupes = [f.name for f in new_fields if f.name in existing]
    if dupes:
        raise ValueError(
            f"columns {dupes} already exist in {path} — evolution is "
            "ADD COLUMN only (no retype/replace)"
        )
    new_schema = StructType(list(pinned.fields) + list(new_fields))
    root = _manifest_root(path)
    new_epoch = _claim_epoch(root, epoch + 1)
    edir = _epoch_dir(root, new_epoch)
    os.makedirs(edir, exist_ok=True)
    new_meta = dict(
        meta,
        epoch=new_epoch,
        schema=new_schema.jsonValue(),
        parent_epoch=epoch,
    )
    try:
        _commit_epoch(root, new_epoch, new_meta)
    except ManifestCommitConflict:
        shutil.rmtree(edir, ignore_errors=True)
        raise


def refresh_stats_manifest(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
) -> tuple[int, int]:
    """Retrying wrapper around :func:`_refresh_once`: a refresh whose
    commit loses the lineage race (another writer committed between
    its meta load and its commit — :class:`ManifestCommitConflict`)
    recomputes from the NEW head and tries again, so BOTH writers'
    segments survive; single-writer is an enforced invariant, not an
    assumption.  Bounded retries: persistent conflicts (a refresh loop
    tighter than this one) surface loudly instead of livelocking."""
    attempts = 5
    for i in range(attempts):
        try:
            return _refresh_once(spark, path, cols, bloom_cols, bloom_bits)
        except ManifestCommitConflict:
            if i == attempts - 1:
                raise RuntimeError(
                    f"manifest refresh under {path} lost the commit "
                    f"race {attempts} times in a row — another writer "
                    "is refreshing faster than this one can catch up; "
                    "serialize the writers"
                ) from None
    raise AssertionError("unreachable")


def _refresh_once(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
) -> tuple[int, int]:
    """INCREMENTAL manifest refresh, O(batch) in BOTH compute and
    write: the new files' stats/blooms land in a fresh SEGMENT (one
    small parquet), removals become meta tombstones, and everything
    already recorded is never re-read or re-written.  Readers union
    the live segments minus tombstones; once ``_MAX_SEGMENTS`` or
    ``_MAX_TOMBSTONES`` trips, the refresh FOLDS all live rows into a
    single segment (the Delta checkpoint analog), amortizing the full
    rewrite over many cheap appends — the difference between a
    manifest you refresh every micro-batch and one you can only afford
    nightly at 100 TB.  Returns (files_added, files_removed).  Falls
    back to a full :func:`write_stats_manifest` (with the given bloom
    config) when no manifest exists yet.

    The new epoch becomes visible only at its meta commit, and the
    previous epoch survives until the NEXT commit — a concurrent
    ``pruned_scan`` never observes a missing or partial manifest.

    The stats columns must match the existing manifest's (they're its
    schema); a mismatch raises rather than silently producing rows
    other readers can't prune on."""
    try:
        epoch, meta = _load_meta(path)
    except FileNotFoundError:
        n = write_stats_manifest(
            spark, path, cols,
            bloom_cols=bloom_cols,
            **({"bloom_bits": bloom_bits} if bloom_bits else {}),
        )
        return n, 0
    if list(cols) != meta["cols"]:
        raise ValueError(
            f"stats manifest at {path} covers columns {meta['cols']}; "
            f"refresh asked for {list(cols)}. Rebuild with "
            "write_stats_manifest to change the stats column set."
        )
    if bloom_cols is not None and list(bloom_cols) != meta["bloom_cols"]:
        # silently refreshing without the requested blooms would let a
        # takedown path degrade to prune-nothing min/max planning
        raise ValueError(
            f"stats manifest at {path} has blooms on "
            f"{meta['bloom_cols']}; refresh asked for "
            f"{list(bloom_cols)}. Rebuild with write_stats_manifest "
            "to change the bloom column set."
        )
    pinned = StructType.fromJson(meta["schema"])
    full = _full_read(spark, path, pinned)
    _check_schema(spark, path, pinned, full)
    current = {_norm(f) for f in full.inputFiles()}
    root = _manifest_root(path)
    old = _manifest_df(spark, path, meta)
    # driver sees FILE NAMES only: manifest rows carry bloom bitmaps
    # (100s of KB each), so collecting whole rows — as a naive
    # keep-list rebuild would — moves GBs through the driver on a
    # large table; the kept rows stay DataFrame-side instead
    recorded = {
        _norm(r["file"]) for r in old.select("file").collect()
    }
    new_files = sorted(current - recorded)
    removed = recorded - current
    if not new_files and not removed:
        return 0, 0
    fresh = None
    if new_files:
        fresh_reader = (
            spark.read.schema(StructType.fromJson(meta["schema"]))
            .option("basePath", path)
            .parquet(*new_files)
        )
        fresh = _build_manifest_df(
            spark, path, fresh_reader, meta["cols"], meta["bloom_cols"],
            meta["bloom_bits"], meta["bloom_hashes"],
        ).select(*old.columns)
    segments = meta["segments"]
    tombstones = list(meta["tombstones"]) + sorted(removed)
    # a file REAPPEARING under a tombstoned name (backup restore,
    # deterministic part names) must force a fold: merely dropping the
    # tombstone would resurrect hidden duplicate rows from earlier
    # segments, and duplicate manifest rows break the all-k-probes
    # bloom count (nhit == 2k != k) — the takedown false-negative
    # class.  The fold rebuilds from the tombstone-FILTERED old rows
    # plus the fresh row: exactly one live row per file again.
    resurrected = set(new_files) & set(tombstones)
    compact = (
        bool(resurrected)
        # only count the new segment when one will actually be written
        # (a removal-only refresh is a meta-only tombstone epoch)
        or len(segments) + (1 if fresh is not None else 0) > _MAX_SEGMENTS
        or len(tombstones) > _MAX_TOMBSTONES
    )
    new_epoch = _claim_epoch(root, epoch + 1)
    edir = _epoch_dir(root, new_epoch)
    if compact:
        # fold: one fresh segment carrying every live row — the same
        # write a full rebuild pays, amortized over _MAX_SEGMENTS
        # O(batch) appends (the Delta checkpoint analog)
        keep_df = old
        if removed:
            from ..literals import local_frame

            gone = local_frame(
                spark, [(f,) for f in sorted(removed)],
                "gone_file string",
            )
            keep_df = old.join(
                F.broadcast(gone),
                _norm_col(old["file"]) == gone["gone_file"],
                "left_anti",
            )
        out = keep_df if fresh is None else keep_df.unionByName(fresh)
        # the fold writes EVERY live row — bound the write parallelism
        # by the known output size (|current files|), never one task
        _bounded_write(out, len(current), edir)
        segments, tombstones = [new_epoch], []
    elif fresh is not None:
        # O(batch) write: ONLY the new files' rows land in the new
        # segment; removals ride the meta as tombstones
        _bounded_write(fresh, len(new_files), edir)
        segments = segments + [new_epoch]
    else:
        # pure removal: tombstones-only epoch (meta, no data segment)
        os.makedirs(edir, exist_ok=True)
    meta = dict(
        meta,
        epoch=new_epoch,
        file_count=len(current),
        segments=segments,
        tombstones=tombstones,
        # lineage stamp: this meta is only valid committed ON TOP OF
        # the epoch it was computed from — _commit_epoch enforces it
        parent_epoch=epoch,
    )
    try:
        _commit_epoch(root, new_epoch, meta)
    except ManifestCommitConflict:
        # the claimed dir never committed: drop its segment so it
        # can't linger as un-vacuumable garbage (the claim marker
        # stays — numbers are never reused, same as a crashed writer)
        shutil.rmtree(edir, ignore_errors=True)
        raise
    return len(new_files), len(removed)


class StaleManifestError(ValueError):
    """The manifest's recorded files differ from the data dir's
    listing.  A planner that lists the table while a writer sits
    between its file swap and its manifest refresh sees this too —
    the mutation protocol treats it as a conflict outside the gate."""


def _check_fresh(man: DataFrame, full: DataFrame, path: str) -> None:
    """Refuse a manifest whose recorded files differ from the data
    dir's listing (``full``, a :func:`_full_read`)."""
    current = {_norm(f) for f in full.inputFiles()}
    manifest_files = {
        _norm(r["file"]) for r in man.select("file").collect()
    }
    if manifest_files != current:
        missing = sorted(current - manifest_files)[:3]
        extra = sorted(manifest_files - current)[:3]
        raise StaleManifestError(
            f"stats manifest for {path} is stale: "
            f"{len(current - manifest_files)} data files have no stats "
            f"(e.g. {missing}), {len(manifest_files - current)} stats "
            f"rows point at absent files (e.g. {extra}). Re-run "
            "write_stats_manifest after appends/compactions — pruning "
            "against stale stats would silently drop rows."
        )


def _validate_bounds(bounds: dict[str, tuple]) -> None:
    for c, (lo, hi) in bounds.items():
        if lo is None and hi is None:
            raise ValueError(
                f"bound for {c!r} is (None, None): an unbounded bound "
                "prunes nothing but would drop all-NULL-stats files — "
                "omit the column instead"
            )


def _test_bit(bm, pos0: int):
    """Native bit test on a bitmap binary: 0-based position ``pos0``
    within the bucket lives at byte ``pos0 >> 3``, bit ``pos0 & 7``
    (LSB-first) — layout pinned by tests/test_stats_manifest.py."""
    byte = F.conv(F.hex(F.substring(bm, pos0 // 8 + 1, 1)), 16, 10)
    return F.bit_get(byte.cast("long"), F.lit(pos0 % 8)) == 1


def _point_positions(
    spark: SparkSession, value, dtype, bits: int, hashes: int
) -> list[int]:
    """The k 1-based bloom positions of a probe value, computed by the
    SAME engine expressions that built the blooms (one 1-row local
    job; xxhash64 is type-sensitive, so the literal is cast to the
    column's type)."""
    return _points_positions(spark, [value], dtype, bits, hashes)[0]


def _points_positions(
    spark: SparkSession, values: list, dtype, bits: int, hashes: int
) -> list[list[int]]:
    """Per-value bloom positions for MANY probe values in ONE local
    job (per-value jobs would cost ~100 ms each on a takedown list)."""
    from ..literals import local_frame

    df = local_frame(
        spark, [(v,) for v in values], f"v {dtype.simpleString()}"
    )
    rows = df.select(
        *[
            p.alias(f"p{i}")
            for i, p in enumerate(
                _bloom_positions(F.col("v"), None, bits, hashes)
            )
        ]
    ).collect()
    return [[int(v) for v in r] for r in rows]


def files_for_values(
    spark: SparkSession, path: str, col: str, values: list
) -> list[str]:
    """The files that MAY contain any of ``values`` in ``col`` —
    min/max and bloom pruning OR-ed across the value list, one
    manifest pass (the takedown/delete planning primitive).  Raises if
    the manifest can't prune on ``col``; mutable dirs get the
    freshness check (a stale manifest would MISS files and leave rows
    behind — a compliance bug, not a perf bug)."""
    # dedup, order-preserving: a duplicated value would double its
    # probe rows and break the all-k-probes-hit count (nhit == k),
    # silently MISSING the file — a false negative, the one failure
    # mode this planner must never have
    values = list(dict.fromkeys(values))
    if not values:
        return []
    return _files_for_values_any(spark, path, col, values)


def files_for_values_df(
    spark: SparkSession, path: str, col: str, vals_df: DataFrame
) -> list[str]:
    """:func:`files_for_values` with the probe values as a DataFRAME
    column instead of a driver list — the no-collect planning shape
    for DataFrame-sized changesets (distributed MERGE): the value
    table stays executor-side through the bloom-bucket join; only
    FILE NAMES ever reach the driver.  ``vals_df``'s first column is
    the probe; it is deduplicated and cast to the manifest column's
    type engine-side (the all-k-probes bloom count needs distinct
    probe rows, same as the list form)."""
    return _files_for_values_any(spark, path, col, vals_df)


def _files_for_values_any(
    spark: SparkSession, path: str, col: str, values
) -> list[str]:
    _, meta = _load_meta(path)
    man = _manifest_df(spark, path, meta)
    full = _full_read(spark, path, StructType.fromJson(meta["schema"]))
    _check_fresh(man, full, path)
    cand = _candidate_files_df(spark, man, meta, col, values)
    return [
        r["file"] for r in cand.select("file").distinct().collect()
    ]


def _candidate_files_df(
    spark: SparkSession,
    man: DataFrame,
    meta: dict,
    col: str,
    values: list,
) -> DataFrame:
    """Manifest rows ('file' column, distinct) that MAY contain any of
    ``values`` in ``col`` — the join-shaped core shared by
    :func:`files_for_values` (takedown planning) and IN-list
    ``pruned_scan`` points."""
    has_stats = col in meta["cols"]
    has_bloom = col in meta["bloom_cols"]
    if not has_stats and not has_bloom:
        raise ValueError(
            f"column {col!r} has neither min/max stats nor a bloom in "
            f"the manifest — rebuild it with the column to plan "
            "value-list probes"
        )
    schema = StructType.fromJson(meta["schema"])
    # JOIN-shaped planning, never an OR-of-ANDs expression tree: a
    # 10k-id takedown list as one Catalyst predicate (k bloom byte
    # tests per value) blows past janino's method limit and falls back
    # interpreted at best.  As joins, the value list is a broadcast
    # probe table and every test is one codegen'd operator evaluated
    # per (manifest row x probe), scaling in DATA not in PLAN SIZE.
    # A DataFrame value set (distributed MERGE planning) is used
    # as-is — deduplicated and cast engine-side, never collected.
    from ..literals import local_frame

    if isinstance(values, DataFrame):
        vals_df = values.select(
            F.col(values.columns[0])
            .cast(schema[col].dataType)
            .alias("v")
        ).distinct()
    else:
        vals_df = local_frame(
            spark, [(v,) for v in values],
            f"v {schema[col].dataType.simpleString()}",
        )
    if has_bloom:
        k = meta["bloom_hashes"]
        pos_df = (
            vals_df.select(
                "v",
                F.explode(
                    F.array(
                        *_bloom_positions(
                            F.col("v"), None, meta["bloom_bits"], k
                        )
                    )
                ).alias("pos"),
            )
            .select(
                "v",
                F.bitmap_bucket_number("pos").alias("bucket"),
                ((F.col("pos") - 1) % _BUCKET_BITS).alias("inner"),
            )
        )
        manx = man.select(
            "file", F.explode(F.col(f"bloom_{col}"))
        ).toDF("file", "bucket", "bm")
        byte = F.conv(
            F.hex(
                F.expr("substring(bm, CAST(inner DIV 8 AS INT) + 1, 1)")
            ),
            16,
            10,
        ).cast("long")
        hits = (
            manx.join(F.broadcast(pos_df), "bucket")
            .filter(F.bit_get(byte, (F.col("inner") % 8).cast("int")) == 1)
            .groupBy("file", "v")
            .agg(F.count(F.lit(1)).alias("nhit"))
            .filter(F.col("nhit") == k)  # all k probes set
        )
        cand = hits.select("file", "v")
    else:
        # stats-only: broadcast nested-loop over the manifest — cost
        # |files| x |values| comparisons in codegen, inherent to
        # min/max point pruning (record a bloom to do better)
        cand = man.select(
            "file", f"min_{col}", f"max_{col}"
        ).crossJoin(F.broadcast(vals_df)).select("file", "v")
    if has_stats:
        stats = man.select("file", f"min_{col}", f"max_{col}")
        cand = (
            cand.join(stats, "file")
            .filter(
                F.col(f"min_{col}").isNotNull()
                & (F.col(f"max_{col}") >= F.col("v"))
                & (F.col(f"min_{col}") <= F.col("v"))
            )
            .select("file", "v")
        )
    return cand.select("file").distinct()


# ---------------------------------------------------------------------------
# Deletion vectors: per-file tombstone ROWS riding the epoch protocol
# ---------------------------------------------------------------------------


def _dv_dir(root: str, epoch: int, col: str) -> str:
    return os.path.join(_epoch_dir(root, epoch), f"dv_{col}")


def append_deletion_vectors(
    spark: SparkSession, path: str, col: str, pairs: DataFrame
) -> tuple[int, int]:
    """Record tombstone rows — (file, v) pairs meaning "rows of
    ``file`` whose ``col`` equals ``v`` are deleted" — in a NEW
    manifest epoch, without touching any data file (the Delta/Iceberg
    deletion-vector idea re-expressed on the epoch protocol: a 1-row
    takedown in a 1 GB file writes KBs, not the gigabyte).

    The sidecar parquet lands in the new epoch's dir; the committed
    meta's ``dv[col]`` lists the sidecar-bearing epochs and the
    running entry count.  Readers that go through the manifest
    (``pruned_scan``, ``read_table``) anti-join the pairs; vacuum
    keeps sidecar epochs as long as a retained meta cites them.
    Entries are scoped PER FILE so a later legitimate re-ingest of
    the same value in a NEW file is not silently swallowed.

    Returns (total DV entry count across all columns after the
    append, the new epoch number carrying the sidecar) — the caller
    compacts via ``maintenance.apply_deletion_vectors`` once the
    count passes ``_MAX_DV_ENTRIES`` (write amplification is only
    deferred, never unbounded), and records the epoch in its per-seq
    file manifest so snapshot-served as-of reads know WHEN the
    segment's tombstones became visible.  Commit-lineage applies: a
    concurrent writer surfaces as :class:`ManifestCommitConflict`;
    re-run the delete (it is idempotent — already-tombstoned rows are
    invisible to the classification scan)."""
    epoch, meta = _load_meta(path)
    root = _manifest_root(path)
    new_epoch = _claim_epoch(root, epoch + 1)
    edir = _epoch_dir(root, new_epoch)
    ddir = _dv_dir(root, new_epoch, col)
    pairs.select(
        _norm_col(F.col("file")).alias("file"), F.col("v")
    ).coalesce(1).write.mode("overwrite").parquet(ddir)
    n_new = spark.read.parquet(ddir).count()
    dv = dict(meta.get("dv") or {})
    info = dict(dv.get(col) or {"segments": [], "count": 0})
    dv[col] = {
        "segments": list(info["segments"]) + [new_epoch],
        "count": int(info["count"]) + int(n_new),
    }
    new_meta = dict(meta, epoch=new_epoch, dv=dv, parent_epoch=epoch)
    try:
        _commit_epoch(root, new_epoch, new_meta)
    except ManifestCommitConflict:
        shutil.rmtree(edir, ignore_errors=True)
        raise
    return sum(int(i["count"]) for i in dv.values()), new_epoch


def clear_deletion_vectors(
    spark: SparkSession, path: str, segments_by_col: dict[str, list[int]]
) -> None:
    """Commit an epoch whose meta drops ONLY the given sidecar
    segments per column — the snapshot a compaction actually
    processed (``maintenance.apply_deletion_vectors``).  Entries
    appended by a CONCURRENT dv delete after that snapshot keep their
    segments, so compaction can never silently clear tombstones whose
    rows were not rewritten.  Columns left with no segments drop out
    of ``meta['dv']``; surviving counts are recomputed from the
    remaining sidecars (bounded by ``_MAX_DV_ENTRIES``).  The cleared
    dirs age out of the vacuum keep-set once no retained meta cites
    them."""
    epoch, meta = _load_meta(path)
    root = _manifest_root(path)
    dv: dict = {}
    for c, info in (meta.get("dv") or {}).items():
        drop = set(segments_by_col.get(c, []))
        remaining = [
            s for s in info["segments"] if s not in drop
        ]
        if remaining:
            n = spark.read.parquet(
                *[_dv_dir(root, e, c) for e in remaining]
            ).count()
            dv[c] = {"segments": remaining, "count": int(n)}
    new_epoch = _claim_epoch(root, epoch + 1)
    edir = _epoch_dir(root, new_epoch)
    os.makedirs(edir, exist_ok=True)
    new_meta = dict(meta, epoch=new_epoch, dv=dv, parent_epoch=epoch)
    try:
        _commit_epoch(root, new_epoch, new_meta)
    except ManifestCommitConflict:
        shutil.rmtree(edir, ignore_errors=True)
        raise


def clear_deletion_vector_files(
    spark: SparkSession, path: str, files: set[str] | list[str]
) -> int:
    """Drop every DV entry citing one of ``files`` — called by each
    mutation that rewrites or removes a data file through the DV-aware
    reader (``maintenance.targeted_delete`` / ``targeted_upsert`` /
    ``compact_table`` and the crash reconcile).  The rewrite physically
    applied the tombstones (live rows only were copied), so entries
    citing the vanished name are DEAD; leaving them behind would let a
    later ``apply_deletion_vectors`` mis-read them as orphans and purge
    the value table-wide — silently destroying rows legitimately
    re-inserted with the same value after the tombstone (the round-8
    ADVICE data-loss finding).  PER-SEGMENT surgery (round-10): a
    segment with no dead entries keeps its epoch untouched — vital
    because the per-seq dv->epoch mapping snapshot as-of reads rely
    on survives, and only segments that actually held dead entries
    AND surviving ones get consolidated (that remap is what forces
    the hard physical break).  Columns left empty drop out of
    ``meta['dv']``.  One epoch commit for all columns; returns the
    number of entries dropped (0 = no epoch written)."""
    gone = {_as_uri(str(f)) for f in files}
    epoch, meta = _load_meta(path)
    dv = dict(meta.get("dv") or {})
    if not gone or not dv:
        return 0
    from ..literals import local_frame

    root = _manifest_root(path)
    gone_df = local_frame(
        spark, [(g,) for g in sorted(gone)], "gf string"
    )
    new_epoch: int | None = None
    dropped = 0
    remapped = False
    new_dv: dict = {}
    for c, info in dv.items():
        segs = list(info["segments"])
        # one pass over all segments with the epoch recovered from the
        # path: per-epoch (total, dead) counts decide each segment's
        # fate without touching clean ones
        pairs = spark.read.parquet(
            *[_dv_dir(root, e, c) for e in segs]
        ).select(
            _norm_col(F.col("file")).alias("file"),
            F.col("v"),
            F.regexp_extract(
                F.input_file_name(), r"/m(\d{7})/dv_", 1
            ).cast("int").alias("__e"),
        )
        stats = {
            int(r["__e"]): (int(r["n"]), int(r["hit"]))
            for r in pairs.join(
                F.broadcast(gone_df),
                F.col("file") == F.col("gf"),
                "left",
            )
            .groupBy("__e")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.col("gf")).alias("hit"),
            )
            .collect()
        }
        kept_segs, kept_count, hit_segs = [], 0, []
        for e in segs:
            n, hit = stats.get(int(e), (0, 0))
            if hit == 0 and n > 0:
                kept_segs.append(e)  # epoch untouched, mapping intact
                kept_count += n
            elif hit:
                dropped += hit
                if n > hit:
                    hit_segs.append(e)  # has survivors -> remap
        if hit_segs:
            survivors = (
                pairs.filter(
                    F.col("__e").isin([int(e) for e in hit_segs])
                )
                .join(
                    F.broadcast(gone_df),
                    F.col("file") == F.col("gf"),
                    "left_anti",
                )
                .select("file", "v")
            )
            if new_epoch is None:
                new_epoch = _claim_epoch(root, epoch + 1)
            survivors.coalesce(1).write.mode("overwrite").parquet(
                _dv_dir(root, new_epoch, c)
            )
            n_sur = spark.read.parquet(
                _dv_dir(root, new_epoch, c)
            ).count()
            kept_segs.append(new_epoch)
            kept_count += n_sur
            remapped = True
        if kept_segs:
            new_dv[c] = {
                "segments": kept_segs, "count": int(kept_count),
            }
    if not dropped:
        return 0
    if new_epoch is None:
        new_epoch = _claim_epoch(root, epoch + 1)
    edir = _epoch_dir(root, new_epoch)
    os.makedirs(edir, exist_ok=True)
    new_meta = dict(meta, epoch=new_epoch, dv=new_dv, parent_epoch=epoch)
    try:
        _commit_epoch(root, new_epoch, new_meta)
    except ManifestCommitConflict:
        shutil.rmtree(edir, ignore_errors=True)
        raise
    # a hard physical break ONLY when surviving entries were
    # CONSOLIDATED to a new segment epoch: that remap mixes entries
    # from different feed seqs into one epoch, so per-seq dv exclusion
    # can no longer partially exclude it — earlier seqs must fall back
    # to multiset arithmetic.  Pure drops of DEAD entries (everything
    # cited a vanished file) leave the surviving epoch->seq mapping
    # intact and must NOT break the horizon — the compaction lineage
    # path (round-10) relies on exactly this case to keep snapshot
    # as-of alive across an OPTIMIZE of dv-deleted files
    if remapped:
        from .change_feed import record_physical_break

        record_physical_break(path)
    return dropped


def deletion_vector_pairs(
    spark: SparkSession,
    path: str,
    meta: dict,
    col: str,
    exclude_epochs: set[int] | None = None,
) -> DataFrame | None:
    """The live (file, v) tombstone pairs for ``col``, or None.
    ``exclude_epochs`` drops sidecar segments appended after a target
    change-feed seq — the snapshot-served as-of read's dv state."""
    info = (meta.get("dv") or {}).get(col)
    if not info or not info["segments"]:
        return None
    segs = [
        e
        for e in info["segments"]
        if not exclude_epochs or e not in exclude_epochs
    ]
    if not segs:
        return None
    root = _manifest_root(path)
    return spark.read.parquet(
        *[_dv_dir(root, e, col) for e in segs]
    )


def apply_deletion_vectors_df(
    spark: SparkSession,
    path: str,
    meta: dict,
    df: DataFrame,
    file_col: str | None = None,
    exclude_segments: dict[str, set[int]] | None = None,
) -> DataFrame:
    """Filter ``df`` (a scan of ``path``'s files) through every DV
    column's tombstone pairs: one broadcast LEFT ANTI join per DV
    column on (input file, column value).  DV counts are bounded by
    ``_MAX_DV_ENTRIES`` before compaction, so the broadcast is always
    small; rows with a NULL value in the column never match (null-
    safe-free join condition) — tombstones are non-null by
    construction.  ``file_col`` names an already-materialized
    normalized-file column; by default the scan's
    ``input_file_name()`` is used."""
    dv_cols = list(meta.get("dv") or {})
    if not dv_cols:
        return df
    # input_file_name() is non-deterministic and rejected inside join
    # conditions: materialize it as a projection first (dropped after)
    fc = file_col
    added = False
    if fc is None:
        fc = "__dv_probe_file"
        df = df.withColumn(fc, _norm_col(F.input_file_name()))
        added = True
    for c in dv_cols:
        pairs = deletion_vector_pairs(
            spark, path, meta, c,
            exclude_epochs=(exclude_segments or {}).get(c),
        )
        if pairs is None:
            continue
        pairs = pairs.select(
            F.col("file").alias("__dv_file"), F.col("v").alias("__dv_v")
        )
        df = df.join(
            F.broadcast(pairs),
            (F.col(fc) == F.col("__dv_file"))
            & (F.col(c) == F.col("__dv_v")),
            "left_anti",
        )
    return df.drop(fc) if added else df


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Manifest-aware FULL scan: pinned schema, freshness check, and
    deletion-vector application — the reader every
    query should use once a table may carry DVs (a bare
    ``spark.read.parquet`` cannot see tombstones; that is the
    documented trade of deferring the rewrite)."""
    _, meta = _load_meta(path)
    schema = StructType.fromJson(meta["schema"])
    full = _full_read(spark, path, schema)
    _check_schema(spark, path, schema, full)
    _check_fresh(_manifest_df(spark, path, meta), full, path)
    from pyspark.errors import AnalysisException

    try:
        df = (
            spark.read.schema(schema).option("basePath", path)
            .parquet(path)
        )
    except AnalysisException:
        # zero data files (fully deleted/compacted) — schema pinned
        df = spark.createDataFrame([], schema)
    return apply_deletion_vectors_df(spark, path, meta, df)


def _prune_condition(
    spark: SparkSession,
    meta: dict,
    bounds: dict[str, tuple],
    points: dict,
) -> "F.Column":
    """Manifest-row predicate: True = the file may contain matches."""
    schema = StructType.fromJson(meta["schema"])
    cond = F.lit(True)
    for c, (lo, hi) in bounds.items():
        if c not in meta["cols"]:
            # without this, the missing min_<c> surfaces as an
            # unresolved-column AnalysisException deep in Spark
            # instead of the friendly rebuild-the-manifest error the
            # point path already gives
            raise ValueError(
                f"bound column {c!r} has no min/max stats in the "
                f"manifest (stats: {meta['cols']}) — rebuild the "
                "manifest with it to prune on this column"
            )
        cond = cond & F.col(f"min_{c}").isNotNull()
        if lo is not None:
            cond = cond & (F.col(f"max_{c}") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"min_{c}") <= F.lit(hi))
    for c, v in points.items():
        has_stats = c in meta["cols"]
        has_bloom = c in meta["bloom_cols"]
        if not has_stats and not has_bloom:
            raise ValueError(
                f"point column {c!r} has neither min/max stats nor a "
                f"bloom in the manifest (stats: {meta['cols']}, blooms: "
                f"{meta['bloom_cols']}) — rebuild the manifest with it"
            )
        if has_stats:
            cond = (
                cond
                & F.col(f"min_{c}").isNotNull()
                & (F.col(f"max_{c}") >= F.lit(v))
                & (F.col(f"min_{c}") <= F.lit(v))
            )
        if has_bloom:
            positions = _point_positions(
                spark, v, schema[c].dataType,
                meta["bloom_bits"], meta["bloom_hashes"],
            )
            for p in positions:
                bucket = (p - 1) // _BUCKET_BITS + 1
                inner = (p - 1) % _BUCKET_BITS
                bm = F.element_at(F.col(f"bloom_{c}"), F.lit(bucket))
                cond = cond & bm.isNotNull() & _test_bit(bm, inner)
    return cond


def _validate_points(points: dict, bounds: dict) -> None:
    for c, v in points.items():
        if v is None:
            raise ValueError(
                f"point for {c!r} is NULL — equality never matches "
                "NULL; drop the probe instead"
            )
        if isinstance(v, (list, tuple, set)) and any(
            x is None for x in v
        ):
            raise ValueError(
                f"IN-list for {c!r} contains NULL — equality never "
                "matches NULL; drop it from the list"
            )
        if c in bounds:
            raise ValueError(
                f"{c!r} appears in both bounds and points — use one"
            )


def _split_points(points: dict) -> tuple[dict, dict]:
    """(scalar equality points, deduped IN-list points)."""
    scalar = {
        c: v
        for c, v in points.items()
        if not isinstance(v, (list, tuple, set))
    }
    lists = {
        c: list(dict.fromkeys(v))
        for c, v in points.items()
        if isinstance(v, (list, tuple, set))
    }
    return scalar, lists


def _planned_files(
    spark: SparkSession,
    man: DataFrame,
    meta: dict,
    bounds: dict,
    points: dict,
) -> DataFrame:
    """Manifest 'file' rows surviving ALL probes: scalar bounds/points
    via the expression condition, IN-list points via the join-shaped
    planner (one semi-join per list column — constant plan size in
    list length, the takedown-planning shape)."""
    scalar_pts, list_pts = _split_points(points)
    cand = man.filter(
        _prune_condition(spark, meta, bounds, scalar_pts)
    ).select("file")
    for c, vals in list_pts.items():
        if not vals:  # IN () matches nothing — exact, not an error
            return cand.limit(0)
        cand = cand.join(
            _candidate_files_df(spark, man, meta, c, vals), "file"
        )
    return cand


def pruned_scan(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple] | None = None,
    points: dict | None = None,
) -> DataFrame:
    """Scan ``path`` reading ONLY files the manifest can't rule out —
    then apply the same predicates as row filters, so the result
    equals the full scan + filter exactly.

    ``bounds`` maps column -> (lo, hi) inclusive; either end may be
    None (half-open), but not both — an unbounded bound adds no row
    predicate yet would still skip all-NULL-stats files, silently
    dropping their rows.  Files with NULL stats for a bounded column
    are skipped (all-NULL column: no row can match a range predicate).
    ``points`` maps column -> non-null value (equality) OR a list of
    values (IN-list — the reference's ``WHERE id IN (...)`` retry-scan
    shape, /root/reference/src/2_parse_engine.py:358-368); pruned via
    min/max when the column has stats and via its per-file bloom when
    it has one (false positives read extra files; never false
    negatives — membership uses the engine's own hash expressions).
    IN-lists plan through the same join-shaped planner as
    ``files_for_values``, so a 10k-id list keeps a constant plan size
    instead of an OR-of-ANDs tree that breaks codegen.

    Freshness: the data-dir listing is verified against the manifest
    and drift fails loudly.
    """
    bounds = dict(bounds or {})
    points = dict(points or {})
    if not bounds and not points:
        raise ValueError("pruned_scan needs bounds and/or points")
    _validate_bounds(bounds)
    _validate_points(points, bounds)
    _, meta = _load_meta(path)
    man = _manifest_df(spark, path, meta)
    schema = StructType.fromJson(meta["schema"])
    full = _full_read(spark, path, schema)
    _check_schema(spark, path, schema, full)
    _check_fresh(man, full, path)
    files = [
        r["file"]
        for r in _planned_files(spark, man, meta, bounds, points)
        .collect()
    ]
    if files:
        # pin the schema so an empty/partial file subset cannot
        # re-infer a narrower one; basePath keeps hive-partition
        # columns populated on leaf-file reads
        df = (
            spark.read.schema(schema)
            .option("basePath", path)
            .parquet(*files)
        )
        # tombstoned rows (deletion vectors) are invisible to every
        # manifest-aware reader, pruned or full
        df = apply_deletion_vectors_df(spark, path, meta, df)
    else:
        df = spark.createDataFrame([], schema)
    for c, (lo, hi) in bounds.items():
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    for c, v in points.items():
        if isinstance(v, (list, tuple, set)):
            vals = list(v)
            # InSet row filter (hash-set membership, not an In tree)
            df = df.filter(
                F.col(c).isin(vals) if vals else F.lit(False)
            )
        else:
            df = df.filter(F.col(c) == F.lit(v))
    return df


def manifest_file_count(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple] | None = None,
    points: dict | None = None,
) -> int:
    """How many files a probe would read (no bounds/points = all files
    with stats) — the planning-time metric the pruning tests assert
    on, without touching any data file."""
    _, meta = _load_meta(path)
    man = _manifest_df(spark, path, meta)
    if not bounds and not points:
        return man.count()
    bounds = dict(bounds or {})
    points = dict(points or {})
    _validate_bounds(bounds)
    _validate_points(points, bounds)
    return _planned_files(spark, man, meta, bounds, points).count()
