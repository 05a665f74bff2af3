"""At-rest incremental MinHash dedup: the probe must agree exactly
with the batch self-join restricted to (new x corpus), and the
bucketed index side must join WITHOUT an Exchange."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.operators.dedup import minhash_lsh_pairs
from osrs_dashboard_elt_spark.operators.dedup_index import (
    probe_minhash_index,
    write_minhash_index,
)

SF_DIR = "/root/testdata/sf0.001"
PARAMS = dict(num_perm=16, bands=4, seed=42, shingle_n=3)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def split(docs):
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    return corpus, new


@pytest.fixture()
def index(spark, split, tmp_path):
    corpus, _ = split
    write_minhash_index(
        corpus, "mh_idx", "doc_id", "text",
        n_buckets=8, path=str(tmp_path / "idx"), **PARAMS,
    )
    yield "mh_idx"
    spark.sql("DROP TABLE IF EXISTS mh_idx")


def _cross_pairs(docs, new_ids):
    """Batch self-join over the FULL corpus, restricted to pairs with
    exactly one side in the new batch — the ground truth the
    incremental probe must reproduce."""
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", **PARAMS).collect()
    out = set()
    for r in pairs:
        a_new, b_new = r.id_a in new_ids, r.id_b in new_ids
        if a_new != b_new:
            out.add((r.id_a, r.id_b) if a_new else (r.id_b, r.id_a))
    return out


def test_probe_matches_batch_self_join(spark, docs, split, index):
    corpus, new = split
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    expected = _cross_pairs(docs, new_ids)
    got = {
        (r.new_id, r.corpus_id)
        for r in probe_minhash_index(
            spark, new, index, "doc_id", "text", **PARAMS
        ).collect()
    }
    assert got == expected
    assert got, "fixture produced zero near-dup candidates — weak test"


def test_probe_verified_jaccard_matches(spark, docs, split, index):
    corpus, new = split
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    batch = minhash_lsh_pairs(
        docs, "doc_id", "text", verify_threshold=0.5, **PARAMS
    ).collect()
    expected = {}
    for r in batch:
        a_new, b_new = r.id_a in new_ids, r.id_b in new_ids
        if a_new != b_new:
            key = (r.id_a, r.id_b) if a_new else (r.id_b, r.id_a)
            expected[key] = r.jaccard
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in probe_minhash_index(
            spark, new, index, "doc_id", "text",
            corpus_docs=corpus, verify_threshold=0.5, **PARAMS,
        ).collect()
    }
    assert got == expected


def test_verify_without_corpus_docs_raises(spark, split, index):
    _, new = split
    with pytest.raises(ValueError, match="corpus_docs"):
        probe_minhash_index(
            spark, new, index, "doc_id", "text",
            verify_threshold=0.5, **PARAMS,
        )


def test_index_side_joins_without_exchange(spark, split, index, tmp_path):
    """The whole point of the at-rest layout: the corpus posting table
    must reach the band-key join through its bucketed scan, with the
    shuffle paid only by the (small) probe side.  Compared against the
    identical join on a PLAIN parquet copy of the index: one fewer
    Exchange, and the scan reports Bucketed: true."""
    _, new = split
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain_path = str(tmp_path / "plain")
        spark.table(index).write.mode("overwrite").parquet(plain_path)

        def plan_of(index_df):
            from osrs_dashboard_elt_spark.operators.dedup import (
                minhash_band_posts, with_shingles,
            )
            from osrs_dashboard_elt_spark.operators.dedup_index import _band_key

            base = with_shingles(new, "doc_id", "text", PARAMS["shingle_n"])
            probe = _band_key(
                minhash_band_posts(
                    base, PARAMS["num_perm"], PARAMS["bands"], PARAMS["seed"]
                )
            ).withColumnRenamed("id", "new_id")
            j = probe.join(index_df, "band_key")
            j.write.format("noop").mode("overwrite").save()
            return j._jdf.queryExecution().executedPlan().toString()

        bucketed_plan = plan_of(spark.table(index))
        plain_plan = plan_of(spark.read.parquet(plain_path))
        assert "Bucketed: true" in bucketed_plan, bucketed_plan
        n_b = bucketed_plan.count("Exchange")
        n_p = plain_plan.count("Exchange")
        assert n_b == n_p - 1, (n_b, n_p, bucketed_plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")


def test_append_extends_index(spark, docs, split, tmp_path):
    """Ingest loop: index corpus, probe batch, append the batch's
    postings, and a LATER batch's probe sees near-dups from BOTH the
    original corpus and the appended batch."""
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch1 = docs.filter(F.col("doc_id") % 3 == 1)
    batch2 = docs.filter(F.col("doc_id") % 3 == 2)
    write_minhash_index(
        corpus, "mh_idx_app", "doc_id", "text",
        n_buckets=8, path=str(tmp_path / "app"), **PARAMS,
    )
    try:
        write_minhash_index(
            batch1, "mh_idx_app", "doc_id", "text",
            n_buckets=8, path=str(tmp_path / "app"), mode="append", **PARAMS,
        )
        got = {
            r.corpus_id
            for r in probe_minhash_index(
                spark, batch2, "mh_idx_app", "doc_id", "text", **PARAMS
            ).collect()
        }
        ids1 = {r.doc_id for r in batch1.select("doc_id").collect()}
        ids0 = {r.doc_id for r in corpus.select("doc_id").collect()}
        assert got & ids0, "no matches against the original corpus"
        assert got & ids1, "appended batch postings not probed"
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_idx_app")


EMB_PARAMS = dict(n_planes=18, seed=42, dim=64, bands=3)


def test_embedding_probe_matches_batch_self_join(spark, tmp_path):
    """The embedding index probe must reproduce the banded self-join's
    cross pairs AND their exact-cosine scores."""
    from osrs_dashboard_elt_spark.operators.dedup_index import (
        probe_embedding_index,
        write_embedding_index,
    )
    from osrs_dashboard_elt_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    new = emb.filter(F.col("vec_id") % 10 == 0)
    new_ids = {r.vec_id for r in new.select("vec_id").collect()}

    # ground truth: batch self-join over everything, threshold -1 so
    # every banded candidate survives with its score
    batch = embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=-1.0, **EMB_PARAMS
    ).collect()
    expected = {}
    for r in batch:
        a_new, b_new = r.id_a in new_ids, r.id_b in new_ids
        if a_new != b_new:
            key = (r.id_a, r.id_b) if a_new else (r.id_b, r.id_a)
            expected[key] = r.score

    write_embedding_index(
        corpus, "emb_idx", "vec_id", "embedding",
        n_buckets=8, path=str(tmp_path / "eidx"), **EMB_PARAMS,
    )
    try:
        cand = probe_embedding_index(
            spark, new, "emb_idx", "vec_id", "embedding", **EMB_PARAMS
        )
        got_cand = {(r.new_id, r.corpus_id) for r in cand.collect()}
        assert got_cand == set(expected)
        assert got_cand, "zero embedding candidates — weak fixture"

        scored = probe_embedding_index(
            spark, new, "emb_idx", "vec_id", "embedding",
            corpus_vecs=corpus, threshold=-1.0, **EMB_PARAMS,
        )
        got = {(r.new_id, r.corpus_id): r.score for r in scored.collect()}
        assert got == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS emb_idx")


def test_embedding_probe_threshold_requires_vectors(spark, tmp_path):
    from osrs_dashboard_elt_spark.operators.dedup_index import (
        probe_embedding_index,
        write_embedding_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50)
    write_embedding_index(
        emb, "emb_idx2", "vec_id", "embedding",
        n_buckets=4, path=str(tmp_path / "eidx2"), **EMB_PARAMS,
    )
    try:
        with pytest.raises(ValueError, match="corpus_vecs"):
            probe_embedding_index(
                spark, emb, "emb_idx2", "vec_id", "embedding",
                threshold=0.5, **EMB_PARAMS,
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS emb_idx2")


def test_compact_index_dedups_and_keeps_bucketing(spark, docs, tmp_path):
    """Replayed appends leave duplicate postings; compaction removes
    them, keeps the bucketed layout (probe still shuffle-free on the
    index side), and probes return identical results."""
    from osrs_dashboard_elt_spark.operators.dedup_index import (
        compact_index,
    )
    from osrs_dashboard_elt_spark.sources.bucketed import is_bucketed_on

    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    write_minhash_index(
        corpus, "mh_cmp", "doc_id", "text",
        n_buckets=8, path=str(tmp_path / "cmp"), **PARAMS,
    )
    try:
        # simulate a replayed append: same postings twice
        write_minhash_index(
            corpus, "mh_cmp", "doc_id", "text",
            n_buckets=8, path=str(tmp_path / "cmp"), mode="append", **PARAMS,
        )
        before = {
            (r.new_id, r.corpus_id)
            for r in probe_minhash_index(
                spark, new, "mh_cmp", "doc_id", "text", **PARAMS
            ).collect()
        }
        raw = spark.table("mh_cmp").count()
        # n_buckets omitted: derived from the table's own bucket spec
        n = compact_index(spark, "mh_cmp")
        assert n == raw // 2  # exact double from the replay
        assert spark.table("mh_cmp").count() == n
        assert is_bucketed_on(spark, "mh_cmp", ["band_key"], 8)
        after = {
            (r.new_id, r.corpus_id)
            for r in probe_minhash_index(
                spark, new, "mh_cmp", "doc_id", "text", **PARAMS
            ).collect()
        }
        assert after == before
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_cmp")
        spark.sql("DROP TABLE IF EXISTS mh_cmp__compact")


def test_index_entry_points_validate_band_params(spark, docs, tmp_path):
    """bands must divide num_perm at the INDEX entry points too — a
    non-dividing value silently changes recall and bands > num_perm
    degenerates the probe join into all-pairs (a round-4 review
    finding: the guard lived only in minhash_lsh_pairs)."""
    with pytest.raises(ValueError, match="evenly divide"):
        write_minhash_index(
            docs, "mh_bad", "doc_id", "text",
            num_perm=16, bands=5, path=str(tmp_path / "bad"),
        )
    with pytest.raises(ValueError, match="evenly divide"):
        probe_minhash_index(
            spark, docs, "whatever", "doc_id", "text",
            num_perm=16, bands=17,
        )


def test_compact_index_rejects_unbucketed_table(spark, tmp_path):
    """Compacting a table with no bucket spec must fail loudly when
    n_buckets isn't given — rewriting with a guessed layout would
    silently break the probe's shuffle-free contract."""
    from osrs_dashboard_elt_spark.operators.dedup_index import compact_index

    df = spark.createDataFrame(
        [(1, "k1")], "corpus_id BIGINT, band_key STRING"
    )
    df.write.mode("overwrite").option("path", str(tmp_path / "nb")).saveAsTable(
        "nb_tbl"
    )
    try:
        with pytest.raises(ValueError, match="bucket spec"):
            compact_index(spark, "nb_tbl")
    finally:
        spark.sql("DROP TABLE IF EXISTS nb_tbl")
        spark.sql("DROP TABLE IF EXISTS nb_tbl__compact")


def test_tombstoned_id_never_probes_pre_or_post_compaction(
    spark, docs, tmp_path
):
    """delete_from_index: a tombstoned corpus id disappears from probe
    output IMMEDIATELY (anti-join against the broadcast tombstone
    set), stays gone after compaction physically drops its postings,
    and clear_tombstones re-admits it (postings permitting)."""
    from osrs_dashboard_elt_spark.operators.dedup_index import (
        clear_tombstones,
        compact_index,
        delete_from_index,
    )

    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    write_minhash_index(
        corpus, "mh_tomb", "doc_id", "text",
        n_buckets=8, path=str(tmp_path / "tomb"), **PARAMS,
    )
    try:
        def probe_corpus_ids():
            return {
                r.corpus_id
                for r in probe_minhash_index(
                    spark, new, "mh_tomb", "doc_id", "text", **PARAMS
                ).collect()
            }

        before = probe_corpus_ids()
        assert before, "fixture must produce at least one candidate"
        victim = sorted(before)[0]
        assert delete_from_index(spark, "mh_tomb", [victim]) == 1

        after_delete = probe_corpus_ids()
        assert victim not in after_delete
        assert after_delete == before - {victim}

        n = compact_index(spark, "mh_tomb")
        # the victim's postings are physically gone from the rewrite
        assert (
            spark.table("mh_tomb")
            .filter(F.col("corpus_id") == victim)
            .count()
            == 0
        )
        assert n == spark.table("mh_tomb").count()
        assert probe_corpus_ids() == before - {victim}

        # selective clear (write-to-sibling + rename swap, never an
        # overwrite of the dir being read): clearing one id leaves
        # the OTHER tombstones intact
        second = sorted(before - {victim})[0]
        assert delete_from_index(spark, "mh_tomb", [second]) == 1
        assert probe_corpus_ids() == before - {victim, second}
        clear_tombstones(spark, "mh_tomb", ids=[second])
        # second's postings still exist (compaction ran before its
        # tombstone) so clearing re-admits it; victim stays blocked
        assert probe_corpus_ids() == before - {victim}

        # tombstones SURVIVE compaction (block redelivery
        # resurrection) until explicitly cleared
        clear_tombstones(spark, "mh_tomb")
        # postings were dropped physically, so the victim stays
        # absent — clearing only re-enables FUTURE postings
        assert probe_corpus_ids() == before - {victim}
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_tomb")


def test_register_index_follows_compaction_move(spark, docs, tmp_path):
    """A fresh process re-registers the index from the sidecar meta,
    which records the CURRENT (post-compaction) location — pinning the
    original path would resurrect the stale pre-compaction dir and
    orphan every later append."""
    import json

    from osrs_dashboard_elt_spark.operators.dedup_index import (
        compact_index,
        register_index,
    )
    from osrs_dashboard_elt_spark.sources.bucketed import is_bucketed_on

    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    base = str(tmp_path / "reg")
    write_minhash_index(
        corpus, "mh_reg", "doc_id", "text",
        n_buckets=8, path=base, **PARAMS,
    )
    try:
        n = compact_index(spark, "mh_reg")
        meta = json.load(open(f"{base}__meta.json"))
        assert meta["location"] != base  # compaction moved the data
        assert meta["n_buckets"] == 8

        # simulate a fresh process: drop the catalog entry, re-register
        spark.sql("DROP TABLE mh_reg")
        assert register_index(spark, base) == "mh_reg"
        assert spark.table("mh_reg").count() == n
        assert is_bucketed_on(spark, "mh_reg", ["band_key"], 8)
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_reg")


def test_compaction_swap_is_atomic_for_readers(spark, docs, tmp_path):
    """The live table name never leaves the catalog during compaction
    (single ALTER TABLE SET LOCATION repoint), and a reader holding
    the PRE-compaction DataFrame keeps scanning the old files, which
    are left in place."""
    from osrs_dashboard_elt_spark.operators.dedup_index import compact_index

    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    write_minhash_index(
        corpus, "mh_atomic", "doc_id", "text",
        n_buckets=8, path=str(tmp_path / "atomic"), **PARAMS,
    )
    try:
        old_reader = spark.table("mh_atomic")
        n_before = old_reader.count()
        # replay-append so compaction has something to remove
        write_minhash_index(
            corpus, "mh_atomic", "doc_id", "text",
            n_buckets=8, path=str(tmp_path / "atomic"),
            mode="append", **PARAMS,
        )
        n = compact_index(spark, "mh_atomic")
        assert n == n_before
        # no temp table left behind; live name resolves throughout
        assert not spark.catalog.tableExists("mh_atomic__compact")
        assert spark.table("mh_atomic").count() == n
        # the DROP+RENAME shape would have destroyed this lineage's
        # catalog entry mid-swap; SET LOCATION never unregisters it —
        # and the old files still serve a reader that resolved earlier
        # (old_reader's plan is pinned to the original location)
        assert spark.read.parquet(str(tmp_path / "atomic")).count() == 2 * n
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_atomic")


def test_clear_tombstones_never_readmits_a_deleted_id(
    spark, index, monkeypatch
):
    """A selective clear that dies part-way (crash, failed delete)
    must leave a SUPERSET of the new tombstone set: an id that stays
    deleted is never re-admitted, in any intermediate state.  The
    clear's filesystem calls on the tombstone location fail at the
    k-th call for k = 1, 2, ... until one run gets through."""
    import shutil

    from osrs_dashboard_elt_spark.operators.dedup_index import (
        _tombstone_path,
        _without_tombstoned,
        clear_tombstones,
        delete_from_index,
    )

    keep, cleared, other = 101, 202, 303
    id_type = dict(spark.table(index).dtypes)["corpus_id"]
    cand = spark.createDataFrame(
        [(keep,), (cleared,), (other,)], "corpus_id long"
    ).select(F.col("corpus_id").cast(id_type))

    def visible():
        return {
            r.corpus_id
            for r in _without_tombstoned(spark, cand, index).collect()
        }

    assert delete_from_index(spark, index, [keep, cleared]) == 2
    assert visible() == {other}
    root = _tombstone_path(spark, index)
    real = {
        "rename": os.rename, "remove": os.remove,
        "rmtree": shutil.rmtree,
    }
    finished = False
    for k in range(1, 20):
        calls = {"n": 0}

        def failing(name):
            def call(*args, **kwargs):
                if str(args[0]).startswith(root):
                    calls["n"] += 1
                    if calls["n"] == k:
                        raise OSError(f"injected failure at call {k}")
                return real[name](*args, **kwargs)
            return call

        with monkeypatch.context() as m:
            m.setattr(os, "rename", failing("rename"))
            m.setattr(os, "remove", failing("remove"))
            m.setattr(shutil, "rmtree", failing("rmtree"))
            try:
                clear_tombstones(spark, index, ids=[cleared])
                finished = True
            except OSError:
                pass
        assert keep not in visible(), f"re-admitted after call {k}"
        if finished:
            break
    assert finished and k > 1  # some run died part-way first
    assert visible() == {cleared, other}
