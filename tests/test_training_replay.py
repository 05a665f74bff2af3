"""Training-family mechanism and replay checks (operators/kmeans.py,
operators/pq.py).

- Each Lloyd's round and each assignment frame is built from one SQL
  statement, so the driver->JVM command count of a fit must not grow
  with k*dim (per-element Column construction made it grow about
  linearly).
- The trained models replay bit-for-bit in SQL: ``q_pq_ann_topk`` and
  ``q_kmeans_centroids`` equal their ``oracle_sql()`` in DuckDB at
  sf0.001, the same comparison ``scripts/verify_local.py`` and the
  ``model_state`` benchmark make."""

from __future__ import annotations

import importlib.util
import threading
from pathlib import Path

import duckdb
import pytest
from py4j import protocol

from __spark_entry__ import SMOKE_SF_DIR
from osrs_dashboard_elt_spark import suite
from osrs_dashboard_elt_spark.operators.kmeans import kmeans_fit
from osrs_dashboard_elt_spark.operators.pq import pq_train

SF = SMOKE_SF_DIR  # sf0.001
ROOT = Path(__file__).resolve().parents[1]
# py4j's finalizer tells the JVM about Python-side garbage through the
# same client; those deletes follow the Python GC, not the code
_GC_COMMAND = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


def _commands(spark, fit) -> int:
    """The py4j commands this thread sends to the JVM during ``fit()``."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = 0

    def counted(command, *args, **kwargs):
        nonlocal n
        if threading.get_ident() == me and not command.startswith(_GC_COMMAND):
            n += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        fit()
    finally:
        client.send_command = send
    return n


def _vecs(spark, dim: int, n: int = 48):
    # multiples of 1/16 with one raised element per row: float32-exact,
    # clustered enough that two rounds move the centroids; built in
    # the JVM so the fits' jobs start no Python worker
    return spark.range(n).selectExpr(
        "id AS vec_id",
        f"transform(sequence(0, {dim - 1}), d -> CAST("
        "((id * 7 + d * 3) % 11) / 16.0 + IF(id % 4 = d % 4, 1, 0) "
        "AS DOUBLE)) AS embedding",
    )


def test_training_command_count_does_not_grow_with_k_dim(spark):
    small, large = _vecs(spark, 8), _vecs(spark, 16)
    pq_train(small, "embedding", m=2, k=4, seed=3, dim=8)  # warm-up
    pq = [
        _commands(spark, lambda: pq_train(small, "embedding", m=2, k=4, seed=3, dim=8)),
        _commands(spark, lambda: pq_train(large, "embedding", m=2, k=8, seed=3, dim=16)),
    ]
    # k 3 -> 6 and dim 4 -> 8 at the same n_iter: k*dim grows 4x
    km_small, km_large = _vecs(spark, 4), _vecs(spark, 8)
    km = [
        _commands(spark, lambda: kmeans_fit(km_small, "embedding", k=3, n_iter=2, seed=11)),
        _commands(spark, lambda: kmeans_fit(km_large, "embedding", k=6, n_iter=2, seed=11)),
    ]
    for name, (a, b) in (("pq_train", pq), ("kmeans_fit", km)):
        assert abs(a - b) < 0.05 * min(a, b), (
            f"{name} sent {a} then {b} JVM commands: its build grows with k*dim"
        )


def _norm_rows():
    spec = importlib.util.spec_from_file_location(
        "verify_local", ROOT / "scripts" / "verify_local.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm_rows


@pytest.mark.parametrize("name", ["q_pq_ann_topk", "q_kmeans_centroids"])
def test_trained_model_queries_match_their_oracles(spark, monkeypatch, name):
    import __spark_entry__ as entry

    # what SPARK_GRAFT_ORACLE_SF_DIR sets when the module is imported:
    # the ANN oracles read their query vector from this directory
    monkeypatch.setattr(entry, "ORACLE_SF_DIR", SF)
    norm_rows = _norm_rows()
    suite.reset_memos()  # train here, not in an earlier test
    df = entry.queries()[name](spark, SF)
    got = norm_rows(df.columns, [tuple(r) for r in df.collect()])
    con = duckdb.connect()
    try:
        for table in ("events", "embeddings"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{SF}/{table}.parquet'")
        cur = con.execute(entry.oracle_sql()[name])
        want = norm_rows([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    assert got[0] == want[0]
    assert len(got[1]) == len(want[1]) > 0
    assert got == want
