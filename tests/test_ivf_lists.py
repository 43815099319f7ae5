"""The persisted IVF inverted-list table (similarity._assigned_frame):
built once per index, shared by ivf_topk / ivf_adc_topk /
semantic_dedup, and never leaked — keyed tables live in the session
memo that `bench._reset_session_memos` releases, un-keyed ones in one
swap_held slot."""

import uuid

import duckdb
import pytest

from tests.test_oracle_parity import _canon_rows


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _n_persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _oracle_rows(sf_dir, sql):
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"'{sf_dir}/embeddings.parquet'")
        rows = con.execute(sql).fetchall()
        return rows, [d[0].lower() for d in con.description]
    finally:
        con.close()


def _assert_matches_oracle(sf_dir, df, sql):
    srows = [tuple(r) for r in df.collect()]
    drows, dcols = _oracle_rows(sf_dir, sql)
    assert sorted(c.lower() for c in df.columns) == sorted(dcols)
    assert (_canon_rows(srows, [c.lower() for c in df.columns])
            == _canon_rows(drows, dcols))


def test_keyed_queries_reuse_one_list_table(spark, emb):
    """The first keyed ivf_topk persists its list table; later queries
    on the same key add nothing; the bench memo reset releases it."""
    from bench import _reset_session_memos
    from bioio_spark.functions.dedup import swap_held
    from bioio_spark.functions.similarity import ivf_topk

    # no earlier list table, keyed or not, may share this one's plan
    _reset_session_memos(spark)
    swap_held(spark, "ivf_lists")
    before = _n_persisted(spark)
    key = ("test_ivf_lists", uuid.uuid4().hex)
    ivf_topk(emb, query_vec_id=1, cache_key=key).collect()
    after_first = _n_persisted(spark)
    assert after_first == before + 1
    for q in (3, 5, 7):
        ivf_topk(emb, query_vec_id=q, cache_key=key).collect()
        assert _n_persisted(spark) == after_first
    _reset_session_memos(spark)
    assert _n_persisted(spark) == before


def test_unkeyed_calls_hold_at_most_one_list_table(spark, emb):
    """cache_key=None builds a fresh table per call, and each call
    releases the previous one: the session never holds two. The first
    two calls build identical plans, so the release must come before
    the new persist, or the shared cache entry is dropped with it; the
    later calls build distinct plans, so a leaked table would show."""
    from pyspark.sql import functions as F

    from bioio_spark.functions.similarity import (ivf_topk,
                                                  semantic_dedup)

    ivf_topk(emb, query_vec_id=1, cache_key=None).collect()
    held = _n_persisted(spark)
    assert held >= 1
    ivf_topk(emb, query_vec_id=3, cache_key=None).collect()
    assert _n_persisted(spark) == held
    ivf_topk(emb.filter(F.col("vec_id") >= 0), query_vec_id=3,
             cache_key=None).collect()
    assert _n_persisted(spark) == held
    semantic_dedup(emb, cache_key=None).collect()
    assert _n_persisted(spark) == held
    assert len(spark.__dict__["_bioio_held_ivf_lists"]) == 1


def test_ivf_topk_and_semantic_dedup_share_a_cache_key(spark, sf_dir,
                                                         emb):
    """One cache_key, two column sets: semantic_dedup's (vec_id, e)
    table must not be handed to ivf_topk (which needs label), and both
    results still match their DuckDB oracles."""
    from bioio_spark.functions.similarity import (
        SEMANTIC_DEDUP_ORACLE, _ivf_oracle, ivf_topk, semantic_dedup)

    key = ("test_ivf_lists_shared", uuid.uuid4().hex)
    _assert_matches_oracle(sf_dir, semantic_dedup(emb, cache_key=key),
                           SEMANTIC_DEDUP_ORACLE)
    _assert_matches_oracle(sf_dir,
                           ivf_topk(emb, query_vec_id=5, cache_key=key),
                           _ivf_oracle(query_vec_id=5))
    _assert_matches_oracle(sf_dir, semantic_dedup(emb, cache_key=key),
                           SEMANTIC_DEDUP_ORACLE)
