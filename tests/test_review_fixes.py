"""Regression tests for the round-1 code-review findings — each test
reproduces the original failure scenario."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from amadeus_spark.functions import dedup, multimodal
from amadeus_spark.functions.sketch_lib import most_frequent_sketch
from amadeus_spark.operators import joins, storage


def test_frame_sample_missing_n_frames_yields_no_frames(spark):
    """Video row without n_frames metadata must not abort the job."""
    rows = [(1, "video", "mp4", {}, b"x"), (2, "video", "mp4", {"n_frames": "61"}, b"y")]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    plan = multimodal.frame_sample_plan(media, every_n=30).collect()
    got = sorted((r.media_id, r.frame_idx) for r in plan)
    assert got == [(2, 0), (2, 30), (2, 60)]  # id 1 contributes nothing


def test_simhash_empty_doc_parity(spark, duck):
    """Blank documents must get sh32=0 on BOTH engines, not vanish from
    the Spark side (original bug: explode dropped them pre-groupBy)."""
    rows = [(1, "alpha beta gamma"), (2, ""), (3, "   "), (4, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.simhash_pairs(df, "doc_id", "text", max_hamming=8, limit=20)
    got = {(r.doc_a, r.doc_b, r.hamming) for r in pairs.collect()}
    # identical docs 1/4 at hamming 0; blank docs 2/3 both sh32=0 →
    # hamming 0 against each other
    assert (1, 4, 0) in got
    assert (2, 3, 0) in got

    duck.execute("CREATE OR REPLACE TABLE __sim_docs AS SELECT * FROM (VALUES (1, 'alpha beta gamma'), (2, ''), (3, '   '), (4, 'alpha beta gamma')) t(doc_id, text)")
    orows = duck.sql(
        dedup.simhash_oracle("__sim_docs", "doc_id", "text", 8, 20)
    ).fetchall()
    assert {(a, b, h) for a, b, h in orows} == got


def test_salted_join_rejects_outer(spark):
    left = spark.createDataFrame([(1, "a")], "k int, v string")
    right = spark.createDataFrame([(1, "r")], "k int, tag string")
    with pytest.raises(ValueError, match="outer"):
        storage.salted_join(left, right, "k", how="right")
    with pytest.raises(ValueError, match="outer"):
        storage.salted_join(left, right, "k", how="full")


def test_asof_join_duplicate_left_rows(spark):
    """Fully-duplicate left rows must each produce an output row."""
    left = spark.createDataFrame([("u", 100), ("u", 100)], "k string, t long")
    right = spark.createDataFrame([("u", 90, "m")], "k string, t long, tag string")
    out = joins.asof_join(left, right, ["k"], "t", "t", "backward").collect()
    assert len(out) == 2
    assert all(r.r_tag == "m" for r in out)


def test_sketch_correct_after_mapinpandas_rewrite(spark):
    """most_frequent_sketch (now one sketch per input partition via
    mapInPandas, no groupBy exchange) still ranks correctly, including
    with a partition that holds no rows."""
    df = spark.createDataFrame(
        [(f"k{i % 7}",) for i in range(1000)], "k string"
    ).repartition(16)  # more partitions than distinct keys → empty ones
    got = most_frequent_sketch(df, "k", 3)
    exact = {
        r.k: r.cnt
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [k for k, _ in got] == [k for k, _ in want]
    assert [c for _, c in got] == [c for _, c in want]  # exact at this scale


def test_release_cached_frees_library_persists(spark):
    """Round-3 advice: operators that persist multi-consumer frames
    (embedding_neardup_pairs, ivf_topk, minhash signatures, ...) leaked
    one cached frame per call in long-lived sessions. They now register
    with amadeus_spark.cache; release_cached() frees exactly those."""
    import amadeus_spark
    from amadeus_spark.functions import similarity

    amadeus_spark.release_cached()  # drain anything earlier tests left
    cm = spark._jsparkSession.sharedState().cacheManager()
    # Caches an earlier test owns (e.g. a fixture's .cache()) are not
    # ours to assert about — the registry only tracks library persists.
    foreign = not cm.isEmpty()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    similarity.embedding_neardup_pairs(emb, id_mod=1).collect()
    similarity.ivf_topk(emb, [0, 1], k=3).collect()
    assert not cm.isEmpty()  # caches alive while results are consumed
    assert amadeus_spark.release_cached() >= 2
    if not foreign:
        assert cm.isEmpty()
    assert amadeus_spark.release_cached() == 0  # idempotent


def test_connected_components_raises_on_non_convergence(spark):
    """Round-3 advice: exhausting max_iter used to return under-merged
    partial labels silently; now it raises."""
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    # driver_cutoff=0 forces the DISTRIBUTED propagation loop (the r15
    # hybrid folds bounded edge lists driver-side, where exhausting
    # max_iter is impossible — union-find is exact)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(
            chain, "doc_a", "doc_b", max_iter=1, driver_cutoff=0
        )
    # enough rounds: the whole chain collapses to min id 1
    got = dedup.connected_components(
        chain, "doc_a", "doc_b", max_iter=10, driver_cutoff=0
    )
    assert {(r.id, r.cluster) for r in got.collect()} == {
        (i, 1) for i in range(1, 6)
    }
    # r15 hybrid: the driver-side union-find fast path must yield the
    # IDENTICAL label set as the distributed loop
    fast = dedup.connected_components(chain, "doc_a", "doc_b")
    assert {(r.id, r.cluster) for r in fast.collect()} == {
        (i, 1) for i in range(1, 6)
    }


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("k bigint, amt decimal(18,6)", [(1, Decimal("1.500000"))]),
        ("k bigint, s struct<x: bigint, y: bigint>", [(1, None)]),
    ],
    ids=["decimal", "struct_null"],
)
def test_local_rows_df_comma_bearing_type_falls_back(spark, ddl, rows):
    """A type with a comma inside splits the naive DDL parse; the
    result must come from the createDataFrame fallback, not raise."""
    import __spark_entry__ as entrymod

    out = entrymod._local_rows_df(spark, rows, ddl)
    assert [tuple(r) for r in out.collect()] == rows
