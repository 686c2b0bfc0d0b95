"""bucket_pairs — the shared candidate-pair generator of the banded
near-dup operators — and its four callers on input where an id repeats.
A repeated id must never pair with itself, and where the DuckDB oracle
exists the Spark result must still match it exactly."""

from __future__ import annotations

import random

import pytest

from amadeus_spark.functions import dedup, similarity
from amadeus_spark.operators import fuzzy, joins

_TEXT = "the quick brown fox jumps over the lazy dog near the river bank"
# doc 1 appears twice with an IDENTICAL row; doc 2 is its near-dup
_DOCS = [
    (1, _TEXT),
    (1, _TEXT),
    (2, _TEXT + " today"),
    (3, "spark shuffles rows between executors by key hash partitioning"),
]


def _minhash(spark, duck):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    out = dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.3)
    return [(r.doc_a, r.doc_b) for r in out.collect()], None


def _simhash(spark, duck):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    got = [tuple(r) for r in dedup.simhash_pairs(df, "doc_id", "text").collect()]
    duck.execute(
        "CREATE OR REPLACE TABLE __dup_docs (doc_id BIGINT, text VARCHAR)"
    )
    duck.executemany("INSERT INTO __dup_docs VALUES (?, ?)", _DOCS)
    want = duck.sql(dedup.simhash_oracle("__dup_docs", "doc_id", "text")).fetchall()
    return got, want


def _fuzzy(spark, duck):
    rows = [(1, "smith"), (1, "smith"), (2, "smyth"), (3, "jones")]
    df = spark.createDataFrame(rows, "k long, name string")
    out = fuzzy.fuzzy_self_join(df, "k", "name", max_dist=1)
    return [(r.k1, r.k2) for r in out.collect()], None


def _embedding(spark, duck):
    rng = random.Random(11)
    v10 = [rng.gauss(0.0, 1.0) for _ in range(similarity.EMB_DIM)]
    v20 = [x + rng.gauss(0.0, 0.05) for x in v10]
    v30 = [rng.gauss(0.0, 1.0) for _ in range(similarity.EMB_DIM)]
    rows = [(10, v10), (10, v10), (20, v20), (30, v30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [tuple(r) for r in similarity.embedding_neardup_pairs(df).collect()]
    duck.execute(
        "CREATE OR REPLACE TABLE __dup_emb (vec_id BIGINT, embedding DOUBLE[])"
    )
    duck.executemany("INSERT INTO __dup_emb VALUES (?, ?)", rows)
    want = duck.sql(similarity.embedding_neardup_oracle("__dup_emb")).fetchall()
    return got, want


@pytest.mark.parametrize(
    "caller", [_minhash, _simhash, _fuzzy, _embedding], ids=lambda f: f.__name__[1:]
)
def test_repeated_id_never_pairs_with_itself(spark, duck, caller):
    got, want = caller(spark, duck)
    assert got, "the near-dup pair of the repeated id must be found"
    assert all(r[0] != r[1] for r in got), got
    if want is not None:
        assert sorted(got) == sorted(tuple(r) for r in want)


def test_bucket_pairs_orders_ids_and_keeps_payload(spark):
    rows = [(0, 3, "c"), (0, 1, "a"), (0, 2, "b"), (0, 1, "a"), (1, 9, "z")]
    df = spark.createDataFrame(rows, "b int, id long, p string")
    got = {tuple(r) for r in joins.bucket_pairs(df, ["b"], "id", ["p"]).select(
        "id_a", "id_b", "p_a", "p_b").collect()}
    assert got == {(1, 2, "a", "b"), (1, 3, "a", "c"), (2, 3, "b", "c")}
    # bucket 0 holds 4 rows: a cap of 3 drops it whole
    assert joins.bucket_pairs(df, ["b"], "id", ["p"], cap=3).count() == 0
    bare = joins.bucket_pairs(df.select("b", "id"), ["b"], "id")
    assert bare.columns == ["id_a", "id_b"] and bare.count() == 3
