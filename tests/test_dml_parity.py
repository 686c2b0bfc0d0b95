"""Rewrite vs deletion-vector parity for predicate DML: the same
DELETE / UPDATE / keyed DELETE, run once per mode on identical
multi-file tables, must leave the same snapshot, the same change feed,
the same ``rows_deleted`` and the same row total in ``history()`` —
the modes differ only in how the files move. Each table holds a row
whose predicate is NULL, which SQL keeps in both modes."""

from __future__ import annotations

import pytest

from amadeus_spark.operators import versioned as V

OPS = {
    "delete_where": lambda spark, root, mode: V.commit_delete_where(
        spark, root, "v < 5", changefeed=True, mode=mode
    ),
    "update_where": lambda spark, root, mode: V.commit_update_where(
        spark, root, "v < 5", {"v": "v + 100", "s": "'upd'"},
        changefeed=True, mode=mode,
    ),
    "delete_keys": lambda spark, root, mode: V.commit_delete_keys(
        spark, root, [3, 27, 41, 105], "k", changefeed=True, mode=mode
    ),
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _build(spark, root):
    """Four files: three holding matches of ``v < 5``, one holding none
    (v >= 100) plus the row with k and v NULL."""
    for lo in (0, 20, 40):
        V.commit_append(
            spark, root,
            spark.range(lo, lo + 20)
            .selectExpr("id AS k", "id % 20 AS v", "'base' AS s")
            .coalesce(1),
            ["k"],
        )
    V.commit_append(
        spark, root,
        spark.createDataFrame(
            [(100 + i, 100 + i, "base") for i in range(10)]
            + [(None, None, "null")],
            "k bigint, v bigint, s string",
        ).coalesce(1),
    )


def _run(spark, root, op, mode):
    _build(spark, root)
    out = OPS[op](spark, root, mode)
    v = out[0]
    return {
        "version": v,
        "snapshot": _rows(V.read_version(spark, root)),
        "changes": _rows(V.table_changes(spark, root, v, v)),
        "rows_deleted": out[3] if len(out) == 4 else None,
        "n_rows": V.history(spark, root)[-1]["n_rows"],
    }


@pytest.mark.parametrize("op", sorted(OPS))
def test_rewrite_and_dv_modes_agree(spark, tmp_path, op):
    rw = _run(spark, str(tmp_path / "rw"), op, "rewrite")
    dv = _run(spark, str(tmp_path / "dv"), op, "dv")
    assert rw == dv
    assert rw["version"] == 4  # the DML committed on top of 4 appends
    assert rw["changes"]
    # the NULL-predicate row survives, unchanged
    assert (None, None, "null") in rw["snapshot"]
