"""Fused data+CDF commit write (r16, versioned._fused_write): one job
stages both halves under a tag partition and renames them into place.
Pins the edges the optimization introduced: an EMPTY data leg still
commits (its dir exists, entries are empty), the fused and two-write
paths produce identical table state + change feed, and the data files'
extra all-NULL trailing columns stay invisible through the manifest
schema."""

from __future__ import annotations

import os

from amadeus_spark.operators import versioned as V


def _state(spark, root):
    return sorted(
        map(str, V.read_version(spark, root).collect())
    )


def _feed(spark, root):
    return sorted(
        map(str, V.table_changes(spark, root, 0).collect())
    )


def test_fused_delete_all_rows_empty_data_leg(spark, tmp_path):
    """A changefeed DELETE matching EVERY row of its touched files
    writes a 0-row data leg: the commit must still land, the feed must
    carry every deleted row, and the staged commit dir must exist."""
    root = str(tmp_path / "vt")
    src = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS val")
    V.commit_append(spark, root, src.coalesce(1), ["k"])
    v, rewritten, carried, deleted = V.commit_delete_where(
        spark, root, "k >= 0", changefeed=True
    )
    assert v == 1 and deleted == 100
    assert V.read_version(spark, root).count() == 0
    feed = V.table_changes(spark, root, v, v)
    assert feed.where("_change_type = 'delete'").count() == 100
    man = V._read_manifest(spark, root, v)
    assert man["add"] == []  # empty data leg -> no entries
    # the (empty) staged commit dir exists on disk
    data_dirs = os.listdir(str(tmp_path / "vt" / "data"))
    assert len(data_dirs) >= 2


def test_fused_matches_two_write_path(spark, tmp_path, monkeypatch):
    """Same upsert committed fused and on the two-write path (the one
    object stores take) must yield identical state, feed rows, and
    manifest row totals."""
    roots = {}
    for mode in ("fused", "plain"):
        if mode == "plain":
            monkeypatch.setattr(V, "_fuse_ok", lambda root: False)
        root = str(tmp_path / f"vt_{mode}")
        base = spark.range(0, 60).selectExpr("id AS k", "id AS val")
        V.commit_append(spark, root, base.coalesce(2), ["k"])
        ups = spark.range(30, 90).selectExpr("id AS k", "id + 7 AS val")
        V.commit_upsert(spark, root, ups, "k", changefeed=True)
        roots[mode] = root
    assert _state(spark, roots["fused"]) == _state(spark, roots["plain"])
    f_rows = sorted(
        map(str, V.table_changes(spark, roots["fused"], 1, 1)
            .select("k", "val", "_change_type").collect())
    )
    p_rows = sorted(
        map(str, V.table_changes(spark, roots["plain"], 1, 1)
            .select("k", "val", "_change_type").collect())
    )
    assert f_rows == p_rows
    mf = V._read_manifest(spark, roots["fused"], 1)
    mp = V._read_manifest(spark, roots["plain"], 1)
    assert mf["total_rows"] == mp["total_rows"]
    # file COUNT may legitimately differ (a fused task holding only
    # change rows writes no data file) — rows/feed equality above is
    # the contract, layout is not


def test_fused_data_files_keep_logical_schema(spark, tmp_path):
    """The fused data files physically carry _change_type /
    _commit_version (all NULL) — every consumer must still see exactly
    the logical columns."""
    root = str(tmp_path / "vt")
    base = spark.range(0, 40).selectExpr("id AS k", "id AS val")
    V.commit_append(spark, root, base.coalesce(1), ["k"])
    V.commit_update_where(
        spark, root, "k % 2 = 0", {"val": "val + 1"}, changefeed=True
    )
    out = V.read_version(spark, root)
    assert out.columns == ["k", "val"]
    # the raw staged files DO carry the trailing columns (the fused
    # write's signature) — proves the commit really took the one-job
    # path and that _reader's explicit schema is what hides them
    import pyarrow.parquet as pq

    man = V._read_manifest(spark, root, 1)
    assert man["add"], "update must have rewritten at least one file"
    e = man["add"][0]
    raw = pq.read_schema(
        str(tmp_path / "vt" / "data" / e["dir"] / e["path"])
    )
    assert "_change_type" in raw.names and "_commit_version" in raw.names
