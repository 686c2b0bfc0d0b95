"""The benchmark's workloads and the checks on every operation's output.

An operation is an :class:`Op`: ``build`` makes what the op acts on
(the registry builder's DataFrame, a commit's source DataFrame, a
snapshot read's DataFrame), ``run`` performs the action (``collect``
or the commit), and ``check`` compares the result with an independent
expectation, returning an error string or None. Only ``build`` and
``run`` are timed.

- ``neardup``: near-duplicate and decontamination operators of the
  registry in ``__spark_entry__.queries()``. Oracle ops are checked
  against their DuckDB twin in ``oracle_sql()``, evaluated on the same
  generated tables once per checkout. Rows-only ops are checked
  against ``pins.json``, a regression pin taken from the commit that
  added the benchmark (not an oracle).
- ``lifecycle``: one versioned table (``operators/versioned``) that
  lives for the whole run, under a seeded mix of commits and reads.
  A DuckDB shadow table applies the same operations; every read is
  checked against it, and the whole snapshot at the end of each pass.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import random
from dataclasses import dataclass
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))

#: three ops of similar cost, so the pass median and maximum do not
#: hinge on one op type (minhash_lsh, the costliest near-dup op, is left
#: out to keep a run near a minute on 4 cores)
NEARDUP_OPS = [
    "simhash",
    "decontamination",
    "bloom_decontamination",
]
#: ops whose result rows are near-duplicate pairs (pairs.useful_ratio)
PAIR_OPS = {"simhash"}
ORACLE_TABLES = ("documents",)


@dataclass
class Op:
    kind: str
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    is_write: bool = False
    #: draws state-dependent parameters just before the op, untimed
    prepare: Callable[[], None] | None = None


def canon_rows(rows: list[dict]) -> list[tuple]:
    """Order-insensitive canonical form, as the repo's oracle gate
    compares: columns sorted by name, values stringified, rows sorted."""
    return sorted(tuple(str(v) for _, v in sorted(r.items())) for r in rows)


def rows_digest(rows: list[dict]) -> str:
    return hashlib.sha256(repr(canon_rows(rows)).encode()).hexdigest()


def _spark_dicts(rows) -> list[dict]:
    return [r.asDict() for r in rows]


# ---------------------------------------------------------------------------
# neardup
# ---------------------------------------------------------------------------

def oracle_expectations(entry, data_dir: str) -> dict[str, dict]:
    """Digest and row count of every oracle-checked neardup op, from
    the DuckDB twin over the generated tables."""
    import duckdb

    osql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in NEARDUP_OPS:
            if name in osql:
                rows = con.sql(osql[name]).fetchdf().to_dict("records")
                out[name] = {"digest": rows_digest(rows), "rows": len(rows),
                             "source": "oracle"}
        return out
    finally:
        con.close()


def load_pins() -> dict[str, dict]:
    with open(os.path.join(HERE, "pins.json")) as f:
        return {k: v for k, v in json.load(f).items() if not k.startswith("_")}


class Neardup:
    name = "neardup"

    def __init__(self, spark, entry, data_dir: str, expected: dict, seed: int):
        self.spark = spark
        self.queries = entry.queries()
        self.data_dir = data_dir
        self.expected = expected
        self.rng = random.Random(seed)

    def setup(self) -> None:
        missing = [n for n in NEARDUP_OPS if n not in self.expected]
        if missing:
            raise RuntimeError(f"no oracle or pin for {missing}")

    def pass_ops(self) -> list[Op]:
        names = list(NEARDUP_OPS)
        self.rng.shuffle(names)
        return [self._op(n) for n in names]

    def _op(self, name: str) -> Op:
        exp = self.expected[name]

        def check(rows) -> str | None:
            d = rows_digest(_spark_dicts(rows))
            if d != exp["digest"]:
                return (f"{name}: {len(rows)} rows, digest {d[:12]} != "
                        f"{exp['source']} {exp['digest'][:12]} ({exp['rows']} rows)")
            return None

        return Op(
            kind=name,
            build=lambda: self.queries[name](self.spark, self.data_dir),
            run=lambda df: df.collect(),
            check=check,
        )

    def end_pass_check(self) -> list[str]:
        return []

    def table_dir(self) -> str | None:
        return None

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# lifecycle
# ---------------------------------------------------------------------------

#: the snapshot fingerprint both engines evaluate identically (BIGINT
#: arithmetic only; every term stays far below 2^63)
FINGERPRINT_COLS = [
    "COUNT(*) AS n", "SUM(k) AS sk", "SUM(c) AS sc", "SUM(v) AS sv",
    "SUM((k * 1000003 + c * 10007 + v) % 2147483647) AS fp",
]
NEW_KEY_BASE = 1_000_000
#: 3 BIGINT columns: Arrow bytes of one committed row
ROW_ARROW_BYTES = 24
#: half writes, half reads: one of each kind per pass
WRITE_KINDS = ("append", "merge", "delete")
READ_KINDS = ("point_lookup", "time_travel", "changes")
#: versions one change-feed read spans
CHANGES_SPAN = 3


class Lifecycle:
    """Seeded writes and reads against one versioned table, mirrored
    by a DuckDB shadow table ``t(k, c, v)``."""

    name = "lifecycle"

    def __init__(self, spark, work_dir: str, data_dir: str, seed: int):
        import duckdb

        from amadeus_spark.operators import versioned

        self.V = versioned
        self.spark = spark
        self.root = os.path.join(work_dir, "lifecycle", "vt")
        self.orders = os.path.join(data_dir, "orders.parquet")
        self.rng = random.Random(seed)
        self.residue = seed % 5
        self.db = duckdb.connect()
        self.version = -1
        #: version -> fingerprint tuple of the shadow at that version
        self.snapshots: dict[int, tuple] = {}
        #: version -> Counter of expected change rows
        self.changes: dict[int, collections.Counter] = {}
        self.next_key = NEW_KEY_BASE
        self.committed_rows = 0

    # -- shadow ---------------------------------------------------------
    def _fp(self) -> tuple:
        return tuple(int(x or 0) for x in
                     self.db.execute(f"SELECT {', '.join(FINGERPRINT_COLS)} FROM t").fetchone())

    def _count(self, where: str) -> int:
        return self.db.execute(f"SELECT COUNT(*) FROM t WHERE {where}").fetchone()[0]

    def _published(self, got_version: int, changes: collections.Counter) -> str | None:
        """Record the shadow state as the next version; check the
        version the library returned."""
        self.version += 1
        self.snapshots[self.version] = self._fp()
        self.changes[self.version] = changes
        self.committed_rows += sum(changes.values())
        if got_version != self.version:
            return f"commit returned v{got_version}, shadow expects v{self.version}"
        return None

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        import shutil

        shutil.rmtree(os.path.dirname(self.root), ignore_errors=True)
        os.makedirs(os.path.dirname(self.root))
        sl = f"o_orderkey % 5 = {self.residue}"
        cols = ("o_orderkey AS k", "o_custkey AS c",
                "CAST(FLOOR(o_totalprice) AS BIGINT) AS v")
        base = self.spark.read.parquet(self.orders).where(sl).selectExpr(*cols)
        v = self.V.commit_append(self.spark, self.root,
                                 base.repartitionByRange(4, "k"), ["k"])
        self.db.execute(
            f"CREATE TABLE t AS SELECT {', '.join(cols)} "
            f"FROM read_parquet('{self.orders}') WHERE {sl}"
        )
        err = self._published(v, collections.Counter(insert=self._count("TRUE")))
        v = self.V.set_bloom_index(self.spark, self.root, ["k"], fpp=0.01)
        err = err or self._published(v, collections.Counter())
        if err:
            raise RuntimeError(f"lifecycle set-up: {err}")

    # -- operations -----------------------------------------------------
    def pass_ops(self) -> list[Op]:
        kinds = list(WRITE_KINDS) + list(READ_KINDS)
        self.rng.shuffle(kinds)
        return [getattr(self, f"_op_{k}")() for k in kinds]

    def _write(self, kind: str, build, run, apply) -> Op:
        """A commit op: ``apply`` mutates the shadow after the commit
        and returns its expected change counts."""
        def check(version) -> str | None:
            if isinstance(version, tuple):
                version = version[0]
            return self._published(version, apply())
        return Op(kind=kind, build=build, run=run, check=check, is_write=True)

    def _op_append(self) -> Op:
        n = self.rng.randint(300, 700)
        a, b = self.rng.randint(3, 999), self.rng.randint(3, 99_999)
        lo, hi = self.next_key, self.next_key + n
        self.next_key = hi
        exprs = ("id AS k", f"(id * {a}) % 1000 AS c", f"(id * {b}) % 100000 AS v")

        def apply():
            self.db.execute(
                f"INSERT INTO t SELECT {', '.join(exprs)} "
                f"FROM (SELECT range AS id FROM range({lo}, {hi}))"
            )
            return collections.Counter(insert=n)
        return self._write(
            "append",
            lambda: self.spark.range(lo, hi).selectExpr(*exprs),
            lambda df: self.V.commit_append(self.spark, self.root, df),
            apply,
        )

    def _op_merge(self) -> Op:
        m = self.rng.randint(150, 250)
        lo = self.rng.randint(0, 149_000)
        e = self.rng.randint(3, 999)
        src = (f"(SELECT range AS k, (range * {e}) % 1000 AS sv "
               f"FROM range({lo}, {lo + m}))")

        def apply():
            q = lambda w: self.db.execute(  # noqa: E731
                f"SELECT COUNT(*) FROM t JOIN {src} s USING (k) WHERE {w}"
            ).fetchone()[0]
            n_del, n_upd = q("s.sv % 7 = 0"), q("s.sv % 7 <> 0")
            n_ins = m - n_del - n_upd
            self.db.execute(f"CREATE TEMP TABLE mk AS SELECT k FROM t JOIN {src} s USING (k)")
            self.db.execute(
                f"DELETE FROM t WHERE k IN (SELECT k FROM {src} WHERE sv % 7 = 0)")
            self.db.execute(
                f"UPDATE t SET v = t.v + s.sv FROM {src} s WHERE t.k = s.k")
            self.db.execute(
                f"INSERT INTO t SELECT s.k, s.sv % 50, s.sv FROM {src} s "
                f"WHERE s.k NOT IN (SELECT k FROM mk)")
            self.db.execute("DROP TABLE mk")
            return collections.Counter(delete=n_del, update_preimage=n_upd,
                                       update_postimage=n_upd, insert=n_ins)
        return self._write(
            "merge",
            lambda: self.spark.range(lo, lo + m).selectExpr(
                "id AS k", f"(id * {e}) % 1000 AS sv"),
            lambda df: self.V.commit_merge(
                self.spark, self.root, df, "k",
                matched=[
                    {"action": "delete", "condition": "s.sv % 7 = 0"},
                    {"action": "update", "set": {"v": "t.v + s.sv"}},
                ],
                not_matched=[
                    {"action": "insert",
                     "values": {"k": "k", "c": "sv % 50", "v": "sv"}},
                ],
                changefeed=True,
            ),
            apply,
        )

    def _op_delete(self) -> Op:
        state = {}

        def prepare():
            # a seeded present row of the initial slice and its peers in
            # a narrow key range: the delete always commits and rewrites
            # only the one or two files that hold that range
            n = self._count(f"k < {NEW_KEY_BASE}")
            k0, c0 = self.db.execute(
                f"SELECT k, c FROM t WHERE k < {NEW_KEY_BASE} ORDER BY k "
                f"LIMIT 1 OFFSET {self.rng.randint(0, n - 1)}"
            ).fetchone()
            state["pred"] = f"k BETWEEN {k0} AND {k0 + 3000} AND c % 10 = {c0 % 10}"

        def apply():
            n = self._count(state["pred"])
            self.db.execute(f"DELETE FROM t WHERE {state['pred']}")
            return collections.Counter(delete=n)
        op = self._write(
            "delete", lambda: state["pred"],
            lambda p: self.V.commit_delete_where(self.spark, self.root, p,
                                                 changefeed=True),
            apply,
        )
        op.prepare = prepare
        return op

    def _op_point_lookup(self) -> Op:
        from pyspark.sql import functions as F

        state = {}

        def prepare():
            present = [r[0] for r in self.db.execute(
                "SELECT k FROM t ORDER BY k").fetchall()]
            state["keys"] = self.rng.sample(present, 2) + [10**9 + self.rng.randint(0, 999)]

        def build():
            keys = state["keys"]
            return self.V.read_version(self.spark, self.root, key_in=keys,
                                       key_col="k").where(F.col("k").isin(keys))

        def check(rows) -> str | None:
            keys = ", ".join(str(k) for k in state["keys"])
            exp = self.db.execute(
                f"SELECT k, c, v FROM t WHERE k IN ({keys})").fetchdf().to_dict("records")
            got = _spark_dicts(rows)
            if canon_rows(got) != canon_rows(exp):
                return f"point_lookup {state['keys']}: {canon_rows(got)} != {canon_rows(exp)}"
            return None
        return Op("point_lookup", build, lambda df: df.collect(), check,
                  prepare=prepare)

    def _op_time_travel(self) -> Op:
        state = {}

        def prepare():
            state["v"] = self.rng.randint(0, self.version)

        def build():
            return self.V.read_version(self.spark, self.root, version=state["v"]) \
                .selectExpr(*FINGERPRINT_COLS)

        def check(rows) -> str | None:
            got = tuple(int(x or 0) for x in rows[0])
            exp = self.snapshots[state["v"]]
            return None if got == exp else f"time_travel v{state['v']}: {got} != {exp}"
        return Op("time_travel", build, lambda df: df.collect(), check,
                  prepare=prepare)

    def _op_changes(self) -> Op:
        state = {}

        def prepare():
            # a fixed span of CHANGES_SPAN versions at a seeded place, so
            # the seed moves which versions are read but not how many
            a = self.rng.randint(1, max(1, self.version - CHANGES_SPAN + 1))
            state["ab"] = (a, min(a + CHANGES_SPAN - 1, self.version))

        def build():
            return self.V.table_changes(self.spark, self.root, *state["ab"]) \
                .groupBy("_change_type").count()

        def check(rows) -> str | None:
            a, b = state["ab"]
            exp = collections.Counter()
            for v in range(a, b + 1):
                exp.update(self.changes[v])
            exp = {k: n for k, n in exp.items() if n}
            got = {r["_change_type"]: r["count"] for r in rows}
            return None if got == exp else f"changes v{a}..v{b}: {got} != {exp}"
        return Op("changes", build, lambda df: df.collect(), check,
                  prepare=prepare)

    # -- checks ---------------------------------------------------------
    def end_pass_check(self) -> list[str]:
        got = self.V.read_version(self.spark, self.root) \
            .selectExpr(*FINGERPRINT_COLS).collect()[0]
        got = tuple(int(x or 0) for x in got)
        exp = self._fp()
        return [] if got == exp else [f"snapshot v{self.version}: {got} != {exp}"]

    def table_dir(self) -> str | None:
        return self.root

    def snapshot_files(self) -> int:
        return int(self.V.describe_detail(self.spark, self.root)["n_files"])

    def live_bytes(self) -> int:
        return int(self.V.describe_detail(self.spark, self.root)["size_bytes"])

    def close(self) -> None:
        self.db.close()
