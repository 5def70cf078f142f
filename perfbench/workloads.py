"""The benchmark's workloads.

Each workload is a function ``(h: Harness) -> None``.  It sets up (timed as
set-up), runs a closed loop of ops with one client, and queues correctness
checks that the harness runs after the timed part.  The timed ops are a
fixed sequence, repeated ``h.rounds(<nominal round seconds>)`` times; the
ops, their binds and their order come only from the workload seed, so every
run of one seed does, and fails, the same ops.
"""

from __future__ import annotations

import os
import random

import pandas as pd

# -- sql_interactive ---------------------------------------------------------

# (name, Phoenix-dialect statement for Engine.sql, DuckDB ANSI twin, binds)
# Every ORDER BY is total, so LIMIT/OFFSET cuts are deterministic.  Sums run
# over integral values only, so both engines add them exactly.
_SELECTS = [
    (
        "pk_point",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
        "FROM orders WHERE o_orderkey = ?",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
        "FROM orders WHERE o_orderkey = ?",
        lambda r, n: [r.randrange(n["orders"])],
    ),
    (
        "pk_range",
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_custkey BETWEEN ? AND ? ORDER BY c_custkey",
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_custkey BETWEEN ? AND ? ORDER BY c_custkey",
        lambda r, n: (lambda k: [k, k + r.randrange(5, 40)])(r.randrange(n["customer"])),
    ),
    (
        "rvc_page",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        "WHERE (o_custkey, o_orderkey) > (?, ?) "
        "ORDER BY o_custkey, o_orderkey LIMIT 20",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        "WHERE o_custkey > ? OR (o_custkey = ? AND o_orderkey > ?) "
        "ORDER BY o_custkey, o_orderkey LIMIT 20",
        lambda r, n: [r.randrange(n["customer"]), r.randrange(n["orders"])],
    ),
    (
        "q1_head",
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        "COUNT(*) AS count_order FROM lineitem "
        "WHERE l_shipdate <= TO_DATE(?) "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        "COUNT(*) AS count_order FROM lineitem "
        "WHERE l_shipdate <= CAST(? AS TIMESTAMP) "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        lambda r, n: [_day(r)],
    ),
    (
        "q3_head",
        "SELECT o_orderkey, o_orderdate, COUNT(*) AS n_lines, "
        "MAX(l_extendedprice) AS max_price "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = ? AND o_orderdate < TO_DATE(?) "
        "GROUP BY o_orderkey, o_orderdate "
        "ORDER BY max_price DESC, o_orderkey LIMIT 10",
        "SELECT o_orderkey, o_orderdate, COUNT(*) AS n_lines, "
        "MAX(l_extendedprice) AS max_price "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = ? AND o_orderdate < CAST(? AS TIMESTAMP) "
        "GROUP BY o_orderkey, o_orderdate "
        "ORDER BY max_price DESC, o_orderkey LIMIT 10",
        lambda r, n: [r.choice(_SEGMENTS), _day(r)],
    ),
    (
        "q4_head",
        "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders "
        "WHERE o_orderdate >= TO_DATE(?) AND o_orderdate < TO_DATE(?) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders "
        "WHERE o_orderdate >= CAST(? AS TIMESTAMP) "
        "AND o_orderdate < CAST(? AS TIMESTAMP) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        lambda r, n: sorted([_day(r), _day(r)]),
    ),
    (
        "int_div",
        "SELECT o_custkey, COUNT(*) AS n, SUM(o_orderkey) / COUNT(*) AS mean_key "
        "FROM orders WHERE o_custkey BETWEEN ? AND ? "
        "GROUP BY o_custkey ORDER BY o_custkey",
        "SELECT o_custkey, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) // COUNT(*) AS mean_key "
        "FROM orders WHERE o_custkey BETWEEN ? AND ? "
        "GROUP BY o_custkey ORDER BY o_custkey",
        lambda r, n: (lambda k: [k, k + r.randrange(3, 20)])(r.randrange(n["customer"])),
    ),
    (
        "concat_page",
        "SELECT c_custkey, c_name || '/' || c_mktsegment AS tag FROM customer "
        "WHERE c_nationkey = ? ORDER BY c_custkey LIMIT 10 OFFSET ?",
        "SELECT c_custkey, c_name || '/' || c_mktsegment AS tag FROM customer "
        "WHERE c_nationkey = ? ORDER BY c_custkey LIMIT 10 OFFSET ?",
        lambda r, n: [r.randrange(25), r.randrange(0, 30)],
    ),
]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _day(r: random.Random) -> str:
    return f"{r.randrange(1995, 2002)}-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}"


def _twin_binds(name: str, binds: list) -> list:
    if name == "rvc_page":  # the twin spells the RVC out: a > ? OR (a = ? AND b > ?)
        return [binds[0], binds[0], binds[1]]
    return binds


def _statements(seed: int, counts: dict[str, int], rounds: int):
    """(name, sql, twin, binds): each round runs every template once, in a
    shuffled order, so every run times the same mix of statements."""
    r = random.Random(seed)
    for _ in range(rounds):
        order = list(_SELECTS)
        r.shuffle(order)
        for name, sql, twin, draw in order:
            yield name, sql, twin, draw(r, counts)


def _row_counts(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
        for t in ("orders", "customer")
    }


def _duck(sf_dir: str):
    import duckdb

    from datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _frame(columns: list[str], rows: list) -> pd.DataFrame:
    return pd.DataFrame([tuple(r) for r in rows], columns=columns)


def sql_interactive(h) -> None:
    """Engine.sql SELECTs with binds over the attached sf0.01 catalog."""
    from phoenix_spark.engine import Engine

    from parity import compare

    sf_dir = h.data(0.01)
    counts = _row_counts(sf_dir)
    wh = h.scratch("warehouse")
    engine = h.repeat_setup(
        "catalog.attach", lambda: h.attach(Engine, sf_dir, wh), times=3
    )
    warm = random.Random(-h.seed - 1)
    # untimed: the first statements pay JIT and codegen.  Measured: after two
    # warm-ups the first timed statement was still ~15% slower than the rest
    for name in ("q3_head", "q1_head", "pk_range"):
        _, sql, _, draw = next(s for s in _SELECTS if s[0] == name)
        h.setup_step("warmup", lambda: engine.sql(sql, draw(warm, counts)).collect())

    results = []
    # a round of the eight templates takes 20-26 s on 4 cores at this commit
    with h.timed():
        for name, sql, twin, binds in _statements(h.seed, counts, h.rounds(20)):
            rec, out = h.op("read", name, lambda: h.select(engine, sql, binds))
            if rec["ok"]:
                results.append((rec, twin, _twin_binds(name, binds), out))

    def check() -> None:
        con = _duck(sf_dir)
        for rec, twin, binds, (cols, rows) in results:
            problems = compare(_frame(cols, rows), con.execute(twin, binds).df())
            if problems:
                h.wrong(rec, problems)

    h.check(check)


# -- mutation_mix ------------------------------------------------------------

_MM_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
_MM_CREATE = (
    "CREATE TABLE mm (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, "
    "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderpriority VARCHAR, "
    "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
)
_MM_SEED = "UPSERT INTO mm SELECT " + ", ".join(_MM_COLS) + " FROM orders"
_MM_INDEX = "CREATE INDEX mm_cust ON mm (o_custkey) INCLUDE (o_totalprice)"
_MM_UPSERT_VALUES = (
    "UPSERT INTO mm (" + ", ".join(_MM_COLS) + ") VALUES (?, ?, ?, ?, ?)"
)
_MM_COPY_OFFSET = 1_000_000
_MM_UPSERT_SELECT = (
    "UPSERT INTO mm (" + ", ".join(_MM_COLS) + ") "
    f"SELECT o_orderkey + {_MM_COPY_OFFSET}, o_custkey, 'O', o_totalprice, "
    "o_orderpriority FROM mm WHERE o_orderkey BETWEEN ? AND ?"
)
_MM_DELETE = "DELETE FROM mm WHERE o_orderkey BETWEEN ? AND ?"
_MM_POINT = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM mm "
    "WHERE o_orderkey = ?"
)
_MM_INDEX_RANGE = (
    "SELECT o_custkey, o_totalprice FROM mm WHERE o_custkey BETWEEN ? AND ?"
)
_MM_ALTER = "ALTER TABLE mm ADD o_note VARCHAR"
_MM_NOTE_READ = "SELECT o_orderkey, o_note FROM mm WHERE o_orderkey = ?"
_MM_VIEW = "CREATE VIEW mm_open AS SELECT * FROM mm WHERE o_orderstatus = 'O'"
_MM_VIEW_READ = (
    "SELECT o_orderkey, o_totalprice FROM mm_open "
    "WHERE o_orderkey BETWEEN ? AND ?"
)
_MM_RANGE_READ = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM mm "
    "WHERE o_orderkey BETWEEN ? AND ?"
)
# The timed ops walk this cycle, three ops per round; the ALTER/CREATE VIEW
# pair runs once, after the first two.  With one round (--seconds 20) the
# cycle stops after delete_range: the DDL pair's reads are then the run's
# point SELECT (alter_read) and range SELECT (view_read), and UPSERT SELECT
# runs only in set-up, where it seeds the table.
_MM_CYCLE = [
    "upsert_values",
    "index_range_select",
    "delete_range",
    "upsert_select",
    "point_select",
]


class _MutationModel:
    """The expected contents of table ``mm``: PK -> row tuple in _MM_COLS order."""

    def __init__(self, orders: pd.DataFrame):
        self.rows = {
            int(r[0]): (int(r[0]), int(r[1]), r[2], float(r[3]), r[4])
            for r in orders[_MM_COLS].itertuples(index=False)
        }

    def upsert(self, row: tuple) -> int:
        self.rows[row[0]] = row
        return 1

    def copy_range(self, lo: int, hi: int) -> int:
        src = [r for k, r in self.rows.items() if lo <= k <= hi]
        for r in src:
            self.rows[r[0] + _MM_COPY_OFFSET] = (r[0] + _MM_COPY_OFFSET, r[1], "O", r[3], r[4])
        return len(src)

    def delete_range(self, lo: int, hi: int) -> int:
        gone = [k for k in self.rows if lo <= k <= hi]
        for k in gone:
            del self.rows[k]
        return len(gone)

    def frame(self, cols: list[str], where=lambda r: True) -> pd.DataFrame:
        idx = [_MM_COLS.index(c) for c in cols]
        return pd.DataFrame(
            [tuple(r[i] for i in idx) for r in self.rows.values() if where(r)],
            columns=cols,
        )


def mutation_mix(h) -> None:
    """Writes beside reads through Engine.sql on a managed table with a
    covered index, then a compaction and a read after it."""
    import pyarrow.parquet as pq

    from phoenix_spark.engine import Engine

    from parity import compare
    from sysprobe import dir_bytes

    sf_dir = h.data(0.01)
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pandas()
    model = _MutationModel(orders)
    n_orders = len(orders)
    r = random.Random(h.seed)

    def fresh_engine():
        return h.attach(Engine, sf_dir, h.scratch("warehouse", fresh=True))

    engine = h.repeat_setup("catalog.attach", fresh_engine, times=3)

    def seed_table():
        engine.sql(_MM_CREATE)
        n = engine.sql(_MM_SEED)
        engine.sql(_MM_INDEX)
        return n

    seeded = h.setup_step("mutations.seed", seed_table)  # also the warm-up
    checks: list = []

    def expect_count(rec, got, want):
        if got != want:
            h.wrong(rec, [f"count {got} != model {want}"])

    h.verify("seed_count", [] if seeded == n_orders else [f"{seeded} != {n_orders}"])

    def key() -> int:
        return r.randrange(2 * n_orders)

    def run(kind: str) -> None:
        if kind == "upsert_values":
            row = (
                key(),
                r.randrange(n_orders // 10),
                r.choice("FOP"),
                round(r.uniform(1000, 500000), 2),
                r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
            )
            rec, got = h.op("write", kind, lambda: engine.sql(_MM_UPSERT_VALUES, list(row)))
            if rec["ok"]:
                expect_count(rec, got, model.upsert(row))
        elif kind == "upsert_select":
            lo = r.randrange(n_orders)
            hi = lo + r.randrange(5, 40)
            rec, got = h.op("write", kind, lambda: engine.sql(_MM_UPSERT_SELECT, [lo, hi]))
            if rec["ok"]:
                expect_count(rec, got, model.copy_range(lo, hi))
        elif kind == "delete_range":
            lo = r.randrange(n_orders)
            hi = lo + r.randrange(5, 40)
            rec, got = h.op("write", kind, lambda: engine.sql(_MM_DELETE, [lo, hi]))
            if rec["ok"]:
                expect_count(rec, got, model.delete_range(lo, hi))
        elif kind == "point_select":
            k = r.randrange(n_orders)
            cols = _MM_COLS[:4]
            rec, out = h.op("read", kind, lambda: h.select(engine, _MM_POINT, [k]))
            want = model.frame(cols, lambda row: row[0] == k)
            checks.append((rec, out, want))
        elif kind == "index_range_select":
            lo = r.randrange(n_orders // 10)
            hi = lo + r.randrange(0, 3)
            cols = ["o_custkey", "o_totalprice"]
            rec, out = h.op(
                "read", kind, lambda: h.select(engine, _MM_INDEX_RANGE, [lo, hi]),
                index_eligible="mm_cust",
            )
            want = model.frame(cols, lambda row: lo <= row[1] <= hi)
            checks.append((rec, out, want))

    def ddl_pair() -> None:
        """ALTER TABLE ADD and CREATE VIEW, each read by the next statement."""
        h.op("ddl", "alter_add", lambda: engine.sql(_MM_ALTER))
        k = r.randrange(n_orders)
        rec, out = h.op("read", "alter_read", lambda: h.select(engine, _MM_NOTE_READ, [k]))
        want = model.frame(["o_orderkey"], lambda row: row[0] == k).assign(o_note=None)
        checks.append((rec, out, want))
        h.op("ddl", "create_view", lambda: engine.sql(_MM_VIEW))
        lo = r.randrange(n_orders)
        hi = lo + r.randrange(20, 80)
        rec, out = h.op(
            "read", "view_read", lambda: h.select(engine, _MM_VIEW_READ, [lo, hi])
        )
        want = model.frame(
            ["o_orderkey", "o_totalprice"],
            lambda row: lo <= row[0] <= hi and row[2] == "O",
        )
        checks.append((rec, out, want))

    # the one round of --seconds 20 takes 25-30 s on 4 cores at this commit,
    # the DDL pair and compaction included; later rounds add 15-20 s each
    with h.timed():
        for i in range(3 * h.rounds(20)):
            if i == 2:
                ddl_pair()
            run(_MM_CYCLE[i % len(_MM_CYCLE)])

        table = engine.managed("mm")
        stored = [table.dir, engine.managed("mm_cust").dir]
        before = sum(dir_bytes(d) for d in stored)
        h.op("compact", "compact", table.compact)
        h.extra["space_amp"] = before / max(1, sum(dir_bytes(d) for d in stored))
        lo = r.randrange(n_orders)
        hi = lo + r.randrange(20, 80)
        # Known defect: the temp view registered for mm still lists the
        # segments compact() deleted, so this read fails with
        # FAILED_READ_FILE.FILE_NOT_EXIST.  It counts as a failed op.
        rec, out = h.op(
            "read", "read_after_compact",
            lambda: h.select(engine, _MM_RANGE_READ, [lo, hi]),
        )
        checks.append(
            (rec, out, model.frame(_MM_COLS[:4], lambda row: lo <= row[0] <= hi))
        )

    def check() -> None:
        for rec, out, want in checks:
            if rec["ok"]:
                problems = compare(_frame(*out), want)
                if problems:
                    h.wrong(rec, problems)
        got = table.read().toPandas()[_MM_COLS]
        h.verify("final_read", compare(got, model.frame(_MM_COLS)))

    h.check(check)


# -- builders ----------------------------------------------------------------

# Relational headline builders alternating with dedup / pipeline /
# multimodal ones; a round runs all six.  Builders whose output has ~10^5
# rows or more, or whose DuckDB oracle takes several seconds, are left out:
# their check alone would not fit a run's time budget.
BUILDERS = [
    ("olap", "q1_pricing_summary"),
    ("llm", "dedup_minhash_lsh"),
    ("olap", "q3_shipping_priority"),
    ("llm", "pipeline_curate_e2e"),
    ("olap", "window_rank_topn"),
    ("llm", "mm_frame_sample"),
]


def builders(h) -> None:
    """Headline DataFrame builders at sf0.1, each forced with a noop write."""
    from phoenix_spark.queries import all_oracles, all_queries

    from parity import compare

    sf_dir = h.data(0.1)
    queries, oracles = all_queries(), all_oracles()
    spark = h.spark
    outputs = {}

    def warm_and_collect(name: str):
        # The untimed warm-up pass collects every output at the measured
        # scale, so the check below compares the same data the timed
        # passes read.
        outputs[name] = queries[name](spark, sf_dir).toPandas()
        spark.catalog.clearCache()

    for _family, name in BUILDERS:
        h.setup_step("warmup", lambda n=name: warm_and_collect(n))

    def check() -> None:
        con = _duck(sf_dir)
        for _family, name in BUILDERS:
            h.verify(name, compare(outputs[name], con.execute(oracles[name]).df()))

    h.check(check)

    # a round of the six builders takes ~10 s on 4 cores at this commit
    with h.timed():
        for _ in range(h.rounds(10)):
            for family, name in BUILDERS:
                spark.catalog.clearCache()
                h.op("build", name, lambda n=name: h.force(queries[n], sf_dir), family=family)


# `builders` is not in BENCHMARK.json: a run of it does not fit the
# contract's time budget (README); run it by name.
WORKLOADS = {
    "sql_interactive": sql_interactive,
    "mutation_mix": mutation_mix,
    "builders": builders,
}
