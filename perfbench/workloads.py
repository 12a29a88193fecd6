"""Workload definitions: query lists, the seeded DML script and its DuckDB replay.

The seed is the only input that varies between runs. It permutes query order
for the two query workloads and generates every statement of the
``session_dml`` script; the datasets are fixed (see ``datagen.py``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# A fixed subset of bench.py's 29 HEADLINE queries. The whole list takes
# ~32 s cold and ~17-20 s per warm pass on 4 cores, which does not fit the
# run budget (see README.md); these 8 keep its spread of plan shapes:
# broadcast joins (q3, q5), a multi-join with semi and anti joins (q21), a
# wide group-by with a semi join (q18), a scan aggregate (q1), a correlated
# subquery (q2), an outer-join count (q13) and an event-time window.
HEADLINE_QUERIES = (
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q5", "tpch_q13", "tpch_q18", "tpch_q21",
    "events_tumbling_window",
)

# TPC-H queries whose sf1 time is mostly operator work: the lineitem scan
# and aggregate (q1, q6), broadcast and shuffle joins (q3, q12), and a wide
# shuffle aggregate with a semi join (q18).
TPCH_SF1_QUERIES = ("tpch_q1", "tpch_q3", "tpch_q6", "tpch_q12", "tpch_q18")


@dataclass(frozen=True)
class Workload:
    name: str
    data: str  # dataset directory name under the data root
    queries: tuple[str, ...] = ()  # empty for the DML workload
    cycle: int = 1  # passes before the statement keys repeat


# why each was chosen: README.md and BENCHMARK.json
WORKLOADS = {
    w.name: w
    for w in (
        Workload("headline_sf0.1", "sf0.1", HEADLINE_QUERIES),
        Workload("tpch_sf1", "sf1", TPCH_SF1_QUERIES),
        Workload("session_dml", "sf0.1", cycle=2),
    )
}


# --------------------------------------------------------------------------- #
# session_dml script
# --------------------------------------------------------------------------- #

DML_TABLE = "bench_orders"
DML_COLUMNS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
# Every 5th order: statement latency is fixed cost and did not change with
# the table's size, while the final-state check takes 1 s here against 6 s
# for the whole of orders.
DML_CREATE = (f"CREATE TABLE {DML_TABLE} AS SELECT {DML_COLUMNS} FROM orders "
              f"WHERE o_orderkey % 5 = 0")
# One checkpoint cycle of the managed table: 16 writes (the session
# checkpoints every 16th mutation) and 10 reads spread evenly between them,
# ~60% writes. A round (one pass) is half a cycle, 8 writes and 5 reads, so
# rounds alternate between the first and the second half. The order is
# fixed: a read's cost grows with the number of mutations since the last
# checkpoint, so a seeded order moved the time of a cycle by 40% between
# seeds.
CYCLE_KINDS = (
    "insert", "select", "update", "select", "insert", "delete", "select", "insert",
    "merge", "select", "update", "select", "insert", "delete", "select", "insert",
    "select", "update", "insert", "select", "merge", "delete", "select", "update",
    "select", "insert",
)
WRITE_KINDS = frozenset({"insert", "update", "delete", "merge"})
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass(frozen=True)
class Statement:
    slot: int  # position in the checkpoint cycle, the key medians are taken over
    kind: str
    sql: str  # what Session.sql runs
    duck: tuple[str, ...]  # the same statement for DuckDB 1.0


def _insert(rng: random.Random, key: int) -> tuple[str, tuple[str, ...]]:
    rows = []
    for j in range(rng.randint(1, 4)):
        rows.append(
            f"({key + j}, {rng.randrange(15000)}, '{rng.choice('OFP')}', "
            f"{rng.randrange(100000, 50000000) / 100:.2f}, "
            f"TIMESTAMP '{rng.randint(1995, 2001)}-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d} 00:00:00', '{rng.choice(_PRIORITIES)}')"
        )
    sql = f"INSERT INTO {DML_TABLE} VALUES {', '.join(rows)}"
    return sql, (sql,)


def _update(rng: random.Random, template: int) -> tuple[str, tuple[str, ...]]:
    r = rng.randrange(50)
    sql = ((
        f"UPDATE {DML_TABLE} SET o_totalprice = o_totalprice + 1.25 "
        f"WHERE o_custkey % 97 = {r}",
        f"UPDATE {DML_TABLE} SET o_orderpriority = '{rng.choice(_PRIORITIES)}' "
        f"WHERE o_orderkey % 89 = {r}",
        f"UPDATE {DML_TABLE} SET o_orderstatus = 'F', o_totalprice = o_totalprice - 0.5 "
        f"WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00' AND o_custkey % 53 = {r}",
    ))[template]
    return sql, (sql,)


def _delete(rng: random.Random) -> tuple[str, tuple[str, ...]]:
    sql = f"DELETE FROM {DML_TABLE} WHERE o_orderkey % 1009 = {rng.randrange(1009)}"
    return sql, (sql,)


def _merge(rng: random.Random, new_key_base: int) -> tuple[str, tuple[str, ...]]:
    r = rng.randrange(997)
    src = (
        f"SELECT {DML_COLUMNS} FROM orders WHERE o_orderkey % 997 = {r} "
        f"UNION ALL SELECT o_orderkey + {new_key_base} AS o_orderkey, o_custkey, "
        f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
        f"FROM orders WHERE o_orderkey % 1999 = {r}"
    )
    sql = (
        f"MERGE INTO {DML_TABLE} t USING ({src}) s ON t.o_orderkey = s.o_orderkey "
        f"WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 2.5 "
        f"WHEN NOT MATCHED THEN INSERT *"
    )
    # DuckDB 1.0 has no MERGE: UPDATE ... FROM for the matched arm, then
    # INSERT ... WHERE NOT EXISTS for the rest (keys never change, so the
    # update cannot alter which source rows match)
    duck = (
        f"UPDATE {DML_TABLE} AS t SET o_totalprice = s.o_totalprice + 2.5 "
        f"FROM ({src}) AS s WHERE t.o_orderkey = s.o_orderkey",
        f"INSERT INTO {DML_TABLE} SELECT s.* FROM ({src}) AS s WHERE NOT EXISTS "
        f"(SELECT 1 FROM {DML_TABLE} t WHERE t.o_orderkey = s.o_orderkey)",
    )
    return sql, duck


def _select(rng: random.Random, template: int) -> tuple[str, tuple[str, ...]]:
    r = rng.randrange(100)
    sql = ((
        f"SELECT o_orderpriority, count(*) AS n, "
        f"CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS total "
        f"FROM {DML_TABLE} WHERE o_orderdate >= TIMESTAMP '{rng.randint(1995, 2000)}-01-01 "
        f"00:00:00' GROUP BY o_orderpriority",
        f"SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS mx "
        f"FROM {DML_TABLE} WHERE o_custkey % 7 = {r % 7} GROUP BY o_orderstatus",
        f"SELECT count(*) AS n, count(DISTINCT o_custkey) AS c FROM {DML_TABLE} "
        f"WHERE o_totalprice > {rng.randrange(1000, 400000)}",
        f"SELECT CAST(year(o_orderdate) AS BIGINT) AS y, count(*) AS n "
        f"FROM {DML_TABLE} GROUP BY CAST(year(o_orderdate) AS BIGINT)",
        f"SELECT o_custkey, count(*) AS n FROM {DML_TABLE} "
        f"WHERE o_custkey % 100 = {r} GROUP BY o_custkey",
    ))[template]
    return sql, (sql,)


def dml_round(seed: int, index: int) -> list[Statement]:
    """Round ``index`` of the script for ``seed``: the first half of the
    checkpoint cycle for even ``index``, the second half for odd.

    Slot ``k`` is the same kind of statement at the same depth of the cycle
    in every cycle; SELECT and UPDATE templates cycle through the cycle. The
    seed draws every parameter: keys, rows, predicates and values. New keys
    are unique per (round, slot), so the table keeps one row per key and
    every MERGE source row matches at most one target row."""
    rng = random.Random(seed * 1_000_003 + index)
    half = len(CYCLE_KINDS) // 2
    out = []
    for slot in range(index % 2 * half, index % 2 * half + half):
        kind = CYCLE_KINDS[slot]
        template = CYCLE_KINDS[:slot].count(kind)  # earlier statements of this kind
        new_key = 100_000_000 + index * 1_000_000 + slot * 10_000
        if kind == "insert":
            sql, duck = _insert(rng, new_key)
        elif kind == "update":
            sql, duck = _update(rng, template % 3)
        elif kind == "delete":
            sql, duck = _delete(rng)
        elif kind == "merge":
            sql, duck = _merge(rng, 1_000_000_000 + index * 100_000_000 + slot * 1_000_000)
        else:
            sql, duck = _select(rng, template % 5)
        out.append(Statement(slot, kind, sql, duck))
    return out
