"""Deterministic benchmark dataset, built from source inside the checkout.

The tables have the schema and value distributions of the project's
synthetic TPC-H-style testdata (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings; see TESTDATA.md). Every
value is a pure function of the row index through DuckDB's ``hash``, so the
output does not depend on thread count or run order. ``scale`` is the
TPC-H-style scale factor: 0.1 gives 600,000 lineitem rows.

The larger sf1 set is ``tools/make_scale.py --factor 10`` applied to sf0.1,
the same key-striding replication the project uses for scale validation.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("red", "blue", "hot", "cold", "new", "small", "large", "green")
PART_NOUN = ("bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "screw")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "en", "es", "fr", "de", "zh", "en", "en", "es", "fr",
         "de", "zh")
WORDS = (
    "a the spark batch part line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector customer join"
).split()


def _sql_list(values) -> str:
    return "[" + ", ".join("'" + v + "'" for v in values) + "]"


def _h(key: str, salt: int) -> str:
    """SQL expression: a 64-bit hash of the row key and a column salt.

    The salt is folded into the key before hashing: DuckDB's multi-argument
    ``hash(a, b)`` keeps the low bits of ``hash(a)``, so ``hash(i, 1) % 8``
    and ``hash(i, 2) % 8`` would be the same column."""
    return f"hash(({key}) * 1009 + {salt})"


def _u(key: str, salt: int) -> str:
    """SQL expression: uniform [0, 1) from the row key and a column salt."""
    return f"(({_h(key, salt)} % 1000000007) / 1000000007.0)"


def _pick(values, key: str, salt: int) -> str:
    return f"{_sql_list(values)}[1 + CAST({_h(key, salt)} % {len(values)} AS INTEGER)]"


def table_sql(scale: float) -> dict[str, str]:
    """One SELECT per table; ``i`` is the row index from ``range(n)``."""
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_line = max(10, int(6_000_000 * scale))
    n_evt = max(10, int(1_000_000 * scale))
    n_doc = max(10, int(50_000 * scale))
    n_emb = max(10, int(20_000 * scale))
    n_users = max(2, int(15_000 * scale))
    words = _sql_list(WORDS)
    doc_words = (
        f"list_transform(range(10 + CAST({_h('src', 3)} % 91 AS BIGINT)), "
        f"j -> {words}[1 + CAST({_h('src * 128 + j', 4)} % {len(WORDS)} AS INTEGER)])"
    )
    return {
        "region": (
            f"SELECT CAST(i AS INTEGER) AS r_regionkey, {_sql_list(REGIONS)}[i + 1] AS r_name "
            "FROM range(5) t(i)"
        ),
        "nation": (
            "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
            "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)"
        ),
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST({_h('i', 1)} % 25 AS INTEGER) AS c_nationkey,
                   round(-999.99 + {_u('i', 2)} * 10999.98, 2) AS c_acctbal,
                   {_pick(SEGMENTS, 'i', 3)} AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                   CAST({_h('i', 11)} % 25 AS INTEGER) AS s_nationkey,
                   round(-999.99 + {_u('i', 12)} * 10999.98, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {_pick(PART_ADJ, 'i', 21)} || ' ' || {_pick(PART_NOUN, 'i', 22)} AS p_name,
                   'Brand#' || (1 + {_h('i', 23)} % 25) AS p_brand,
                   {_pick(PART_TYPES, 'i', 24)} AS p_type,
                   CAST(1 + {_h('i', 25)} % 50 AS INTEGER) AS p_size,
                   round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey, CAST({_h('i', 31)} % {n_cust} AS BIGINT) AS o_custkey,
                   {_pick(('O', 'F', 'P'), 'i', 32)} AS o_orderstatus,
                   round(1000 + {_u('i', 33)} * 499000, 2) AS o_totalprice,
                   TIMESTAMP '1995-01-01' + to_days(CAST({_h('i', 34)} % 2404 AS INTEGER))
                       AS o_orderdate,
                   {_pick(PRIORITIES, 'i', 35)} AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""
            SELECT CAST({_h('i', 41)} % {n_ord} AS BIGINT) AS l_orderkey,
                   CAST({_h('i', 42)} % {n_part} AS BIGINT) AS l_partkey,
                   CAST({_h('i', 43)} % {n_supp} AS BIGINT) AS l_suppkey,
                   CAST(1 + {_h('i', 44)} % 7 AS INTEGER) AS l_linenumber,
                   CAST(1 + {_h('i', 45)} % 50 AS DOUBLE) AS l_quantity,
                   round(900 + {_u('i', 46)} * 104100, 2) AS l_extendedprice,
                   CAST({_h('i', 47)} % 11 AS DOUBLE) / 100 AS l_discount,
                   CAST({_h('i', 48)} % 9 AS DOUBLE) / 100 AS l_tax,
                   {_pick(('A', 'N', 'R'), 'i', 49)} AS l_returnflag,
                   {_pick(('O', 'F'), 'i', 50)} AS l_linestatus,
                   TIMESTAMP '1995-01-02' + to_days(CAST({_h('i', 51)} % 2498 AS INTEGER))
                       AS l_shipdate
            FROM range({n_line}) t(i)""",
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(CAST(
                       (i + {_u('i', 61)}) * (30 * 86400 * 1e6 / {n_evt}) AS BIGINT)) AS ts,
                   CAST({_h('i', 62)} % {n_users} AS BIGINT) AS user_id,
                   {_pick(EVENT_TYPES, 'i', 63)} AS event_type,
                   round(-ln(1 - {_u('i', 64)}) * 50, 2) AS value,
                   '{{"k": ' || ({_h('i', 65)} % 100) || '}}' AS props
            FROM range({n_evt}) t(i)""",
        # every 500th doc repeats its predecessor exactly and every 100th
        # (offset 7) repeats doc i-7 with one word appended, so the exact and
        # near-duplicate detectors have pairs to find
        "documents": f"""
            SELECT doc_id, text, {_pick(LANGS, 'doc_id', 71)} AS lang,
                   'src' || (doc_id % 20) AS source, CAST(length(text) AS BIGINT) AS n_chars
            FROM (
                SELECT i AS doc_id,
                       array_to_string({doc_words}, ' ')
                           || CASE WHEN i % 100 = 7 THEN ' near' ELSE '' END AS text
                FROM (SELECT i, CASE WHEN i % 500 = 1 THEN i - 1
                                     WHEN i % 100 = 7 THEN i - 7 ELSE i END AS src
                      FROM range({n_doc}) t(i))
            )""",
        "embeddings": f"""
            SELECT i AS vec_id,
                   CAST(list_transform(range(64), d -> round(
                       ({_u('i * 64 + d', 81)} + {_u('i * 64 + d', 82)}
                        + {_u('i * 64 + d', 83)} - 1.5) * 0.2, 6))
                       AS FLOAT[]) AS embedding,
                   CAST({_h('i', 84)} % 10 AS INTEGER) AS label
            FROM range({n_emb}) t(i)""",
    }


def build(scale: float, out: str) -> None:
    """Write every table as one parquet file under ``out`` (atomically)."""
    import duckdb

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name, sql in table_sql(scale).items():
        path = os.path.join(tmp, f"{name}.parquet")
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
    con.close()
    os.replace(tmp, out)


def build_scaled(repo: str, src: str, out: str, factor: int) -> None:
    """Replicate ``src`` ``factor`` times with ``tools/make_scale.py``."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "make_scale.py"),
         "--factor", str(factor), "--src", src, "--out", tmp],
        check=True, stdout=subprocess.DEVNULL, timeout=600,
    )
    os.replace(tmp, out)
