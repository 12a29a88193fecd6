"""Bit-exact pins for the r13 size-gated final sort (queries/__init__.py
final_sort_small).

Every converted query must produce the EXACT same rows, in the EXACT same
order, with the EXACT same schema as the original single-statement ORDER BY
form — on BOTH sides of the size gate (COALESCE(1) + SORT BY below, plain
ORDER BY above). The gate env var (SPARK_GRAFT_LARGE_INPUT_BYTES) is read
per call, so both branches are exercised inside one session.
"""

from __future__ import annotations

import struct

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from qurious_spark.session import get_spark

    return get_spark()


def _bits(rows):
    out = []
    for r in rows:
        out.append(
            tuple(
                struct.pack(">d", v) if isinstance(v, float) else v for v in r
            )
        )
    return out


def assert_frames_bit_equal(a, b):
    assert a.schema == b.schema, f"schema drift:\n{a.schema}\n{b.schema}"
    assert _bits(a.collect()) == _bits(b.collect())


def test_sql_final_sort_queries_match_original(spark):
    """Each sql_query_final_sort entry == the original inner+ORDER BY text,
    rows AND order AND schema."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    assert q.FINAL_SORT_FORMS, "no final-sort queries registered"
    for name, (inner, order_by) in q.FINAL_SORT_FORMS.items():
        original = spark.sql(f"{inner}\n    ORDER BY {order_by}")
        assert_frames_bit_equal(original, q.REGISTRY[name](spark, SF))


DF_FORMS = ("tpch_q10", "tpch_q11", "tpch_q13", "tpch_q15")


def test_final_sort_above_gate_is_plain_orderby(spark, monkeypatch):
    """Forcing the gate low (threshold 0 => every input is 'large') must fall
    back to the untouched wide ORDER BY plan at every site, SQL and df
    forms — and the SQL forms must still match their original text."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    monkeypatch.setenv("SPARK_GRAFT_LARGE_INPUT_BYTES", "0")
    for name in (*q.FINAL_SORT_FORMS, *DF_FORMS):
        above = q.REGISTRY[name](spark, SF)
        plan = above._jdf.queryExecution().executedPlan().toString()
        assert "Coalesce" not in plan, f"{name}: gate=0 must keep the wide sort"
        assert "rangepartitioning" in plan, f"{name}: wide sort missing"
    for name, (inner, order_by) in q.FINAL_SORT_FORMS.items():
        original = spark.sql(f"{inner}\n    ORDER BY {order_by}")
        assert_frames_bit_equal(original, q.REGISTRY[name](spark, SF))


def test_final_sort_below_gate_plans_no_range_exchange(spark, monkeypatch):
    """Below the gate the plan must carry Coalesce(1) and NO
    rangepartitioning exchange (that exchange plus the RangePartitioner
    sampling job are exactly the two jobs the rewrite removes)."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    monkeypatch.setenv("SPARK_GRAFT_LARGE_INPUT_BYTES", str(1 << 40))
    for name in q.FINAL_SORT_FORMS:
        df = q.REGISTRY[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan, f"{name}: range sort survived"
        assert "Coalesce" in plan, f"{name}: coalesced sort missing"


def test_df_final_sort_queries_match_orderby(spark, monkeypatch):
    """The df-form call sites (tpch_q10/q11/q13/q15) must match their own
    orderBy variant on both gate branches."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    for name in DF_FORMS:
        monkeypatch.setenv("SPARK_GRAFT_LARGE_INPUT_BYTES", "0")
        wide = q.REGISTRY[name](spark, SF)
        monkeypatch.setenv("SPARK_GRAFT_LARGE_INPUT_BYTES", str(1 << 40))
        small = q.REGISTRY[name](spark, SF)
        assert_frames_bit_equal(wide, small)


def test_final_sort_parses_nulls_and_function_commas(spark):
    """The ORDER BY text goes through Spark's SQL parser on both branches:
    a comma inside a function call and an explicit NULLS LAST both keep
    their SQL meaning."""
    from qurious_spark.queries import final_sort_small

    df = spark.sql(
        "SELECT * FROM VALUES (1, NULL), (NULL, NULL), (2, 0), (3, 5), (NULL, 5)"
        " AS t(a, b)"
    )
    order_by = "coalesce(b, 0) DESC, a ASC NULLS LAST"
    expected = [(3, 5), (None, 5), (1, None), (2, 0), (None, None)]
    for large in (False, True):
        out = final_sort_small(df, order_by, large)
        assert [tuple(r) for r in out.collect()] == expected, large
        assert out.schema == df.schema


def test_duplicate_final_sort_name_leaves_forms_unchanged():
    """A duplicate registration raises before FINAL_SORT_FORMS is touched,
    so the pins never see a stale entry."""
    import qurious_spark.queries as q

    q.load_all()
    before = dict(q.FINAL_SORT_FORMS)
    with pytest.raises(ValueError, match="duplicate query name"):
        q.sql_query_final_sort("tpch_q1", "SELECT 1 AS x", order_by="x")
    assert q.FINAL_SORT_FORMS == before
