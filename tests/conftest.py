import os
import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"

# --------------------------------------------------------------------------- #
# Default-run test selection (VERDICT r12 task 2).
#
# The full suite includes multi-minute property soaks, subprocess-spawning
# zone sweeps, and a registry-wide plan audit; on a degraded host it runs
# 45-70 minutes wall, which exceeds the round driver's pytest budget (the
# VERIFY_r12 run was cut off at 95% with zero failures). Tests marked
# ``slow`` — plus the two parametrized outliers below, whose sibling params
# are fast — are therefore SKIPPED by default so `python -m pytest tests/`
# finishes well inside budget (~970s of the measured 2730s remains, ~8 min
# on a healthy box). The skips are visible in the summary, never silent.
#
# The full suite remains the builder's pre-commit gate:
#   QS_FULL_TESTS=1 python -m pytest tests/ -q
# A slow test the invocation asks for — named by node id, or selected with a
# ``-m`` expression that names ``slow`` — runs without the env var:
#   python -m pytest tests/test_dml_property.py::test_dml_sequence_matches_model
#   python -m pytest tests/ -m slow
# --------------------------------------------------------------------------- #

_SLOW_NODE_IDS = {
    # 64s: the one multi-minute file of the otherwise-fast slt corpus sweep
    "tests/test_slt_corpus.py::test_reference_slt_file[join.slt]",
    # 24s: the LSH entry spawns the full 8-table SRP pipeline on empty input
    "tests/test_empty_inputs.py::test_entry_handles_empty_input[ann_lsh_topk]",
}


def _named_node_ids(config) -> set[str]:
    """Node ids named on the command line (``path::name[...]`` arguments),
    rewritten relative to the rootdir the way pytest spells ``item.nodeid``."""
    named = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if not sep:
            continue
        full = Path(config.invocation_params.dir, path).resolve()
        try:
            rel = full.relative_to(config.rootpath).as_posix()
        except ValueError:
            continue
        named.add(f"{rel}::{rest}")
    return named


def _asked_for(item, named: set[str], slow_marker_selected: bool) -> bool:
    if slow_marker_selected and "slow" in item.keywords:
        return True
    # naming a test selects all of its parametrizations; naming a class,
    # all of its methods
    return any(
        item.nodeid == n or item.nodeid.startswith((n + "[", n + "::"))
        for n in named
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("QS_FULL_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow soak/property/subprocess test; QS_FULL_TESTS=1 to run"
    )
    named = _named_node_ids(config)
    markexpr = config.getoption("markexpr") or ""
    slow_marker_selected = bool(
        re.search(r"\bslow\b", markexpr) and not re.search(r"\bnot\s+slow\b", markexpr)
    )
    for item in items:
        if "slow" not in item.keywords and item.nodeid not in _SLOW_NODE_IDS:
            continue
        if not _asked_for(item, named, slow_marker_selected):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from qurious_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="session")
def session(spark):
    from qurious_spark import Session

    s = Session(spark)
    from qurious_spark.sources import load_tables

    load_tables(spark, SF_SMOKE)
    return s


@pytest.fixture()
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        path = os.path.join(SF_SMOKE, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()
