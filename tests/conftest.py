from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cnosdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"

# data-derived oracles (pq_ivf_ann codebook literals in __spark_entry__)
# must train on the same corpus the tests read — align before any test
# module imports the entry module
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)


# The Hypothesis fuzzers run in the default gate as a seeded slice; the
# full tier (SPARK_GRAFT_FULL_SLT=1) runs their whole budget, randomized.
FULL_TIER = os.environ.get("SPARK_GRAFT_FULL_SLT", "") == "1"


def fuzz_budget(full: int) -> dict:
    """Hypothesis settings for a fuzz test with a full budget of ``full``
    examples: all of them in the full tier, else a fifth of them (at least
    two), derandomized so every default run tests the same examples."""
    if FULL_TIER:
        return {"max_examples": full}
    return {"max_examples": max(2, full // 5), "derandomize": True, "database": None}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cnosdb_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()
