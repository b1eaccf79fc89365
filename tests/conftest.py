from __future__ import annotations

import os

import pytest

from duckdb_cluster_hash_spark.session import start_session

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MEDIUM = os.environ.get("SPARK_GRAFT_SF_MEDIUM", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    return start_session()


@pytest.fixture(scope="module", autouse=True)
def _release_engine_caches():
    """Per-module cache hygiene for the shared test JVM: the dedup
    family memo (localCheckpoint blocks) and the ranking pins
    (persist-backed) both exist to share work WITHIN a family/module;
    letting them accumulate across the whole 630-test suite pushed the
    single JVM into GC-starvation flakes (observed: late plan tests
    dying with Py4J NPEs after ~20 min of accumulated blocks).  Both
    releases are semantics-free: memos rebuild from lineage, pins
    recompute deterministically."""
    yield
    try:
        from duckdb_cluster_hash_spark.operators.dedup import clear_shared_cache
        from duckdb_cluster_hash_spark.operators.ranking import release_rank_pins

        clear_shared_cache()
        release_rank_pins()
    except Exception:
        pass


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    return SF_MEDIUM
