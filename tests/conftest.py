from __future__ import annotations

import itertools

import numpy as np
import pytest

from opensearch_jvector_plugin_spark.session import get_spark
from opensearch_jvector_plugin_spark.sources.transcripts import (
    synthesize_transcripts_pdf,
)

_JOB_GROUPS = itertools.count()


def spark_jobs(spark, fn):
    """(fn(), the number of Spark jobs it launched), counted by job group."""
    sc = spark.sparkContext
    group = f"ojs-test-jobs-{next(_JOB_GROUPS)}-{id(_JOB_GROUPS)}"
    sc.setJobGroup(group, "jobs probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app_name="ojs-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    """tiny = 20 convs x 5 turns = 100 docs (FIXTURES.md §1)."""
    pdf = synthesize_transcripts_pdf(np.arange(100), 20, 5, seed=42)
    pdf["doc_id"] = np.arange(100, dtype=np.int64)
    return pdf


@pytest.fixture(scope="session")
def small_corpus_pdf():
    """small = 2,000 turns (multi-partition + merge tests)."""
    pdf = synthesize_transcripts_pdf(np.arange(2000), 200, 10, seed=42)
    pdf["doc_id"] = np.arange(2000, dtype=np.int64)
    return pdf
