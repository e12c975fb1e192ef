"""Job-id window attribution counts every job a streaming op starts,
including the micro-batch jobs that do not carry the caller's group."""

import os

import numpy as np
import pytest

from perfbench import gen
from perfbench.trace import Tracer


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from automated_review_analysis_pipeline_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]",
                  extra_confs={"spark.ui.showConsoleProgress": "false",
                               "spark.ui.enabled": "false"})
    yield s
    s.stop()


def _jobs_submitted_between(spark, start_ms: float, end_ms: float) -> set:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        sub = job.submissionTime()
        if sub.isDefined() and start_ms <= sub.get().getTime() <= end_ms:
            out.add(job.jobId())
    return out


def test_streaming_op_window_counts_every_job(spark, tmp_path):
    from automated_review_analysis_pipeline_spark.streaming.docs_stream import (
        streaming_set_similarity,
    )

    tables = str(tmp_path / "tables")
    gen.write_tables(np.random.default_rng(5), tables, 60)
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-caller", "caller's group")
    tracer = Tracer(spark, enabled=True)
    with tracer.op("streaming_set_similarity"):
        streaming_set_similarity(
            spark, os.path.join(tables, "documents.parquet"),
            str(tmp_path / "stream"), threshold=0.5).collect()
    tracer.finish()
    rec = tracer.ops[-1]["rec"]
    span = tracer.spans[-1]
    window = set(rec["job_ids"])
    in_time = _jobs_submitted_between(spark, span["start"] * 1e3 - 1,
                                      span["end"] * 1e3 + 1)
    grouped = set(sc.statusTracker().getJobIdsForGroup("perfbench-caller"))
    assert window and window == in_time
    assert rec["jobs"] == len(window)
    assert grouped < window  # group attribution would miss some jobs
    assert rec["streaming.batches"] >= 1
