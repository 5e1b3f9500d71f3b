import gc
import itertools
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from terrier_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("terrier-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def jobs_of(spark):
    """jobs_of(action) -> the (jobs, tasks) `action()` runs, read from
    StatusTracker under a job group of its own."""
    groups = itertools.count()

    def count(action) -> tuple[int, int]:
        sc = spark.sparkContext
        group = f"test-jobs-of-{next(groups)}"
        sc.setJobGroup(group, "jobs_of", False)
        try:
            action()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)
        return len(jobs), tasks

    return count


@pytest.fixture(scope="session")
def py4j_commands(spark):
    """py4j_commands(action) -> the py4j commands `action()` sends from
    the calling thread, counted by wrapping the gateway client's
    send_command.  Not those of other threads, nor the detach commands
    of JVM handles garbage-collected before or during the action: py4j
    sends those whenever a handle is freed."""
    client = spark.sparkContext._gateway._gateway_client

    def count(action) -> int:
        gc.collect()
        sent = []
        send = client.send_command
        caller = threading.get_ident()

        def counting(*args, **kwargs):
            if threading.get_ident() == caller:
                sent.append(args[0][:1])
            return send(*args, **kwargs)

        client.send_command = counting
        gc.disable()
        try:
            action()
        finally:
            gc.enable()
            client.send_command = send
        return len(sent)

    return count
