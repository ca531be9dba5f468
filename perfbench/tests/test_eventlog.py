"""Event-log parser checks over a small recorded Spark 4.1 log (a pandas
UDF query under one job description, then a parquet write under
another), trimmed to the events and fields the parser reads.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG_DIR = os.path.join(HERE, "data", "eventlog_v2_local-fixture")


@pytest.fixture(scope="module")
def log():
    return eventlog.load(LOG_DIR)


def test_reads_rolled_directory_and_its_parent():
    direct = eventlog.load(LOG_DIR)
    via_parent = eventlog.load(os.path.join(HERE, "data"))
    assert sorted(direct.jobs) == sorted(via_parent.jobs) == [0, 1, 2]


def test_jobs_carry_span_descriptions(log):
    assert [log.jobs[j].span_id for j in (0, 1, 2)] == [1, 1, 2]
    assert log.jobs[0].description == "span=1 udf"
    assert [log.jobs[j].sql_id for j in (0, 1, 2)] == [0, 0, 1]
    assert log.jobs[2].end_ms - log.jobs[2].submit_ms == 1197


def test_skipped_stages_are_not_listed(log):
    # job 1 lists stage 1, whose shuffle output job 0 already produced
    assert log.jobs[1].stage_ids == [1, 2]
    assert [s.stage_id for s in log.job_stages(log.jobs[1])] == [2]


def test_sql_executions_resolve_to_roots(log):
    assert log.root_execution(log.jobs[1]) == 0
    assert log.root_execution(log.jobs[2]) == 1


def test_stage_task_metrics(log):
    udf = log.stages[0]
    assert udf.wall_ms == 3620
    assert len(udf.tasks) == 2
    assert udf.total("run_ms") == 3172 + 3169
    assert udf.total("cpu_ns") == 546161551 + 431716054
    assert udf.total("gc_ms") == 54
    assert udf.total("shuffle_write_bytes") == 59 + 133
    assert udf.total("input_records") == 2000


def test_python_sql_metrics(log):
    udf = log.stages[0]
    assert udf.python_total("sent_bytes") == 10296 + 9192
    assert udf.python_total("received_bytes") == 8144 * 2
    assert udf.python_total("boot_ms") == 1588 + 1579
    assert udf.python_total("init_ms") == 679 + 740
    assert udf.python_total("total_ms") == 2679 + 2748
    # stages without a Python node report none
    assert log.stages[3].python_total("total_ms") == 0


def test_init_counts_only_on_nodes_that_started_a_worker():
    # two Python nodes in one task: the first ran on a reused worker (no
    # "start" entry; its initialize value is idle wait), the second
    # started a worker
    accs = [(1, "time to initialize Python workers", 10297),
            (2, "time to run Python workers", 1052),
            (3, "time to start Python workers", 11),
            (4, "time to initialize Python workers", 1237),
            (5, "time to run Python workers", 1514)]
    log = eventlog.parse([{
        "Event": "SparkListenerTaskEnd", "Stage ID": 7,
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": n, "Update": str(u)} for i, n, u in reversed(accs)]},
    }])
    st = log.stages[7]
    assert st.python_total("init_ms") == 1237
    assert st.python_total("boot_ms") == 11
    assert st.python_total("total_ms") == 1052 + 1514


def test_task_skew_uses_heaviest_stage(log):
    # stage 0 has the most executor run time; task durations 3342, 3381
    assert eventlog.task_skew(log.stages.values()) == pytest.approx(
        3381 / ((3342 + 3381) / 2))
    assert eventlog.task_skew([]) == 1.0


def test_union_ms():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 30), (30, 30)]) == 25
    assert eventlog.union_ms([(10, 20), (0, 40)]) == 40
