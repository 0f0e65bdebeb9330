"""Tests of the benchmark itself: the event-log parser, the store marker,
process clean-up and the twin check. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

``python3 perfbench/test_perfbench.py --record`` re-records the event-log
fixture (``testdata/eventlog_small.jsonl.gz``) from a small Spark job; the
expected numbers below then have to be read off the new log again.
"""

from __future__ import annotations

import gzip
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import inputs  # noqa: E402
import procstat  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata", "eventlog_small.jsonl.gz")
# the parquet files the recorded 'write' group left on disk, summed
WRITTEN_BYTES = 4977
KEEP_EVENTS = (
    "SparkListenerJobStart",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
)


# ---------------------------------------------------------------------------
# event-log parser
# ---------------------------------------------------------------------------


def _raw_task_ends(group: str) -> list[dict]:
    """TaskEnd events of ``group``, found without the parser: a second,
    deliberately naive reading of the same file."""
    with gzip.open(FIXTURE, "rt") as fh:
        events = [json.loads(line) for line in fh]
    stages = set()
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            if ev["Properties"].get("spark.jobGroup.id") == group:
                stages.update(ev["Stage IDs"])
    return [e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]


def test_eventlog_groups_and_task_counts():
    groups = eventlog.parse(FIXTURE)
    assert {"py", "shuffle", "write", "scan", "fail"} <= set(groups)
    for name in ("py", "shuffle", "write", "scan", "fail"):
        raw = _raw_task_ends(name)
        assert groups[name].tasks == len(raw) > 0
        failed = [e for e in raw if e["Task End Reason"]["Reason"] != "Success"]
        assert groups[name].failed_tasks == len(failed)
    assert groups["fail"].failed_tasks >= 1
    assert groups["py"].failed_tasks == groups["shuffle"].failed_tasks == 0


def test_eventlog_node_metrics_map_to_their_node():
    groups = eventlog.parse(FIXTURE)
    assert set(groups["py"].nodes) == {"MapInPandas"}
    node = groups["py"].nodes["MapInPandas"]
    # 4,000 longs go to the workers and come back unchanged, in Arrow batches
    assert node["bytes_sent"] >= 4000 * 8
    assert node["bytes_recv"] >= 4000 * 8
    assert "run_ms" in node
    assert groups["shuffle"].nodes == {}
    assert groups["scan"].nodes == {"Scan parquet": {"files_read_bytes": WRITTEN_BYTES}}


def test_eventlog_shuffle_write_and_executions():
    groups = eventlog.parse(FIXTURE)
    assert groups["shuffle"].task["shuffle_write_bytes"] > 0
    assert groups["py"].task["shuffle_write_bytes"] == 0
    write = groups["write"]
    assert [e["write"] for e in write.executions.values()] == [True]
    assert write.task["output_bytes"] == WRITTEN_BYTES
    assert all(not e["write"] for e in groups["py"].executions.values())
    assert all(e["ms"] >= 0 for g in groups.values() for e in g.executions.values())
    cpu = sum(e["Task Metrics"]["Executor CPU Time"] for e in _raw_task_ends("shuffle"))
    assert groups["shuffle"].task["cpu_ns"] == cpu > 0


# ---------------------------------------------------------------------------
# store marker
# ---------------------------------------------------------------------------


def _fake_store(path, key):
    os.makedirs(path / "kind=PV")
    (path / "kind=PV" / "part-00000.parquet").write_bytes(b"rows")
    marker = {"input_key": key, "files": inputs._file_hashes(str(path)), "twin": [1, 2, 3]}
    (path / inputs.MARKER).write_text(json.dumps(marker))


def test_store_reused_only_when_marker_and_hashes_match(tmp_path):
    store = tmp_path / "s"
    key = inputs.input_key("exam", 7)
    _fake_store(store, key)
    assert inputs.store_is_complete(str(store), key)
    assert not inputs.store_is_complete(str(store), inputs.input_key("exam", 8))
    (store / "kind=PV" / "part-00000.parquet").write_bytes(b"torn")
    assert not inputs.store_is_complete(str(store), key)


def test_store_without_marker_is_partial(tmp_path):
    store = tmp_path / "s"
    key = inputs.input_key("html", 7)
    _fake_store(store, key)
    (store / inputs.MARKER).unlink()
    assert not inputs.store_is_complete(str(store), key)


def test_inputs_follow_the_seed():
    a, b = inputs.documents(5), inputs.documents(5)
    assert a.equals(b)
    c = inputs.documents(6)
    assert not a["text"].equals(c["text"])
    assert len(a) == len(c) == inputs.N_DOCS


def test_staging_leaves_no_resource_tracker_running():
    from multiprocessing import resource_tracker

    pages, twin = inputs._generate("html", inputs.documents(5).iloc[:8])
    assert len(pages) == twin[0] == 8
    assert resource_tracker._resource_tracker._pid is None


def test_wait_ended_reaps_and_kills():
    import subprocess

    quick = subprocess.Popen([sys.executable, "-c", "pass"])
    assert procstat.wait_ended([quick.pid], timeout=30) == []
    assert not procstat.alive(quick.pid)
    stuck = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    assert procstat.wait_ended([stuck.pid], timeout=0.5) == [stuck.pid]
    assert not procstat.alive(stuck.pid)


# ---------------------------------------------------------------------------
# twin check (Spark)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from enem_spark.session import get_spark

    s = get_spark("perfbench-test", cores=2, shuffle_partitions=4, driver_memory="2g")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def exam_case(spark, tmp_path_factory):
    """Two whole exams (48 pages) through extract_questions, and the twin."""
    import run

    docs = inputs.documents(3).iloc[:48]
    store = str(tmp_path_factory.mktemp("exam_store"))
    inputs._write_store("exam", inputs.exam_pages(docs), store, 3)
    out = run._exam_extract(spark, store)
    return out, inputs.twin_digest(inputs.exam_twin(docs))


def test_twin_check_accepts_the_program_output(exam_case):
    import run

    out, twin = exam_case
    assert twin[0] == 96  # 48 pages x 2 questions
    check = run.TwinCheck(twin)
    assert check.check(run.digest(out, inputs.EXAM_TWIN_COLS)) is None
    assert check.check(run.digest(out, inputs.EXAM_TWIN_COLS)) is None


def test_twin_check_rejects_one_flipped_answer(exam_case):
    from pyspark.sql import functions as F

    import run

    out, twin = exam_case
    first = out.orderBy("url", "seq").first()
    flip = F.when(F.col("correct_answer") == "A", "B").otherwise("A")
    hit = (F.col("url") == first["url"]) & (F.col("seq") == first["seq"])
    planted = out.withColumn(
        "correct_answer", F.when(hit, flip).otherwise(F.col("correct_answer"))
    )
    assert planted.filter(hit).count() == 1
    err = run.TwinCheck(twin).check(run.digest(planted, inputs.EXAM_TWIN_COLS))
    assert err == "twin-column digest differs from the twin"


def test_twin_check_rejects_a_missing_row(exam_case):
    import run

    out, twin = exam_case
    short = out.orderBy("url", "seq").limit(twin[0] - 1)
    err = run.TwinCheck(twin).check(run.digest(short, inputs.EXAM_TWIN_COLS))
    assert err == f"{twin[0] - 1} rows, twin has {twin[0]}"


# ---------------------------------------------------------------------------
# fixture recording
# ---------------------------------------------------------------------------


def _fail_on_first_partition(batches):
    from pyspark import TaskContext

    if TaskContext.get().partitionId() == 0:
        raise ValueError("planted task failure")
    yield from batches


def _identity(batches):
    yield from batches


def record(out_path: str) -> None:
    """Run the five small job groups the tests read and keep the events the
    parser uses."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from enem_spark.session import get_spark

    log_dir = tempfile.mkdtemp()
    spark = get_spark(
        "perfbench-eventlog-fixture",
        cores=4,
        extra={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    noop = lambda df: df.write.format("noop").mode("overwrite").save()
    sc.setJobGroup("py", "py")
    r = spark.range(0, 4000, 1, 4)
    noop(r.mapInPandas(_identity, r.schema))
    sc.setJobGroup("shuffle", "shuffle")
    noop(spark.range(0, 10000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count())
    sc.setJobGroup("write", "write")
    target = os.path.join(log_dir, "written")
    spark.range(0, 1000, 1, 2).write.parquet(target)
    written = sum(
        os.path.getsize(os.path.join(target, f))
        for f in os.listdir(target)
        if f.startswith("part-")
    )
    sc.setJobGroup("scan", "scan")
    noop(spark.read.parquet(target))
    sc.setJobGroup("fail", "fail")
    try:
        noop(r.mapInPandas(_fail_on_first_partition, r.schema))
    except Exception:  # the planted failure is the point of this group
        pass
    spark.stop()
    (log,) = [f for f in os.listdir(log_dir) if f.startswith("local-")]
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(os.path.join(log_dir, log)) as src, gzip.open(out_path, "wt") as dst:
        for line in src:
            if json.loads(line)["Event"] in KEEP_EVENTS:
                dst.write(line)
    shutil.rmtree(log_dir)
    print(f"recorded {out_path}; parquet bytes written by 'write': {written}")


if __name__ == "__main__" and "--record" in sys.argv:
    record(FIXTURE)
