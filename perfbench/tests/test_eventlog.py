"""The event-log parser on a small captured Spark 4.1 log: a shuffled
join + aggregate (SQL execution 0, adaptive) and a pandas UDF select
(execution 1), reduced to the fields the parser reads."""

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
T_EXEC1_JOB = 1792205912.701  # submission of the pandas-UDF job (s)


def test_parse_jobs_stages_and_plans():
    log = eventlog.parse(LOG)
    assert [j.job_id for j in log.jobs] == [1, 0, 2, 3]
    assert [j.execution_id for j in log.jobs] == [0, 0, 0, 1]
    assert sorted(log.stages) == [0, 1, 4, 5]
    assert [s for s, st in log.stages.items() if st.python] == [5]
    # the final adaptive plan of execution 0: one sort-merge join over
    # two shuffle exchanges; execution 1 has no exchange
    assert log.executions[0].plan_counts == {
        "smj": 1, "shj": 0, "bhj": 0, "exchanges": 2}
    assert log.executions[1].plan_counts["exchanges"] == 0


def test_window_totals_whole_log():
    tot = eventlog.window_totals(eventlog.parse(LOG), [(0.0, 4e9)])
    assert tot["jobs"] == 4 and tot["stages"] == 4 and tot["tasks"] == 7
    assert tot["empty_tasks"] == 0
    assert tot["py_tasks"] == 2
    assert abs(tot["py_run_s"] - 4.976) < 1e-9
    assert abs(tot["run_s"] - 6.467) < 1e-9
    assert abs(tot["cpu_s"] - 0.936810948) < 1e-9
    assert abs(tot["gc_s"] - 0.104) < 1e-9
    assert tot["shuffle_write_mb"] * 2**20 == 2840
    # execution start -> first job: 1.923 s (exec 0) + 0.144 s (exec 1)
    assert abs(tot["plan_s"] - 2.067) < 1e-9
    assert tot["aqe.smj"] == 1 and tot["aqe.exchanges"] == 2


def test_window_attribution_by_job_submission():
    log = eventlog.parse(LOG)
    late = eventlog.window_totals(log, [(T_EXEC1_JOB - 0.01, 4e9)])
    assert late["jobs"] == 1 and late["tasks"] == 2
    assert late["py_tasks"] == 2 and late["aqe.smj"] == 0
    early = eventlog.window_totals(log, [(0.0, T_EXEC1_JOB - 0.01)])
    assert early["jobs"] == 3 and early["py_tasks"] == 0
    none = eventlog.window_totals(log, [])
    assert none["jobs"] == 0 and none["tasks"] == 0


def test_rolling_directory_layout(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = open(LOG).read().splitlines(keepends=True)
    (d / "events_2_local-1").write_text("".join(lines[10:]))
    (d / "events_1_local-1").write_text("".join(lines[:10]))
    (d / "appstatus_local-1").write_text("")
    a = eventlog.window_totals(eventlog.parse(str(tmp_path)), [(0.0, 4e9)])
    b = eventlog.window_totals(eventlog.parse(LOG), [(0.0, 4e9)])
    assert a == b


def test_torn_last_line_is_ignored(tmp_path):
    p = tmp_path / "log"
    shutil.copy(LOG, p)
    with open(p, "a") as fh:
        fh.write('{"Event":"SparkListenerTaskEnd","Stage ID":5,"Task')
    assert eventlog.window_totals(eventlog.parse(str(p)), [(0.0, 4e9)])[
        "tasks"] == 7
