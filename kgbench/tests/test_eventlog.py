"""Event-log reader on a tiny log recorded from a Spark 4.1 run (three
jobs of the corpus landing; per-task accumulables trimmed)."""

from pathlib import Path

from kgbench import eventlog
from kgbench.tracing import Span

LOG = Path(__file__).parent / "data" / "tiny_eventlog.json"


def _jobs():
    with open(LOG) as f:
        return eventlog.read_jobs(f)


def test_reads_jobs_and_sums_task_metrics():
    jobs = _jobs()
    assert [j.job_id for j in jobs] == [0, 1, 2]
    assert [j.counters["tasks"] for j in jobs] == [4, 4, 4]
    assert sum(j.counters["failed_tasks"] for j in jobs) == 0
    # job 0 writes the shuffle job 1 reads; job 1 lands the parquet
    assert jobs[0].counters["shuffle_write_bytes"] == 73466
    assert jobs[1].counters["shuffle_read_bytes"] == 73466
    assert jobs[1].counters["output_bytes"] == 62167
    assert abs(jobs[0].counters["executor_cpu_s"] - 0.331182026) < 1e-9


def test_jobs_go_to_the_innermost_span_holding_their_submission():
    jobs = _jobs()
    t0, t1, t2 = (j.submitted_s for j in jobs)
    spans = [Span("outer", t0 - 1, t2 + 1),
             Span("inner", t1 - 0.1, t1 + 0.1, parent=0)]
    got = eventlog.attribute(jobs, spans)
    assert got[0]["self"]["jobs"] == 2 and got[1]["self"]["jobs"] == 1
    assert got[0]["total"]["jobs"] == 3
    assert got[1]["self"]["output_bytes"] == 62167
    assert eventlog.totals(jobs, t0, t1)["jobs"] == 2
