from perfbench.trace import Tracer


class _FakeTracker:
    def __init__(self, sc):
        self.sc = sc

    def getJobIdsForGroup(self, group):
        return self.sc.jobs.get(group, [])


class _FakeSc:
    """Stands in for SparkContext: jobs land in the current job group."""

    def __init__(self):
        self.group = None
        self.jobs = {}

    def setJobGroup(self, group, desc):
        self.group = group

    def setLocalProperty(self, key, value):
        self.group = value

    def run_job(self):
        self.jobs.setdefault(self.group, []).append(len(self.jobs))

    def statusTracker(self):
        return _FakeTracker(self)


def test_spans_nest_and_count_jobs_per_group():
    sc = _FakeSc()
    tr = Tracer(sc, "pass")
    with tr.span("pass"):
        sc.run_job()
        with tr.span("inner") as s:
            sc.run_job()
            sc.run_job()
            s["rows_out"] = 5
        sc.run_job()  # back in the parent's group
    assert sc.group is None
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert (outer["spark_jobs"], inner["spark_jobs"]) == (2, 2)
    assert tr.jobs("pass") == 4 and tr.jobs("inner") == 2
    assert inner["rows_out"] == 5 and inner["run"] == "pass"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tr.busy_s("inner") == inner["end"] - inner["start"]
