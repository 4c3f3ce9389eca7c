"""tools/profile.py: one registry query profiled in-process reports its
executor time and stages, rows out of its final aggregate equal to its
count(), and the jobs its builder started before the timed action."""

from functools import partial

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def counts_desc(spark):
    import __spark_entry__ as entrymod

    return partial(entrymod.queries()["counts_desc"], spark, SF_DIR)


@pytest.fixture(scope="module")
def profile(spark):
    from tools.profile import Probe, profile_op

    probe = Probe(spark)
    return lambda name, build: profile_op(spark, probe, name, build)


def test_stage_times_and_aggregate_rows(profile, counts_desc):
    rec = profile("counts_desc", counts_desc)
    assert rec["exec.task_s"] > 0
    assert rec["exec.stages"] >= 1
    assert rec["agg.output_rows"] == counts_desc().count() == rec["rows"]


def test_build_jobs_split_from_the_action(profile, counts_desc):
    def eager():
        df = counts_desc()
        df.collect()
        return df

    assert profile("eager", eager)["entry.build_jobs"] >= 1
    assert profile("lazy", counts_desc)["entry.build_jobs"] == 0
