"""Driver-action budgets of the KG build.

Every Spark job the driver launches is a serial round-trip, and on
entity-scale data the round-trips, not the rows, set the cost of
canonicalize. These tests count the jobs a call launches — through a
job group unique to the call and `statusTracker().getJobIdsForGroup`,
the way perfbench counts `cold_build_jobs` — and pin them at the
measured values (local[4], 4 shuffle partitions, the conftest session).
A probe or count that sneaks back in as its own action fails here.
"""

from __future__ import annotations

import itertools

import pandas as pd
from test_canonicalize import _agents_df

from serialization_agents_spark import schemas, synth
from serialization_agents_spark.operators.canonicalize import canonicalize_agents
from serialization_agents_spark.plans.pipeline import run_pipeline

# canonicalize_agents on a chain that needs 2 CC rounds
CANONICALIZE_JOBS = 36
# canonicalize_agents when no two agents share a merge key
ZERO_MERGE_JOBS = 4
# run_pipeline(out_dir=...) over a tiny corpus: cold, then fully resumed
PIPELINE_JOBS = 75
RESUME_JOBS = 8

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"action-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_canonicalize_job_budget(spark):
    agents = _agents_df(
        spark,
        [
            ("viaf:A", True, "Name A", ["v1", "v2"], None),
            ("viaf:B", True, "Name B", ["v2", "v3"], None),
            ("viaf:C", True, "Name C", ["v3"], None),
            ("viaf:D", True, "Name D", ["v9"], None),
        ],
    )
    (canonical, iters), jobs = _jobs(spark, lambda: canonicalize_agents(agents))
    assert iters >= 2
    assert sorted(r["entity_key"] for r in canonical.collect()) == ["viaf:A", "viaf:D"]
    assert jobs <= CANONICALIZE_JOBS, jobs


def test_zero_merge_job_budget(spark):
    agents = _agents_df(
        spark,
        [("viaf:1", True, "Name A", ["1"], None), ("viaf:2", True, "Name B", ["2"], None),
         ("viaf:3", False, "Name C", [], None)],
    )
    (canonical, iters), jobs = _jobs(spark, lambda: canonicalize_agents(agents))
    assert iters == 0
    assert canonical.count() == 3
    assert jobs <= ZERO_MERGE_JOBS, jobs


def test_pipeline_job_budget_and_free_cc_on_resume(spark, tmp_path):
    # a tiny synth corpus plus one page naming two more authorities with
    # the controlled name of synth authority 1, so CC makes real rounds
    base = {k: v for k, v in synth.authority_records(2)[1].items() if k != "_display"}
    ids = ("700000001", "700000002")
    twins = pd.DataFrame([dict(base, viaf_id=v, viaf_all=[v]) for v in ids])
    authority = synth.synth_authority(spark, n_auth=30).unionByName(
        spark.createDataFrame(twins, schemas.AUTHORITY)
    )
    html = " and ".join(
        f'<span class="agent" data-viaf="{v}">{base["viaf_term"]}</span>' for v in ids
    )
    page = spark.createDataFrame(
        [("u://merge/1", None, f"<p>{html}.</p>".encode(), None, "en")], schemas.PAGES
    )
    pages = synth.synth_pages(spark, n_pages=60, n_auth=30, partitions=2).unionByName(page)
    out = str(tmp_path / "out")

    def run():
        return run_pipeline(spark, pages, authority, out_dir=out)

    full, jobs = _jobs(spark, run)
    assert full.cc_iterations >= 2 and not full.stages_resumed
    assert jobs <= PIPELINE_JOBS, jobs

    # a complete canonical stage is read back: CC, alt-form scoring and
    # enumeration are never declared, so none of their actions run
    again, jobs = _jobs(spark, run)
    assert not again.stages_computed and again.cc_iterations is None
    assert jobs <= RESUME_JOBS, jobs
