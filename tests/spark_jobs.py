"""Count the Spark jobs a block of code runs — the job budgets the
plan tests pin."""

from __future__ import annotations

import uuid
from contextlib import contextmanager


@contextmanager
def count_jobs(spark):
    """Run the block under a fresh job group; afterwards ``box["jobs"]``
    is the number of Spark jobs it started (from the status tracker,
    which works with the UI off)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "job budget")
    box: dict = {}
    try:
        yield box
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        box["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
