"""Counting the Spark jobs an action runs, through a job group."""

import time


def jobs_of(spark, fn, group):
    """(fn(), number of Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    time.sleep(1.0)  # let the listener bus deliver the job events
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
