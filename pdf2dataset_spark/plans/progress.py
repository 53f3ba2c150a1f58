"""Progress reporting (SURVEY §2 A13).

Upstream shows a tqdm bar over completed Ray tasks. Spark-native:
the status tracker (portable from plain PySpark — the py4j listener
callback would need the callback server) polled from the driver
thread; the Spark UI remains the rich view.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def snapshot(spark: SparkSession) -> dict:
    """Point-in-time job/stage activity from the status tracker."""
    st = spark.sparkContext.statusTracker()
    out = {
        "active_jobs": list(st.getActiveJobsIds()),
        "active_stages": list(st.getActiveStageIds()),
        "tasks_active": 0,
        "tasks_done": 0,
        "tasks_total": 0,
    }
    for sid in out["active_stages"]:
        info = st.getStageInfo(sid)
        if info is not None:
            out["tasks_active"] += info.numActiveTasks
            out["tasks_done"] += info.numCompletedTasks
            out["tasks_total"] += info.numTasks
    return out


def progress_line(spark: SparkSession) -> str:
    """One-line progress summary (the CLI's tqdm stand-in)."""
    s = snapshot(spark)
    if not s["active_stages"]:
        return "idle"
    return (
        f"jobs={len(s['active_jobs'])} stages={len(s['active_stages'])} "
        f"tasks={s['tasks_done']}/{s['tasks_total']} (+{s['tasks_active']} running)"
    )


def observed(df, name: str = "audit"):
    """Attach free audit metrics to a DataFrame: row count and error
    count ride along with whatever action materializes it — no extra
    pass over the data, which is the only acceptable way to collect
    pipeline telemetry at 100 TB. Returns (df, Observation); read
    `obs.get` AFTER an action has run.

    Standard use: sink-side counts for every curation stage
    (quality-kept, deduped, chunk totals) collected during the single
    write job instead of one .count() job per stage.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    cols = [F.count(F.lit(1)).alias("n_rows")]
    if "error" in df.columns:
        # count() is 0 on an empty input where sum() would be null
        cols.append(F.count("error").alias("n_errors"))
    return df.observe(obs, *cols), obs
