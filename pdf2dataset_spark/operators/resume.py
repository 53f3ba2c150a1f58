"""Resume / skip-processed (SURVEY.md §2 A9).

Upstream diffs the pending task list against results already written
by an interrupted run. The Spark-native expression is a LEFT ANTI
join on the task identity (path, page at page grain; path at
document grain) — fully distributed, no driver state, and at scale
the planner broadcasts whichever side is small (or AQE converts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException


def resume_filter(pending: DataFrame, done: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``pending`` whose key is absent from ``done``."""
    return pending.join(done.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")


def load_done(spark: SparkSession, output_path: str, keys: list[str]) -> DataFrame | None:
    """Previously-written results' keys, or None on first run.

    A first run's output path does not exist yet. Reading it anyway
    makes the JVM raise a path-not-found ``AnalysisException`` that
    PySpark then converts, ~60 ms of driver time before any task
    starts (local[4], shared 4-vCPU VM), so the path is probed first
    with Hadoop ``globStatus`` under the session's own Hadoop conf
    (~2 ms). ``globStatus``, not ``exists``, so a glob output path
    still resumes. A path that exists but holds no readable parquet
    still ends in the ``AnalysisException`` branch.
    """
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(output_path)
    fs = path.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.globStatus(path):
        return None
    try:
        return spark.read.parquet(output_path).select(*keys)
    except AnalysisException:
        return None
