"""Analytics parity layer: the reference's report operators as DataFrame
plans (SURVEY.md §2.4-2.6, reference src/jobsautoreport/report.py).

The reference computes these with driver-side Python loops over pydantic
lists (e.g. the triggers-per-name nested loop, report.py:45-47 — O(n·k));
each becomes one hash-aggregate / window plan here, so they distribute and
the 100 TB version is the same code.

Input shape is the ``jobs_events`` fixture (FIXTURES.md §3), i.e. the
flattened JobDetails event doc (reference src/prowjobsscraper/event.py:
62-75): build_id, name, state, type, start_time, duration, refs_*, ...
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SUCCESS, FAILURE = "success", "failure"


def state_counts(jobs: DataFrame, group_col: str = "type") -> DataFrame:
    """A1/A3: per-group success/failure/total counts + derived rates
    (failure_rate NULL when total=0 — reference models.py:56-66)."""
    agg = jobs.groupBy(group_col).agg(
        F.sum(F.when(F.col("state") == SUCCESS, 1).otherwise(0)).alias("successes"),
        F.sum(F.when(F.col("state") == FAILURE, 1).otherwise(0)).alias("failures"),
        F.count(F.lit(1)).alias("total"),
    )
    return agg.withColumn(
        "failure_rate",
        F.when(F.col("total") > 0,
               F.col("failures") * 100.0 / F.col("total")).otherwise(F.lit(None)),
    ).withColumn(
        "success_rate",
        F.when(F.col("total") > 0, 100.0 - F.col("failure_rate")).otherwise(F.lit(None)),
    )


def job_metrics(jobs: DataFrame) -> DataFrame:
    """A3: per job name — successes, failures, total, rates (the
    IdentifiedJobMetrics tree, reference report.py:55-91)."""
    return state_counts(jobs, "name")


def top_failing(jobs: DataFrame, n: int = 10) -> DataFrame:
    """T2: top-N failing job names by (failure_rate, failures, name),
    failures>0 post-filter (reference report.py:148-165)."""
    m = job_metrics(jobs).where(F.col("failures") > 0)
    return m.orderBy(
        F.desc("failure_rate"), F.desc("failures"), F.desc("name")
    ).limit(n)


def top_triggered(jobs: DataFrame, n: int = 5) -> DataFrame:
    """T4: top-N most-triggered job names (reference report.py:421-429;
    collapses the per-name nested-loop count of report.py:45-47)."""
    return (
        jobs.groupBy("name").agg(F.count(F.lit(1)).alias("total"))
        .orderBy(F.desc("total"), F.desc("name")).limit(n)
    )


def flakiness(jobs: DataFrame, order_cols: list[str] | None = None) -> DataFrame:
    """W1: the reference's flakiness score per job name
    (reference report.py:93-123), distributed.

    Per name: order runs by start_time, map state→{success:1, else 0},
    take abs(diff) of adjacent values, then a weighted mean with weights
    linspace(0.1, 1)/Σ — recent transitions weigh more. Returns 0.0 for a
    single run, no row for names with no timed runs.

    Pure window-function plan (whole-stage codegen, no Python): the
    linspace weight of the j-th of m transitions is 0.1 + 0.9·j/(m−1),
    i.e. per ordered row rn of n runs, w = 0.1 + 0.9·(rn−2)/(n−2) when
    n > 2 (single-transition groups normalize to weight 1), so the score
    is Σ t·w / Σ w — one window pass + one hash aggregate. The earlier
    applyInPandas form re-used the reference's numpy verbatim but paid
    per-group Python for an expression Catalyst handles directly.

    Determinism: ``row_number`` over ``order_cols`` is ambiguous when the
    ordering ties within a name (the reference's numpy path has the same
    ambiguity, just frozen by its in-memory order). Pass a stable unique
    tiebreaker as the last order col (e.g. ``["start_time", "build_id"]``)
    whenever start_time can tie — the entry contract does.
    """
    order_cols = order_cols or ["start_time"]
    w_ord = Window.partitionBy("name").orderBy(*order_cols)
    w_all = Window.partitionBy("name")
    base = (
        jobs.where(F.col("start_time").isNotNull())
        .select("name",
                (F.col("state") == SUCCESS).cast("double").alias("s"),
                *order_cols)
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn("t", F.abs(F.col("s") - F.lag("s").over(w_ord)))
        .withColumn(
            "w",
            F.when(F.col("n") > 2,
                   0.1 + 0.9 * (F.col("rn") - 2) / (F.col("n") - 2))
            .otherwise(F.lit(1.0)),
        )
    )
    return base.groupBy("name").agg(
        F.coalesce(
            F.sum(F.col("t") * F.col("w"))
            / F.sum(F.when(F.col("rn") > 1, F.col("w"))),
            F.lit(0.0),
        ).alias("flakiness")
    )


def top_flaky(jobs: DataFrame, n: int = 10,
              threshold: float = 0.5, min_runs: int = 5) -> DataFrame:
    """T5 + A10: names with flakiness > threshold and ≥ min_runs runs,
    top-N by flakiness (reference report.py:245-266, models.py:68-73)."""
    runs = jobs.groupBy("name").agg(F.count(F.lit(1)).alias("total"))
    return (
        flakiness(jobs).join(runs, "name")
        .where((F.col("flakiness") > threshold) & (F.col("total") >= min_runs))
        .orderBy(F.desc("flakiness"), F.desc("name")).limit(n)
        .select("name", "flakiness", "total")
    )


def cost_by_job(jobs: DataFrame, usages: DataFrame) -> DataFrame:
    """J4: Σ usage.total per job build_id, attached to jobs
    (reference report.py:125-129). ``usages`` is the small side —
    broadcast it explicitly."""
    per_build = usages.groupBy("job_build_id").agg(F.sum("total").alias("cost"))
    return jobs.join(
        F.broadcast(per_build),
        jobs["build_id"] == per_build["job_build_id"], "left",
    ).drop("job_build_id").fillna({"cost": 0.0})


def cost_by_machine_type(usages: DataFrame) -> DataFrame:
    """A4: Σ total per plan (reference report.py:184-200)."""
    return usages.groupBy("plan").agg(F.sum("total").alias("cost"))


def cost_by_job_type(jobs: DataFrame, usages: DataFrame) -> DataFrame:
    """J5 + A5: the reference's hand-rolled dict-lookup join
    (report.py:214-225) is literally a broadcast hash join here."""
    dim = jobs.select("build_id", "type").dropDuplicates(["build_id"])
    return (
        usages.join(F.broadcast(dim),
                    usages["job_build_id"] == dim["build_id"], "inner")
        .groupBy("type").agg(F.sum("total").alias("cost"))
    )


def top_expensive(jobs: DataFrame, usages: DataFrame, n: int = 5) -> DataFrame:
    """T3: top-N most expensive jobs by (cost, name), cost>0
    (reference report.py:227-243)."""
    per_build = usages.groupBy("job_build_id").agg(F.sum("total").alias("cost"))
    named = (
        jobs.join(F.broadcast(per_build),
                  jobs["build_id"] == per_build["job_build_id"])
        .groupBy("name").agg(F.sum("cost").alias("cost"))
        .where(F.col("cost") > 0)
    )
    return named.orderBy(F.desc("cost"), F.desc("name")).limit(n)


def trends(cur: DataFrame, prev: DataFrame, keys: list[str]) -> DataFrame:
    """A9: report-over-report delta — subtract every numeric metric of the
    previous period from the current (reference src/jobsautoreport/
    trends.py:21-49). Join on ``keys``; every other numeric column c
    becomes ``c_delta = cur.c - prev.c`` (missing rows count as 0)."""
    metric_cols = [c for c, t in cur.dtypes
                   if c not in keys and t in ("bigint", "int", "double", "float")]
    p = prev.select(keys + [F.col(c).alias(f"__p_{c}") for c in metric_cols])
    out = cur.join(p, keys, "full_outer")
    for c in metric_cols:
        out = out.withColumn(
            f"{c}_delta",
            F.coalesce(F.col(c), F.lit(0)) - F.coalesce(F.col(f"__p_{c}"), F.lit(0)),
        ).drop(f"__p_{c}")
    return out


def dedup_keep_first(df: DataFrame, comparison_fields: list[str],
                     id_col: str = "id") -> DataFrame:
    """W2: the cleanup tool's dedup — keep, per comparison-fields tuple,
    the doc with the shortest id (reference src/elasticsearch_cleanup/
    main.py:54-86; script sort by _id length, consts.py:3-14)."""
    w = Window.partitionBy(*comparison_fields).orderBy(
        F.length(id_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1).drop("__rn")
    )
