"""Sources/sinks (SURVEY.md §2.1): the reference's scans re-expressed as
Spark readers over explicit schemas.

The reference fetches row-at-a-time over HTTP/GCS/REST (prowjob.py:160-168,
step.py:72-82, equinix_usages.py:92-106) and validates with pydantic; here
every source is a schema-enforced DataFrame read — schema validation is
``spark.read.schema(...)`` (S1), artifact blobs are ``binaryFile`` reads
(S2/S3), and junit XML becomes rows via an Arrow-batched mapInPandas
parser + explode (S10, the UDTF-shaped operator)."""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prow_jobs_scraper_spark import commit

# S1 — the ProwJob JSON scan's fixed schema core (flattened JobDetails,
# reference src/prowjobsscraper/event.py:62-75)
JOB_EVENT_SCHEMA = T.StructType([
    T.StructField("build_id", T.StringType()),
    T.StructField("name", T.StringType(), False),
    T.StructField("state", T.StringType()),
    T.StructField("type", T.StringType(), False),
    T.StructField("start_time", T.TimestampType()),
    T.StructField("duration", T.LongType(), False),
    T.StructField("url", T.StringType()),
    T.StructField("variant", T.StringType()),
    T.StructField("context", T.StringType()),
    T.StructField("cloud", T.StringType()),
    T.StructField("cloud_cluster_profile", T.StringType()),
    T.StructField("refs", T.StructType([
        T.StructField("org", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("base_ref", T.StringType()),
        T.StructField("pull", T.LongType()),
    ])),
])


# S4 — the Equinix usages REST scan's fixed schema (reference
# src/prowjobsscraper/equinix_usages.py:30-44, EquinixUsage model)
USAGE_SCHEMA = T.StructType([
    T.StructField("description", T.StringType()),
    T.StructField("facility", T.StringType(), False),
    T.StructField("metro", T.StringType(), False),
    T.StructField("name", T.StringType(), False),
    T.StructField("plan", T.StringType(), False),
    T.StructField("plan_version", T.StringType(), False),
    T.StructField("price", T.DoubleType(), False),
    T.StructField("quantity", T.DoubleType(), False),
    T.StructField("total", T.DoubleType(), False),
    T.StructField("type", T.StringType(), False),
    T.StructField("instance", T.StringType()),
    T.StructField("unit", T.StringType(), False),
    T.StructField("start_date", T.TimestampType(), False),
    T.StructField("end_date", T.TimestampType()),
])


def read_usages_json(spark: SparkSession, path: str) -> DataFrame:
    """S4: the usages REST scan as a schema-enforced JSON read, with the
    reference's derived fields materialized as columns (equinix_usages.py:
    46-54): ``job_build_id`` = last '-' segment of name, ``is_bandwidth``
    = plan contains 'Bandwidth'. Month-scoped fetch windows become a
    plain ts-range filter that Catalyst pushes to the scan."""
    df = spark.read.schema(USAGE_SCHEMA).json(path)
    return df.withColumn(
        "job_build_id", F.element_at(F.split(F.col("name"), "-"), -1)
    ).withColumn(
        "is_bandwidth", F.col("plan").contains("Bandwidth")
    )


def read_job_events_json(spark: SparkSession, path: str) -> DataFrame:
    """S1: schema-enforced JSON scan (no inference — the pydantic-parse
    equivalent, reference prowjob.py:160-168)."""
    return spark.read.schema(JOB_EVENT_SCHEMA).json(path)


JUNIT_STEP_SCHEMA = (
    "suite string, step_name string, step_state string, "
    "step_duration double, step_details string"
)


def parse_junit_xml(artifacts: DataFrame, xml_col: str = "content") -> DataFrame:
    """S10: junit XML → one row per <testcase> (reference
    step.py:26-50,84-91). 1 blob → N rows via mapInPandas; malformed
    ``time`` falls back to 0.0 like the reference (step.py:36-43)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf[xml_col]:
                text = blob.decode("utf-8", "replace") if isinstance(
                    blob, (bytes, bytearray)) else str(blob)
                try:
                    root = ET.fromstring(text)
                except ET.ParseError:
                    continue
                suites = root.iter("testsuite") if root.tag != "testsuite" \
                    else [root]
                for suite in suites:
                    sname = suite.get("name", "")
                    for case in suite.iter("testcase"):
                        try:
                            dur = float(case.get("time", "0"))
                        except ValueError:
                            dur = 0.0
                        failure = case.find("failure")
                        rows.append((
                            sname,
                            case.get("name", ""),
                            "failure" if failure is not None else "success",
                            dur,
                            failure.text if failure is not None else None,
                        ))
            yield pd.DataFrame(rows, columns=[
                "suite", "step_name", "step_state", "step_duration",
                "step_details"])

    return artifacts.mapInPandas(op, schema=JUNIT_STEP_SCHEMA)


def _partition_columns(path: str) -> list[str]:
    """Discover hive-style partition columns from the directory layout."""
    import os  # noqa: PLC0415

    cols: list[str] = []
    p = path
    while True:
        try:
            subs = sorted(
                d for d in os.listdir(p)
                if "=" in d and os.path.isdir(os.path.join(p, d)))
        except OSError:
            return cols
        if not subs:
            return cols
        cols.append(subs[0].split("=", 1)[0])
        p = os.path.join(p, subs[0])


# the staged-swap crash recovery every rewrite below runs on entry
recover_table = commit.recover


def _locate_partition_dir(path: str, part_cols: list[str],
                          values: tuple) -> str:
    """Resolve a partition tuple's on-disk directory by LISTING and
    unescaping real names, never by reconstructing ``col=value`` —
    Spark's partition layer Hive-escapes special chars (':', '%', '#',
    …) as %XX (e.g. a timestamp partition lands as
    ``ts=2024-05-01 00%3A00%3A00``), so a naive f-string path silently
    misses those dirs. Raises if the partition is not found."""
    import os  # noqa: PLC0415
    from urllib.parse import unquote  # noqa: PLC0415

    p = path
    for c, v in zip(part_cols, values):
        want = "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
        match = None
        for d in os.listdir(p):
            if d.startswith(c + "=") and unquote(d[len(c) + 1:]) == want:
                match = d
                break
        if match is None:
            raise FileNotFoundError(
                f"partition dir for {c}={want!r} not found under {p}")
        p = os.path.join(p, match)
    return p


def upsert_by_key(spark: SparkSession, path: str, updates: DataFrame,
                  key_cols: list[str]) -> None:
    """S7: MERGE INTO stand-in — the reference's idempotent
    deterministic-id upsert (src/prowjobsscraper/event.py:204-214, where
    re-indexing a doc under the same _id replaces it) as a
    partition-scoped rewrite.

    Rows in ``updates`` replace existing rows with the same key and are
    inserted otherwise. Only partitions receiving updates are rewritten;
    every other partition's files are untouched. The merged rows are
    committed exactly as :func:`delete_where` commits its kept rows
    (:func:`_commit_partitioned` / :func:`_commit_unpartitioned`), so the
    crash contract is the same: idempotent, a crashed run is completed
    by rerunning it.

    ``updates`` must carry the table's full schema (including partition
    columns — an updated row that moves partitions lands in its new
    partition; its old copy is replaced only if the old partition also
    receives updates, the standard dynamic-overwrite caveat, so keep
    partition keys stable under update, as the reference's weekly
    indices do).
    """
    recover_table(path)
    part_cols = _partition_columns(path)
    df = spark.read.parquet(path)
    cols = df.columns
    if part_cols:
        affected = updates.select(*part_cols).distinct().collect()
        aff_df = spark.createDataFrame(
            affected, df.select(*part_cols).schema)
        df = df.join(F.broadcast(aff_df), part_cols, "left_semi")
    merged = (
        df.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
        .select(*cols).unionByName(updates.select(*cols))
    )
    if part_cols:
        _commit_partitioned(spark, path, part_cols, merged, affected)
    else:
        _commit_unpartitioned(path, merged)


def delete_where(spark: SparkSession, path: str, condition: str) -> None:
    """S8: bulk delete (reference src/elasticsearch_cleanup/main.py:30-51)
    as a partition-scoped anti-filter rewrite — the Iceberg
    ``DELETE FROM`` analog with no table-format jars.

    Partitioned tables: only partitions that actually contain matching
    rows are rewritten, through :func:`_commit_partitioned`; untouched
    partitions' files stay byte-identical. Unpartitioned tables are
    replaced whole through :func:`_commit_unpartitioned`. Both commit
    through :mod:`..commit`, and :func:`recover_table` on entry heals a
    swap a crash cut short. The whole operation is an idempotent
    anti-filter: rerunning after any crash completes the delete.
    """
    recover_table(path)
    part_cols = _partition_columns(path)
    df = spark.read.parquet(path)
    if part_cols:
        affected = (
            df.where(condition).select(*part_cols).distinct().collect())
        if not affected:
            return
        aff_df = spark.createDataFrame(
            affected, df.select(*part_cols).schema)
        keep = (
            df.join(F.broadcast(aff_df), part_cols, "left_semi")
            .where(f"NOT ({condition})")
        )
        _commit_partitioned(spark, path, part_cols, keep, affected)
    else:
        _commit_unpartitioned(path, df.where(f"NOT ({condition})"))


def _commit_partitioned(spark: SparkSession, path: str,
                        part_cols: list[str], keep: DataFrame,
                        affected: list) -> None:
    """Commit ``keep`` as the new contents of the partitions listed in
    ``affected``. Shared by :func:`delete_where`, :func:`upsert_by_key`
    and :func:`cleanup_duplicates`.

    ``keep`` is staged to a scratch dir first (breaking the
    read-from/write-to-same-path cycle), then committed as a partition
    overwrite: each partition gets its old or its new rows, never
    neither, and partitions outside ``affected`` are never rewritten.
    Partitions the rewrite empties produce no staged rows, so they are
    removed explicitly afterwards; on a rerun after a crash there they
    are re-affected and re-emptied."""
    with commit.staged(path) as staging:
        commit.overwrite(keep, staging, part_cols)
        # explicit schema: a delete that empties every affected
        # partition stages zero files, which breaks schema inference
        staged = spark.read.schema(keep.schema).parquet(staging)
        commit.overwrite_partitions(staged, path, part_cols)
        kept = {tuple(r) for r in
                staged.select(*part_cols).distinct().collect()}
        # located via listdir + unescape, which fails loudly — a
        # silently-missed dir would resurrect the deleted rows
        commit.remove(*(_locate_partition_dir(path, part_cols, tuple(r))
                        for r in affected if tuple(r) not in kept))


def _commit_unpartitioned(path: str, keep: DataFrame) -> None:
    """Replace an unpartitioned table by ``keep``: staged write, then a
    directory swap through ``.old`` (live data is deleted only after the
    replacement is in place); :func:`recover_table` heals the crash
    states on the next entry."""
    with commit.staged(path) as staging:
        commit.overwrite(keep, staging)
        commit.swap_dir(staging, path)


def cleanup_duplicates(
    spark: SparkSession,
    path: str,
    comparison_fields: list[str],
    order_col: str,
    id_col: str,
    dry_run: bool = False,
):
    """The reference's elasticsearch_cleanup tool end-to-end
    (src/elasticsearch_cleanup/main.py:30-107): scan the whole table,
    group rows by ``comparison_fields``, keep ONE row per group, delete
    the rest in bulk — with the script's dry-run mode.

    The reference keeps the first document its scan happens to yield
    (scan order is unspecified in ES); a distributed engine needs that
    choice deterministic, so the keeper is the group's first row by
    ``(order_col, id_col)`` ascending. ``id_col`` must be unique (the
    ``_id`` analogue) — it identifies the losing rows for the delete.

    ``dry_run=True`` returns the would-be-deleted rows (``id_col`` +
    ``comparison_fields`` + partition columns) WITHOUT touching the
    table — the reference's logged-bulk-actions mode. Otherwise the
    losers are removed via the same partition-scoped staged rewrite as
    :func:`delete_where` (only partitions containing losers are
    rewritten; crash-safe, idempotent — rerunning deletes nothing) and
    a ``{"n_deleted": int, "n_partitions_rewritten": int}`` summary is
    returned, mirroring the script's success/failure counts.

    Scale: one window shuffle on ``comparison_fields`` to pick keepers,
    one anti-join keyed on ``id_col`` bounded to affected partitions —
    no driver-side set of seen keys (the reference holds every distinct
    key tuple in one process's memory; at 10^9 rows that is the
    scale-killer this rewrite removes).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    recover_table(path)
    part_cols = _partition_columns(path)
    df = spark.read.parquet(path)
    w = (Window.partitionBy(*[F.col(c) for c in comparison_fields])
         .orderBy(F.asc(order_col), F.asc(id_col)))
    loser_cols = list(dict.fromkeys([id_col, *comparison_fields,
                                     *part_cols]))
    losers = (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(*loser_cols)
    )
    if dry_run:
        return losers
    # The loser set feeds the affected-partition probe, the count AND
    # the anti-join — persist so the full-table window shuffle runs
    # ONCE, not once per consumer (at 10^9 rows the window dominates)
    losers = losers.persist()
    try:
        if part_cols:
            affected = losers.select(*part_cols).distinct().collect()
            if not affected:
                return {"n_deleted": 0, "n_partitions_rewritten": 0}
            aff_df = spark.createDataFrame(
                affected, df.select(*part_cols).schema)
            n = losers.count()
            keep = (
                df.join(F.broadcast(aff_df), part_cols, "left_semi")
                .join(losers.select(id_col), id_col, "left_anti")
                .select(*df.columns)
            )
            _commit_partitioned(spark, path, part_cols, keep, affected)
            return {"n_deleted": n,
                    "n_partitions_rewritten": len(affected)}
        n = losers.count()
        if n:
            keep = (df.join(losers.select(id_col), id_col, "left_anti")
                    .select(*df.columns))
            _commit_unpartitioned(path, keep)
        return {"n_deleted": n, "n_partitions_rewritten": 0}
    finally:
        losers.unpersist()
