"""The end-to-end KG-construction job (north_star): web_pages ->
extracted -> triples (+ entries, dependencies, metrics), materialized as
tables partitioned by ``batch``.

Stage layout mirrors the reference's parse/relate actions
(SURVEY.md §3.1/§3.2) with the process/node boundaries replaced by the
Spark scheduler:

  1. pending = anti-join of web_pages against the entries checkpoint
     (exact resume; checkpoint.py)
  2. extract: one narrow mapInPandas pass (operators/extract.py)
  3. triples: fused single-pass columnar lift over the persisted
     extracted table (operators/triples.py)
  4. relate: INCREMENTAL dependency maintenance — the new batch's
     object URIs vs all documents, plus the prior graph's object URIs
     vs this batch's brand-new documents (broadcast); never a
     full-graph self-join per commit (canonicalize.py)
  5. write: triples partitioned by ``batch`` only; parquet stand-in
     locally for the Iceberg table.

Layout rationale: readers filter on ``pred = <iri>`` (the SPARQL
compiler's pattern scans) or on ``batch`` (dynamic overwrite, relate's
new/prior split), never on ``pred_bucket`` or ``crawl_date``, so those
two are data columns, not directories, and a batch lands as one file
per write task.  The ``pred`` filter is pushed into the parquet scan;
the files are not sorted by ``pred``, so it skips row groups only by
chance.  A log written in the earlier ``batch/pred_bucket/crawl_date``
directory layout cannot be read together with batches in this one
(Spark rejects conflicting directory structures); rebuild it from its
input.

Exactly-once incremental commits WITHOUT Iceberg's MERGE INTO: each
run's pending set gets a deterministic ``batch`` id (hash of its
(url, content) keys); extracted/triples/dependencies/metrics are
written with DYNAMIC overwrite of the ``batch`` partition.  Re-running
a failed batch overwrites only its own partition (idempotent);
completed batches are never touched; a no-op resume (empty pending set)
writes nothing.  On Iceberg the same contract is a MERGE INTO /
snapshot commit.

SUPERSEDE semantics (a re-crawled url replaces its old graph, like the
reference's re-parse overwriting the distilled file): the raw batch
partitions are an APPEND LOG, and ``current_triples`` /
``current_dependencies`` are the queryable views — latest ``commit_ts``
per url wins.  On Iceberg the views collapse into MERGE-on-commit.

Metrics come from ``DataFrame.observe`` on the write jobs (zero extra
scans — VERDICT r01 "count storm") plus a tiny per-batch ``metrics``
table; ``n_triples_total`` is a sum over that table, not a rescan of
the triple log.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ferenda_spark import checkpoint
from ferenda_spark.operators import canonicalize
from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.triples import all_triples

N_PRED_BUCKETS = 16


def with_partition_cols(triples: DataFrame, warc_ts_by_url: DataFrame) -> DataFrame:
    """Add the ``pred_bucket`` and ``crawl_date`` data columns of the
    triple log."""
    t = triples.join(warc_ts_by_url, "url", "left")
    return (
        t.withColumn("pred_bucket",
                     F.pmod(F.xxhash64("pred"), F.lit(N_PRED_BUCKETS)))
        .withColumn("crawl_date", F.to_date("warc_ts"))
        .drop("warc_ts")
    )


def batch_id(todo: DataFrame) -> str:
    """Deterministic id ``<rows>x<hash>`` of a pending set: its row
    count and an order-insensitive hash of its (url, content) keys.  The
    same failed batch re-runs under the same id => dynamic partition
    overwrite makes the retry idempotent."""
    # per-row hash reduced mod p, summed as decimal(38,0): overflow-free
    # (ANSI mode) up to ~10^28 rows
    p = 1_000_000_007
    row = todo.select(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64("url", "html"), F.lit(p))
              .cast("decimal(38,0)")).alias("h")).collect()[0]
    h = int(row["h"] or 0) % (1 << 48)
    return f"{row['n']}x{h:012x}"


def current_triples(triples_all: DataFrame) -> DataFrame:
    """The queryable graph: latest committed version per url (the raw
    table is an append log of batches; a re-crawled url's older batches
    are superseded)."""
    latest = triples_all.groupBy("url").agg(
        F.max("commit_ts").alias("commit_ts"))
    return triples_all.join(latest, ["url", "commit_ts"], "left_semi")


def current_dependencies(deps_all: DataFrame,
                         triples_all: DataFrame) -> DataFrame:
    """Dependencies view: keep rows whose from-document version is still
    the current one (``from_commit_ts`` carried from the triple log)."""
    latest = (triples_all.groupBy("url")
              .agg(F.max("commit_ts").alias("from_commit_ts"))
              .withColumnRenamed("url", "from_url"))
    return (deps_all.join(latest, ["from_url", "from_commit_ts"],
                          "left_semi")
            .select("from_url", "to_url").dropDuplicates())


@dataclass
class RunResult:
    n_pages: int
    n_extracted: int      # this batch
    n_triples: int        # this batch
    n_triples_total: int  # append-log size after commit (metrics sum)
    n_dependencies: int   # dependency rows appended by this batch
    wall_s: float
    batch: str | None = None


def _metrics_total(spark: SparkSession, out_dir: str,
                   col: str = "n_triples") -> int:
    metrics = checkpoint.read_table(spark, f"{out_dir}/metrics")
    if metrics is None:
        return 0
    return int(metrics.agg(F.sum(col).alias("s")).collect()[0]["s"] or 0)


def run(
    spark: SparkSession,
    web_pages: DataFrame,
    commondata: DataFrame,
    out_dir: str,
    entries_path: str | None = None,
    input_partitions: int | None = None,
) -> RunResult:
    t0 = time.time()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    entries = (checkpoint.read_entries(spark, entries_path)
               if entries_path else None)
    todo = checkpoint.pending(web_pages, entries)
    if input_partitions:
        todo = todo.repartition(input_partitions, "url")

    # one scan of the pending set: the id leads with its row count
    batch = batch_id(todo)
    if batch.startswith("0x"):
        # no-op resume: touch nothing (the destructive alternative —
        # overwriting the table with an empty batch — is exactly what
        # the checkpoint contract forbids)
        return RunResult(
            n_pages=web_pages.count(), n_extracted=0, n_triples=0,
            n_triples_total=_metrics_total(spark, out_dir),
            n_dependencies=0,
            wall_s=time.time() - t0, batch=None)

    commit_ts = time.time()

    obs_ext = Observation()
    extracted = (extract(todo).withColumn("batch", F.lit(batch))
                 .observe(obs_ext, F.count(F.lit(1)).alias("n")))
    # materialize the extract output: the triples branches + entries
    # share one scan, and downstream reads prune columns (parquet)
    (extracted.write.mode("overwrite").partitionBy("batch")
     .parquet(f"{out_dir}/extracted"))
    n_extracted = int(obs_ext.get["n"])
    extracted = (spark.read.parquet(f"{out_dir}/extracted")
                 .where(F.col("batch") == batch))

    triples = all_triples(extracted.drop("batch"), commondata)
    warc_ts = extracted.select("url", "warc_ts")
    obs_tri = Observation()
    partitioned = (with_partition_cols(triples, warc_ts)
                   .withColumn("batch", F.lit(batch))
                   .withColumn("commit_ts", F.lit(commit_ts))
                   .observe(obs_tri, F.count(F.lit(1)).alias("n")))
    # one file per write task under batch=<id>/
    (partitioned.write.mode("overwrite").partitionBy("batch")
     .parquet(f"{out_dir}/triples"))
    n_triples = int(obs_tri.get["n"])

    # incremental relate: scans the new batch (partition-pruned) plus a
    # narrow projection of the prior log — NOT a full self-join
    triples_all = spark.read.parquet(f"{out_dir}/triples")
    triples_new = triples_all.where(F.col("batch") == batch)
    triples_prior = current_triples(
        triples_all.where(F.col("batch") != batch))
    obs_dep = Observation()
    deps = (canonicalize.incremental_dependency_join(
        triples_new, triples_prior)
        .withColumn("batch", F.lit(batch))
        .observe(obs_dep, F.count(F.lit(1)).alias("n")))
    (deps.write.mode("overwrite").partitionBy("batch")
     .parquet(f"{out_dir}/dependencies"))
    n_deps = int(obs_dep.get["n"])

    metrics = spark.createDataFrame(
        [(batch, n_extracted, n_triples, n_deps, commit_ts,
          time.time() - t0)],
        "batch string, n_extracted long, n_triples long, "
        "n_dependencies long, commit_ts double, wall_s double")
    (metrics.write.mode("overwrite").partitionBy("batch")
     .parquet(f"{out_dir}/metrics"))

    if entries_path:
        checkpoint.append_entries(
            checkpoint.entries_from_extracted(extracted, started_at=t0),
            entries_path)

    return RunResult(
        # input cardinality: a parquet/Iceberg count() is answered from
        # file-footer / snapshot statistics (no data scan); on Iceberg
        # this is snapshot.summary["total-records"]
        n_pages=web_pages.count(),
        n_extracted=n_extracted,
        n_triples=n_triples,
        n_triples_total=_metrics_total(spark, out_dir),
        n_dependencies=n_deps,
        wall_s=time.time() - t0,
        batch=batch,
    )
