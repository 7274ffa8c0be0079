"""Per-partition checkpoint / lineage / metrics — the DocumentEntry
equivalent (SURVEY.md §1.1; reference /root/reference/ferenda/
documententry.py:20-146,245-311) enabling EXACT RESUME after failure
(north_rule).

The ``entries`` table records one row per (url, stage) attempt:

    entries(url, stage, success, started_at, duration_s, warnings,
            error, content_md5)

Resume semantics = the reference's *ifneeded* guards re-expressed as an
anti-join (decorators.py:78-96 parseifneeded + download_is_different,
documentrepository.py:992-997): a url is re-processed iff there is no
successful entry for this stage with the SAME content hash.  Content
change detection is md5(html) <> entries.content_md5 — the reference's
byte-compare (S4).

On a real deployment these tables are Iceberg (idempotent MERGE INTO,
snapshot isolation); the local stand-in is partitioned parquet with
overwrite-by-partition, which preserves the same resume contract.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ENTRIES_SCHEMA = ("url string, stage string, success boolean, "
                  "started_at timestamp, duration_s double, "
                  "warnings string, error string, content_md5 string")


def pending(web_pages: DataFrame, entries: DataFrame | None,
            stage: str = "parse") -> DataFrame:
    """Rows still needing ``stage``: anti-join on (url, content_md5)
    against successful entries.  With entries==None everything is
    pending (first run)."""
    if entries is None:
        return web_pages
    done = (entries.where((F.col("stage") == stage) & F.col("success"))
            .select("url", F.col("content_md5").alias("done_md5"))
            .dropDuplicates(["url", "done_md5"]))
    keyed = web_pages.withColumn("_md5", F.md5(F.col("html")))
    return (
        keyed.join(
            done,
            (keyed["url"] == done["url"]) & (keyed["_md5"] == done["done_md5"]),
            "left_anti",
        ).drop("_md5")
    )


def entries_from_extracted(extracted: DataFrame, stage: str = "parse",
                           started_at: float | None = None) -> DataFrame:
    """Derive the entries rows for this run from the extract output —
    success/error per url plus the content hash for change detection."""
    ts = F.lit(started_at if started_at is not None else time.time())
    return extracted.select(
        "url",
        F.lit(stage).alias("stage"),
        F.col("parse_ok").alias("success"),
        F.timestamp_seconds(ts).alias("started_at"),
        F.lit(None).cast("double").alias("duration_s"),
        F.lit(None).cast("string").alias("warnings"),
        F.col("error").alias("error"),
        F.col("content_md5").alias("content_md5"),
    )


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None if nothing was ever
    committed there: the path is missing, or it holds no data file (a
    first write that crashed leaves only ``_temporary/``).  Any other
    failure (a corrupt or unreadable file) raises: it must not pass for
    an empty table."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def read_entries(spark: SparkSession, path: str) -> DataFrame | None:
    """The checkpoint; None before the first commit."""
    return read_table(spark, path)


def append_entries(entries: DataFrame, path: str) -> None:
    entries.write.mode("append").parquet(path)
