"""File-corpus source: versioned file records as a DataFrame.

The reference's unit of input is a *file in a versioned archive*: content
read whole as a string (/root/reference/lib/indexer.js:221), addressed by
``origin + pathname = url`` with a monotonically increasing version
(lib/indexer.js:218,230,356). Its change log yields
``{type: 'put'|'del', path, version}`` updates (lib/indexer.js:355-368).

Spark-first encoding — one **changelog table**:

    files(origin string, pathname string, url string, version long,
          type string,           -- 'put' | 'del'
          content string)        -- null for 'del'

Batch corpora on disk are read with ``spark.read`` (wholetext text or
binaryFile) and lifted into this shape with version=0 puts; incremental
and streaming ingestion appends rows. At 100 TB the changelog is an
append-only Parquet/Delta directory partitioned by origin — appends are
new files, no rewrite, and the latest-wins compaction below prunes to
one row per path before any UDF runs.
"""

from __future__ import annotations

import fnmatch
import re
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dat_archive_map_reduce_spark.plans.catalog import local_df

FILES_SCHEMA = T.StructType(
    [
        T.StructField("origin", T.StringType(), False),
        T.StructField("pathname", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("version", T.LongType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


def glob_to_regex(patterns: str | Sequence[str]) -> str:
    """anymatch-style glob(s) -> one anchored regex alternation.

    Mirrors the reference's anymatch(view.filePattern, path) pruning
    (/root/reference/lib/indexer.js:361,381): '*' must not cross '/',
    '**' crosses directories.
    """
    if isinstance(patterns, str):
        patterns = [patterns]
    parts = []
    for pat in patterns:
        # translate glob ourselves: fnmatch's '*' crosses '/', we need
        # single-star to stop at '/'
        out = []
        i = 0
        while i < len(pat):
            c = pat[i]
            if c == "*":
                if pat[i : i + 2] == "**":
                    out.append(".*")
                    i += 2
                    continue
                out.append("[^/]*")
            elif c == "?":
                out.append("[^/]")
            else:
                out.append(re.escape(c))
            i += 1
        parts.append("".join(out))
    return "^(?:" + "|".join(parts) + ")$"


def match_glob(patterns: str | Sequence[str], pathname: str) -> bool:
    """Driver-side glob check (used by single-file index/unindex)."""
    return re.match(glob_to_regex(patterns), pathname) is not None


def glob_filter(df: DataFrame, patterns: str | Sequence[str]) -> DataFrame:
    """Prune a files/changelog DataFrame to paths matching the view's
    glob(s) — the reference's scan-time file pruning (§2.1 #1).

    Expressed as a native ``rlike`` so it evaluates JVM-side inside
    whole-stage codegen, before any Python UDF sees a row.
    """
    return df.filter(F.col("pathname").rlike(glob_to_regex(patterns)))


def read_directory_corpus(
    spark: SparkSession,
    root: str,
    origin: str | None = None,
    glob: str | None = None,
) -> DataFrame:
    """Read an on-disk directory of text files into the files shape
    (whole-file read -> one record per file, §2.1 #2).

    Uses ``spark.read.text(wholetext=True)`` +
    ``input_file_name()``-derived metadata, i.e. the distributed
    equivalent of archive.readFile per path
    (/root/reference/lib/indexer.js:217-230).
    """
    root = root.rstrip("/")
    reader = spark.read.option("wholetext", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob.rsplit("/", 1)[-1])
    df = reader.text(f"{root}/**" if glob is None else root)
    origin_lit = origin if origin is not None else f"file://{root}"
    return (
        df.withColumn("_file", F.input_file_name())
        .withColumn(
            "pathname",
            F.regexp_replace(F.col("_file"), "^file:(//)?" + re.escape(root), ""),
        )
        .select(
            F.lit(origin_lit).alias("origin"),
            F.col("pathname"),
            F.concat(F.lit(origin_lit), F.col("pathname")).alias("url"),
            # version 1, not 0: the engine indexes (offset, target]
            # half-open, so a version-0 snapshot would be skipped by
            # the fresh-source offset of 0
            F.lit(1).cast("long").alias("version"),
            F.lit("put").alias("type"),
            F.col("value").alias("content"),
        )
    )


def changelog_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Build a changelog DataFrame from plain dicts (append_changes,
    index_file/unindex_file, tests).

    Fills url from origin+pathname when absent.
    """
    filled = []
    for r in rows:
        r = dict(r)
        r.setdefault("url", r["origin"] + r["pathname"])
        r.setdefault("type", "put")
        r.setdefault("content", None)
        filled.append(
            (r["origin"], r["pathname"], r["url"], int(r["version"]), r["type"], r["content"])
        )
    return local_df(spark, filled, FILES_SCHEMA)


def latest_wins(changelog: DataFrame, start: int | None = None, end: int | None = None) -> DataFrame:
    """Changelog slice -> one row per (origin, pathname): the latest
    update, ordered deterministically — the reference's
    scanArchiveHistoryForUpdates compaction
    (/root/reference/lib/indexer.js:355-368).

    Spark-first: a window ``row_number() = 1`` over
    partitionBy(origin, pathname) orderBy(version DESC). The window
    shuffle partitions by path — at 100 TB this is the one unavoidable
    shuffle of ingestion, and it is also the *cheapest* place to shuffle
    (one slim row per update, content column carried along only for the
    surviving row's 'put').
    """
    df = changelog
    if start is not None:
        df = df.filter(F.col("version") > F.lit(start))
    if end is not None:
        df = df.filter(F.col("version") <= F.lit(end))
    w = Window.partitionBy("origin", "pathname").orderBy(F.col("version").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
