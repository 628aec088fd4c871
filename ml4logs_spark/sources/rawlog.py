"""Raw log-file source: the reference's real input format.

A user of ml4logs feeds raw HDFS/BGL log text; this source reproduces
that path Spark-side so they can switch engines without changing inputs:

- label/body split ``line.split(maxsplit=1)`` with '-' = normal
  (/root/reference/src/ml4logs/data/prepare.py:54-73, P1) ->
  ``F.split(line, ' ', 2)`` projection;
- block-id extraction ``re.search(r'(blk_-?\\d+)')``
  (/root/reference/src/ml4logs/data/hdfs.py:128-129, P3) ->
  ``F.regexp_extract`` (Catalyst);
- timestamp prefix ``%y%m%d %H%M%S``
  (/root/reference/src/ml4logs/features/extract_timedeltas.py:54-63,
  P4) -> ``F.to_timestamp(F.regexp_extract(...))``;
- implicit file line order -> explicit per-block ``turn_idx`` ordered by
  a PHYSICALLY-derived key (the reference's load-bearing positional
  invariant made explicit, SURVEY.md §1.1/§1.2).

Ordering keys — never ``monotonically_increasing_id`` (its value depends
on the partition layout, so a multi-file glob or a recompute after
repartition silently reorders; SURVEY.md §1.2 forbids it):

- ``order="wholetext"`` (default): one row per file
  (``spark.read.text(wholetext=True)``) + ``_metadata.file_path`` +
  ``posexplode`` over the split lines -> (file, line_no). Line numbers
  are a property of the FILE CONTENT, stable under any partitioning or
  recompute, and multi-file-glob safe. Parallelism = #files; each file
  materializes as one row (fine for rotated log files; for one huge
  unsplittable-by-this-mode file use "offset").
- ``order="offset"``: Hadoop TextInputFormat record keys — the physical
  BYTE OFFSET of each line within its file — via ``newAPIHadoopFile``
  per file. Splittable (a 100 GB file scans as many tasks) and the
  offset is physical, so it too survives recompute/repartition. The
  per-file plan union is O(#files) driver-side — use for few huge files,
  "wholetext" for many moderate ones (log rotation).

Files are ordered by path name (log rotation convention); within a file
by line number / byte offset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BLOCK_RE = r"(blk_-?\d+)"
TS_RE = r"^(\d{6} \d{6})"


def _list_files(spark: SparkSession, path: str) -> list[str]:
    """Resolve a path/glob to sorted file paths via the Hadoop FS API
    (works for local, HDFS, object stores alike)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    files: list[str] = []
    for st in fs.globStatus(p) or []:
        if st.isDirectory():
            for st2 in fs.listStatus(st.getPath()):
                if st2.isFile():
                    files.append(st2.getPath().toString())
        elif st.isFile():
            files.append(st.getPath().toString())
    return sorted(files)


def _lines_wholetext(spark: SparkSession, path: str) -> DataFrame:
    """(file, off, line): per-file line numbers from the file content."""
    whole = spark.read.text(path, wholetext=True).select(
        F.col("_metadata.file_path").alias("file"), "value"
    )
    return whole.select(
        "file",
        F.posexplode(F.split(F.col("value"), "\n")).alias("off", "line"),
    ).select("file", F.col("off").cast("long").alias("off"), "line")


def _lines_offsets(spark: SparkSession, path: str) -> DataFrame:
    """(file, off, line): physical byte offsets from TextInputFormat —
    the record key Hadoop already computes for every line."""
    dfs = []
    for f in _list_files(spark, path):
        rdd = spark.sparkContext.newAPIHadoopFile(
            f,
            "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
            "org.apache.hadoop.io.LongWritable",
            "org.apache.hadoop.io.Text",
        )
        dfs.append(
            spark.createDataFrame(rdd, "off long, line string").select(
                F.lit(f).alias("file"), "off", "line"
            )
        )
    if not dfs:
        raise FileNotFoundError(path)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def read_hdfs_log(
    spark: SparkSession,
    path: str,
    labeled: bool = False,
    order: str = "wholetext",
) -> DataFrame:
    """Parse raw HDFS-style log lines into the transcripts shape.

    Output: (conv_id=block id, turn_idx=in-block line order, role=label
    marker ('anomaly'/'normal') if ``labeled`` else component, text=the
    line body, tool=component, ts=parsed timestamp). ``order`` picks the
    physical line-order key (see module docstring).
    """
    if order == "wholetext":
        lines = _lines_wholetext(spark, path)
    elif order == "offset":
        lines = _lines_offsets(spark, path)
    else:
        raise ValueError(f"unknown order mode: {order}")

    lines = lines.select(
        "file", "off", F.trim(F.col("line")).alias("line")
    ).filter(F.col("line") != "")

    if labeled:
        # "<label> <body>" with '-' = normal (prepare.py:54-73)
        split = F.split(F.col("line"), " ", 2)
        lines = lines.select(
            "file",
            "off",
            F.when(split.getItem(0) == "-", "normal").otherwise("anomaly").alias("role"),
            split.getItem(1).alias("line"),
        )
    else:
        lines = lines.withColumn("role", F.lit("line"))

    parsed = lines.select(
        "file",
        "off",
        "role",
        F.regexp_extract("line", BLOCK_RE, 1).alias("conv_id"),
        F.to_timestamp(F.regexp_extract("line", TS_RE, 1), "yyMMdd HHmmss").alias("ts"),
        F.regexp_extract("line", r"^\d{6} \d{6} \d+ [A-Z]+ ([^:]+):", 1).alias("tool"),
        F.regexp_extract("line", r"^[^:]*: (.*)$", 1).alias("text"),
    ).filter(F.col("conv_id") != "")

    w = Window.partitionBy("conv_id").orderBy("file", "off")
    return parsed.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "role",
        "text",
        F.nullif("tool", F.lit("")).alias("tool"),
        "ts",
    )
