"""Table-format seam: Iceberg when a catalog is configured, parquet
directories otherwise.

The north rule targets Iceberg tables; this sandbox is offline and
PySpark 4.1.2 ships no Iceberg runtime jar, so the seam exposes one
API and picks the backend at runtime (SURVEY.md §4.2). With Iceberg
present, writes become atomic ``writeTo(...)`` commits and resume can
key on snapshot ids; the parquet fallback emulates commit atomicity
with a _COMMITTED marker written after a successful write plus the
manifest protocol in sources/manifest.py.

A parquet table written through a ``Warehouse`` is read back with the
data columns that write had, so the read runs no Spark job: Spark still
finds the partition columns, and infers their types, from the
directory names, so the schema equals that of a fresh
``spark.read.parquet``. A table the instance did not write is read by
inference, which costs one job. ``read`` returns one DataFrame per
table name and instance; ``write`` drops the name's entry, so a table
rewritten behind the instance's back is not seen until it is written
through it.

``counts`` gives a committed table's row count, and its row count per
partition value, from the parquet footers on the driver, with no Spark
job.
"""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructType

# the directory name Spark writes for a NULL (or empty string) partition value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# partition column types whose collected values counts() renders from the
# path; a key of any other type is counted by Spark
_PATH_VALUE = {StringType(): str, IntegerType(): int, LongType(): int}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _listed(name: str) -> bool:
    # the files and directories Spark's file index reads
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _unescape(s: str) -> str:
    # Spark's unescapePathName: each %XX is the character with code XX
    return re.sub("%([0-9a-fA-F]{2})", lambda m: chr(int(m[1], 16)), s)


class Warehouse:
    """A directory of named tables behind the format seam."""

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.use_iceberg = catalog is not None and iceberg_available(spark)
        self.catalog = catalog
        self._reads: dict[str, DataFrame] = {}
        # name -> (schema a read passes, partition columns) of each parquet write
        self._written: dict[str, tuple[StructType, list[str]]] = {}
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
        self._reads.pop(name, None)
        self._written.pop(name, None)
        if self.use_iceberg:
            w = df.writeTo(f"{self.catalog}.{name}")
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        p = self.path(name)
        keys = list(partition_by or [])
        w = df.write.mode(mode)
        if keys:
            w = w.partitionBy(*keys)
        w.parquet(p)
        open(os.path.join(p, "_COMMITTED"), "w").write("ok")
        fields = [f for f in df.schema if f.name not in keys]
        if keys and not any("=" in d for d in os.listdir(p)):
            # no rows, so no partition directories to find the keys from
            fields += [df.schema[k] for k in keys]
        self._written[name] = StructType(fields), keys

    def read(self, name: str) -> DataFrame:
        if name not in self._reads:
            if self.use_iceberg:
                df = self.spark.read.table(f"{self.catalog}.{name}")
            elif name in self._written:
                df = self.spark.read.schema(self._written[name][0]).parquet(self.path(name))
            else:
                df = self.spark.read.parquet(self.path(name))
            self._reads[name] = df
        return self._reads[name]

    def counts(self, name: str, keys: list[str] | None = None
               ) -> tuple[int, dict[str, int] | None]:
        """(rows, per-key rows) of a committed table. With ``keys``, the
        second is ``{"v1/v2": rows}`` over the keys' distinct values,
        each rendered ``str(v)`` of the value a read collects (NULL ->
        "None"); without, it is None.

        A parquet table is counted from its part files' footers, and by
        the partition directory names when ``keys`` are string or integer
        partition columns of this instance's write, with no Spark job.
        Otherwise (Iceberg, other keys) it runs a Spark count and, with
        ``keys``, a group-by collect."""
        df = self.read(name)
        types = {f.name: f.dataType for f in df.schema}
        parts = self._written[name][1] if name in self._written else []
        if self.use_iceberg or any(k not in parts or types[k] not in _PATH_VALUE
                                   for k in keys or ()):
            rows = df.count()
            if not keys:
                return rows, None
            grouped = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()
            return rows, {"/".join(str(v) for v in r[:-1]): r[-1] for r in grouped}
        rows, lineage = 0, {}
        root = self.path(name)
        for d, dirs, files in os.walk(root):
            dirs[:] = sorted(x for x in dirs if _listed(x))
            n = sum(pq.read_metadata(os.path.join(d, f)).num_rows
                    for f in files if _listed(f))
            rows += n
            if keys and n:
                segs = (s.split("=", 1) for s in os.path.relpath(d, root).split(os.sep))
                raw = {_unescape(c): v for c, v in segs}
                key = "/".join("None" if raw[k] == _HIVE_NULL
                               else str(_PATH_VALUE[types[k]](_unescape(raw[k])))
                               for k in keys)
                lineage[key] = lineage.get(key, 0) + n
        return rows, lineage if keys else None

    def committed(self, name: str) -> bool:
        if self.use_iceberg:
            try:
                self.spark.read.table(f"{self.catalog}.{name}").schema
                return True
            except Exception:
                return False
        return os.path.exists(os.path.join(self.path(name), "_COMMITTED"))
