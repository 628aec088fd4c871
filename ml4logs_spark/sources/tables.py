"""Table-format seam: Iceberg when a catalog is configured, parquet
directories otherwise.

The north rule targets Iceberg tables; this sandbox is offline and
PySpark 4.1.2 ships no Iceberg runtime jar, so the seam exposes one
API and picks the backend at runtime (SURVEY.md §4.2). With Iceberg
present, writes become atomic ``writeTo(...)`` commits and resume can
key on snapshot ids; the parquet fallback emulates commit atomicity
with a _COMMITTED marker written after a successful write plus the
manifest protocol in sources/manifest.py.

``Warehouse.read`` returns one DataFrame per table name and instance:
a parquet read infers the schema, which costs a Spark job, so the
manifest's read-back after a commit and every later read of that table
share one. ``write`` drops the name's entry. A table rewritten behind
the instance's back is not seen until it is written through it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class Warehouse:
    """A directory of named tables behind the format seam."""

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.use_iceberg = catalog is not None and iceberg_available(spark)
        self.catalog = catalog
        self._reads: dict[str, DataFrame] = {}
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
        self._reads.pop(name, None)
        if self.use_iceberg:
            w = df.writeTo(f"{self.catalog}.{name}")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        p = self.path(name)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(p)
        open(os.path.join(p, "_COMMITTED"), "w").write("ok")

    def read(self, name: str) -> DataFrame:
        if name not in self._reads:
            self._reads[name] = (
                self.spark.read.table(f"{self.catalog}.{name}") if self.use_iceberg
                else self.spark.read.parquet(self.path(name))
            )
        return self._reads[name]

    def committed(self, name: str) -> bool:
        if self.use_iceberg:
            try:
                self.spark.read.table(f"{self.catalog}.{name}").schema
                return True
            except Exception:
                return False
        return os.path.exists(os.path.join(self.path(name), "_COMMITTED"))
