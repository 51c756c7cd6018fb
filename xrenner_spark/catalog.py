"""Thin table layer: Iceberg when a catalog is configured, partitioned
parquet otherwise.

The north rule targets Iceberg tables; this sandbox has no Iceberg
runtime jar available offline, so the same pipeline code runs against a
parquet warehouse with identical table names, schemas, snapshot-style
overwrite semantics and per-stage ``_lineage`` sidecar tables
(SURVEY.md §7 risk item 4).  Swapping in Iceberg is a construction-time
flag: ``Catalog(spark, iceberg_catalog="my_cat")`` routes every call
through ``writeTo``/``spark.read.table`` instead.

Jar status — TERMINAL (2026-08-17, round 4, final attempt): no
iceberg/table-format jar anywhere on the image, no pyiceberg, and
repo1.maven.org is DNS-unresolvable from the sandbox, so a real Iceberg
catalog can never execute here.  The branch is therefore a validated
feature flag: the constructor refuses an ``iceberg_catalog`` whose
``spark.sql.catalog.<name>`` configuration is absent (loud fail naming
the missing jar/config instead of an opaque AnalysisException at first
write).  What could be executed WAS executed (test_catalog_v2):
``tableExists`` and ``spark.read.table`` run green against Spark's
built-in V2SessionCatalog stand-in; ``createOrReplace`` and
``writeTo(...).append()`` reach the JVM and are rejected only by the
session catalog's missing capabilities (RTAS unsupported; V1Table not
writable through V2) — i.e. every call in the branch is well-formed
DataSourceV2 API, and only the capabilities an Iceberg catalog
provides need the runtime jar at deploy time.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    """``partition`` (parquet only): a ``column=value`` directory, e.g.
    ``batch_id=7``, under every table; the catalog sees only that
    partition, and a reader of a table's directory gets every partition
    with the column (partition discovery)."""

    def __init__(self, spark: SparkSession, warehouse: str,
                 iceberg_catalog: Optional[str] = None,
                 partition: Optional[str] = None):
        self.spark = spark
        self.warehouse = warehouse
        self.iceberg_catalog = iceberg_catalog
        self.partition = partition
        if iceberg_catalog is None:
            os.makedirs(warehouse, exist_ok=True)
        else:
            # feature-flag validation (see module docstring): fail loudly
            # at construction if the named catalog is not configured,
            # instead of an opaque AnalysisException at first write.
            # "spark_catalog" is Spark's built-in session catalog and is
            # always present (V2SessionCatalog; no RTAS — stand-in for
            # the executable subset of the branch only).
            name = iceberg_catalog.split(".")[0]
            if name != "spark_catalog" and \
                    spark.conf.get("spark.sql.catalog." + name, None) is None:
                raise RuntimeError(
                    "iceberg_catalog=%r but spark.sql.catalog.%s is not "
                    "configured — an iceberg-spark-runtime jar plus the "
                    "catalog config must be on the cluster (unobtainable "
                    "in this sandbox; see catalog.py docstring)"
                    % (iceberg_catalog, name))

    # -- naming ---------------------------------------------------------
    def _path(self, name: str) -> str:
        path = os.path.join(self.warehouse, name)
        return os.path.join(path, self.partition) if self.partition else path

    def _ident(self, name: str) -> str:
        return "%s.%s" % (self.iceberg_catalog, name)

    # -- operations ------------------------------------------------------
    def exists(self, name: str) -> bool:
        if self.iceberg_catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        path = self._path(name)
        return os.path.isdir(path) and os.path.exists(os.path.join(path, "_SUCCESS"))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite"):
        if self.iceberg_catalog:
            writer = df.writeTo(self._ident(name))
            if mode == "append":
                writer.append()
            else:
                writer.createOrReplace()
            return
        df.write.mode(mode).parquet(self._path(name))

    def read(self, name: str, schema=None) -> DataFrame:
        """``schema`` (parquet only): the table's known schema, which
        spares the footer-reading job that schema inference starts."""
        if self.iceberg_catalog:
            return self.spark.read.table(self._ident(name))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def lineage(self, stage: str) -> DataFrame:
        return self.read("_lineage_" + stage)
