"""TableIO — the storage seam between the engine and its index tables
(SURVEY §7's promised iceberg→parquet abstraction; north rule: "global
term-partitioned index stored in Iceberg").

Two backends, one contract (write partitioned table / read / atomic
publish):

``iceberg``
    Real Iceberg tables in a configured Spark catalog. The term-partitioned
    postings/lexicon use the ``bucket(64, term)`` partition transform (the
    crc32&63 layout the reference bakes into file names, GenDb.dpr:349,
    becomes a declarative transform the scanner prunes on); publish is a
    snapshot commit, giving real atomicity + time travel instead of the
    hand-rolled CURRENT pointer. Selected automatically when the
    iceberg-spark runtime jars are on the classpath AND a catalog name is
    supplied.

``parquet``
    Directory layout with ``bucket=NN`` partition dirs and the CURRENT
    pointer swap (the ready2.dat dual-path analog, GenDb.dpr:1354-1357).
    This is the fallback used in this container (no Iceberg jars baked in)
    and is byte-for-byte the layout the rest of the engine reads.

The seam is deliberately thin: callers express intent (write this table
partitioned by these columns, atomically publish this version) and the
backend supplies the mechanism. Nothing else in the engine knows which
backend is active.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is on the Spark classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableIO:
    """Backend-dispatching table reader/writer for the index's tables."""

    def __init__(
        self,
        spark: SparkSession,
        backend: str = "auto",
        catalog: str | None = None,
        namespace: str = "deusu",
    ):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        if backend == "auto":
            backend = (
                "iceberg"
                if catalog is not None and iceberg_available(spark)
                else "parquet"
            )
        if backend == "iceberg" and not iceberg_available(spark):
            raise RuntimeError(
                "iceberg backend requested but the iceberg-spark runtime "
                "jars are not on the classpath"
            )
        if backend == "iceberg" and catalog is None:
            raise RuntimeError("iceberg backend requires a catalog name")
        self.backend = backend

    # -- naming ---------------------------------------------------------------
    def _ident(self, table: str) -> str:
        """Iceberg table identifier for a logical table path."""
        # logical names arrive as filesystem-ish paths; flatten to one name
        flat = table.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
        return f"{self.catalog}.{self.namespace}.{flat}"

    # -- write ----------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        bucket_transform: tuple[int, str] | None = None,
    ) -> None:
        """Write ``df`` as the table's content.

        bucket_transform=(n, col): on Iceberg, declare ``bucket(n, col)``
        as the partition transform instead of identity partitioning on the
        precomputed bucket column — the scanner then prunes term probes by
        transform, no physical column needed. On parquet, the precomputed
        column in partition_by provides the same pruning.

        CAUTION: combine bucket_transform with mode="overwrite_partitions"
        only when the caller's write granularity is aligned to the
        TRANSFORM's partitions. Iceberg's murmur bucket(col) does not match
        the engine's crc32 bucket column, so writes grouped by the crc32
        column would dynamically overwrite (and lose) other groups' rows —
        the build therefore identity-partitions its partition-overwritten
        tables on the bucket column (build._write_buckets).
        """
        if self.backend == "parquet":
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(table)
            return
        ident = self._ident(table)
        writer = df.writeTo(ident)
        if bucket_transform is not None:
            try:  # spark >= 4 moved the partition transforms
                from pyspark.sql.functions import partitioning as P

                bucket_fn = P.bucket
            except ImportError:  # pragma: no cover - spark 3.x
                from pyspark.sql import functions as _F

                bucket_fn = _F.bucket
            n, col = bucket_transform
            writer = writer.partitionedBy(bucket_fn(n, col))
        elif partition_by:
            from pyspark.sql import functions as F

            cols = [F.col(c) for c in partition_by]
            writer = writer.partitionedBy(*cols)
        if mode == "overwrite":
            writer.createOrReplace()
        elif mode == "overwrite_partitions":
            # dynamic partition overwrite: replaces exactly the partitions
            # present in df — the idempotent per-bucket-group commit
            if self.spark.catalog.tableExists(ident):
                writer.overwritePartitions()
            else:
                writer.create()
        else:
            try:
                writer.append()
            except Exception:
                writer.create()

    # -- read -----------------------------------------------------------------
    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read the table; ``snapshot_id`` pins an Iceberg snapshot.

        A pinned read is snapshot-isolated time travel: it sees exactly
        the committed state of that snapshot regardless of later commits
        (including dynamic partition overwrites) — the catalog-side twin
        of the parquet backend's version-pinned generation directories,
        which is why the parquet branch rejects the parameter: there,
        time travel IS reading the pinned version directory resolved via
        the CURRENT pointer (publish()/current())."""
        if self.backend == "parquet":
            if snapshot_id is not None:
                raise ValueError(
                    "parquet backend has no snapshot ids — read the pinned "
                    "version directory (see publish()/current())"
                )
            return self.spark.read.parquet(table)
        rdr = self.spark.read
        if snapshot_id is not None:
            rdr = rdr.option("snapshot-id", str(snapshot_id))
        return rdr.table(self._ident(table))

    def exists(self, table: str) -> bool:
        if self.backend == "parquet":
            return os.path.isdir(table)
        return self.spark.catalog.tableExists(self._ident(table))

    # -- atomic publish ---------------------------------------------------------
    def publish(self, root: str, version: str) -> None:
        """Make ``version`` the index generation readers see.

        Both backends write the atomic CURRENT pointer (the ready2.dat
        analog): the version directory is a filesystem concept either way —
        meta.json and the resume lineage live there — and every reader
        (current_index_dir) resolves generations through it. On iceberg the
        table snapshots are already committed; the pointer rename is what
        flips readers to the new generation atomically, and a one-row
        bookkeeping table additionally records the generation for
        catalog-side time travel."""
        if self.backend == "iceberg":
            self.spark.createDataFrame(
                [(root, version)], ["root", "version"]
            ).writeTo(self._ident(os.path.join(root, "_current"))).createOrReplace()
        tmp = os.path.join(root, "CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, os.path.join(root, "CURRENT"))

    def current(self, root: str) -> str:
        with open(os.path.join(root, "CURRENT")) as f:
            return f.read().strip()
