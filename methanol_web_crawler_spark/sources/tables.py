"""Iceberg-style snapshot/append table store.

Iceberg's transactional semantics behind a thin interface, with no
Iceberg runtime (SURVEY.md §7 note): immutable parquet data files + a
JSON manifest log with atomic commit (write-tmp + rename) and
time-travel reads. The crawl plan uses ``append``, ``snapshots``,
``read_round``/``read_until``/``read_latest`` and ``latest_round``;
the bucketed append, ``read_since`` and ``read_bucketed`` have no
engine caller (PLANS.md, bucketed seen table).

Layout::

    <root>/<table>/data/r=<round>-<uuid>/   (parquet files)
    <root>/<table>/manifest.json            (snapshot log)

Each manifest entry records the round, the data path, the Spark
schema of what was written (``schema``, the ``StructType`` as JSON),
its row count and per-data-file lineage (file name -> rows), read from
the Parquet footers of the files the append just wrote (Iceberg's
per-file ``record_count``, taken from the writer with no re-scan).

An append takes a DataFrame, written by one Spark job, or rows the
driver already holds (a list of tuples plus their ``StructType``),
which the driver writes as one Parquet file with pyarrow and no Spark
job. Both commit the same manifest entry. Every read hands the
recorded schema to the Parquet reader, so building a read frame runs
no schema-inference job. A restarted crawl reads frontier/seen at
``latest_round`` and the full-state tables at their latest snapshot,
and continues.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.data_dir = os.path.join(self.dir, "data")
        self.manifest_path = os.path.join(self.dir, "manifest.json")
        os.makedirs(self.data_dir, exist_ok=True)
        if not os.path.exists(self.manifest_path):
            self._write_manifest({"snapshots": []})

    # -- manifest ------------------------------------------------------

    def _read_manifest(self) -> dict:
        with open(self.manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic commit

    # -- write ---------------------------------------------------------

    def append(self, data, round_no: int,
               bucket_by: Optional[tuple] = None,
               schema: Optional[StructType] = None) -> dict:
        """Append one snapshot. Returns the manifest entry: round,
        path, ``schema`` (the written ``StructType`` as JSON), ``rows``
        and ``partitions`` (data file name -> rows, from the written
        files' Parquet footers — no Spark job runs after the write).

        ``data`` is a DataFrame, written by one Spark job, or a list of
        row tuples the driver already holds, with their ``schema``;
        the driver writes those as one Parquet file (pyarrow, schema
        from ``to_arrow_schema``) and no Spark job runs.

        ``bucket_by=(col, n)`` (DataFrames only) writes the snapshot as
        a BUCKETED parquet table (repartitioned first so each bucket is
        ONE file, sorted by the bucket column): a bucketed scan
        re-attached via ``read_bucketed`` joins on ``col`` with NO
        exchange on this side, so only the other side shuffles
        (PLANS.md, bucketed seen table)."""
        path = os.path.join(
            self.data_dir, f"r={round_no:06d}-{uuid.uuid4().hex[:8]}"
        )
        if isinstance(data, DataFrame):
            schema = data.schema
            if bucket_by:
                col, n = bucket_by
                tmp_name = f"snap_{uuid.uuid4().hex[:12]}"
                (
                    data.repartition(n, col)
                    .write.bucketBy(n, col)
                    .sortBy(col)
                    .option("path", path)
                    .mode("overwrite")
                    .saveAsTable(tmp_name)
                )
                # the in-memory catalog entry is session-local
                # scaffolding; the files + manifest carry everything
                # needed to re-attach
                data.sparkSession.sql(f"DROP TABLE IF EXISTS {tmp_name}")
            else:
                data.write.mode("overwrite").parquet(path)
        elif bucket_by:
            raise ValueError("bucket_by needs a DataFrame")
        else:
            os.makedirs(path)
            pq.write_table(
                pa.Table.from_pylist(
                    [dict(zip(schema.names, row)) for row in data],
                    schema=to_arrow_schema(schema),
                ),
                os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"),
            )
        entry = {"round": round_no, "path": path,
                 "schema": schema.jsonValue()}
        if bucket_by:
            entry["bucket_by"] = [bucket_by[0], int(bucket_by[1])]
        entry["partitions"] = {
            f: pq.read_metadata(os.path.join(path, f)).num_rows
            for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        }
        entry["rows"] = sum(entry["partitions"].values())
        manifest = self._read_manifest()
        manifest["snapshots"].append(entry)
        self._write_manifest(manifest)
        return entry

    # -- read ----------------------------------------------------------

    def snapshots(self) -> List[dict]:
        return self._read_manifest()["snapshots"]

    def latest_round(self) -> Optional[int]:
        snaps = self.snapshots()
        return max((s["round"] for s in snaps), default=None)

    @staticmethod
    def _read(spark: SparkSession, snaps: List[dict]) -> Optional[DataFrame]:
        """The union of ``snaps``' data, read with the newest one's
        recorded schema (every field nullable): no job runs until the
        frame is used."""
        if not snaps:
            return None
        schema = StructType.fromJson(snaps[-1]["schema"])
        return spark.read.schema(schema).parquet(*(s["path"] for s in snaps))

    def read_round(self, spark: SparkSession, round_no: int) -> Optional[DataFrame]:
        """The snapshot(s) appended at exactly ``round_no``."""
        return self._read(
            spark, [s for s in self.snapshots() if s["round"] == round_no]
        )

    def read_until(self, spark: SparkSession,
                   round_no: Optional[int] = None) -> Optional[DataFrame]:
        """Union of all appends with round <= round_no (time travel);
        all snapshots when round_no is None. This is the read shape of
        accumulating tables (seen / targets / crawl_log / metrics)."""
        return self._read(spark, [
            s for s in self.snapshots()
            if round_no is None or s["round"] <= round_no
        ])

    def read_since(self, spark: SparkSession,
                   after_round: int) -> Optional[DataFrame]:
        """Union of appends with round > after_round — the 'recent
        deltas' read of a compacted accumulating table."""
        return self._read(
            spark, [s for s in self.snapshots() if s["round"] > after_round]
        )

    def read_latest(self, spark: SparkSession) -> Optional[DataFrame]:
        """The most recently appended snapshot only — the read shape
        of full-state tables (hosts / names), where each append
        supersedes the previous one."""
        return self._read(spark, self.snapshots()[-1:])

    def read_bucketed(self, spark: SparkSession,
                      table_name: str = None) -> Optional[DataFrame]:
        """Re-attach the latest bucketed snapshot as a bucketed TABLE
        scan (CREATE TABLE ... CLUSTERED BY ... LOCATION — the
        in-memory catalog forgets between sessions, the files don't),
        its columns from the recorded schema. Joins on the bucket
        column then need no exchange on this side; falls back to
        ``read_latest`` for non-bucketed snapshots."""
        snaps = self.snapshots()
        if not snaps:
            return None
        last = snaps[-1]
        if "bucket_by" not in last:
            return self.read_latest(spark)
        col, n = last["bucket_by"]
        name = table_name or f"snap_attach_{uuid.uuid4().hex[:12]}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} "
            f"({StructType.fromJson(last['schema']).toDDL()}) USING PARQUET "
            f"CLUSTERED BY ({col}) SORTED BY ({col}) INTO {n} BUCKETS "
            f"LOCATION '{last['path']}'"
        )
        return spark.table(name)

    def rollback_to(self, round_no: int) -> None:
        """Drop manifest entries newer than ``round_no`` (data files
        are left in place, unreachable — Iceberg-style rollback)."""
        manifest = self._read_manifest()
        manifest["snapshots"] = [
            s for s in manifest["snapshots"] if s["round"] <= round_no
        ]
        self._write_manifest(manifest)


class SnapshotStore:
    """A directory of SnapshotTables — the crawl's durable state."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._tables = {}

    def table(self, name: str) -> SnapshotTable:
        if name not in self._tables:
            self._tables[name] = SnapshotTable(self.root, name)
        return self._tables[name]
