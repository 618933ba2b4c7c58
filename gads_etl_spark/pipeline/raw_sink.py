"""Raw zone: immutable, hive-partitioned attempt storage with a manifest seal.

Contract parity (reference docs/raw_sink_contract.md, raw_sink_local.py,
raw_sink_object.py):

- One directory per ``(logical key, run_id)`` holding the payload; the
  partition becomes *visible and immutable* only when it is sealed
  (metadata-last — reference docs/storage_realism.md:35-40,
  raw_sink_local.py:44-48).
- Writing or sealing an already-sealed partition raises (overwrite refusal —
  reference raw_sink_local.py:34-36, docs/raw_sink_contract.md:48-51).
- Directory names are hive-escaped exactly as Spark's ``partitionBy``
  writer escapes them (``keys.escape_path_name``), so a partition written
  one at a time and one written by a bulk ``partitionBy`` job land in the
  same directory — ``run_id=2024-03-01T01%3A00%3A00.000Z`` — and hive
  discovery reads the original value back.
- run_id discovery goes through the manifest table, never a recursive
  directory listing — at 100 TB, listing a prefix with millions of objects
  is the classic S3 anti-pattern; a parquet manifest scan is one job
  (reference's delimiter-listing S8, raw_sink_object.py:72-88, upgraded).

The seal is two artifacts written in order:
1. ``_SEALED.json`` inside the partition directory — the metadata-last
   marker. ``is_sealed`` checks THIS single path: O(1) per check, no
   manifest scan per write (a full-manifest read per write is an O(n)
   listing storm at millions of partitions).
2. A row appended to the ``_manifest`` parquet table — the queryable
   index used by validators/loaders. ``seal_many`` appends one file per
   *batch*, not per partition, so manifest file count tracks job count.
   The batch is a JVM-local relation (``local.local_frame``): the append
   is one job and starts no Python workers.

Scale notes: payload is written by executors with Spark's committer (task
temp → rename), so partial attempts are never visible even before the seal.
Works on any Hadoop filesystem (file://, s3a://, ...).
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from gads_etl_spark.pipeline import fsutil
from gads_etl_spark.pipeline.keys import LOGICAL_KEY, PartitionKey, escape_path_name
from gads_etl_spark.pipeline.local import local_frame

MANIFEST_SCHEMA = T.StructType([
    T.StructField("source", T.StringType(), False),
    T.StructField("customer_id", T.StringType(), False),
    T.StructField("query_name", T.StringType(), False),
    T.StructField("logical_date", T.DateType(), False),
    T.StructField("run_id", T.StringType(), False),
    T.StructField("extracted_at", T.TimestampType(), False),
    T.StructField("schema_version", T.StringType(), False),
    T.StructField("record_count", T.LongType(), False),
    T.StructField("api_version", T.StringType(), True),
    T.StructField("query_signature", T.StringType(), True),
])

#: The five hive partition columns of a raw-zone directory, typed as the
#: manifest types them: read with these, ``customer_id`` stays a string
#: (discovery would infer a digits-only id as a number).
PARTITION_FIELDS = tuple(
    f for f in MANIFEST_SCHEMA.fields if f.name in (*LOGICAL_KEY, "run_id")
)

SEAL_MARKER = "_SEALED.json"


class SealedPartitionError(RuntimeError):
    """Raised on any attempt to mutate a sealed partition."""


def create_raw_zone(spark: SparkSession, root: str | None = None,
                    data_format: str | None = None) -> "RawZone":
    """S9 backend factory (reference raw_sink_factory.py:13-33): the
    storage backend is pure configuration — a ``file://`` root for local,
    ``s3a://`` (or any Hadoop FS URI) for object storage; no code change,
    because every filesystem touch goes through the Hadoop FS API."""
    root = root or os.environ.get("GADS_ETL_RAW_ROOT", "file:///tmp/gads_etl_raw")
    fmt = data_format or os.environ.get("GADS_ETL_RAW_FORMAT", "json")
    if fmt not in RAW_FORMATS:
        raise ValueError(
            f"unsupported raw format {fmt!r} ({'|'.join(RAW_FORMATS)})"
        )
    return RawZone(spark, root, fmt)


#: Payload formats the raw zone can write/read. json mirrors the
#: reference's JSONL payloads (raw_sink.py:70-88); parquet and orc are
#: the columnar options for deployments that skip the JSON hop — both
#: ship in stock Spark (no external jar) and both carry their own schema,
#: so FAILFAST-style schema enforcement comes from the reader-supplied
#: schema rather than a parse mode.
RAW_FORMATS = ("json", "parquet", "orc")


class RawZone:
    def __init__(self, spark: SparkSession, root: str, data_format: str = "json"):
        self.spark = spark
        self.root = root.rstrip("/")
        self.data_format = data_format
        self._manifest_dir = f"{self.root}/_manifest"

    # -- filesystem (Hadoop FS API: file://, s3a://, ... all work) --------

    def _fs(self, path: str):
        return fsutil.get_fs(self.spark, path)

    def _path_exists(self, path: str) -> bool:
        return fsutil.exists(self.spark, path)

    def _write_file_atomic(self, path: str, content: str) -> None:
        """Write via temp + rename — the metadata-last atomicity trick."""
        fsutil.write_text_atomic(self.spark, path, content)

    # -- manifest ---------------------------------------------------------

    def manifest(self) -> DataFrame:
        """All sealed partitions. Empty DataFrame only when the manifest
        has never been written; real I/O errors propagate (a swallowed
        read failure would make ``is_sealed`` return False and break the
        immutability contract — reference raw_sink_local.py:34-36)."""
        if not self._path_exists(self._manifest_dir):
            return local_frame(self.spark, [], MANIFEST_SCHEMA)
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self._manifest_dir)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" in str(exc):
                return local_frame(self.spark, [], MANIFEST_SCHEMA)
            raise

    def _marker_path(self, key: PartitionKey, run_id: str) -> str:
        return os.path.join(self.partition_path(key, run_id), SEAL_MARKER)

    def is_sealed(self, key: PartitionKey, run_id: str) -> bool:
        """O(1): existence of the partition's own seal marker — no
        manifest scan, no directory listing."""
        return self._path_exists(self._marker_path(key, run_id))

    # -- write path -------------------------------------------------------

    def partition_path(self, key: PartitionKey, run_id: str) -> str:
        return f"{self.root}/{key.relative_path()}/run_id={escape_path_name(run_id)}"

    def run_glob(self, source: str, query_name: str, logical_date: date,
                 run_id: str) -> str:
        """Glob over every customer's ``partition_path`` of one
        (source, query, day, run)."""
        return (f"{self.root}/source={escape_path_name(source)}/customer_id=*/"
                f"query_name={escape_path_name(query_name)}/"
                f"logical_date={logical_date.isoformat()}/"
                f"run_id={escape_path_name(run_id)}")

    def write_partition(
        self,
        df: DataFrame,
        key: PartitionKey,
        run_id: str,
        schema_version: str = "v1",
        api_version: str | None = None,
        query_signature: str | None = None,
        count_mode: str = "reread",
    ) -> dict:
        """Write payload, then seal (metadata-last). Returns the manifest row.

        ``count_mode='reread'`` (default) counts the committed files —
        the strongest guarantee: a nondeterministic input can never seal
        a count that disagrees with the payload the validator will later
        re-count (A9), and a partially-visible write is caught too.
        ``count_mode='observe'`` attaches an ``Observation`` to the write
        pass itself (pipeline/metrics.py): same safety against
        nondeterminism (the count describes the exact rows written),
        no second scan — the right mode when the payload is TB-scale and
        the filesystem commit protocol is trusted.
        """
        if count_mode not in ("reread", "observe"):
            raise ValueError(f"count_mode must be 'reread' or 'observe', got {count_mode!r}")
        if self.is_sealed(key, run_id):
            raise SealedPartitionError(
                f"partition {key} run_id={run_id} is sealed; raw partitions are immutable"
            )
        path = self.partition_path(key, run_id)
        if not df.columns and df.isEmpty():
            # A zero-row partition read back from its empty directory has
            # no schema, and no format writes a zero-column frame: it
            # stays an empty directory (curated staging of an empty raw
            # partition).
            fsutil.mkdirs(self.spark, path)
            record_count = 0
        else:
            if count_mode == "observe":
                from gads_etl_spark.pipeline.metrics import observed

                df, obs = observed(df, f"raw_write:{run_id}")
            writer = df.write.mode("errorifexists")
            if self.data_format == "json":
                writer.json(path)
            elif self.data_format == "orc":
                writer.orc(path)
            else:
                writer.parquet(path)
            if count_mode == "observe":
                record_count = int(obs.get["n_rows"])
            else:
                record_count = self._read_payload(path).count()
        meta = {
            "source": key.source,
            "customer_id": key.customer_id,
            "query_name": key.query_name,
            "logical_date": key.logical_date,
            "run_id": run_id,
            "extracted_at": datetime.now(timezone.utc).replace(tzinfo=None),
            "schema_version": schema_version,
            "record_count": record_count,
            "api_version": api_version,
            "query_signature": query_signature,
        }
        self.seal(meta)
        return meta

    def seal(self, meta: dict) -> None:
        """Seal one partition (marker first, then manifest row)."""
        self.seal_many([meta])

    def seal_many(self, metas: list[dict]) -> None:
        """Batch seal: one marker per partition + ONE manifest append for
        the whole batch (manifest file count stays proportional to jobs,
        not partitions — the small-files fix)."""
        markers = {}
        for meta in metas:
            key = PartitionKey(
                meta["source"], meta["customer_id"], meta["query_name"],
                meta["logical_date"],
            )
            marker = self._marker_path(key, meta["run_id"])
            if self._path_exists(marker):
                raise SealedPartitionError(
                    f"partition {key} run_id={meta['run_id']} is already sealed"
                )
            markers[marker] = meta
        for marker, meta in markers.items():
            self._write_file_atomic(marker, json.dumps({k: str(v) for k, v in meta.items()}))
        rows = local_frame(self.spark, metas, MANIFEST_SCHEMA)
        rows.coalesce(1).write.mode("append").parquet(self._manifest_dir)

    def compact_manifest(self) -> int:
        """Rewrite the manifest directory into a single file (returns the
        file count before compaction).

        Append-only manifests accumulate one file per seal batch; a
        long-running deployment compacts periodically so manifest reads
        stay one-task. Single-writer discipline (only the sealing process
        writes the manifest — same rule as the reference's state store,
        docs/state_store_contract.md:32-33) makes the swap safe: write
        compacted data aside, then replace the directory.
        """
        fs, hdir = self._fs(self._manifest_dir)
        if not fs.exists(hdir):
            return 0
        before = sum(1 for f in fs.listStatus(hdir)
                     if f.getPath().getName().endswith(".parquet"))
        if before <= 1:
            return before
        rows = self.manifest()
        tmp = self._manifest_dir + ".compact"
        rows.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = self._manifest_dir + ".old"
        jvm = self.spark._jvm
        fs.rename(hdir, jvm.org.apache.hadoop.fs.Path(old))
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hdir)
        fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
        return before

    # -- read path --------------------------------------------------------

    def _read_payload(self, path: str, schema: T.StructType | None = None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if self.data_format == "json":
            reader = reader.option("mode", "FAILFAST")
        try:
            return reader.format(self.data_format).load(path)
        except AnalysisException as exc:
            # A zero-row partition is an empty directory (extract_day_bulk
            # creates it without a write job): no file to infer from.
            if schema is None and "UNABLE_TO_INFER_SCHEMA" in str(exc):
                return self.spark.range(0).drop("id")
            raise

    def read_partition(self, key: PartitionKey, run_id: str,
                       schema: T.StructType | None = None) -> DataFrame:
        if not self.is_sealed(key, run_id):
            raise FileNotFoundError(
                f"partition {key} run_id={run_id} is not sealed (unsealed ⇒ invisible)"
            )
        return self._read_payload(self.partition_path(key, run_id), schema)

    def read_partitions(self, paths: list[str],
                        data_schema: T.StructType | None = None) -> DataFrame:
        """Read the given partition directories (``partition_path``s, or
        glob patterns over them) with their five partition columns — and
        only them: no listing of the zone above, no schema inference.
        ``data_schema`` names the payload columns to read; the default
        (none) is enough for counting rows. Every path must exist."""
        schema = T.StructType([*(data_schema.fields if data_schema else []),
                               *PARTITION_FIELDS])
        reader = self.spark.read.option("basePath", self.root).schema(schema)
        if self.data_format == "json":
            reader = reader.option("mode", "FAILFAST")
        return reader.format(self.data_format).load(paths)

    def read_all(self, schema: T.StructType | None = None) -> DataFrame:
        """Read the whole raw zone with hive partition discovery — the
        consumer's scan (payload columns + the 5 partition columns).
        """
        reader = self.spark.read.option("basePath", self.root)
        if schema is not None:
            reader = reader.schema(schema)
        if self.data_format == "json":
            return reader.option("mode", "FAILFAST").json(self.root)
        if self.data_format == "orc":
            return reader.orc(self.root)
        return reader.parquet(self.root)

    def list_run_ids(self, key: PartitionKey) -> list[str]:
        """Sorted run_ids of a logical partition, from the manifest (S8)."""
        rows = (
            self.manifest()
            .where(
                (F.col("source") == key.source)
                & (F.col("customer_id") == key.customer_id)
                & (F.col("query_name") == key.query_name)
                & (F.col("logical_date") == F.lit(key.logical_date))
            )
            .select(F.sort_array(F.collect_set("run_id")).alias("run_ids"))
            .collect()
        )
        return rows[0]["run_ids"] if rows else []

    def run_id_index(self) -> DataFrame:
        """Per logical key: sorted run_id set (distributed version of S8)."""
        return (
            self.manifest()
            .groupBy(*LOGICAL_KEY)
            .agg(F.sort_array(F.collect_set("run_id")).alias("run_ids"))
        )
