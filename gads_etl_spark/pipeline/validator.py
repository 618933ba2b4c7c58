"""Validation + authority selection: the state machine's only success path.

Contract parity (reference src/gads_etl/validator.py):

- Count check (A9, validator.py:43-52): re-count the sealed partition and
  compare against the manifest's ``record_count``; mismatch ⇒ failed.
- Success transition with authority retention (M3, validator.py:56-86,
  118-121): if the ledger already holds a *newer* run_id (lexicographically
  greater — run_ids are ISO-ms timestamps so lexicographic == chronological)
  the existing authority is retained — current_run_id, record_count AND
  schema_version all stay with the retained run (validator.py:66-69); the
  attempt still counts.
- Failure transition (M4, validator.py:88-104): keep previous authority and
  record_count, record the error, increment attempts.
- Attempt counting (M8, validator.py:83,101): +1 per validation attempt,
  monotone, never reset.

Scale design: the reference validates one partition per call — two point
lookups and a ledger write each (fine for one process, a driver bottleneck
at 10M partitions). ``validate_batch`` validates N partitions in one
batch: the requests become a JVM-local relation, one glob per requested
(query, day, run) finds its partition directories and ONE read of them
counts them all (no listing of the zone above them, no schema inference
— the cost follows the batch, not the lake), the manifest and previous
state join in, multi-run request batches fold with a window, and ONE
state MERGE commits the outcome.
``validate_partition`` is the single-key wrapper kept for API parity.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from gads_etl_spark.pipeline import fsutil
from gads_etl_spark.pipeline.keys import LOGICAL_KEY, PartitionKey
from gads_etl_spark.pipeline.local import local_frame
from gads_etl_spark.pipeline.raw_sink import PARTITION_FIELDS, RawZone
from gads_etl_spark.pipeline.state_store import STATE_SCHEMA, StateStore

#: One validation attempt: a sealed partition's key, run and schema version.
REQUEST_SCHEMA = T.StructType([
    *PARTITION_FIELDS, T.StructField("schema_version", T.StringType(), True),
])
_REQ = REQUEST_SCHEMA.fieldNames()
_ACTUAL_SCHEMA = T.StructType([
    *PARTITION_FIELDS, T.StructField("actual_count", T.LongType(), False),
])


def _now():
    return datetime.now(timezone.utc).replace(tzinfo=None)


def validate_batch(raw: RawZone, states: StateStore, requests: DataFrame) -> DataFrame:
    """Validate a batch of sealed partitions and MERGE outcomes into state.

    ``requests``: columns (source, customer_id, query_name, logical_date,
    run_id, schema_version). Multiple run_ids for one logical key fold as
    if validated sequentially in run_id order. Returns the merged rows.
    """
    spark = raw.spark
    # The batch is driver-sized: collect it once and continue from a
    # JVM-local relation. Identical duplicate requests would double-count
    # attempts and emit duplicate outcome rows; a batch is a *set* of
    # attempts.
    attempts = list(dict.fromkeys(tuple(r) for r in requests.select(*_REQ).collect()))
    requests = local_frame(spark, attempts, REQUEST_SCHEMA)

    # One count of every requested partition: one glob per requested
    # (source, query, day, run) finds its customers' directories, one read
    # of those directories counts them, grouped on the full attempt key.
    # Directories of customers the batch does not request drop out in the
    # join; a requested directory that does not exist counts 0 (and fails
    # the seal check). The count is the validator's own — it never reads
    # the extractor's.
    runs = sorted({(a[0], a[2], a[3], a[4]) for a in attempts})
    dirs = [d for run in runs for d in fsutil.glob(spark, raw.run_glob(*run))]
    if dirs:
        actual = (
            raw.read_partitions(dirs)
            .groupBy(*LOGICAL_KEY, "run_id")
            .agg(F.count(F.lit(1)).alias("actual_count"))
        )
    else:
        actual = local_frame(spark, [], _ACTUAL_SCHEMA)
    manifest = (
        raw.manifest()
        .where(F.col("run_id").isin(sorted({a[4] for a in attempts})))
        .select(*LOGICAL_KEY, "run_id", F.col("record_count").alias("expected_count"))
    )
    checked = (
        requests
        .join(manifest, [*LOGICAL_KEY, "run_id"], "left")
        .join(actual, [*LOGICAL_KEY, "run_id"], "left")
        .withColumn(
            "ok",
            F.col("expected_count").isNotNull()
            & (F.coalesce(F.col("actual_count"), F.lit(0)) == F.col("expected_count")),
        )
        .withColumn(
            "attempt_error",
            F.when(F.col("expected_count").isNull(),
                   F.concat(F.lit("no manifest row for run_id="), F.col("run_id")))
            .when(~F.col("ok"),
                  F.concat(F.lit("record_count mismatch: payload="),
                           F.coalesce(F.col("actual_count"), F.lit(0)).cast("string"),
                           F.lit(" metadata="), F.col("expected_count").cast("string"))),
        )
    )

    # Fold multi-run batches per logical key as sequential validation in
    # run_id order: final status = last attempt's outcome; the successful
    # authority candidate = max successful run_id in the batch.
    w = Window.partitionBy(*LOGICAL_KEY)
    folded = (
        checked
        .withColumn("_last_run", F.max("run_id").over(w))
        .withColumn("_n_attempts", F.count(F.lit(1)).over(w))
        .withColumn("_best_ok_run",
                    F.max(F.when(F.col("ok"), F.col("run_id"))).over(w))
        .withColumn("_best_ok_count",
                    F.max(F.when(F.col("ok"),
                                 F.struct("run_id", "expected_count", "schema_version"))).over(w))
        .where(F.col("run_id") == F.col("_last_run"))
    )

    prev = states.read().select(
        *LOGICAL_KEY,
        F.col("status").alias("prev_status"),
        F.col("current_run_id").alias("prev_run_id"),
        F.col("schema_version").alias("prev_schema_version"),
        F.col("record_count").alias("prev_record_count"),
        F.col("attempt_count").alias("prev_attempts"),
    )
    joined = folded.join(prev, list(LOGICAL_KEY), "left")

    keep_prev = F.col("prev_run_id").isNotNull() & (
        F.col("_best_ok_run").isNull() | (F.col("prev_run_id") > F.col("_best_ok_run"))
    )
    new_rows = joined.select(
        *LOGICAL_KEY,
        F.when(F.col("ok"), F.lit("success")).otherwise(F.lit("failed")).alias("status"),
        # Authority: greatest of previous authority and best successful run
        # of this batch (M3); failures never change authority (M4).
        F.when(keep_prev, F.col("prev_run_id"))
        .otherwise(F.col("_best_ok_run")).alias("current_run_id"),
        F.when(keep_prev, F.col("prev_schema_version"))
        .otherwise(F.col("_best_ok_count.schema_version")).alias("schema_version"),
        F.when(keep_prev, F.col("prev_record_count"))
        .otherwise(F.col("_best_ok_count.expected_count")).alias("record_count"),
        F.lit(_now()).alias("updated_at"),
        F.when(~F.col("ok"), F.col("attempt_error")).alias("error_message"),
        (F.coalesce(F.col("prev_attempts"), F.lit(0)) + F.col("_n_attempts"))
        .cast("int").alias("attempt_count"),
    )
    # Materialize once, as a JVM-local relation: the outcome rows are one
    # per validated partition (a job batch, not the whole ledger); the
    # MERGE then never re-runs the count scan, and callers collect the
    # returned rows without a job.
    out = local_frame(spark, new_rows.collect(), STATE_SCHEMA)
    states.upsert(out)
    return out


def validate_partition(
    raw: RawZone,
    states: StateStore,
    key: PartitionKey,
    run_id: str,
    schema_version: str = "v1",
) -> dict:
    """Single-partition wrapper over ``validate_batch`` (reference API
    shape, validator.py:23-54). Returns the new state row as a dict."""
    req = local_frame(
        raw.spark,
        [{**key.as_dict(), "run_id": run_id, "schema_version": schema_version}],
        REQUEST_SCHEMA,
    )
    rows = validate_batch(raw, states, req).collect()
    return rows[0].asDict()
