"""Flagship extraction plan — the Spark re-expression of the reference's
per-item workflow (``/root/reference/src/services/job_processor.py:51-184``:
fetch -> whitelist -> MIME walk -> convert -> reassemble -> commit), as ONE
declarative DataFrame plan:

    scan transcripts
      -> anti-join completed partitions (the "UNSEEN" predicate)
      -> role whitelist filter (pushed to the scan by Catalyst)
      -> stable partition buckets (md5(conv_id) % n_buckets)
      -> salted repartition (hot-conversation skew)
      -> mapInPandas(extract)  [Arrow batches, zero per-row Python UDF calls]
      -> write extracted_turns partitioned by bucket (dynamic overwrite =
         idempotent re-run), quarantine detail, per-bucket lineage metrics

Scale notes (100 TB / 1000 executors):
- The only wide exchanges are the salted repartition (needed for skew) and
  the metrics groupBy over ~n_buckets groups (tiny). Extraction itself is a
  map stage; no join touches the big table except the broadcast anti-join.
- The salted repartition is a RANGE exchange over (bucket, salt): each task
  writes whole buckets, so the bucket-partitioned output holds at most
  n_buckets + num_partitions - 1 files per table (a hash exchange scatters
  every bucket over most tasks). Its range bounds cost one sampling job, a
  JVM-only pass over the filtered scan that never touches Python.
- Column pruning: the UDF input is exactly the 6 transcript columns; the
  post-write passes (errors, metrics) read back pruned columns from parquet
  instead of re-running extraction.
- Dynamic partition overwrite by bucket makes re-runs idempotent without a
  read-modify-write dedup (the Iceberg overwrite-partition commit analog).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import EXTRACTOR_VERSION
from ..datagen.transcripts import ROLE_WHITELIST, SYNTH_EXTRACTOR_CFG
from ..extractor import ExtractorConfig, extract_batch_lists
from ..operators import (
    pending_only,
    completed_partitions,
    salted_repartition,
    split_quarantine,
)
from ..sources.catalog import Catalog
from ..sources.transcripts import SPAN_SCHEMA, with_partition_id
from .metrics import METRICS_SCHEMA, partition_metrics

UNITS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("unit_idx", T.IntegerType()),
            T.StructField("unit_text", T.StringType()),
            T.StructField("spans", SPAN_SCHEMA),
        ]
    )
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("status", T.StringType()),
        T.StructField("error_class", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("units", UNITS_SCHEMA),
        T.StructField("text_bytes", T.LongType()),
        T.StructField("text_head", T.StringType()),
    ]
)

# Default (slim) UDF output: the nested ``units`` array would carry every
# payload's text a SECOND time (unit_text duplicates extracted_text) across
# the Arrow boundary and into the shuffle/write path — ~2x the bytes of the
# hot pipeline for data only the per-unit fan-out table needs. The slim
# schema ships pre-flattened spans + the unit count instead; callers that
# need the fan-out (explode_units) opt in with ``with_units=True``.
EXTRACTED_SLIM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("status", T.StringType()),
        T.StructField("error_class", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", SPAN_SCHEMA),
        T.StructField("n_units", T.IntegerType()),
        T.StructField("text_bytes", T.LongType()),
        T.StructField("text_head", T.StringType()),
    ]
)


@dataclass
class JobParams:
    """Validated job parameters (the ``Configuration`` analog,
    ref ``src/config.py:8-117``; range checks mirror ``config.py:54-112``)."""

    n_buckets: int = 64
    salt_buckets: int = 8
    num_partitions: Optional[int] = None  # None -> 2x defaultParallelism
    role_whitelist: str = ROLE_WHITELIST
    extractor: ExtractorConfig = field(default_factory=lambda: SYNTH_EXTRACTOR_CFG)
    extractor_version: str = EXTRACTOR_VERSION
    write_units: bool = False  # also write the per-unit fan-out table
    # "always": unconditional salted shuffle (the north-star default);
    # "auto": sample-measure skew at plan time, shuffle only if a hot
    #         conversation exceeds a task's fair share (skips the single
    #         biggest data movement on uniform inputs);
    # "never": trust the source splits (bucketed/pre-partitioned input)
    salt_mode: str = "always"
    # Input-side CHECK validation (operators/validate.py). Off by default:
    # it costs ONE EXTRA SCAN of the raw input (rejects are found by a
    # second pass), which at 100 TB is a deliberate opt-in for untrusted
    # sources, not a freebie. The extractor itself already tolerates any
    # text payload; this gate catches structurally broken rows (null
    # conv_id/ts, negative turn_idx, oversized payloads).
    validate_input: bool = False
    max_text_bytes: int = 100 * 1024 * 1024  # ref pdf_attachment.py:30
    # Input payloads arrive base64-encoded (the transfer-encoding decode of
    # ref job_processor.py:207 ``part.get_payload(decode=True)``): decode
    # with the try_to_binary builtin BEFORE extraction — invalid base64
    # yields null text, which flows through the kernel's no_payload error
    # channel instead of failing the task.
    payload_base64: bool = False
    # CC fan-out (ref smtp_service.py:120-144): extra sink tables that
    # receive a copy of this run's extracted rows (written from the
    # read-back parquet — one extra output scan each, never re-extraction).
    cc_tables: tuple = ()

    def __post_init__(self) -> None:
        if self.n_buckets <= 0:
            raise ValueError("n_buckets must be positive")
        if self.salt_buckets <= 0:
            raise ValueError("salt_buckets must be positive")
        if not self.role_whitelist:
            raise ValueError("role_whitelist must be a non-empty regex")
        if self.salt_mode not in ("always", "auto", "never"):
            raise ValueError("salt_mode must be always|auto|never")
        if self.max_text_bytes <= 0:
            raise ValueError("max_text_bytes must be positive")
        if any(not t or not isinstance(t, str) for t in self.cc_tables):
            raise ValueError("cc_tables must be non-empty table names")


def _make_extract_udf(cfg: ExtractorConfig, emit_units: bool = False):
    """Build the mapInPandas function. The config rides the task closure once
    per task, never per row (ref constant-folding of conversion params,
    ``pdf_converter.py:74-89``). ``emit_units`` selects the full schema
    (nested per-unit texts, 2x output bytes) vs the slim default."""

    def extract_fn(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            statuses, errors, texts_out, units = extract_batch_lists(
                pdf["text"].tolist(), cfg
            )
            n = len(pdf)
            cols = {
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "partition_id": pdf["partition_id"].values,
                "role": pdf["role"].values,
                "tool": pdf["tool"].values,
                "ts": pdf["ts"].values,
                "status": statuses,
                "error_class": errors,
                "extracted_text": texts_out,
                "text_bytes": pdf["text"].str.len().fillna(0).astype("int64"),
                "text_head": [
                    (pdf["text"].iat[i] or "")[:256] if statuses[i] == "error" else ""
                    for i in range(n)
                ],
            }
            if emit_units:
                cols["units"] = [
                    [
                        {
                            "unit_idx": ui,
                            "unit_text": ut,
                            "spans": [
                                {"start": s, "end": e, "kind": k}
                                for (s, e, k) in sp
                            ],
                        }
                        for (ui, ut, sp) in row_units
                    ]
                    for row_units in units
                ]
                order = EXTRACTED_SCHEMA
            else:
                cols["spans"] = [
                    [
                        {"start": s, "end": e, "kind": k}
                        for (_, _, sp) in row_units
                        for (s, e, k) in sp
                    ]
                    for row_units in units
                ]
                cols["n_units"] = pd.Series(
                    [len(ru) for ru in units], dtype="int32"
                )
                order = EXTRACTED_SLIM_SCHEMA
            yield pd.DataFrame(cols)[[f.name for f in order.fields]]

    return extract_fn


def extract_turns(
    spark: SparkSession,
    transcripts: DataFrame,
    params: JobParams,
    metrics: Optional[DataFrame] = None,
    with_units: Optional[bool] = None,
) -> DataFrame:
    """The lazy extraction DataFrame: whitelist -> bucket -> (resume) ->
    salt -> mapInPandas. Callers write it or test it. ``with_units``
    (default: ``params.write_units``) selects the full nested-units output;
    the slim default halves UDF output bytes (see EXTRACTED_SLIM_SCHEMA)."""
    emit_units = params.write_units if with_units is None else with_units
    df = transcripts.filter(F.col("role").rlike(params.role_whitelist))
    if params.payload_base64:
        # transfer-encoding decode (ref job_processor.py:207), builtin and
        # null-safe: undecodable payloads become null -> kernel no_payload.
        # MIME encoders wrap lines with CRLF; strip those first (base64's
        # alphabet contains no whitespace, so this never corrupts data)
        df = df.withColumn(
            "text",
            F.try_to_binary(
                F.regexp_replace(F.col("text"), "[\\r\\n]", ""),
                F.lit("base64"),
            ).cast("string"),
        )
    df = with_partition_id(df, params.n_buckets)
    if metrics is not None:
        df = pending_only(
            df, completed_partitions(metrics, params.extractor_version)
        )
    num = params.num_partitions or max(
        2, spark.sparkContext.defaultParallelism * 2
    )
    if params.salt_mode == "always":
        df = salted_repartition(df, num, params.salt_buckets)
    elif params.salt_mode == "auto":
        from ..operators import salted_repartition_auto

        df = salted_repartition_auto(df, num, params.salt_buckets)
    schema = EXTRACTED_SCHEMA if emit_units else EXTRACTED_SLIM_SCHEMA
    return df.mapInPandas(
        _make_extract_udf(params.extractor, emit_units), schema
    )


def _final_turn_columns(extracted: DataFrame, params: JobParams) -> DataFrame:
    """Stamp row digest + version; flatten unit spans when the full nested
    schema was requested (the per-unit fan-out is its own optional table).
    Everything here is JVM builtins — stays in whole-stage codegen."""
    if "units" in extracted.columns:
        spans = F.flatten(
            F.transform("units", lambda u: u["spans"])
        ).alias("spans")
        n_units = F.size("units").alias("n_units")
    else:
        spans, n_units = F.col("spans"), F.col("n_units")
    return extracted.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        "status",
        "error_class",
        "extracted_text",
        spans,
        n_units,
        "text_bytes",
        "text_head",
        F.xxhash64("conv_id", "turn_idx", "extracted_text", "status").alias(
            "row_digest"
        ),
        F.lit(params.extractor_version).alias("extractor_version"),
        "partition_id",
    )


def run_job(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: Catalog,
    params: JobParams,
    resume: bool = True,
) -> dict:
    """Run the batch extraction job end-to-end with lineage + resume.

    Commit protocol (delete-source-on-commit analog, ref
    ``job_processor.py:148-153``): data lands first (per-bucket dynamic
    overwrite), the lineage row in ``extract_metrics`` lands last. A crash
    between the two leaves the bucket uncommitted -> next run re-extracts and
    overwrites it (at-least-once + idempotent, spec NFR-007/008).
    """
    started_at = _dt.datetime.now(_dt.timezone.utc)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    if params.validate_input:
        from ..operators import split_valid

        transcripts, rejects = split_valid(transcripts, params.max_text_bytes)
        # run identity on the dead-letter rows: a resumed/re-run job appends
        # the same rejects again (the input is re-scanned), so consumers
        # must be able to distinguish and dedup by run
        rejects.withColumn(
            "run_id", F.lit(started_at.isoformat())
        ).write.mode("append").parquet(catalog.path("input_rejects"))

    metrics = (
        catalog.read(spark, "extract_metrics")
        if resume and catalog.exists("extract_metrics")
        else None
    )

    extracted = extract_turns(spark, transcripts, params, metrics)

    if params.write_units:
        from ..operators import explode_units

        # cache the frame that still carries ``units`` so both writes below
        # read it; extraction (scan -> shuffle -> mapInPandas) runs once
        extracted = extracted.persist()
        explode_units(
            extracted.select(
                "conv_id", "turn_idx", "partition_id", "units"
            )
        ).write.mode("append").parquet(catalog.path("extracted_units"))

    (
        _final_turn_columns(extracted, params)
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(catalog.path("extracted_turns"))
    )
    if params.write_units:
        extracted.unpersist()

    # Post-write passes read back pruned columns (no re-extraction).
    written = catalog.read(spark, "extracted_turns")
    if metrics is not None:
        done = completed_partitions(metrics, params.extractor_version)
        written = pending_only(written, done)

    _, quarantined = split_quarantine(written)
    (
        quarantined.write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(catalog.path("extract_errors"))
    )

    # CC fan-out (ref smtp_service.py:120-144): same extracted rows to the
    # extra sinks, copied from the read-back parquet (one output scan per
    # sink) BEFORE the lineage commit so a crash mid-fan-out re-runs the
    # whole bucket rather than leaving a cc sink ahead of the commit record
    for cc in params.cc_tables:
        written.write.mode("append").partitionBy("partition_id").parquet(
            catalog.path(cc)
        )

    # lineage commit lands LAST (delete-source-on-commit analog); the row
    # count comes from the collected metrics rows — one scan of the output,
    # no second count() pass
    m_rows = partition_metrics(
        written, params.extractor_version, started_at
    ).collect()
    if m_rows:
        catalog.append(
            spark.createDataFrame(m_rows, METRICS_SCHEMA), "extract_metrics"
        )
    return {
        "rows": int(sum(r["rows"] for r in m_rows)),
        "started_at": started_at.isoformat(),
        "n_buckets": params.n_buckets,
    }
