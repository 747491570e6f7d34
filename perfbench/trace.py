"""The traced pass: per-layer metrics for one workload.

It follows the timed calls in the same session, which for ``--trace 1``
runs with Spark's event log on. Each layer's public functions are called
in ``run_job``'s order, under one job description per layer:

- cumulative no-op-sink passes time the layers Spark fuses into one stage:
  ``sources`` (scan, whitelist, bucket), ``salting`` (+ salted shuffle),
  ``boundary`` (+ identity ``mapInPandas``) and ``kernel`` (+ the real
  extractor); each layer's time is its pass minus the one before, so noise
  can make a small layer negative;
- the production steps then run for real on a fresh catalog: ``write``,
  ``quarantine`` and ``lineage`` for batch, whose lineage digests must
  equal those of the timed ``run_job`` calls, or one drain of
  ``stream_extract_to_catalog``, whose lineage must equal the timed
  drains';
- batch only: the same steps again, resumed on a catalog where
  ``run_job`` already committed every other bucket (``resume-*``).

Counts (bytes to and from Python, shuffle bytes, task skew, GC, spill,
executor CPU) come from the event log of the production steps. The kernel's
per-class cost is timed in-process on one thread over a sample of the
workload's own input, and the same work at a single task slot gives the
scaling efficiency to ``nproc`` slots.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import statistics
import time

from . import check, eventlog, gen, session, workloads

KERNEL_SAMPLE = 60  # turns per payload class for the in-process kernel timing

UNITS = {
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "sources.rows_whitelisted": "count",
    "salting.shuffle_s": "s",
    "salting.shuffle_write_bytes": "B",
    "salting.max_task_rows_over_mean": "ratio",
    "extract_plan.python_bytes_sent": "B",
    "extract_plan.python_bytes_returned": "B",
    "extract_plan.python_worker_s": "s",
    "extract_plan.boundary_s": "s",
    "extract_plan.kernel_s": "s",
    "extract_plan.useful_share": "ratio",
    **{f"kernel.us_per_turn.{c}": "us" for c in (
        "html", "fragment", "pdf", "plain", "too_large", "no_payload")},
    "write.s": "s",
    "write.bytes": "B",
    "write.files": "count",
    "postwrite.readback_rows": "count",
    "postwrite.quarantine_s": "s",
    "postwrite.lineage_s": "s",
    "resume.skipped_rows": "count",
    "resume.readback_over_written": "ratio",
    "stream.add_batch_p50_s": "s",
    "stream.commit_overhead_p50_ms": "ms",
    "stream.commit_overhead_slope_ms_per_batch": "ms",
    "jvm.gc_s": "s",
    "jvm.spill_bytes": "B",
    "executor.cpu_s": "s",
    "trace.layer_sum_over_wall": "ratio",
    "trace.overhead_s": "s",
    "trace.scaling_eff_1_to_nproc": "ratio",
}


def _identity(batches):
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, layer: str, fn):
    spark.sparkContext.setJobDescription(layer)
    try:
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out
    finally:
        spark.sparkContext.setJobDescription(None)


def _slope(ys) -> float:
    """Least-squares slope of ``ys`` over their index."""
    k = len(ys)
    if k < 2:
        return 0.0
    xbar, ybar = (k - 1) / 2.0, sum(ys) / k
    sxx = sum((i - xbar) ** 2 for i in range(k))
    return sum((i - xbar) * (y - ybar) for i, y in enumerate(ys)) / sxx


def kernel_us_per_turn(prep) -> dict:
    """Single-thread, in-process extractor cost per payload class over the
    first ``KERNEL_SAMPLE`` whitelisted turns of each class in the input."""
    import re

    import pyarrow.dataset as ds

    from png_from_pdf_extracter_spark.datagen import ROLE_WHITELIST, SYNTH_EXTRACTOR_CFG
    from png_from_pdf_extracter_spark.extractor import extract

    cfg = SYNTH_EXTRACTOR_CFG
    whitelist = re.compile(ROLE_WHITELIST)
    samples = {c: [] for c in gen.CLASSES}
    table = ds.dataset(prep.transcripts).to_table(columns=["role", "text"])
    for role, text in zip(table["role"].to_pylist(), table["text"].to_pylist()):
        if whitelist.search(role):
            s = samples[gen.payload_class(text, cfg)]
            if len(s) < KERNEL_SAMPLE:
                s.append(text)
    out = {}
    for cls, texts in samples.items():
        reps, t0 = 0, time.perf_counter()
        while texts and (reps == 0 or time.perf_counter() - t0 < 0.05):
            for t in texts:
                extract(t, cfg)
            reps += 1
        n = reps * len(texts)
        out[f"kernel.us_per_turn.{cls}"] = (
            (time.perf_counter() - t0) / n * 1e6 if n else 0.0
        )
    return out


def _batch_layers(spark, prep, wh: str, prefix: str, ablate: bool,
                  seeded: str | None = None) -> tuple:
    """``run_job``'s steps on a fresh catalog (a copy of ``seeded`` when
    resuming), each under the description ``prefix + layer``; with
    ``ablate`` the no-op-sink layer passes first. Returns (seconds per
    layer, lineage rows committed)."""
    from pyspark.sql import functions as F

    from png_from_pdf_extracter_spark.operators import (
        completed_partitions, pending_only, salted_repartition, split_quarantine,
    )
    from png_from_pdf_extracter_spark.plans import (
        METRICS_SCHEMA, JobParams, extract_turns, partition_metrics,
    )
    from png_from_pdf_extracter_spark.plans.extract_plan import _final_turn_columns
    from png_from_pdf_extracter_spark.sources import read_transcripts, with_partition_id
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    workloads.fresh_catalog(wh, seeded)
    catalog = Catalog(wh)
    params = JobParams()
    metrics = (
        catalog.read(spark, "extract_metrics")
        if catalog.exists("extract_metrics") else None
    )
    transcripts = read_transcripts(spark, prep.transcripts)
    t = {}
    if ablate:
        num = max(2, spark.sparkContext.defaultParallelism * 2)

        def source():
            df = transcripts.filter(F.col("role").rlike(params.role_whitelist))
            return with_partition_id(df, params.n_buckets)

        def salted():
            return salted_repartition(source(), num, params.salt_buckets)

        t["sources"], _ = _timed(spark, prefix + "sources", lambda: _noop(source()))
        t["salting"], _ = _timed(spark, prefix + "salting", lambda: _noop(salted()))
        t["boundary"], _ = _timed(
            spark, prefix + "boundary",
            lambda: _noop(salted().mapInPandas(_identity, source().schema)),
        )
        t["kernel"], _ = _timed(
            spark, prefix + "kernel",
            lambda: _noop(extract_turns(spark, transcripts, params, metrics)),
        )

    started_at = _dt.datetime.now(_dt.timezone.utc)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out = _final_turn_columns(extract_turns(spark, transcripts, params, metrics), params)
    t["write"], _ = _timed(
        spark, prefix + "write",
        lambda: out.write.mode("overwrite").partitionBy("partition_id")
        .parquet(catalog.path("extracted_turns")),
    )
    written = catalog.read(spark, "extracted_turns")
    if metrics is not None:
        written = pending_only(
            written, completed_partitions(metrics, params.extractor_version)
        )
    t["quarantine"], _ = _timed(
        spark, prefix + "quarantine",
        lambda: split_quarantine(written)[1].write.mode("overwrite")
        .partitionBy("partition_id").parquet(catalog.path("extract_errors")),
    )

    def lineage():
        rows = partition_metrics(written, params.extractor_version, started_at).collect()
        if rows:
            catalog.append(spark.createDataFrame(rows, METRICS_SCHEMA), "extract_metrics")
        return sum(r["rows"] for r in rows)

    t["lineage"], committed = _timed(spark, prefix + "lineage", lineage)
    return t, committed


def _stream_layers(spark, prep, wh: str, ckpt: str) -> tuple:
    """Layer passes of the stream's plan (no salted shuffle), then one
    traced drain. Returns (seconds per layer, trigger durations, epoch ms
    at the drain's start)."""
    from pyspark.sql import functions as F

    from png_from_pdf_extracter_spark.plans import JobParams, extract_turns
    from png_from_pdf_extracter_spark.sources import read_transcripts, with_partition_id
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    params = JobParams()
    transcripts = read_transcripts(spark, prep.transcripts)

    def source():
        df = transcripts.filter(F.col("role").rlike(params.role_whitelist))
        return with_partition_id(df, params.n_buckets)

    t = {}
    t["sources"], _ = _timed(spark, "sources", lambda: _noop(source()))
    t["boundary"], _ = _timed(
        spark, "boundary",
        lambda: _noop(source().mapInPandas(_identity, source().schema)),
    )
    # the stream's extraction chain as a batch plan: whitelist -> bucket ->
    # mapInPandas with the same UDF, no shuffle
    unsalted = JobParams(salt_mode="never")
    t["kernel"], _ = _timed(
        spark, "kernel",
        lambda: _noop(extract_turns(spark, transcripts, unsalted)),
    )
    workloads.fresh_catalog(wh)
    shutil.rmtree(ckpt, ignore_errors=True)
    catalog = Catalog(wh)
    start_ms = time.time() * 1000
    t["stream"], progress = _timed(
        spark, "stream", lambda: workloads.drain(spark, prep, catalog, ckpt)
    )
    return t, progress, start_ms


def _python_stage(ev, jobs):
    """The stage of ``jobs`` that ran the extraction UDF."""
    stages = [s for s in ev.stages_of(jobs) if s.sql.get("data sent to Python workers")]
    return max(stages, key=lambda s: s.sql["data sent to Python workers"], default=None)


def run(spark, prep, work: str, timed: list, nproc: int) -> tuple:
    """The traced pass, after the ``timed`` calls in the same event-logged
    session. Returns ``(spark, per-layer metrics, problems)``; the returned
    session is the one the caller must stop."""
    wl = prep.workload
    timed_wall = statistics.median(r.wall_s for r in timed)
    table = workloads.tables(wl.stream)[0]
    wh, ckpt = os.path.join(work, "wh-traced"), os.path.join(work, "ckpt-traced")
    m = {k: 0.0 for k in UNITS}
    problems = []
    done = ()
    if wl.stream:
        t, progress, drain_ms = _stream_layers(spark, prep, wh, ckpt)
    else:
        t, _ = _batch_layers(spark, prep, wh, "", ablate=True)
        # resume: the program commits every other bucket, then the traced
        # steps run again on a copy of that catalog
        done = workloads.done_buckets()
        workloads.seed_half(spark, prep)
        seeded = check.file_snapshot(prep.seeded)
        rwh = os.path.join(work, "wh-resumed")
        _, r_committed = _batch_layers(spark, prep, rwh, "resume-", ablate=False,
                                       seeded=prep.seeded)
        failed, probs = workloads.verify(
            prep, rwh, False, seeded, check.file_snapshot(rwh), done)
        if failed:
            probs.append(f"resumed catalog: {failed} turns missing or unequal")
        problems += probs
    written = check.file_snapshot(os.path.join(wh, table))
    if workloads.lineage(wh, wl.stream) != timed[-1].digests:
        problems.append("traced lineage digests differ from the timed calls'")
    app = spark.sparkContext.applicationId
    session.stop(spark)
    ev = eventlog.read(os.path.join(work, "eventlog", app))

    def jobs(*layers):
        names = set(layers)
        return ev.jobs_where(lambda d: d in names)

    if wl.stream:
        prod = [j for j in ev.jobs.values() if j.start_ms >= drain_ms]
        # each micro-batch: the job running the extractor writes the turns,
        # the jobs after it in the same batch append the lineage
        by_batch: dict = {}
        for j in prod:
            by_batch.setdefault(j.description, []).append(j)
        lineage_s = 0.0
        for batch_jobs in by_batch.values():
            py = [i for i, j in enumerate(batch_jobs) if _python_stage(ev, [j])]
            if py:
                lineage_s += sum(j.seconds for j in batch_jobs[py[0] + 1:])
        m["postwrite.lineage_s"] = lineage_s
        m["write.s"] = t["stream"] - t["kernel"] - lineage_s
        production_wall = t["stream"]
        adds = [a / 1000.0 for _, a in progress]
        overheads = [trig - a for trig, a in progress]
        m["stream.add_batch_p50_s"] = statistics.median(adds)
        m["stream.commit_overhead_p50_ms"] = statistics.median(overheads)
        m["stream.commit_overhead_slope_ms_per_batch"] = _slope(overheads)
        m["extract_plan.boundary_s"] = t["boundary"] - t["sources"]
    else:
        prod = jobs("write", "quarantine", "lineage")
        m["salting.shuffle_s"] = t["salting"] - t["sources"]
        m["salting.shuffle_write_bytes"] = ev.total(jobs("write"), "shuffle_write_bytes")
        py_stage = _python_stage(ev, jobs("write"))
        rows = py_stage.task_shuffle_read_records if py_stage else []
        if sum(rows):
            m["salting.max_task_rows_over_mean"] = max(rows) / (sum(rows) / len(rows))
        m["extract_plan.boundary_s"] = t["boundary"] - t["salting"]
        m["write.s"] = t["write"] - t["kernel"]
        m["postwrite.quarantine_s"] = t["quarantine"]
        m["postwrite.lineage_s"] = t["lineage"]
        m["postwrite.readback_rows"] = ev.total(jobs("quarantine"), "input_records")
        m["resume.skipped_rows"] = prep.stats["turns_whitelisted"] - prep.pending(0, done)
        m["resume.readback_over_written"] = (
            ev.total(jobs("resume-quarantine"), "input_records") / r_committed
        )
        production_wall = t["write"] + t["quarantine"] + t["lineage"]

    m["sources.scan_s"] = t["sources"]
    m["sources.input_bytes"] = ev.total(jobs("sources"), "input_bytes")
    m["sources.rows_whitelisted"] = prep.stats["turns_whitelisted"]
    m["extract_plan.python_bytes_sent"] = ev.total(prod, "data sent to Python workers")
    m["extract_plan.python_bytes_returned"] = ev.total(
        prod, "data returned from Python workers")
    m["extract_plan.python_worker_s"] = ev.total(prod, "time to run Python workers") / 1e3
    m["extract_plan.kernel_s"] = t["kernel"] - t["boundary"]
    m["extract_plan.useful_share"] = prep.pending(2) / prep.pending(0)
    m.update(kernel_us_per_turn(prep))
    m["write.bytes"] = sum(size for size, _ in written.values())
    m["write.files"] = sum(1 for k in written if k.endswith(".parquet"))
    m["jvm.gc_s"] = ev.total(prod, "gc_ms") / 1e3
    m["jvm.spill_bytes"] = ev.total(prod, "disk_spill_bytes")
    m["executor.cpu_s"] = ev.total(prod, "executor_cpu_ns") / 1e9
    layer_sum = (
        m["sources.scan_s"] + m["salting.shuffle_s"] + m["extract_plan.boundary_s"]
        + m["extract_plan.kernel_s"] + m["write.s"] + m["postwrite.quarantine_s"]
        + m["postwrite.lineage_s"]
    )
    m["trace.layer_sum_over_wall"] = layer_sum / timed_wall
    m["trace.overhead_s"] = production_wall - timed_wall

    # the same work at a single task slot: batch repeats the production
    # call; the stream repeats its extraction plan (the ``kernel`` pass),
    # as a one-slot drain would cost four times the drain
    spark, _ = session.start(session.session_conf(work, 1))
    if wl.stream:
        from png_from_pdf_extracter_spark.plans import JobParams, extract_turns
        from png_from_pdf_extracter_spark.sources import read_transcripts

        one, _ = _timed(spark, "kernel", lambda: _noop(extract_turns(
            spark, read_transcripts(spark, prep.transcripts),
            JobParams(salt_mode="never"))))
        m["trace.scaling_eff_1_to_nproc"] = one / (nproc * t["kernel"])
    else:
        one = workloads.call(spark, prep, os.path.join(work, "wh-1"),
                             os.path.join(work, "ckpt-1"), check_output=False)
        m["trace.scaling_eff_1_to_nproc"] = one.wall_s / (nproc * timed_wall)
    return spark, m, problems
