"""The benchmark's workloads, their cached inputs, and one timed production
call with its correctness check.

A call is the single public call a user makes: ``plans.run_job`` on a
catalog, or ``streaming.stream_extract_to_catalog`` drained with
``availableNow`` (the default of ``jobs/run_stream.py``). Both run with
``JobParams()`` defaults. Only the call is inside the clock; preparing its
catalog and checking its output are not.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from . import check, gen
from .proctree import tree_usage


@dataclass(frozen=True)
class Workload:
    name: str
    stream: bool = False


# both run on gen.LARGE: batch_large through run_job, stream_drain through
# the foreachBatch stream
WORKLOADS = {
    w.name: w for w in (Workload("batch_large"), Workload("stream_drain", stream=True))
}

_CACHE_KEEP = 24  # cached inputs kept per checkout, newest first
WARMUP_FILES = 8


@dataclass
class Prepared:
    """A workload's inputs for one seed, cached under the checkout."""

    workload: Workload
    seed: int
    dir: str
    stats: dict
    _expected: dict | None = None

    @property
    def transcripts(self) -> str:
        return os.path.join(self.dir, "transcripts")

    @property
    def warmup(self) -> str:
        """The first ``WARMUP_FILES`` input files: one micro-batch."""
        return os.path.join(self.dir, "warmup")

    @property
    def seeded(self) -> str:
        """A catalog where ``run_job`` committed ``done_buckets()``."""
        return os.path.join(self.dir, "seeded")

    @property
    def expected(self) -> dict:
        if self._expected is None:
            self._expected = check.load_expected(os.path.join(self.dir, "expected"))
        return self._expected

    def pending(self, column: int, done=()) -> int:
        """Sum of a per-bucket stat over the buckets not in ``done``
        (0: whitelisted turns, 1: UTF-8 bytes, 2: turns needing the kernel)."""
        skip = {str(b) for b in done}
        return sum(v[column] for k, v in self.stats["buckets"].items() if k not in skip)


def done_buckets() -> tuple:
    """The buckets a resumed call finds committed: every other one."""
    return tuple(range(0, gen.N_BUCKETS, 2))


def _source_digest() -> str:
    """Digest of the program's source: the oracle is only reused while the
    generator and the extractor are the same code."""
    import hashlib

    import png_from_pdf_extracter_spark as pkg

    h = hashlib.sha256()
    root = os.path.dirname(pkg.__file__)
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def prepare(spark, wl: Workload, seed: int, cache_root: str) -> Prepared:
    """Generate (or reuse) the input table and the oracle for ``seed``."""
    spec = gen.LARGE
    key = (
        f"{spec.name}-t{spec.turns}-p{spec.payload_scale}-f{spec.n_files}"
        f"-s{seed}-{_source_digest()}"
    )
    final = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(final, "stats.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        stats = gen.write_inputs(spec, seed, os.path.join(tmp, "transcripts"))
        from png_from_pdf_extracter_spark.sources import generate_expected

        generate_expected(spark, spec.gen_config(seed, stats["n_convs"])).write.parquet(
            os.path.join(tmp, "expected")
        )
        os.makedirs(os.path.join(tmp, "warmup"))
        for name in sorted(os.listdir(os.path.join(tmp, "transcripts")))[:WARMUP_FILES]:
            shutil.copy(os.path.join(tmp, "transcripts", name), os.path.join(tmp, "warmup"))
        with open(os.path.join(tmp, "stats.json"), "w") as f:
            json.dump(stats, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        _evict(cache_root)
    os.utime(final)
    with open(os.path.join(final, "stats.json")) as f:
        stats = json.load(f)
    return Prepared(wl, seed, final, stats)


def _evict(cache_root: str) -> None:
    entries = sorted(
        (e for e in os.scandir(cache_root) if e.is_dir() and ".tmp" not in e.name),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in entries[_CACHE_KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)


def seed_half(spark, prep: Prepared) -> None:
    """The program itself commits ``done_buckets()`` into ``prep.seeded``
    (cached with the input)."""
    if os.path.exists(os.path.join(prep.seeded, "_READY")):
        return
    from pyspark.sql import functions as F

    from png_from_pdf_extracter_spark.plans import JobParams, run_job
    from png_from_pdf_extracter_spark.sources import read_transcripts, with_partition_id
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    shutil.rmtree(prep.seeded, ignore_errors=True)
    params = JobParams()
    half = (
        with_partition_id(read_transcripts(spark, prep.transcripts), params.n_buckets)
        .filter(F.col("partition_id").isin(list(done_buckets())))
        .drop("partition_id")
    )
    run_job(spark, half, Catalog(prep.seeded), params)
    open(os.path.join(prep.seeded, "_READY"), "w").close()


def fresh_catalog(path: str, seeded: str | None = None) -> None:
    """A catalog as a call finds it: empty, or a copy of ``seeded``."""
    shutil.rmtree(path, ignore_errors=True)
    if seeded:
        shutil.copytree(seeded, path)
        os.remove(os.path.join(path, "_READY"))
    else:
        os.makedirs(path)


@dataclass
class CallResult:
    wall_s: float
    committed: int  # whitelisted turns committed to lineage by the call
    cpu_s: float
    peak_rss: int  # tree's summed VmHWM over the call
    output_bytes: int  # file bytes the call added to the warehouse
    input_bytes: int  # UTF-8 bytes of the turns the call extracted
    batch_p50_s: float
    checked: int = 0  # oracle turns checked
    failed: int = 0  # oracle turns missing or unequal
    problems: list = field(default_factory=list)
    digests: dict = field(default_factory=dict)  # lineage unit -> (rows, digest)


def warm_up(spark, prep: Prepared, wh: str, ckpt: str) -> None:
    """One untimed production call on the first few input files: starts
    the Python workers and compiles the plans before anything is timed."""
    from png_from_pdf_extracter_spark.plans import JobParams, run_job
    from png_from_pdf_extracter_spark.sources import read_transcripts
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    fresh_catalog(wh)
    shutil.rmtree(ckpt, ignore_errors=True)
    if prep.workload.stream:
        from png_from_pdf_extracter_spark.streaming import stream_extract_to_catalog

        stream_extract_to_catalog(
            spark, prep.warmup, Catalog(wh), JobParams(), ckpt
        ).awaitTermination()
    else:
        run_job(spark, read_transcripts(spark, prep.warmup), Catalog(wh), JobParams())


def drain(spark, prep: Prepared, catalog, ckpt: str) -> list:
    """Drain the input through the stream; returns each non-empty
    trigger's ``(triggerExecution, addBatch)`` in milliseconds."""
    from png_from_pdf_extracter_spark.plans import JobParams
    from png_from_pdf_extracter_spark.streaming import stream_extract_to_catalog

    q = stream_extract_to_catalog(spark, prep.transcripts, catalog, JobParams(), ckpt)
    q.awaitTermination()
    return [
        (p["durationMs"]["triggerExecution"], p["durationMs"].get("addBatch", 0))
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]


def tables(stream: bool) -> tuple:
    """(turn table, lineage table, columns naming one commit)."""
    if stream:
        return "extracted_turns_stream", "extract_metrics_stream", ("batch_id", "partition_id")
    return "extracted_turns", "extract_metrics", ("partition_id",)


def lineage(wh: str, stream: bool, done=()) -> dict:
    """Lineage of the commits not in ``done``: unit -> (rows, digest)."""
    _, metrics, units = tables(stream)
    skip = {(b,) for b in done}
    return {
        unit: (r["rows"], r["digest"])
        for r in check.rows(os.path.join(wh, metrics), units + ("rows", "digest"))
        if (unit := tuple(r[u] for u in units)) not in skip
    }


def verify(prep: Prepared, wh: str, stream: bool, before: dict, after: dict,
           done=()) -> tuple:
    """Check a catalog after a call: every oracle turn present and equal,
    lineage complete with each unit once, the call committing exactly the
    pending turns, and the buckets in ``done`` not rewritten.
    Returns ``(failed turns, problems)``."""
    from png_from_pdf_extracter_spark import EXTRACTOR_VERSION

    table, metrics, units = tables(stream)
    failed = check.failed_turns(os.path.join(wh, table), prep.expected)
    problems = check.lineage_problems(
        os.path.join(wh, metrics), units, prep.stats["turns_whitelisted"],
        EXTRACTOR_VERSION,
    )
    committed = sum(rows for rows, _ in lineage(wh, stream, done).values())
    if committed != prep.pending(0, done):
        problems.append(f"call committed {committed} turns, expected {prep.pending(0, done)}")
    kept = {f"partition_id={b}" for b in done}
    for rel, sig in before.items():
        parts = rel.split(os.sep)
        if len(parts) > 1 and parts[1] in kept and after.get(rel) != sig:
            problems.append(f"committed bucket file rewritten: {rel}")
            break
    return failed, problems


def call(spark, prep: Prepared, wh: str, ckpt: str, check_output: bool = True) -> CallResult:
    """One timed production call on a fresh catalog at ``wh``; its output
    is checked against the oracle unless ``check_output`` is false."""
    from png_from_pdf_extracter_spark.plans import JobParams, run_job
    from png_from_pdf_extracter_spark.sources import read_transcripts
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    stream = prep.workload.stream
    fresh_catalog(wh)
    shutil.rmtree(ckpt, ignore_errors=True)
    catalog = Catalog(wh)
    progress = []
    cpu0, _ = tree_usage(reset_peak=True)
    t0 = time.perf_counter()
    if stream:
        progress = drain(spark, prep, catalog, ckpt)
    else:
        run_job(spark, read_transcripts(spark, prep.transcripts), catalog, JobParams())
    wall = time.perf_counter() - t0
    cpu1, peak_rss = tree_usage()
    after = check.file_snapshot(wh)
    res = CallResult(
        wall_s=wall,
        committed=0,
        cpu_s=cpu1 - cpu0,
        peak_rss=peak_rss,
        output_bytes=sum(size for size, _ in after.values()),
        input_bytes=prep.stats["utf8_bytes_whitelisted"],
        batch_p50_s=(
            statistics.median(t for t, _ in progress) / 1000.0 if progress else wall
        ),
        digests=lineage(wh, stream),
    )
    res.committed = sum(rows for rows, _ in res.digests.values())
    if check_output:
        res.checked = prep.stats["turns_whitelisted"]
        res.failed, res.problems = verify(prep, wh, stream, {}, after)
    return res
