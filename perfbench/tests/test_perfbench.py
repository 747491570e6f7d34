"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re

import pytest

from perfbench import eventlog, gen, proctree, run, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

TINY = gen.InputSpec("tiny", turns=40, payload_scale=2, n_files=3)


def test_eventlog_reader_on_fixture():
    ev = eventlog.read(os.path.join(HERE, "fixtures", "eventlog.json"))
    assert sorted(ev.jobs) == [0, 1, 2]
    assert ev.jobs[0].description == "perfbench:sources"
    assert ev.jobs[2].description == ""
    assert ev.jobs[1].seconds == pytest.approx(2.25)

    scan = ev.jobs_where(lambda d: d == "perfbench:sources")
    # the failed task's metrics are not counted
    assert ev.total(scan, "input_bytes") == 4000
    assert ev.total(scan, "input_records") == 40
    assert ev.total(scan, "executor_cpu_ns") == 80_000_000
    assert ev.total(scan, "gc_ms") == 5
    assert ev.stages[0].tasks == 2

    write = ev.jobs_where(lambda d: d == "perfbench:write")
    assert ev.total(write, "shuffle_write_bytes") == 400
    assert ev.total(write, "data sent to Python workers") == 6000
    assert ev.total(write, "data returned from Python workers") == 1000
    assert ev.total(write, "time to run Python workers") == 220
    assert ev.stages[2].task_shuffle_read_records == [12, 4]
    # stages listed by a job but never run (job 2) are skipped
    assert ev.stages_of(ev.jobs_where(lambda d: d == "")) == []


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_inputs(TINY, 5, str(tmp_path / "a"))
    b = gen.write_inputs(TINY, 5, str(tmp_path / "b"))
    c = gen.write_inputs(TINY, 6, str(tmp_path / "c"))
    assert a == b
    assert a != c
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == TINY.n_files == a["files"]
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()


def test_generator_ids_unique_and_stats_consistent(tmp_path):
    import pyarrow.dataset as ds

    stats = gen.write_inputs(TINY, 3, str(tmp_path))
    t = ds.dataset(str(tmp_path)).to_table()
    keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
    assert len(keys) == len(set(keys)) == stats["turns_total"]
    assert sum(stats["class_turn_share"].values()) == pytest.approx(1.0)
    assert sum(stats["class_byte_share"].values()) == pytest.approx(1.0)
    assert sum(v[0] for v in stats["buckets"].values()) == stats["turns_whitelisted"]
    texts = [x.encode() for x, r in zip(t["text"].to_pylist(), t["role"].to_pylist())
             if r != "system"]
    assert sum(map(len, texts)) == stats["utf8_bytes_whitelisted"]
    assert 0.0 <= stats["duplicate_text_share"] < 1.0
    assert 0.0 < stats["hot_conv_share"] < 1.0
    # whole conversations up to the target: the last one crosses it
    assert stats["turns_whitelisted"] >= TINY.turns
    last = max(k for k in set(t["conv_id"].to_pylist()))
    rest = [r for c, r in zip(t["conv_id"].to_pylist(), t["role"].to_pylist())
            if c != last and r != "system"]
    assert len(rest) < TINY.turns


def test_payload_class_matches_kernel_routing(tmp_path):
    from png_from_pdf_extracter_spark.extractor import extract

    cfg = TINY.gen_config(1, 1).extractor
    for rows in gen.conversations(TINY, 1):
        for r in rows:
            cls = gen.payload_class(r["text"], cfg)
            res = extract(r["text"], cfg)
            assert (cls == "no_payload") == (res.status == "no_payload")
            assert (cls == "too_large") == (res.error_class == "too_large")


def test_metric_names_and_units_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == trace.UNITS
    for name, unit in {**e2e, **layers}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), unit
    assert {w["name"] for w in bench["workloads"]} == set(
        __import__("perfbench.workloads").workloads.WORKLOADS
    )


def test_tree_usage_counts_this_process_and_children():
    import subprocess
    import sys

    cpu0, hwm0 = proctree.tree_usage()
    assert cpu0 > 0 and hwm0 > 0
    child = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                             stdin=subprocess.PIPE)
    try:
        cpu1, hwm1 = proctree.tree_usage()
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert hwm1 > hwm0  # the live child's high-water mark is included
    assert cpu1 >= cpu0
    big = b"x" * (64 * 2**20)
    del big
    _, peak = proctree.tree_usage()
    proctree.tree_usage(reset_peak=True)
    _, after = proctree.tree_usage()
    assert after < peak - 32 * 2**20  # the 64 MiB peak was forgotten
