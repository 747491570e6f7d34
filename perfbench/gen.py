"""Seeded benchmark inputs, generated with the program's own generator.

Every conversation comes from ``datagen.conv_rows(i, GenConfig(seed=...))``,
so each (conv_id, turn_idx) is unique and no text is replicated under a
suffixed id: a future text memo can only profit from duplicates the
generator itself produces, and ``duplicate_text_share`` records how many
that is. ``sources.generate_expected`` with the same ``GenConfig`` is the
oracle the benchmark checks against.

Run alone to write one input and print its stats::

    python3 perfbench/gen.py --seed 7 --out large-7
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from collections import Counter
from dataclasses import dataclass

# payload classes in the order the kernel routes them (kernel.extract)
CLASSES = ("no_payload", "too_large", "pdf", "html", "fragment", "plain")
# classes whose turns need the Python kernel; the rest are settled by its
# first two checks (empty text, byte cap) or pass plain text through
KERNEL_CLASSES = ("pdf", "html", "fragment")

N_BUCKETS = 64  # JobParams().n_buckets: the benchmark runs the defaults


@dataclass(frozen=True)
class InputSpec:
    """One input table shape; the seed makes it concrete. Conversations
    are added until ``turns`` whitelisted turns are reached, so every seed
    gives the same amount of work to within one conversation."""

    name: str
    turns: int
    payload_scale: int
    n_files: int

    def gen_config(self, seed: int, n_convs: int):
        from png_from_pdf_extracter_spark.datagen import GenConfig

        return GenConfig(seed=seed, n_convs=n_convs, payload_scale=self.payload_scale)


# the benchmark's input: multi-KB payloads with uniform keys, where 13% of
# turns are over the byte cap but carry 64% of the bytes, all of them still
# shipped to Python; 160 files give the stream 20 micro-batches of 8 files
LARGE = InputSpec("large", turns=4096, payload_scale=8, n_files=160)


def payload_class(text, cfg) -> str:
    """The kernel's routing decision for one payload, in its own order."""
    from png_from_pdf_extracter_spark.extractor.kernel import _find_embedded

    if text is None or not text.strip():
        return "no_payload"
    if len(text.encode("utf-8", "surrogatepass")) > cfg.max_bytes:
        return "too_large"
    return _find_embedded(text)[0]


def conversations(spec: InputSpec, seed: int) -> list:
    """Each conversation's rows, in conv_idx order, up to ``spec.turns``
    whitelisted turns."""
    from png_from_pdf_extracter_spark.datagen import ROLE_WHITELIST, conv_rows

    whitelist = re.compile(ROLE_WHITELIST)
    # without a hot conversation, conv_rows does not depend on n_convs
    gcfg = spec.gen_config(seed, n_convs=1)
    convs, turns = [], 0
    while turns < spec.turns:
        rows = conv_rows(len(convs), gcfg)
        turns += sum(1 for r in rows if whitelist.search(r["role"]))
        convs.append(rows)
    return convs


def write_inputs(spec: InputSpec, seed: int, out_dir: str) -> dict:
    """Write the transcripts as ``spec.n_files`` parquet files under
    ``out_dir`` (consecutive conversations per file) and return the input's
    stats. Byte counts are UTF-8 octets of the text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from png_from_pdf_extracter_spark.datagen import ROLE_WHITELIST
    from png_from_pdf_extracter_spark.sources.transcripts import (
        partition_bucket_py,
    )

    convs = conversations(spec, seed)
    n_convs = len(convs)
    cfg = spec.gen_config(seed, n_convs).extractor
    whitelist = re.compile(ROLE_WHITELIST)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    os.makedirs(out_dir, exist_ok=True)
    turns_total = 0
    class_turns: Counter = Counter()
    class_bytes: Counter = Counter()
    conv_turns: Counter = Counter()
    texts: Counter = Counter()
    buckets: dict = {}
    batch: list = []
    file_idx = 0
    for i, rows in enumerate(convs):
        turns_total += len(rows)
        batch.extend(rows)
        for r in rows:
            if not whitelist.search(r["role"]):
                continue
            cls = payload_class(r["text"], cfg)
            nbytes = len(r["text"].encode("utf-8", "surrogatepass"))
            class_turns[cls] += 1
            class_bytes[cls] += nbytes
            conv_turns[r["conv_id"]] += 1
            texts[r["text"]] += 1
            b = buckets.setdefault(
                partition_bucket_py(r["conv_id"], N_BUCKETS), [0, 0, 0]
            )
            b[0] += 1
            b[1] += nbytes
            b[2] += cls in KERNEL_CLASSES
        if (i + 1) * spec.n_files // n_convs > file_idx:
            table = pa.Table.from_pylist(batch, schema=schema)
            pq.write_table(
                table, os.path.join(out_dir, f"part-{file_idx:05d}.parquet")
            )
            file_idx += 1
            batch = []
    turns = sum(class_turns.values())
    total_bytes = sum(class_bytes.values())
    return {
        "input": spec.name,
        "seed": seed,
        "n_convs": n_convs,
        "payload_scale": spec.payload_scale,
        "files": file_idx,
        "turns_total": turns_total,
        "turns_whitelisted": turns,
        "utf8_bytes_whitelisted": total_bytes,
        "class_turn_share": {c: class_turns[c] / turns for c in CLASSES},
        "class_byte_share": {c: class_bytes[c] / total_bytes for c in CLASSES},
        "kernel_turn_share": sum(class_turns[c] for c in KERNEL_CLASSES) / turns,
        "hot_conv_share": max(conv_turns.values()) / turns,
        "duplicate_text_share": 1.0 - len(texts) / turns,
        # partition_id -> [whitelisted turns, utf8 bytes, kernel turns]
        "buckets": {str(k): v for k, v in sorted(buckets.items())},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True, help="output directory")
    args = p.parse_args(argv)
    stats = write_inputs(LARGE, args.seed, args.out)
    stats.pop("buckets")
    print(json.dumps(stats, indent=1))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
