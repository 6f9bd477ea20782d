"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the workload seed: the same seed writes the
same bytes. The program under test receives only the generated files.

* ``write_sequence_tables`` — the validation input: the package's own
  ``datagen`` tables (``GenSpec(seed=...)``) written with
  ``storage.write_bucketed`` in the bucketed-by-``doc_id`` layout that
  ``run_validation.py --materialize`` produces.
* ``write_logs`` — HDFS-style raw logs over ten fixed message templates (the
  templates of ``tools/gen_scale_logs.py``) with seed-salted parameters: a
  cold file, a disjoint warm file, and a known set of warm lines drawn from
  two templates the cold file never uses (the planted novel templates).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

# (format, the template the parser must learn for it). Digits and IPv4
# addresses are parameters (masked to <*> at parse time), everything else is
# constant text.
TEMPLATES = [
    ("Receiving block blk_{p} src /10.0.{q}.{r} dest /10.0.0.9",
     "Receiving block blk_<*> src /<*> dest /<*>"),
    ("PacketResponder {q} for block blk_{p} terminating",
     "PacketResponder <*> for block blk_<*> terminating"),
    ("Verification succeeded for blk_{p}",
     "Verification succeeded for blk_<*>"),
    ("Deleting block blk_{p} file /data/part-{q}",
     "Deleting block blk_<*> file /data/part-<*>"),
    ("BLOCK NameSystem allocateBlock /user/job_{q}/part-{r} blk_{p}",
     "BLOCK NameSystem allocateBlock /user/job_<*>/part-<*> blk_<*>"),
    ("Served block blk_{p} to /10.0.{q}.{r}",
     "Served block blk_<*> to /<*>"),
    ("Exception in receiveBlock for block blk_{p} java.io.IOException",
     "Exception in receiveBlock for block blk_<*> java.io.IOException"),
    ("Starting thread to transfer block blk_{p} to /10.0.{q}.{r}",
     "Starting thread to transfer block blk_<*> to /<*>"),
    ("Received block blk_{p} of size {r} from /10.0.{q}.1",
     "Received block blk_<*> of size <*> from /<*>"),
    ("writeBlock blk_{p} received exception java.io.EOFException",
     "writeBlock blk_<*> received exception java.io.EOFException"),
]

NOVEL_TEMPLATES = [
    ("Unexpected error trying to delete block blk_{p} BlockInfo not found in volumeMap",
     "Unexpected error trying to delete block blk_<*> BlockInfo not found in volumeMap"),
    ("Changing block file offset of block blk_{p} from {r} to {q} meta file offset to 7",
     "Changing block file offset of block blk_<*> from <*> to <*> meta file offset to <*>"),
]


def _h(i: int, salt: str) -> int:
    return int.from_bytes(hashlib.md5(f"{salt}:{i}".encode()).digest()[:6], "big")


@dataclass(frozen=True)
class LogSpec:
    seed: int
    cold_lines: int
    warm_lines: int
    novel_every: int   # every novel_every-th warm line is a planted novel line


def _line(i: int, salt: str, fmt: str) -> str:
    body = fmt.format(
        p=_h(i, salt + "p") % 10_000_000,
        q=_h(i, salt + "q") % 250,
        r=_h(i, salt + "r") % 100_000,
    )
    return f"081109 {203500 + i % 400} {i % 100} INFO dfs.DataNode$PacketResponder: {body}"


def write_logs(spec: LogSpec, out_dir: str) -> dict:
    """Write ``cold.log`` and ``warm.log`` under ``out_dir``; return the
    expectations the parse checks use (learned templates, and the content of
    each planted line)."""
    os.makedirs(out_dir, exist_ok=True)
    cold_salt, warm_salt = f"{spec.seed}:cold", f"{spec.seed}:warm"
    with open(os.path.join(out_dir, "cold.log"), "w") as f:
        for i in range(spec.cold_lines):
            fmt = TEMPLATES[_h(i, cold_salt + "t") % len(TEMPLATES)][0]
            f.write(_line(i, cold_salt, fmt) + "\n")
    planted: list[str] = []
    with open(os.path.join(out_dir, "warm.log"), "w") as f:
        for i in range(spec.warm_lines):
            if i % spec.novel_every == spec.novel_every - 1:
                k = (i // spec.novel_every) % len(NOVEL_TEMPLATES)
                line = _line(i, warm_salt, NOVEL_TEMPLATES[k][0])
                planted.append(line.split(": ", 1)[1])  # the Content field
            else:
                fmt = TEMPLATES[_h(i, warm_salt + "t") % len(TEMPLATES)][0]
                line = _line(i, warm_salt, fmt)
            f.write(line + "\n")
    n_novel = min(len(planted), len(NOVEL_TEMPLATES))
    return {
        "cold_templates": sorted(t for _, t in TEMPLATES),
        "novel_templates": sorted(t for _, t in NOVEL_TEMPLATES[:n_novel]),
        "planted_lines": sorted(planted),
    }


@dataclass(frozen=True)
class SeqSpec:
    seed: int
    n_docs: int
    n_parts: int
    n_buckets: int


def write_sequence_tables(spark, spec: SeqSpec, out_dir: str) -> dict:
    """Materialise the validation input under ``out_dir`` (sequences and
    snapshot bucketed by doc_id, and the drift baseline) and return the
    paths the workload registers. The allowed-sources dimension is a dozen
    rows and stays an in-memory DataFrame."""
    from log_anomaly_detector_spark import storage
    from log_anomaly_detector_spark.config import RuleConfig
    from log_anomaly_detector_spark.datagen import (
        GenSpec,
        gen_baseline_profile,
        gen_reference_snapshot,
        gen_sequences,
    )

    gspec = GenSpec(n_docs=spec.n_docs, n_parts=spec.n_parts, seed=spec.seed)
    paths = {
        "sequences": os.path.join(out_dir, "sequences_bucketed"),
        "snapshot": os.path.join(out_dir, "snapshot_bucketed"),
        "baseline": os.path.join(out_dir, "baseline.json"),
    }
    storage.write_bucketed(
        gen_sequences(spark, gspec), "gen_sequences", paths["sequences"],
        n_buckets=spec.n_buckets, partition_col="part_id",
    )
    storage.write_bucketed(
        gen_reference_snapshot(spark, gspec), "gen_snapshot", paths["snapshot"],
        n_buckets=spec.n_buckets,
    )
    baseline = gen_baseline_profile(spark, gspec, RuleConfig(uniqueness_mode="direct"))
    with open(paths["baseline"], "w") as f:
        json.dump(baseline, f)
    return paths
