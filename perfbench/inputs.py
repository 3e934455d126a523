"""Benchmark inputs and the oracle that checks the engine's outputs.

Every table comes from ``synth.generate`` with the seed given on the command
line; the engine under test only ever sees the parquet written here.
Expected outputs are derived from the generator's per-document case labels,
never from a second run of the engine.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from np_data_validation_spark import synth

N_SOURCES = 8
MIN_LEN, MAX_LEN = 8, 64

#: Final row status of each synth case under the reference verdict table
#: (the case -> verdict mapping pinned by ``EXPECTED_FINAL`` in
#: tests/test_verdicts.py; test_perfbench.py asserts the two agree).
CASE_STATUS = {
    "clean": "pass",
    "valid_copy": "pass",
    "valid_copy_renamed": "pass",
    "unsynced_data": "fail",
    "unsynced_checksum": "fail",
    "corrupt": "fail",
    "collision": "unknown",
    "self_no_checksum": "pass",
    "other_no_checksum": "pass",
    "missing": "fail",
    "duplicate": "pass",
    "duplicate_mixed": "pass",
    "inconsistent": "pass",
    "n_tok_mismatch": "unknown",
    "renamed_null_ntok": "unknown",
}

#: Per-partition violation rows each case produces: one row per document.
#: A duplicated document keeps its first copy, so only rank 2 is a
#: violation; verdict classes follow ``verdicts.VIOLATION_CLASS``.
CASE_VIOLATION = {
    "unsynced_data": "SIZE_MISMATCH",
    "unsynced_checksum": "STALE_CHECKSUM",
    "corrupt": "CHECKSUM_MISMATCH",
    "missing": "MISSING_COUNTERPART",
    "duplicate": "DUPLICATE_DOC_ID",
    "duplicate_mixed": "DUPLICATE_DOC_ID",
    "n_tok_mismatch": "N_TOK_MISMATCH",
    "renamed_null_ntok": "NULL_N_TOK",
}

#: Cases that leave one row in the whole-table manifest audit: a second
#: manifest hash for the doc_id (INCONSISTENT_GROUP), or a manifest entry
#: under a doc_id the snapshot does not hold (MISSING_IN_SNAPSHOT).
MANIFEST_AUDIT_CASES = ("inconsistent", "valid_copy_renamed", "renamed_null_ntok", "collision")


@dataclass
class Dataset:
    snapshot: str       # hive-partitioned sequences table
    manifest: str
    labels: pd.DataFrame
    rows: int           # snapshot rows, duplicates included

    @property
    def sources(self) -> list[str]:
        return sorted(self.labels["source"].unique())


def build(root: str, rows: int, seed: int, missing: float | None = None) -> Dataset:
    """Generate and write one table pair. ``missing`` overrides the weight
    of the 'missing' case (documents absent from the manifest)."""
    weights = dict(synth.FAULT_WEIGHTS)
    if missing is not None:
        weights["missing"] = missing
    seq, man, labels = synth.generate(
        n_rows=rows, seed=seed, n_sources=N_SOURCES,
        min_len=MIN_LEN, max_len=MAX_LEN, fault_weights=weights,
    )
    ds = Dataset(os.path.join(root, "sequences"), os.path.join(root, "manifest"),
                 labels, seq.num_rows)
    synth.write_partitioned(seq, ds.snapshot)
    synth.write_partitioned(man, ds.manifest)
    return ds


def partition_file(ds: Dataset, source: str) -> str:
    return os.path.join(ds.snapshot, f"source={source}", "part-0.parquet")


def mutate_partition(ds: Dataset, source: str) -> None:
    """Flip the low bit of every token of one partition in place. doc_ids,
    ``n_tok`` values, nulls and the row count are unchanged, so the cheap
    (count, n_tok sum, doc_id hash) fingerprint cannot see the change."""
    path = partition_file(ds, source)
    tbl = pq.read_table(path)
    tokens = tbl.column("tokens").combine_chunks()
    flipped = pa.ListArray.from_arrays(
        tokens.offsets,
        pa.array(np.bitwise_xor(tokens.values.to_numpy(zero_copy_only=False), 1),
                 type=pa.int32()),
        mask=tokens.is_null(),
    )
    if flipped.equals(tokens):  # an all-null partition has no payload to flip
        raise AssertionError(f"partition {source} has no payload to mutate")
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("tokens"), "tokens", flipped),
                   path)


def mutation_target(ds: Dataset, seed: int) -> str:
    """A non-hot partition picked by the seed (src_00 is synth's hot one)."""
    others = [s for s in ds.sources if s != "src_00"]
    return others[seed % len(others)]


def expected_metrics(labels: pd.DataFrame) -> tuple[dict[str, dict], int]:
    """Per-source {pass, fail, unknown, rows, violations} as the CLI reports
    them, and the manifest_violations row count, from the case labels."""
    out: dict[str, dict] = {}
    status = labels["case"].map(CASE_STATUS)
    for (src, st), n in labels.groupby([labels["source"], status]).size().items():
        out.setdefault(src, {"pass": 0, "fail": 0, "unknown": 0})[st] = int(n)
    for m in out.values():
        m["rows"] = m["pass"] + m["fail"] + m["unknown"]
    cls = labels["case"].map(CASE_VIOLATION)
    viol = labels[cls.notna()]
    for (src, c), n in viol.groupby([viol["source"], cls[cls.notna()]]).size().items():
        out[src].setdefault("violations", {})[c] = int(n)
    n_audit = int(labels["case"].isin(MANIFEST_AUDIT_CASES).sum())
    return out, n_audit


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from the file footers."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return n


def table_digest(path: str) -> tuple[int, int]:
    """Order-independent digest of a parquet directory: (rows, sum of row
    hashes mod 2**64). Partition directories are ignored; the rows carry
    their ``source`` column."""
    frames = []
    for root, _dirs, files in sorted(os.walk(path)):
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                frames.append(pq.read_table(os.path.join(root, fn)).to_pandas())
    if not frames:
        return 0, 0
    df = pd.concat(frames, ignore_index=True)
    df = df[sorted(df.columns)]
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def tree_digest(path: str) -> str:
    """Digest of every file's relative path and content under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for fn in sorted(files):
            full = os.path.join(root, fn)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def restore(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
