"""Deterministic synthetic snapshot + manifest generator with fault injection.

Encodes every golden verdict case of the reference's inline test suite
(``test_data_validation_file``, /root/reference/data_validation.py:1355-1400,
plus the null-asymmetry spec :558-573 and the uniqueness/consistency
semantics :728-734, :1218-1222) as labeled rows over the input_hint schema.
Seeded numpy only — no wall clock, no external data.

Output layout is Iceberg-style hive-partitioned parquet
(``source=<val>/part-0.parquet``) so Spark partition pruning applies to
``WHERE source = ...`` — the engine's unit of checkpointing.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from np_data_validation_spark.functions.hashing import xxh64_int32_batch

#: Fault classes with default injection weights (rest of rows are clean).
#: Keys are test-fixture labels; see FIXTURES.md.
FAULT_WEIGHTS = {
    "valid_copy": 0.01,          # -> VALID_COPY_SAME_NAME (pass)
    "valid_copy_renamed": 0.01,  # -> VALID_COPY_RENAMED via content probe
    "unsynced_data": 0.01,       # -> UNSYNCED_DATA (size-mismatch violation)
    "unsynced_checksum": 0.005,  # -> UNSYNCED_CHECKSUM (stale-hash violation)
    "corrupt": 0.01,             # -> UNSYNCED_OR_CORRUPT_DATA (checksum-mismatch)
    "collision": 0.002,          # -> CHECKSUM_COLLISION flag
    "self_no_checksum": 0.005,   # snapshot payload missing -> SELF_NO_CHECKSUM
    "other_no_checksum": 0.005,  # manifest hash missing -> OTHER_NO_CHECKSUM
    "missing": 0.01,             # -> MISSING_COUNTERPART violation
    "duplicate": 0.005,          # duplicated doc_id in snapshot (uniqueness)
    "duplicate_mixed": 0.003,    # duplicated doc_id, DIFFERENT content (mixed-
                                 # identity group: uniqueness keeps rank 1 only)
    "inconsistent": 0.005,       # two manifest hashes for one doc_id (consistency)
    "n_tok_mismatch": 0.005,     # n_tok != size(tokens) (schema invariant)
    "renamed_null_ntok": 0.002,  # null n_tok + renamed manifest counterpart:
                                 # stage-1 miss, content probe finds it (null
                                 # identity column through the probe anti-join)
}


def generate(
    n_rows: int = 4000,
    seed: int = 42,
    n_sources: int = 4,
    min_len: int = 8,
    max_len: int = 512,
    fault_weights: dict[str, float] | None = None,
) -> tuple[pa.Table, pa.Table, pd.DataFrame]:
    """Return (sequences, manifest, labels).

    ``labels`` maps each snapshot doc_id to its injected case — used by the
    pytest suite to assert per-row verdicts; never written next to the data.
    One source is hot (10x the others) so skew handling is exercised by
    default (FIXTURES.md sizing). Token ids are drawn from GPT-2's
    50257-entry vocabulary.
    """
    rng = np.random.default_rng(seed)
    weights = FAULT_WEIGHTS if fault_weights is None else fault_weights

    src_w = np.ones(n_sources)
    src_w[0] = 10
    src_w /= src_w.sum()
    src_idx = rng.choice(n_sources, size=n_rows, p=src_w)
    sources = np.array([f"src_{i:02d}" for i in range(n_sources)])[src_idx]

    doc_ids = np.array([f"doc_{i:010d}" for i in range(n_rows)])
    lens = rng.integers(min_len, max_len + 1, size=n_rows).astype(np.int64)
    total = int(lens.sum())
    flat = rng.integers(0, 50257, size=total).astype(np.int32)
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])

    # true content hash of the ORIGINAL payload (what the manifest records)
    h_orig = xxh64_int32_batch(flat, offsets).view(np.int64)

    case_names = ["clean"] + list(weights)
    p = np.array([1.0 - sum(weights.values())] + list(weights.values()))
    case_idx = rng.choice(len(case_names), size=n_rows, p=p)
    case = np.array(case_names, dtype=object)[case_idx]

    other_src = np.array(
        [f"src_{i:02d}" for i in ((src_idx + 1) % n_sources)]
    )

    # --- snapshot-side mutations -----------------------------------------
    # corrupt: flip one token in the snapshot payload (manifest keeps the
    # original hash) — the real token-array-inequality event.
    corrupt_rows = np.flatnonzero(case == "corrupt")
    for i in corrupt_rows:  # few rows; fine outside numpy
        flat[offsets[i]] = np.int32(flat[offsets[i]] ^ 1)

    n_tok = lens.astype(np.int32).copy()
    ntm = case == "n_tok_mismatch"
    n_tok[ntm] += 1

    tokens_null = case == "self_no_checksum"
    ntok_null = case == "renamed_null_ntok"

    seq_tokens = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(flat, type=pa.int32()),
    )
    if tokens_null.any():
        # rebuild with a validity mask for null payloads
        mask = pa.array(~tokens_null)  # True = valid
        seq_tokens = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()),
            pa.array(flat, type=pa.int32()),
            mask=pa.array(tokens_null),
        )

    seq_tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, type=pa.string()),
            "tokens": seq_tokens,
            "n_tok": pa.array(n_tok, type=pa.int32(), mask=ntok_null),
            "source": pa.array(sources, type=pa.string()),
        }
    )

    # duplicates: append a second copy of the row (same doc_id + source)
    dup_rows = np.flatnonzero(case == "duplicate")
    if len(dup_rows):
        seq_tbl = pa.concat_tables([seq_tbl, seq_tbl.take(pa.array(dup_rows))])

    # mixed-content duplicates: append a copy with ONE token flipped — same
    # (doc_id, source), different tok_hash, so the group holds two identities
    # each with s_mult=1 (the case uniqueness reconstruction must rank
    # correctly: only rank 2 is a violation, the kept copy never is).
    dm_rows = np.flatnonzero(case == "duplicate_mixed")
    if len(dm_rows):
        mixed_toks = []
        for i in dm_rows:  # few rows; fine outside numpy
            seg = flat[offsets[i] : offsets[i + 1]].copy()
            seg[0] = np.int32(seg[0] ^ 2)
            mixed_toks.append(seg.tolist())
        dm_tbl = pa.table(
            {
                "doc_id": pa.array(doc_ids[dm_rows], type=pa.string()),
                "tokens": pa.array(mixed_toks, type=seq_tbl.schema.field("tokens").type),
                "n_tok": pa.array(n_tok[dm_rows], type=pa.int32()),
                "source": pa.array(sources[dm_rows], type=pa.string()),
            }
        )
        seq_tbl = pa.concat_tables([seq_tbl, dm_tbl])

    # --- manifest construction (vectorized) -------------------------------
    # Each snapshot row contributes 0, 1 or 2 manifest rows depending on its
    # case. The bulk path (everything except 'missing'/'inconsistent' extras)
    # is pure numpy so bench-scale generation (10^7 rows) stays fast.
    m_doc = doc_ids.astype(object).copy()
    m_ntok = lens.astype(np.int64).copy()
    m_hash = h_orig.astype(object)  # object so None (null hash) fits
    m_src = sources.astype(object).copy()

    # counterpart location: same source for SELF-family cases, other source
    # for copy/unsynced cases. NB 'corrupt' uses a different-source
    # counterpart so it lands in the reference's invalid-copy band —
    # same-path mismatches fall through to UNKNOWN
    # (/root/reference/data_validation.py:627-628).
    diff_src = np.isin(
        case,
        [
            "valid_copy",
            "valid_copy_renamed",
            "unsynced_data",
            "unsynced_checksum",
            "collision",
            "corrupt",
        ],
    )
    m_src[diff_src] = other_src[diff_src]

    renamed = case == "valid_copy_renamed"
    m_doc[renamed] = np.char.add(doc_ids[renamed].astype(str), "_r").astype(object)
    # renamed_null_ntok: counterpart under a different doc_id (stage-1 miss),
    # same content hash (probe finds it); snapshot-side n_tok is null.
    nuln = case == "renamed_null_ntok"
    m_doc[nuln] = np.char.add(doc_ids[nuln].astype(str), "_n").astype(object)
    coll = case == "collision"
    m_doc[coll] = np.char.add(doc_ids[coll].astype(str), "_c").astype(object)
    m_ntok[coll] += 7

    stale = np.isin(case, ["unsynced_data", "unsynced_checksum"])
    m_ntok[stale] += 3
    baddata = case == "unsynced_data"
    m_hash[baddata] = [h ^ 0x5A5A5A5A for h in m_hash[baddata]]
    nohash = case == "other_no_checksum"
    m_hash[nohash] = None

    keep = case != "missing"
    man = pd.DataFrame(
        {
            "doc_id": m_doc[keep],
            "n_tok": m_ntok[keep],
            "tok_hash": m_hash[keep],
            "source": m_src[keep],
        }
    )
    incons = np.flatnonzero(case == "inconsistent")
    if len(incons):
        extra = pd.DataFrame(
            {
                "doc_id": doc_ids[incons],
                "n_tok": lens[incons],
                "tok_hash": [h ^ 0x0F0F0F0F for h in h_orig[incons].tolist()],
                "source": sources[incons],
            }
        )
        man = pd.concat([man, extra], ignore_index=True)

    man_tbl = pa.table(
        {
            "doc_id": pa.array(man["doc_id"], type=pa.string()),
            "n_tok": pa.array(man["n_tok"], type=pa.int32()),
            "tok_hash": pa.array(man["tok_hash"].tolist(), type=pa.int64()),
            "source": pa.array(man["source"], type=pa.string()),
        }
    )

    labels = pd.DataFrame({"doc_id": doc_ids, "case": case, "source": sources})
    return seq_tbl, man_tbl, labels


def write_partitioned(tbl: pa.Table, out_dir: str) -> None:
    """Hive-partitioned parquet layout (source=<val>/part-0.parquet)."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    col = tbl.column("source").to_numpy(zero_copy_only=False)
    for val in np.unique(col):
        sub = tbl.filter(pa.array(col == val)).drop_columns(["source"])
        pdir = os.path.join(out_dir, f"source={val}")
        os.makedirs(pdir)
        pq.write_table(sub, os.path.join(pdir, "part-0.parquet"))


def generate_dataset(
    out_root: str,
    n_rows: int = 4000,
    seed: int = 42,
    **kwargs,
) -> pd.DataFrame:
    """Write <out_root>/sequences and <out_root>/manifest; return labels."""
    seq, man, labels = generate(n_rows=n_rows, seed=seed, **kwargs)
    write_partitioned(seq, os.path.join(out_root, "sequences"))
    write_partitioned(man, os.path.join(out_root, "manifest"))
    return labels
