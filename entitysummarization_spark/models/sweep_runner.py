"""The one sweep path of the AD-LDA samplers: mapInArrow over flat token
blocks, ``k >= 1`` sweeps per Spark job.

DistributedGibbs (M1/M2/M3/M5, models/gibbs.py) and DistributedOntoPart
(M6, models/ontopart.py) both keep their token state as one row per doc
``(doc_id, words, <state lists>)`` and emit the tokens whose latent
assignment changed as parallel ``<delta lists>``. Arrow list columns
already hold a flat values buffer + offsets, which is exactly the
kernels' input layout, so a batch goes Arrow → C with no per-doc Python
(the pandas path paid O(docs) concatenate/split; at ~10-token docs that
rivaled the kernel itself). This module owns everything about that pass
except the kernel call: batch decode, the per-(seed, sweep, doc) RNG
seeds, the k-sweep loop, the per-doc regrouping of every sweep's deltas
and the ListArray rewrap. Each model supplies a per-batch kernel call and
its state/delta column names.

``k = 1`` streams batch by batch. ``k > 1`` (fused sweeps) buffers the
partition's batches — the same data the local checkpoint already holds
as executor blocks, ~2x state for the duration of the pass — and sweeps
them k times, each partition carrying its locally-updated counts from
sweep s to s+1 instead of receiving the cross-partition refresh: the
AD-LDA staleness extended from within-a-sweep to within-a-block. Two
exactness anchors remain:

  - with n_partitions=1 the local counts ARE the global counts, so a
    fused block is bit-identical to k unfused sweeps
    (test_gibbs_fused.py, test_ontopart_fused.py);
  - every sweep's integer deltas are emitted (regrouped per doc,
    sweep-ordered), so the driver's delta refresh reconstructs the EXACT
    global counts at the block boundary.

RNG is reseeded per (base_seed, sweep, doc) exactly as unfused, so
fusion changes WHICH counts a sample sees, never the random numbers.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np


@dataclass
class Block:
    """One decoded Arrow batch: flat int64 token arrays + doc offsets.
    ``state`` arrays are writable copies the kernel mutates in place."""

    rb: object             # the input pyarrow.RecordBatch
    doc_ids: np.ndarray    # int64[n_docs]
    indptr: np.ndarray     # int64[n_docs + 1], doc boundaries in ws/state
    ws: np.ndarray         # int64[n_tok] token words (read-only)
    state: list            # int64[n_tok] per state column


# kernel(block, seeds) -> (flat delta columns, per-doc change counts)
BatchKernel = Callable[[Block, np.ndarray], tuple[tuple, np.ndarray]]


def doc_seeds(seed: int, sweep_idx: int, doc_ids: np.ndarray) -> np.ndarray:
    """Vectorized oracle.seed_for — identical int arithmetic in int64
    (values stay far below 2**63 for any int32 doc_id)."""
    return (
        (seed * 1_000_003 + sweep_idx * 10_007 + doc_ids * 131) % (2**32 - 1)
    ).astype(np.uint32)


def _interleave_doc_delta_cols(n_docs, per_sweep):
    """Regroup per-sweep changed-token columns by doc.

    ``per_sweep`` is a list of (cols, counts) — one entry per fused
    sweep, ``cols`` a tuple of that sweep's flat changed-token arrays
    (any number of parallel columns) and ``counts`` the per-doc change
    counts. Returns (out_cols, offsets) where offsets (int64[n_docs+1])
    delimits each doc's deltas from ALL sweeps, sweep-ordered within a
    doc. Pure index arithmetic, O(total changes)."""
    total_counts = np.zeros(n_docs, dtype=np.int64)
    for _, cc in per_sweep:
        total_counts += cc
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(total_counts, out=offsets[1:])
    if len(per_sweep) == 1:  # one sweep's output is already doc-ordered
        return tuple(per_sweep[0][0]), offsets
    n_cols = len(per_sweep[0][0])
    total = int(offsets[-1])
    out_cols = tuple(np.empty(total, dtype=np.int64) for _ in range(n_cols))
    acc = np.zeros(n_docs, dtype=np.int64)
    for cols, cc in per_sweep:
        m = int(cc.sum())
        if m == 0:
            continue
        starts = offsets[:-1] + acc
        seg0 = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(cc[:-1], out=seg0[1:])
        pos = np.repeat(starts - seg0, cc) + np.arange(m, dtype=np.int64)
        for out, col in zip(out_cols, cols):
            out[pos] = col
        acc += cc
    return out_cols, offsets


def _decode(rb, state_cols) -> Block:
    words = rb.column("words")
    off = words.offsets.to_numpy(zero_copy_only=False)
    return Block(
        rb=rb,
        doc_ids=rb.column("doc_id").to_numpy(zero_copy_only=False)
        .astype(np.int64),
        indptr=(off - off[0]).astype(np.int64),
        ws=np.ascontiguousarray(
            words.flatten().to_numpy(zero_copy_only=False), dtype=np.int64
        ),
        # writable copies — the kernel mutates them in place
        state=[
            np.array(rb.column(c).flatten().to_numpy(zero_copy_only=False),
                     dtype=np.int64)
            for c in state_cols
        ],
    )


def _encode(blk: Block, names, per_sweep):
    """Input doc_id/words columns unchanged; state and deltas rewrapped
    into ListArrays by offset."""
    import pyarrow as pa

    def lst(off, vals):
        return pa.ListArray.from_arrays(pa.array(off), pa.array(vals))

    cols, ch_off = _interleave_doc_delta_cols(len(blk.doc_ids), per_sweep)
    off32, co32 = blk.indptr.astype(np.int32), ch_off.astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [blk.rb.column("doc_id"), blk.rb.column("words")]
        + [lst(off32, s) for s in blk.state]
        + [lst(co32, c) for c in cols],
        names=names,
    )


def run_sweep_blocks(
    batches: Iterator,
    state_cols: tuple[str, ...],
    delta_cols: tuple[str, ...],
    kernel: BatchKernel,
    seed: int,
    sweep0: int,
    k: int,
) -> Iterator:
    """Sweeps ``sweep0 .. sweep0+k-1`` over one partition's Arrow batches
    (columns doc_id, words, *state_cols, plus any model extras the kernel
    reads off ``Block.rb``); yields one output batch per non-empty input
    batch with columns doc_id, words, *state_cols, *delta_cols."""
    names = ["doc_id", "words", *state_cols, *delta_cols]
    blocks = (_decode(rb, state_cols) for rb in batches if rb.num_rows)
    if k == 1:
        for blk in blocks:
            ch = kernel(blk, doc_seeds(seed, sweep0, blk.doc_ids))
            yield _encode(blk, names, [ch])
        return
    blocks = list(blocks)
    deltas = [[] for _ in blocks]
    for s in range(k):
        for blk, per_sweep in zip(blocks, deltas):
            per_sweep.append(
                kernel(blk, doc_seeds(seed, sweep0 + s, blk.doc_ids))
            )
    for blk, per_sweep in zip(blocks, deltas):
        yield _encode(blk, names, per_sweep)
