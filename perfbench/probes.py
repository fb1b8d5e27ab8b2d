"""Single-core layer probes on a fixed sample, run in the benchmark's own
process with no Spark in the loop. They split a layer's Python-side cost
from the engine's: the extraction UDF body, the Aho-Corasick matcher it
calls, and the compiled Gibbs kernel (checked against the scalar-Python
kernel, z-chain for z-chain)."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd


def _median_time(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def extraction_probe(batch: pd.DataFrame, vocab: pd.DataFrame,
                     mention_max_attr: int = 2) -> dict[str, float]:
    """``extract_triples_pdf`` and ``AhoCorasick.find_text`` on one batch
    of source files, as the extraction operator sets them up."""
    from entitysummarization_spark.functions.automaton import AhoCorasick, tokenize
    from entitysummarization_spark.operators.extraction import extract_triples_pdf

    sub = vocab[vocab["attr"] <= mention_max_attr]
    patterns = [" ".join(tokenize(s)) for s in sub["surface"]]
    ac = AhoCorasick(patterns)
    s2n = dict(zip(patterns, sub["entity_name"]))
    mb = batch["content"].str.len().sum() / 1e6
    udf_s = _median_time(lambda: extract_triples_pdf(batch, ac, s2n))

    comments = [
        ln.strip()[1:] for c in batch["content"] for ln in c.split("\n")
        if ln.strip().startswith("#")
    ]
    hits = sum(1 for c in comments if ac.find_text(c))
    find_s = _median_time(lambda: [ac.find_text(c) for c in comments])
    return {
        "extraction.udf_s_per_mb": udf_s / mb,
        "automaton.find_s": find_s,
        "automaton.comment_lines": len(comments),
        "automaton.hit_ratio": hits / max(1, len(comments)),
    }


def kernel_probe(corpus_pdf: pd.DataFrame, cand: dict[int, np.ndarray],
                 P: int, W: int, beta: float = 0.01,
                 base_seed: int = 11) -> float:
    """One sweep of the compiled kernel over the sample docs (single
    core, median of 5 from the same start state); the scalar-Python kernel
    sweeps the same docs from that state and must produce the identical
    z-chain. Returns tokens/s of the compiled kernel; raises if no
    compiled kernel loads or parity breaks."""
    from entitysummarization_spark.models import native_kernel
    from entitysummarization_spark.models.gibbs import _sweep_doc_fast
    from entitysummarization_spark.models.oracle import (
        doc_token_words,
        reseed,
        seed_for,
    )

    lib = native_kernel.load_native()
    if lib is None:
        raise RuntimeError("compiled Gibbs kernel unavailable")
    cp = corpus_pdf.sort_values(["doc_id", "word_id"])
    doc_ids, ws_list = [], []
    for d, gp in cp.groupby("doc_id"):
        doc_ids.append(int(d))
        ws_list.append(doc_token_words(gp["word_id"].to_numpy(np.int64),
                                       gp["freq"].to_numpy(np.int64)))
    indptr = np.zeros(len(ws_list) + 1, dtype=np.int64)
    np.cumsum([w.size for w in ws_list], out=indptr[1:])
    ws = np.concatenate(ws_list)
    rng = np.random.RandomState(0)
    z0 = np.fromiter((cand[w][rng.randint(len(cand[w]))] for w in ws),
                     np.int64, ws.size)
    nwp0 = np.zeros((P, W), dtype=np.int64)
    np.add.at(nwp0, (z0, ws), 1)
    lam = np.ones((P, W), dtype=np.float64)
    slb = lam.sum(axis=1) * beta
    alpha = 50.0 / P
    seeds = np.fromiter((seed_for(base_seed, 0, d) for d in doc_ids),
                        np.int64, len(doc_ids)).astype(np.uint32)

    ci, cd = native_kernel.cand_to_csr(cand, W)
    lam_beta = np.ascontiguousarray((lam * beta).ravel())
    z_n = z0.copy()

    def native_sweep():
        z_n[:] = z0
        native_kernel.sweep_batch_native(
            lib, indptr, ws, z_n, seeds, P, W, nwp0.ravel().copy(),
            nwp0.sum(axis=1), ci, cd, lam_beta, slb, alpha, None, None,
            np.zeros(P, np.int64), np.empty(max(P, 1)),
        )

    rate = ws.size / _median_time(native_sweep, reps=5)

    z_f = z0.copy()
    nwp_f, np_f = nwp0.ravel().copy(), [int(x) for x in nwp0.sum(axis=1)]
    cache: dict = {}
    rng0 = np.random.RandomState(0)
    for j, d in enumerate(doc_ids):
        s, e = indptr[j], indptr[j + 1]
        ws_l, zs_l = ws[s:e].tolist(), z_f[s:e].tolist()
        nd = [0] * P
        for p in zs_l:
            nd[p] += 1
        _sweep_doc_fast(ws_l, zs_l, nd, nwp_f, np_f, W, cache, cand, lam,
                        slb, beta, alpha, None, P * alpha,
                        reseed(rng0, base_seed, 0, d))
        z_f[s:e] = zs_l
    if not np.array_equal(z_n, z_f):
        raise AssertionError("compiled vs scalar kernel z-chain parity broken")
    return rate
