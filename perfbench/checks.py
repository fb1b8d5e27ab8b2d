"""Output checks. Each returns a list of error strings; empty = pass."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

SUMMARY_COLS = ["doc_id", "subj", "rank", "pred", "obj", "theta", "phi", "score"]


def summaries_digest(summ: pd.DataFrame) -> str:
    """sha256 over the summaries rows in (doc_id, rank) order, floats by
    repr — equal digests mean bit-identical summaries."""
    s = summ[SUMMARY_COLS].sort_values(["doc_id", "rank"], kind="mergesort")
    h = hashlib.sha256()
    for row in s.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
        h.update(b"\n")
    return h.hexdigest()


def triples_match(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Extracted (subj, pred, obj) set vs the fixture's closed form."""
    g = set(got[["subj", "pred", "obj"]].itertuples(index=False, name=None))
    e = set(expected[["subj", "pred", "obj"]].itertuples(index=False, name=None))
    if g == e:
        return []
    tp = len(g & e)
    return [f"triples P={tp / max(1, len(g)):.4f} R={tp / max(1, len(e)):.4f} "
            f"(got {len(g)}, expected {len(e)})"]


def sampler_invariants(nwp: np.ndarray, np_: np.ndarray, tokens: int,
                       summ: pd.DataFrame, facts_per_subj: pd.Series,
                       k: int) -> list[str]:
    """Count matrices hold every token exactly once; each entity (subj)
    has min(k, its facts) summary rows ranked 1..n."""
    errs = []
    if int(nwp.sum()) != tokens or int(np_.sum()) != tokens or (nwp < 0).any():
        errs.append(f"count matrices: sum(nwp)={int(nwp.sum())} "
                    f"sum(np)={int(np_.sum())} tokens={tokens}")
    ranks = summ.groupby("subj")["rank"].agg(lambda r: sorted(r.tolist()))
    want = facts_per_subj.clip(upper=k)
    if set(ranks.index) != set(want.index):
        errs.append(f"summary entities {len(ranks)} != fact entities {len(want)}")
        return errs
    bad = [d for d, r in ranks.items() if r != list(range(1, int(want[d]) + 1))]
    if bad:
        errs.append(f"{len(bad)} entities with wrong summary ranks, e.g. {bad[0]}")
    return errs


def summaries_equal(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Bit-for-bit equality of two summaries tables."""
    a = [tuple(r) for r in got[SUMMARY_COLS].sort_values(["doc_id", "rank"])
         .itertuples(index=False)]
    b = [tuple(r) for r in exp[SUMMARY_COLS].sort_values(["doc_id", "rank"])
         .itertuples(index=False)]
    if a == b:
        return []
    n = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
    return [f"summaries differ from the oracle in {n} of {len(b)} rows"]

