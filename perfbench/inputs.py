"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload sizes, seed). Inputs are
written once per run as parquet (+ the vocabulary), and the package only
ever sees these files: the pipeline workloads read the repos table with
``spark.read.parquet`` and the vocabulary with pandas; the operator suite
reads its tables through ``__spark_entry__.queries()`` with the generated
directory as its ``sf`` argument.

Pipeline inputs come from the package's own closed-form fixture
(``fixtures.make_fixture``): ``n_unique`` files are generated and copied
``replicate`` times under distinct paths (``<path>#<copy>`` when
``replicate > 1``), so the expected triples of every copy are the
fixture's expected triples with the subject renamed the same way. The
operator-suite tables reproduce the schemas and the measured column
statistics of the repository's sf0.1 test tables (documents, lineitem,
events, embeddings), which the suite's queries and DuckDB oracles were
written against; the README lists the statistics.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass
class PipelineInputs:
    repos_dir: str          # parquet directory of the repos table
    vocab_path: str         # parquet file of the surface vocabulary
    expected: pd.DataFrame  # expected distinct (subj, pred, obj)
    n_files: int
    n_lines: int            # source lines scanned per pass
    input_bytes: int        # parquet bytes scanned per pass
    sha256: str             # digest of every generated file


@dataclass
class SuiteInputs:
    sf_dir: str             # directory of <table>.parquet files
    input_bytes: int
    sha256: str


SUITE_TABLES = ("documents", "lineitem", "events", "embeddings")


def files_sha256(paths: list[str]) -> str:
    """sha256 over (relative name, bytes) of the given files, in sorted
    name order — the identity of one generated input set."""
    h = hashlib.sha256()
    root = os.path.commonpath(paths) if len(paths) > 1 else os.path.dirname(paths[0])
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _parquet_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def make_pipeline_inputs(
    out_dir: str,
    seed: int,
    n_unique: int,
    replicate: int,
    noise_lines: int,
    n_entities: int,
    n_parts: int,
) -> PipelineInputs:
    from entitysummarization_spark.fixtures import make_fixture

    fx = make_fixture(n_files=n_unique, seed=seed, n_entities=n_entities,
                      noise_lines=noise_lines)
    copies, expected = [], []
    for r in range(replicate):
        tag = f"#{r}" if replicate > 1 else ""
        c = fx.repos.copy()
        c["path"] = c["path"] + tag
        copies.append(c)
        e = fx.expected_triples[["subj", "pred", "obj"]].copy()
        e["subj"] = e["subj"] + tag
        expected.append(e)
    repos = pd.concat(copies, ignore_index=True)
    exp = pd.concat(expected, ignore_index=True).drop_duplicates(ignore_index=True)

    repos_dir = os.path.join(out_dir, "repos")
    os.makedirs(repos_dir, exist_ok=True)
    # round-robin rows over n_parts files: each file is one scan split,
    # every split carries the same mix of files
    for p in range(n_parts):
        repos.iloc[p::n_parts].to_parquet(
            os.path.join(repos_dir, f"part-{p:03d}.parquet"), index=False
        )
    vocab_path = os.path.join(out_dir, "vocab.parquet")
    fx.vocab.to_parquet(vocab_path, index=False)
    files = _parquet_files(repos_dir) + [vocab_path]
    return PipelineInputs(
        repos_dir=repos_dir,
        vocab_path=vocab_path,
        expected=exp,
        n_files=len(repos),
        n_lines=int(repos["content"].str.count("\n").sum()),
        input_bytes=sum(os.path.getsize(p) for p in _parquet_files(repos_dir)),
        sha256=files_sha256(files),
    )


# ------------------------------------------------------- operator suite
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _documents(rng: np.random.RandomState, n_docs: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.rand() < 0.05:
            # near-duplicate of an earlier doc: the dedup/minhash queries
            # must find something
            texts.append(texts[int(rng.randint(i))] + " dup")
            continue
        n = int(rng.randint(10, 101))
        texts.append(" ".join(_WORDS[j] for j in rng.randint(len(_WORDS), size=n)))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.randint(len(_LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _lineitem(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    n_orders, n_parts, n_supps = max(1, n // 4), max(1, n // 30), max(1, n // 600)
    qty = rng.randint(1, 51, size=n).astype(np.float64)
    ship = (np.datetime64("1995-01-02") + rng.randint(0, 2500, size=n)
            .astype("timedelta64[D]")).astype("datetime64[us]")
    return pd.DataFrame({
        "l_orderkey": rng.randint(0, n_orders, size=n).astype(np.int64),
        "l_partkey": rng.randint(0, n_parts, size=n).astype(np.int64),
        "l_suppkey": rng.randint(0, n_supps, size=n).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, size=n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105000, size=n), 2),
        "l_discount": rng.randint(0, 11, size=n) / 100.0,
        "l_tax": rng.randint(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.randint(3, size=n)],
        "l_linestatus": np.array(["F", "O"])[rng.randint(2, size=n)],
        "l_shipdate": ship,
    })


def _events(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    # n events over 30 days, one user per 66.7 events
    gaps = rng.exponential(30 * 86400 / n, size=n)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.randint(0, max(1, n * 3 // 200), size=n).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.randint(5, size=n)],
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, size=n)],
    })


def _embeddings(rng: np.random.RandomState, n: int, dim: int = 64) -> pd.DataFrame:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.randint(0, 10, size=n).astype(np.int32),
    })


def make_suite_inputs(
    out_dir: str,
    seed: int,
    n_docs: int,
    n_lineitem: int,
    n_events: int,
    n_embeddings: int,
) -> SuiteInputs:
    rng = np.random.RandomState(seed)
    tables = {
        "documents": _documents(rng, n_docs),
        "lineitem": _lineitem(rng, n_lineitem),
        "events": _events(rng, n_events),
        "embeddings": _embeddings(rng, n_embeddings),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name in SUITE_TABLES:
        p = os.path.join(out_dir, f"{name}.parquet")
        tables[name].to_parquet(p, index=False)
        paths.append(p)
    return SuiteInputs(
        sf_dir=out_dir,
        input_bytes=sum(os.path.getsize(p) for p in paths),
        sha256=files_sha256(paths),
    )
