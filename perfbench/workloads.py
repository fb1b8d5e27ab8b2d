"""The benchmark's workloads: one timed pass each, its output checks, and
a traced variant of the pass that calls each layer through its public
function and forces the layer's output at the boundary.

The pipeline workload runs the ``scripts/run_pipeline.py`` shape —
``run_pipeline`` with checkpoints, ``materialize``, then a resume from the
mid-chain checkpoint that finishes the schedule — timed from the first
call into the package until the outputs are written. The operator suite
times the headline queries of ``__spark_entry__.queries()``, each
collected with ``toPandas``.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import checks
from inputs import (
    SUITE_TABLES,
    PipelineInputs,
    SuiteInputs,
    make_pipeline_inputs,
    make_suite_inputs,
)
from metrics import QUERIES
from procstats import cpu_since, cpu_snapshot
from spans import Tracer
from tests.oracle_harness import compare


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    cores: int

    @contextmanager
    def layer(self, name: str):
        """Span + Spark job group around one layer call (traced runs only;
        layer calls do not nest)."""
        if not self.tracer.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            sc.setJobGroup("other", "other")


@dataclass
class PassResult:
    wall_s: float
    errors: list[str]
    cpu_s: float = 0.0      # process-tree CPU over the timed section
    digest: str = ""        # sha256 of the summaries (pipeline only)
    counters: dict = field(default_factory=dict)  # metric name → value


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------ pipeline
def _resume_check(out: str, digest: str) -> list[str]:
    """The chain resumed from the mid-chain checkpoint ends in the same
    summaries as the uninterrupted one."""
    resumed = pd.read_parquet(os.path.join(out, "resumed"))
    if checks.summaries_digest(resumed) != digest:
        return ["resumed summaries differ from the uninterrupted chain"]
    return []


@dataclass
class PipelineWorkload:
    name: str
    n_unique: int           # distinct generated files
    replicate: int          # copies of each under distinct paths
    noise_lines: int        # no-triple lines per file
    sweeps: int
    checkpoint_every: int   # the resume starts from the first checkpoint
    n_entities: int = 400
    k: int = 3
    n_parts: int = 8        # parquet files = scan splits

    def make_inputs(self, out_dir: str, seed: int) -> PipelineInputs:
        return make_pipeline_inputs(
            out_dir, seed, self.n_unique, self.replicate, self.noise_lines,
            self.n_entities, self.n_parts,
        )

    # -- the timed pass: the package's own entry points, nothing forced --
    def run(self, ctx: Ctx, inp: PipelineInputs, out: str) -> PassResult:
        from entitysummarization_spark.plans.checkpoint import load_checkpoint
        from entitysummarization_spark.plans.pipeline import materialize, run_pipeline
        from entitysummarization_spark.operators.summary import top_k_facts

        spark, ck = ctx.spark, os.path.join(out, "checkpoints")
        cpu0 = cpu_snapshot()
        t0 = time.perf_counter()
        repos = spark.read.parquet(inp.repos_dir)
        vocab = pd.read_parquet(inp.vocab_path)
        res = run_pipeline(
            spark, repos, vocab=vocab, n_sweeps=self.sweeps, k=self.k,
            n_partitions=ctx.cores, checkpoint_dir=ck,
            checkpoint_every=self.checkpoint_every,
        )
        materialize(res, out, repos=repos)
        t1 = time.perf_counter()
        mid = os.path.join(ck, f"sweep={self.checkpoint_every:05d}")
        g2 = load_checkpoint(spark, mid, res.corpus.corpus,
                             res.corpus.obj_pred, res.corpus.lam)
        g2.run(self.sweeps - self.checkpoint_every)
        pairs = res.corpus.facts.select("doc_id", "pred_id").distinct()
        top_k_facts(res.corpus.facts, g2.theta(for_pairs=pairs), g2.phi(),
                    k=self.k).write.parquet(os.path.join(out, "resumed"))
        t2 = time.perf_counter()
        pr = PassResult(wall_s=t2 - t0, errors=[], cpu_s=cpu_since(cpu0),
                        counters={"resume_s": t2 - t1})
        try:
            self._check(inp, out, res, pr)
        finally:
            for g in (res.gibbs, g2):
                g.close()
                g.state.unpersist()
            res.canon.unpersist()
        return pr

    def _check(self, inp, out, res, pr: PassResult) -> None:
        canon = res.canon.select("subj", "pred", "obj", "freq").toPandas()
        pr.errors += checks.triples_match(canon, inp.expected)
        # corpus tokens = Σ canon.freq: build_corpus only re-keys the facts
        tokens = int(canon["freq"].sum())
        summ = pd.read_parquet(os.path.join(out, "summaries"))
        pr.errors += checks.sampler_invariants(
            res.gibbs.nwp, res.gibbs.np_, tokens, summ,
            canon.groupby("subj").size(), self.k,
        )
        pr.digest = checks.summaries_digest(summ)
        pr.errors += _resume_check(out, pr.digest)
        pr.counters.update(triples=len(canon), tokens=tokens,
                           sweeps=2 * self.sweeps - self.checkpoint_every)

    def warmup(self, ctx: Ctx, inp: PipelineInputs,
               work: str, seed: int) -> list[str]:
        """One checked pass of the same shape (checkpointed chain,
        materialize, resume) on the oracle's fixture (40 files, default
        vocabulary), so every layer's classes, code generation and Python
        workers are in place before the timed passes; its summaries must
        equal ``pipeline_oracle``'s bit for bit."""
        from entitysummarization_spark.models.pipeline_oracle import pipeline_oracle

        small = make_pipeline_inputs(_fresh(os.path.join(work, "warm_in")),
                                     seed, 40, 1, 0, 120, self.n_parts)
        out = _fresh(os.path.join(work, "warm_out"))
        pr = self.run(ctx, small, out)
        po = pipeline_oracle(n_files=40, seed=seed, n_sweeps=self.sweeps,
                             k=self.k, n_partitions=ctx.cores)
        got = pd.read_parquet(os.path.join(out, "summaries"))
        return pr.errors + checks.summaries_equal(got, po["summaries"])

    # -- the traced pass: each layer called on its own, output forced --
    def run_traced(self, ctx: Ctx, inp: PipelineInputs, out: str) -> PassResult:
        import pyspark.sql.functions as F

        from entitysummarization_spark.models.gibbs import DistributedGibbs, GibbsConfig
        from entitysummarization_spark.operators.canonicalize import canonical_triples
        from entitysummarization_spark.operators.corpus import build_corpus
        from entitysummarization_spark.operators.extraction import extract_triples
        from entitysummarization_spark.operators.summary import top_k_facts
        from entitysummarization_spark.plans.checkpoint import (
            load_checkpoint,
            save_checkpoint,
        )
        from entitysummarization_spark.plans.pipeline import (
            PipelineResult,
            materialize,
        )

        spark, L = ctx.spark, ctx.layer
        ck = os.path.join(out, "checkpoints")
        c: dict = {}
        sweep_s, changed = [], []
        t0 = time.perf_counter()
        with ctx.tracer.span("pass"):
            with L("sources"):
                repos = spark.read.parquet(inp.repos_dir).persist()
                repos.count()
                vocab = pd.read_parquet(inp.vocab_path)
            with L("extraction"):
                triples = extract_triples(spark, repos, vocab).persist()
                c["triples_raw"] = triples.count()
            with L("canonicalize"):
                canon = canonical_triples(triples).persist()
                c["canon_rows"] = canon.count()
            with L("corpus"):
                b = build_corpus(canon)
                for df in (b.corpus, b.facts, b.obj_pred, b.lam, b.docs):
                    df.persist().count()
                P, W = b.preds.count(), b.words.count()
                c["tokens"] = int(b.corpus.agg(F.sum("freq")).collect()[0][0])
                c["docs"] = b.docs.count()
            cfg = GibbsConfig(n_preds=int(P), n_words=int(W),
                              n_partitions=ctx.cores)
            with L("gibbs.init"):
                g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
                g.init_state()
            for s in range(self.sweeps):
                t = time.perf_counter()
                with L("gibbs.sweep"):
                    g.sweep()
                sweep_s.append(time.perf_counter() - t)
                changed.append(g.last_sweep_changes)
                if (s + 1) % self.checkpoint_every == 0:
                    with L("checkpoint.save"):
                        save_checkpoint(g, ck)
            with L("summary"):
                pairs = b.facts.select("doc_id", "pred_id").distinct()
                theta = g.theta(for_pairs=pairs).persist()
                phi = g.phi().persist()
                summ = top_k_facts(b.facts, theta, phi, k=self.k).persist()
                c["summary_rows"] = summ.count()
            with L("materialize"):
                materialize(PipelineResult(triples, canon, b, theta, phi,
                                           summ, g), out, repos=repos)
            with L("checkpoint.load"):
                mid = os.path.join(ck, f"sweep={self.checkpoint_every:05d}")
                g2 = load_checkpoint(spark, mid, b.corpus, b.obj_pred, b.lam)
            for _ in range(self.sweeps - self.checkpoint_every):
                with L("gibbs.resume"):
                    g2.sweep()
            with L("summary.resume"):
                top_k_facts(b.facts, g2.theta(for_pairs=pairs), g2.phi(),
                            k=self.k).write.parquet(os.path.join(out, "resumed"))
            g2.close()
        wall = time.perf_counter() - t0

        digest = checks.summaries_digest(pd.read_parquet(os.path.join(out, "summaries")))
        pr = PassResult(wall_s=wall, errors=_resume_check(out, digest), digest=digest)
        c.update(P=int(P), W=int(W), sweep_s=sweep_s, changed=changed,
                 corpus_sample=b.corpus.where(F.col("doc_id") < 2000).toPandas(),
                 cand={int(w): np.asarray(sorted(ps), dtype=np.int64)
                       for w, ps in b.obj_pred.toPandas().itertuples(index=False)})
        c["materialize_bytes"] = sum(
            _du(os.path.join(out, d)) for d in os.listdir(out)
            if d not in ("checkpoints", "resumed"))
        c["checkpoint_bytes"] = _du(ck)
        pr.counters = c
        g.close()
        for df in (repos, triples, canon, b.corpus, b.facts, b.obj_pred, b.lam,
                   b.docs, theta, phi, summ, g.state):
            df.unpersist()
        return pr


# ------------------------------------------------------ operator suite
# size of the suite's warm-up input relative to the timed one: the first
# pass in a JVM costs ~25 s at any size, so a small one pays it cheaply
SUITE_WARM_SCALE = 0.1


@dataclass
class SuiteWorkload:
    name: str
    n_docs: int
    n_lineitem: int
    n_events: int
    n_embeddings: int
    _ref: dict = field(default_factory=dict)  # query → DuckDB's rows

    def make_inputs(self, out_dir: str, seed: int,
                    scale: float = 1.0) -> SuiteInputs:
        return make_suite_inputs(
            out_dir, seed, *(max(1, round(n * scale)) for n in (
                self.n_docs, self.n_lineitem, self.n_events, self.n_embeddings)))

    def run(self, ctx: Ctx, inp: SuiteInputs, out: str) -> PassResult:
        """One pass over the headline queries, each collected with ``toPandas``
        (construction + action timed per query: some operators materialize
        while being built). Every query's rows must equal its DuckDB
        oracle's on the same files."""
        import __spark_entry__ as entry

        qs = entry.queries()
        rows, per_q = {}, {}
        cpu0 = cpu_snapshot()
        t0 = time.perf_counter()
        with ctx.tracer.span("pass"):
            for name in QUERIES:
                t = time.perf_counter()
                with ctx.layer(f"query.{name}"):
                    rows[name] = qs[name](ctx.spark, inp.sf_dir).toPandas()
                per_q[name] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        pr = PassResult(wall_s=wall, errors=[], cpu_s=cpu_since(cpu0),
                        counters={f"{q}_s": t for q, t in per_q.items()})
        ref = self._ref.get(inp.sf_dir) or self._ref.setdefault(
            inp.sf_dir, _oracle_rows(inp))
        for name in QUERIES:
            pr.errors += compare(name, rows[name], ref[name])
        return pr

    run_traced = run

    def warmup(self, ctx: Ctx, inp: SuiteInputs,
               work: str, seed: int) -> list[str]:
        """One checked pass on a ``SUITE_WARM_SCALE``-sized input from the
        same seed, so every query's classes, code generation and Python workers
        are in place; then the DuckDB oracle's rows on the timed input,
        which every timed pass must equal."""
        small = self.make_inputs(_fresh(os.path.join(work, "warm_in")), seed,
                                 SUITE_WARM_SCALE)
        errs = self.run(ctx, small, work).errors
        self._ref[inp.sf_dir] = _oracle_rows(inp)
        return errs


def _oracle_rows(inp: SuiteInputs) -> dict:
    """Each headline query's ``__spark_entry__.oracle_sql()`` twin, run by
    DuckDB over the input's files."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(inp.sf_dir, t)}.parquet'")
        return {name: con.execute(oracles[name]).fetchdf() for name in QUERIES}
    finally:
        con.close()


WORKLOADS = {
    w.name: w for w in [
        # the scripts/run_pipeline.py shape: extraction over KB-sized,
        # comment-heavy source files (bench.py's fixture: 800 entities,
        # 135 no-triple lines per file), a checkpointed sampler chain,
        # materialize, and a resume from the mid-chain checkpoint; the
        # README gives the basis of the sizes
        PipelineWorkload("kg_pipeline", n_unique=1000, replicate=2,
                         noise_lines=135, sweeps=4, checkpoint_every=2,
                         n_entities=800),
        # the headline operator queries over tables with the row counts
        # and column statistics of the sf0.1 test tables
        SuiteWorkload("operator_suite", n_docs=5000, n_lineitem=600_000,
                      n_events=100_000, n_embeddings=2000),
    ]
}
