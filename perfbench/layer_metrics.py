"""Per-layer metrics of one traced run: span self times, the event-log
roll-up per job group, counters the traced pass recorded, and the
single-core probes. Layers a workload does not reach report 0."""

from __future__ import annotations

import glob

import numpy as np
import pandas as pd

import probes
from eventlog import GroupMetrics, by_layer
from metrics import LAYERS
from spans import union_len, self_time_by_layer, self_times
from workloads import PipelineWorkload


def percentile(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def _span_sum(spans, name: str) -> float:
    return sum(s.dur for s in spans if s.name == name)


def per_layer(wl, ctx, inp, plain, traced, groups: dict[str, GroupMetrics]) -> dict:
    spans = ctx.tracer.spans
    st = self_time_by_layer(spans)
    layers = by_layer(groups)
    g = groups.get
    empty = GroupMetrics()
    m: dict[str, float] = {
        "trace.wall_s": traced.wall_s,
        "trace.overhead_s": traced.wall_s - plain.wall_s,
        "trace.unattributed_s": st.get("pass", 0.0),
    }
    for layer in LAYERS:
        m[f"{layer}.failed_tasks"] = layers.get(layer, empty).failed_tasks
    if not isinstance(wl, PipelineWorkload):
        ids = self_times(spans)
        for s in spans:
            if s.name.startswith("query."):
                m[s.name + ".s"] = ids[s.id]
        for q in ("g10_ngd", "minhash_lsh"):
            m[f"query.{q}.shuffle_bytes"] = g(f"query.{q}", empty).shuffle_bytes
        return m

    pc, c = plain.counters, traced.counters
    m["pipeline.triples_per_s"] = pc["triples"] / plain.wall_s
    m["pipeline.token_sweeps_per_s"] = pc["tokens"] * pc["sweeps"] / plain.wall_s
    m["checkpoint.resume_s"] = pc["resume_s"]

    m["sources.scan_s"] = st["sources"]
    m["sources.bytes"] = inp.input_bytes
    m["extraction.s"] = st["extraction"]
    m["extraction.lines"] = inp.n_lines
    m["extraction.triples"] = c["triples_raw"]
    m["extraction.yield"] = c["triples_raw"] / inp.n_lines
    m["extraction.cpu_s"] = g("extraction", empty).cpu_s
    sample = pd.read_parquet(sorted(glob.glob(f"{inp.repos_dir}/*.parquet"))[0])
    m.update(probes.extraction_probe(sample.iloc[:200],
                                     pd.read_parquet(inp.vocab_path)))

    m["canonicalize.s"] = st["canonicalize"]
    m["canonicalize.rows_in"] = c["triples_raw"]
    m["canonicalize.rows_out"] = c["canon_rows"]
    m["canonicalize.shuffle_bytes"] = g("canonicalize", empty).shuffle_bytes
    m["corpus.s"] = st["corpus"]
    m["corpus.jobs"] = g("corpus", empty).jobs
    m["corpus.docs"] = c["docs"]
    m["corpus.words"] = c["W"]
    m["corpus.tokens"] = c["tokens"]
    m["corpus.shuffle_bytes"] = g("corpus", empty).shuffle_bytes

    n, sw = len(c["sweep_s"]), g("gibbs.sweep", empty)
    p50 = percentile(c["sweep_s"], 50)
    m["gibbs.s"] = st["gibbs"]
    m["gibbs.init_s"] = _span_sum(spans, "gibbs.init")
    m["gibbs.sweep_s.p50"] = p50
    m["gibbs.sweep_s.p90"] = percentile(c["sweep_s"], 90)
    m["gibbs.jobs_per_sweep"] = sw.jobs / n
    m["gibbs.tasks_per_sweep"] = sw.tasks / n
    # the per-sweep count refresh ships nwp (P×W) and np (P) as int64
    m["gibbs.broadcast_bytes_per_sweep"] = 8 * (c["P"] * c["W"] + c["P"])
    m["gibbs.shuffle_bytes_per_sweep"] = sw.shuffle_bytes / n
    m["gibbs.changed_ratio"] = sum(c["changed"]) / n / c["tokens"]
    m["gibbs.driver_s_per_sweep"] = (sum(c["sweep_s"]) - union_len(sw.job_intervals)) / n
    m["gibbs.gc_s"] = layers.get("gibbs", empty).gc_s
    rate = probes.kernel_probe(c["corpus_sample"], c["cand"], c["P"], c["W"])
    m["native_kernel.tokens_per_s"] = rate
    m["gibbs.overhead_s_per_sweep"] = p50 - c["tokens"] / (rate * ctx.cores)

    m["summary.s"] = st["summary"]
    m["summary.rows"] = c["summary_rows"]
    m["materialize.s"] = st["materialize"]
    m["materialize.bytes"] = c["materialize_bytes"]
    m["checkpoint.save_s"] = _span_sum(spans, "checkpoint.save")
    m["checkpoint.load_s"] = _span_sum(spans, "checkpoint.load")
    m["checkpoint.bytes"] = c["checkpoint_bytes"]
    return m
