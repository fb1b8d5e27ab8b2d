"""Metric names, units and directions — the single list BENCHMARK.json
mirrors (tests/test_perfbench.py holds the two equal)."""

from __future__ import annotations

# (name, unit, better, bound)
# bounds: in two sets of ten seeds on a shared 4-core VM the spreads
# (IQR/median) were 0.03-0.09 for cpu_s and 0.05-0.19 for wall_s; runs
# that met a burst of host load were up to 50 % slower, so the bounds are
# as wide as allowed, setup_s the widest
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.24),
    ("cpu_s", "s", "lower", 0.24),
]

QUERIES = [
    "a1_word_freq", "q1_pricing", "w6_topk_parts", "j1_dict_lookup",
    "kg_mentions", "g10_ngd", "minhash_lsh", "ann_cosine_topk", "sessions",
    "token_stats",
]

LAYERS = ["sources", "extraction", "canonicalize", "corpus", "gibbs",
          "summary", "materialize", "checkpoint", "query"]

# (name, unit, better)
PER_LAYER = [
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    ("process.peak_pss_mb", "MB", "lower"),
    ("pipeline.triples_per_s", "1/s", "higher"),
    ("pipeline.token_sweeps_per_s", "1/s", "higher"),
    ("checkpoint.resume_s", "s", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.bytes", "bytes", "lower"),
    ("extraction.s", "s", "lower"),
    ("extraction.lines", "count", "higher"),
    ("extraction.triples", "count", "higher"),
    ("extraction.yield", "ratio", "higher"),
    ("extraction.cpu_s", "s", "lower"),
    ("extraction.udf_s_per_mb", "s/MB", "lower"),
    ("automaton.find_s", "s", "lower"),
    ("automaton.comment_lines", "count", "lower"),
    ("automaton.hit_ratio", "ratio", "higher"),
    ("canonicalize.s", "s", "lower"),
    ("canonicalize.rows_in", "count", "higher"),
    ("canonicalize.rows_out", "count", "higher"),
    ("canonicalize.shuffle_bytes", "bytes", "lower"),
    ("corpus.s", "s", "lower"),
    ("corpus.jobs", "count", "lower"),
    ("corpus.docs", "count", "higher"),
    ("corpus.words", "count", "higher"),
    ("corpus.tokens", "count", "higher"),
    ("corpus.shuffle_bytes", "bytes", "lower"),
    ("gibbs.s", "s", "lower"),
    ("gibbs.init_s", "s", "lower"),
    ("gibbs.sweep_s.p50", "s", "lower"),
    ("gibbs.sweep_s.p90", "s", "lower"),
    ("gibbs.jobs_per_sweep", "count", "lower"),
    ("gibbs.tasks_per_sweep", "count", "lower"),
    ("gibbs.broadcast_bytes_per_sweep", "bytes", "lower"),
    ("gibbs.shuffle_bytes_per_sweep", "bytes", "lower"),
    ("gibbs.changed_ratio", "ratio", "lower"),
    ("gibbs.driver_s_per_sweep", "s", "lower"),
    ("gibbs.gc_s", "s", "lower"),
    ("gibbs.overhead_s_per_sweep", "s", "lower"),
    ("native_kernel.tokens_per_s", "1/s", "higher"),
    ("summary.s", "s", "lower"),
    ("summary.rows", "count", "higher"),
    ("materialize.s", "s", "lower"),
    ("materialize.bytes", "bytes", "lower"),
    ("checkpoint.save_s", "s", "lower"),
    ("checkpoint.load_s", "s", "lower"),
    ("checkpoint.bytes", "bytes", "lower"),
    *[(f"query.{q}.s", "s", "lower") for q in QUERIES],
    ("query.g10_ngd.shuffle_bytes", "bytes", "lower"),
    ("query.minhash_lsh.shuffle_bytes", "bytes", "lower"),
    *[(f"{layer}.failed_tasks", "count", "lower") for layer in LAYERS],
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}
