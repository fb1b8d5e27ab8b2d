#!/usr/bin/env python3
"""Benchmark of the entitysummarization_spark package.

    python3 perfbench/run.py --workload kg_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. One run: generate the workload's inputs from
the seed, start the package's session (``session.get_spark``) on
``local[min(4, nproc)]``, compile the Gibbs kernel, run the untimed
warm-up (one pass of the workload's shape on a small input, checked
against the package's oracle), then run the workload's pass in a closed loop (one client)
for ``--seconds`` and check every pass's outputs. The
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (one untraced and one traced pass,
layer spans, the Spark event log rolled up per layer, and the single-core
probes). Everything the run writes lives under ``.perfbench_work/`` of the
checkout; the per-run directory is removed at exit, the traces of traced
runs are kept under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench_work")
JVM_HEAP = "3g"  # what a 4-core local session needs for these inputs


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers into ``work``; put the checkout on the workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _start_session(work: str, traced: bool):
    from entitysummarization_spark.session import get_spark

    cores = min(4, os.cpu_count() or 1)
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     extra_conf=conf), cores


def _stop_session(spark) -> None:
    """Stop Spark and the gateway JVM it launched, then wait until every
    process the run started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    from procstats import tree_pids

    started = [p for p in tree_pids() if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and not _is_zombie(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline += 5
            time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return True
    return st[st.rindex(")") + 2] == "Z"


def _digest_seen(key: str, digest: str) -> str | None:
    """Record the summaries' digest for (workload, seed, inputs); return the
    digest an earlier run recorded when it differs."""
    path = os.path.join(STATE, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    old = seen.setdefault(key, digest)
    with open(path + ".tmp", "w") as f:
        json.dump(seen, f, indent=0, sort_keys=True)
    os.replace(path + ".tmp", path)
    return old if old != digest else None


def run(args, work: str, session: dict) -> dict:
    import metrics as M
    from spans import Tracer
    from workloads import WORKLOADS, Ctx, PipelineWorkload, _fresh

    wl = WORKLOADS[args.workload]
    is_pipe = isinstance(wl, PipelineWorkload)
    errors: list[str] = []

    # -- set-up: inputs (3 identical generations, median time), session,
    #    kernel compile, warm-up checked against the oracle --
    gen_s, shas = [], []
    for r in range(3):
        t = time.perf_counter()
        inp = wl.make_inputs(_fresh(os.path.join(work, f"inputs{r}")), args.seed)
        gen_s.append(time.perf_counter() - t)
        shas.append(inp.sha256)
    if len(set(shas)) != 1:
        errors.append(f"input generation is not deterministic: {shas}")
    log(f"inputs sha256 {inp.sha256[:16]} gen {[round(x, 3) for x in gen_s]}")

    t = time.perf_counter()
    spark, cores = _start_session(work, bool(args.trace))
    session["spark"] = spark
    session_s = time.perf_counter() - t
    compile_s = 0.0
    if is_pipe:
        from entitysummarization_spark.models import native_kernel

        t = time.perf_counter()
        if native_kernel.load_native() is None:
            errors.append("compiled Gibbs kernel did not build")
        compile_s = time.perf_counter() - t

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
                    enabled=False)
    ctx = Ctx(spark=spark, tracer=tracer, cores=cores)
    out = os.path.join(work, "out")
    t = time.perf_counter()
    try:
        errors += wl.warmup(ctx, inp, work, args.seed)
    except Exception:  # noqa: BLE001 — report as a failed operation
        errors.append("warm-up raised:\n" + traceback.format_exc())
    warm_s = time.perf_counter() - t
    setup_s = session_s + compile_s + statistics.median(gen_s) + warm_s
    log(f"setup {setup_s:.3f}s: session {session_s:.3f} compile {compile_s:.3f} "
        f"inputs {statistics.median(gen_s):.3f} warm-up {warm_s:.3f}")
    attempted, failed = 1, int(bool(errors))
    for e in errors:
        log("CHECK FAILED (set-up):", e)

    if args.trace:
        return _traced(args, wl, ctx, inp, out, work, attempted, failed, M,
                       session)

    walls, cpus, digest = [], [], ""
    t_end = time.perf_counter() + args.seconds
    while not failed:
        attempted += 1
        t = time.perf_counter()
        try:
            pr = wl.run(ctx, inp, _fresh(out))
        except Exception:  # noqa: BLE001 — report as a failed operation
            failed += 1
            log("pass raised:\n" + traceback.format_exc())
            break
        walls.append(pr.wall_s)
        cpus.append(pr.cpu_s)
        digest = digest or pr.digest
        if pr.digest != digest:
            pr.errors.append(f"summaries digest {pr.digest[:16]} != first pass {digest[:16]}")
        if pr.errors:
            failed += 1
            for e in pr.errors:
                log("CHECK FAILED:", e)
        log(f"pass {attempted - 1}: wall {pr.wall_s:.3f}s cpu {pr.cpu_s:.2f}s",
            {k: round(v, 3) for k, v in pr.counters.items() if k.endswith("_s")})
        # start another pass only if it should end inside the window
        now = time.perf_counter()
        if now + (now - t) > t_end:
            break
    if digest:
        old = _digest_seen(f"{args.workload}:{args.seed}:{inp.sha256}", digest)
        if old:
            failed += 1
            log(f"CHECK FAILED: summaries digest {digest[:16]} != {old[:16]} "
                "recorded by an earlier run with the same inputs")
    values = {"setup_s": setup_s}
    if walls:
        values.update(wall_s=statistics.median(walls), cpu_s=statistics.median(cpus))
    return _result(attempted, failed, values, M.END_TO_END, M)


def _result(attempted, failed, values, names, M) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values.get(n, 0.0), "unit": M.UNITS[n]}
                    for n, *_ in names},
    }


def _traced(args, wl, ctx, inp, out, work, attempted, failed, M,
            session: dict) -> dict:
    """One untraced pass, then one traced pass; the session is stopped so
    the event log is complete, then rolled up with the spans."""
    from eventlog import read_rollup
    from layer_metrics import per_layer
    from procstats import TreeMonitor
    from workloads import _fresh

    attempted += 2
    values: dict = {}
    mon = TreeMonitor()
    try:
        mon.start()
        try:
            plain = wl.run(ctx, inp, _fresh(out))
        finally:
            mon.stop()
        ctx.tracer.enabled = True
        traced = wl.run_traced(ctx, inp, _fresh(out))
        ctx.tracer.enabled = False
        for pr in (plain, traced):
            failed += int(bool(pr.errors))
            for e in pr.errors:
                log("CHECK FAILED:", e)
        if plain.digest != traced.digest:
            failed += 1
            log("CHECK FAILED: summaries of the untraced and traced passes differ")
    except Exception:  # noqa: BLE001 — report as a failed operation
        failed += 1
        log("traced run raised:\n" + traceback.format_exc())
        return _result(attempted, failed, values, M.PER_LAYER, M)
    finally:
        _stop_session(session.pop("spark"))
    evdir = os.path.join(work, "eventlog")
    (logfile,) = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    groups = read_rollup(logfile)
    values = per_layer(wl, ctx, inp, plain, traced, groups)
    values["process.peak_pss_mb"] = mon.peak_bytes / 2**20
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": [s.__dict__ for s in ctx.tracer.spans],
                   "groups": {g: m.__dict__ for g, m in groups.items()},
                   "metrics": values}, f, indent=1)
    log(f"trace written to {os.path.relpath(path, ROOT)}")
    return _result(attempted, failed, values, M.PER_LAYER, M)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing decides set order, and set order reaches the
        # generated inputs; fix it for this process and every worker
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    if not os.path.isfile(os.path.join(ROOT, "entitysummarization_spark", "__init__.py")):
        log("entitysummarization_spark not found next to perfbench/: "
            "run from a full checkout of the repository")
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    work = os.path.join(STATE, f"run-{os.getpid()}")
    os.makedirs(work)
    _environment(work)
    session: dict = {}
    try:
        result = run(args, work, session)
    finally:
        if "spark" in session:
            _stop_session(session.pop("spark"))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
