"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Workloads (see ``workloads.py``): batch, serving.  The engine runs on
the session users get, ``Engine.local()`` with ``SPARK_GRAFT_CPUS`` set
to the number of usable CPUs and no extra configuration.

A run builds the session, prepares its inputs from ``--seed``, then
runs operations one after another (a closed loop with one client)
until their summed wall time reaches ``--seconds`` and a whole cycle of
the workload's pattern is done.  There is no warm-up: the first cycle
pays the session's cold start, as a user's first requests do.  Outputs
are checked outside the timed region.  Latencies are medians over the
timed ops of a kind.

stdout ends with two JSON lines: a report with every metric of the
workload, its units and the output checks; then the result line
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the result metrics are the end-to-end ones; with ``--trace 1`` the
second of three cycles of operations runs traced, the result metrics
are the per-layer ones (layers a workload never calls read 0), the
tracing overhead is that cycle's primary-op median minus the other two
cycles', and the spans are written to ``.perfbench_out/``.

Everything the run writes stays under the checkout (``.perfbench_work``
is removed at exit).  Exit code 2 means the engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The gated end-to-end metrics (BENCHMARK.json), reported by every
# workload.  Reported but not gated: peak_rss_mb, which JVM heap growth
# makes jump between runs of the same code, and op_p50_s and the other
# per-kind medians, each over a handful of ops, which spread more across
# runs than items_per_s, the throughput over the whole timed cycle (with
# one client in a closed loop, the inverse of the mean op latency).
END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}

# per-layer timer metric -> span name; value = mean self time per call
LAYER_TIMERS = {
    "session.get_spark_s": "session.get_spark",
    "session.worker_warmup_s": "session.worker_warmup",
    "catalog.register_views_s": "catalog.register_views",
    "manifest.build_manifest_s": "manifest.build_manifest",
    "manifest.run_pipeline_s": "manifest.run_pipeline",
    "manifest.watch_prefix_s": "manifest.watch_prefix",
    "manifest.commit_log_s": "manifest.commit_log",
    "dedup.exact_dedup_s": "dedup.exact_dedup",
    "dedup.near_dup_pairs_s": "dedup.near_dup_pairs",
    "dedup.clusters_s": "dedup.clusters",
    "curation.quality_rules_s": "curation.quality_rules",
    "text.tfidf_s": "text.tfidf",
    "similarity.ivf_index_write_s": "similarity.ivf_index_write",
    "similarity.ivf_index_probe_s": "similarity.ivf_index_probe",
    "similarity.ivf_append_s": "similarity.ivf_append",
}
SQL_TEMPLATES = ("q1_pricing", "q5_local_supplier", "star_join", "rollup",
                 "window_topk")
LAYER_TIMERS.update({f"engine.sql_s.{t}": f"engine.sql.{t}"
                     for t in SQL_TEMPLATES})
LAYER_COUNTS = {
    "manifest.files_in": "count", "manifest.bytes_in": "bytes",
    "manifest.bytes_out": "bytes", "manifest.ok_ratio": "ratio",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "curation.kept_ratio": "ratio",
    "similarity.candidates_per_result": "ratio",
    "similarity.files_per_cell": "count",
}
# jobs per call of the spans whose fixed job count sets small-input latency
LAYER_JOBS = {"similarity.probe_jobs": ("similarity.ivf_index_probe",),
              "engine.sql_jobs": tuple(f"engine.sql.{t}"
                                       for t in SQL_TEMPLATES)}
RUN_METRICS = {"spark.jobs": "count", "spark.tasks": "count",
               "run.cpu_s": "s", "trace.overhead_s": "s"}

def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        data = f.read()
    start_ticks = int(data[data.rindex(")") + 2:].split()[19])   # field 22
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _inc(x: int) -> int:
    return x + 1


def stop_spark(spark, trace_mod) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this run started has exited."""
    from pyspark import SparkContext
    pids = [p for p in trace_mod.tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    for pid in pids:     # reap our direct children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def layer_metrics(tr, wl, loop: list[dict], cpu_s: float) -> dict:
    layers = tr.layers()
    out = {}
    for metric, span in LAYER_TIMERS.items():
        agg = layers.get(span)
        out[metric] = (agg["self_s"] / agg["calls"], "s") if agg else (0, "s")
    for metric, unit in LAYER_COUNTS.items():
        out[metric] = (wl.counts.get(metric, 0), unit)
    for metric, spans in LAYER_JOBS.items():
        aggs = [layers[s] for s in spans if s in layers]
        calls = sum(a["calls"] for a in aggs)
        out[metric] = (sum(a["jobs"] for a in aggs) / calls if calls else 0,
                       "count")
    traced = [r for r in loop if r["traced"]]
    ids = {r["i"] for r in traced}
    op_spans = [s for s in tr.spans if s["request"] in ids]
    n = max(len(traced), 1)
    out["spark.jobs"] = sum(s.get("jobs", 0) for s in op_spans) / n
    out["spark.tasks"] = sum(s.get("tasks", 0) for s in op_spans) / n
    out["run.cpu_s"] = cpu_s
    # Overhead: the traced cycle against the untraced cycles around it.
    on = [r["s"] for r in loop if r["ok"] and r["primary"] and r["traced"]]
    off = [r["s"] for r in loop if r["ok"] and r["primary"]
           and not r["traced"]]
    from perfbench.trace import median
    out["trace.overhead_s"] = median(on) - median(off) if on and off else 0
    for metric, unit in RUN_METRICS.items():
        out[metric] = (out[metric], unit)
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("batch", "serving"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke tests")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "samplebatchprocessing_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: engine sources not found under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    try:
        return run(args, t_start, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))      # when no other run uses it
        except OSError:
            pass


def run(args, t_start: float, work: str) -> int:
    from bench import tree_cpu_sec
    from perfbench import trace
    from perfbench.workloads import WORKLOADS
    from samplebatchprocessing_spark.engine import Engine

    tr = trace.Tracer() if args.trace else trace.NullTracer()
    off = trace.NullTracer()
    spark = None
    with trace.RssSampler() as rss:
        try:
            with tr.span("session.get_spark"):
                eng = Engine.local()
            spark = eng.spark
            if args.trace:
                tr.sc = spark.sparkContext
                spark.streams.addListener(_run_id_listener(tr))
            with tr.span("session.worker_warmup"):
                spark.sparkContext.parallelize([0], 1).map(_inc).collect()
            setup_s = time.time() - t_start

            wl = WORKLOADS[args.workload](eng, os.path.join(work, "data"),
                                          args.seed, args.size)
            wl.prepare(tr)
            setup_s += wl.extra.pop("attach_s", 0.0)
            loop, raised, i, measured = [], 0, 0, 0.0
            # Timed ops run from the session's first op until their
            # summed wall time reaches --seconds and a whole cycle is
            # done, so every run times the same mix of kinds, cold start
            # included.  Traced runs trace every other cycle, starting
            # with the second, and run at least three cycles, so a
            # traced cycle sits between two untraced ones.
            while (measured < args.seconds or i % wl.cycle
                   or (args.trace and i < 3 * wl.cycle)):
                traced = bool(args.trace) and (i // wl.cycle) % 2 == 1
                tr.request = i if traced else None
                wl.before(i)
                n_err = len(wl.errors)
                cpu0, t0 = tree_cpu_sec(), time.perf_counter()
                try:
                    items, ok = wl.op(i, tr if traced else off), True
                except Exception:
                    traceback.print_exc()
                    items, ok = 0, False
                    raised += 1
                dt, cpu = time.perf_counter() - t0, tree_cpu_sec() - cpu0
                if ok:
                    try:
                        wl.after(i)
                    except Exception:
                        traceback.print_exc()
                        wl.fail(f"op {i}: output check raised")
                    ok = len(wl.errors) == n_err
                measured += dt
                loop.append({"i": i, "s": dt, "cpu": cpu, "items": items,
                             "ok": ok, "traced": traced, "kind": wl.kind(i),
                             "primary": wl.primary(i)})
                i += 1
            tr.request = None
            wl.finish(tr)
        finally:
            if spark is not None:
                stop_spark(spark, trace)
    attempted = i
    failed = min(attempted, raised + len(wl.errors))
    report = workload_report(args.workload, wl, loop, setup_s,
                             rss.peak / 2 ** 20, attempted, failed)
    report["seed"] = args.seed
    if args.trace:
        metrics = layer_metrics(tr, wl, loop, sum(r["cpu"] for r in loop))
        out = os.path.join(ROOT, ".perfbench_out",
                           f"trace-{args.workload}-s{args.seed}.json")
        tr.dump(out)
        report["trace_file"] = os.path.relpath(out, ROOT)
        report["layers"] = tr.layers()
    else:
        metrics = {k: (report["metrics"][k]["value"], u)
                   for k, u in END_TO_END.items()}
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def _run_id_listener(tr):
    """Attach each streaming query's job group (its run id) to the span
    open when the query starts."""
    from pyspark.sql.streaming import StreamingQueryListener

    class RunIds(StreamingQueryListener):
        def onQueryStarted(self, event):
            tr.adopt_group(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return RunIds()


def workload_report(name: str, wl, loop: list[dict], setup_s: float,
                    peak_mb: float, attempted: int, failed: int) -> dict:
    """Every end-to-end metric of the workload, with units.  The gated
    ones (``END_TO_END``) exist for every workload; the rest are named
    after what they measure: per op kind a median and a tail latency,
    per item name a throughput over the ops that count it."""
    from perfbench.trace import median, tail
    ok = [r for r in loop if r["ok"]]
    wall = sum(r["s"] for r in loop)
    lat = {k: [r["s"] for r in ok if r["kind"] == k]
           for k in dict.fromkeys(wl.PATTERN)}
    prim = lat[wl.PRIMARY]
    m = {"setup_s": (setup_s, "s"),
         "items_per_s": (sum(r["items"] for r in loop) / wall, "1/s"),
         "op_p50_s": (median(prim) if prim else float("nan"), "s"),
         "peak_rss_mb": (peak_mb, "MB"),
         "fail_ratio": (failed / attempted, "ratio")}
    m[f"{wl.item}_per_s"] = (m["items_per_s"][0], f"{wl.item}/s")
    for item in dict.fromkeys(wl.ITEMS.values()):
        ops = [r for r in loop if wl.ITEMS[r["kind"]] == item]
        m[f"{item}_per_s"] = (sum(r["items"] for r in ops)
                              / sum(r["s"] for r in ops) if ops else None,
                              f"{item}/s")
    tails = {}
    for kind, values in lat.items():
        m[f"{kind}_p50_s"] = (median(values) if values else None, "s")
        tails[kind] = tail(values)
        m[f"{kind}_tail_s"] = (tails[kind]["value"] if tails[kind] else None,
                               "s")
    for k, v in wl.extra.items():
        m[k] = (v, "s" if k.endswith("_s") else "ratio")
    rule = "highest percentile with >= 10 samples beyond it"
    return {"workload": name, "item": wl.item,
            "ops": len(loop), "ops_ok": len(ok), "wall_s": wall,
            "op_s": [[r["kind"], r["s"], r["cpu"]] for r in loop],
            "tail": {"rule": rule,
                     **{k: t or {"n": len(lat[k]), "pct": None}
                        for k, t in tails.items()}},
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            "checks": {"passed": not wl.errors, "errors": wl.errors[:20]},
            "inputs": wl.info}


if __name__ == "__main__":
    sys.exit(main())
