"""Benchmark entry point.

    python3 perfbench/run.py --workload {kg_er,corpus_ops} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Set-up (corpus generation, session start,
oracles, warm-up) is timed as ``setup_s``; then the workload runs
repeatedly until ``--seconds`` of timed runs have passed, and every run's
output is checked outside its timed interval.  The last line of standard
output is one JSON object with the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``).

Each run is measured both in wall time (``run_s``, printed) and in CPU
time of the program's processes (``run_cpu_s``: the JVM, its Python
workers and the driver process).  Only the CPU time is in the JSON result:
on a shared virtual machine the host takes CPUs away from the guest for
seconds at a time (steal time), and other processes may share the CPUs;
either stretches wall time by a third or more between runs of the same
code, but neither is charged to the program's processes.  A host that runs
the CPUs slower still shows in both.

``--trace 1`` makes the untraced runs, then one traced run in the same
warm session, with spans and with Spark's event-log writer attached for
that run only; spans and event log give the per-layer metrics, and traced
minus untraced run time is reported as ``trace.overhead_s``.  A traced run
fails unless every span its workload must record launched a Spark job.
Metrics of layers the workload does not run are reported as 0 (each
result carries every per-layer metric).  The trace is kept under
``.perfbench/traces/``; ``python3 perfbench/layers.py`` prints its
per-layer table.  Everything else is written under ``.perfbench/`` and
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4

# per-layer metric names with unit and direction, in report order
LAYER_METRICS = (
    [(f"extract.{m}", u, b) for m, u, b in [
        ("wall_s", "s", "lower"), ("jobs", "count", "lower"),
        ("task_s", "s", "lower"), ("task_skew", "ratio", "lower"),
        ("arrow_bytes_to_python", "B", "lower"),
        ("arrow_bytes_from_python", "B", "lower")]]
    + [(f"link.{m}", u, b) for m, u, b in [
        ("wall_s", "s", "lower"), ("jobs", "count", "lower"),
        ("shuffle_bytes", "B", "lower"), ("task_skew", "ratio", "lower")]]
    + [(f"dedup.{m}", u, b) for m, u, b in [
        ("wall_s", "s", "lower"), ("shuffle_bytes", "B", "lower"),
        ("spill_bytes", "B", "lower"), ("kept_ratio", "ratio", "higher")]]
    + [(f"cmap.{m}", u, b) for m, u, b in [
        ("wall_s", "s", "lower"), ("jobs", "count", "lower"),
        ("no_task_s", "s", "lower"), ("iterations", "count", "lower"),
        ("frontier_rows", "count", "lower"),
        ("plan_chars_max", "chars", "lower")]]
    + [(f"materialize.{m}", u, b) for m, u, b in [
        ("wall_s", "s", "lower"), ("jobs", "count", "lower"),
        ("bytes_written", "B", "lower")]]
    + [(f"pipeline.{m}", u, b) for m, u, b in [
        ("jobs", "count", "lower"), ("no_task_s", "s", "lower"),
        ("self_s", "s", "lower")]]
    + [(f"{layer}.{q}.{m}", u, "lower")
       for layer, qs in [("textops", ["doc_ngram_jaccard", "doc_minhash_lsh",
                                      "doc_simhash_pairs"]),
                         ("simsearch", ["doc_embedding_neardup",
                                        "ann_cosine_topk", "ann_lsh_topk",
                                        "ann_ivf_topk",
                                        "ann_ivf_materialized"])]
       for q in qs
       for m, u in [("wall_s", "s"), ("jobs", "count"),
                    ("shuffle_bytes", "B")]]
    + [("textops.minhash.verified_ratio", "ratio", "higher"),
       ("trace.overhead_s", "s", "lower")]
)

# The JVM's share of peak RSS follows G1's heap sizing, which varies by a
# third between runs of one input, so the process tree's peak RSS is
# printed but not reported; the Python workers' peak RSS repeats to 1%.
# Wall time and rows per wall second are printed but not reported, for the
# host contention named in the module docstring.
END_TO_END = [("setup_s", "s"), ("run_cpu_s", "s"),
              ("output_bytes_per_row", "B"), ("worker_rss_mb", "MB")]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def set_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the program from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the program's own defaults (driver memory, JVM flags, scratch, codec)
    for var in [v for v in os.environ if v.startswith("OLKG_")]:
        del os.environ[var]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "OLKG_LOCAL_DIR": local,
        # every JVM, the spark-submit launcher too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = tmp   # gettempdir() may have cached the default


def start_session():
    from olkg.session import build_session
    spark = build_session(app_name="perfbench", master=f"local[{CPUS}]",
                          shuffle_partitions=4 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop the active session, shut the JVM down and wait for it (its
    Python workers end with it)."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# --- memory of the JVM process tree ------------------------------------------

def _tree(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def reset_peak(pid: int) -> None:
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """Peak RSS since the last :func:`reset_peak`, summed over the JVM and
    its descendants, and over the descendants (the Python workers) alone."""
    total = workers = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        total += kb
                        workers += kb if p != pid else 0
        except OSError:
            pass
    return total / 1024, workers / 1024


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JVM and its descendants (with their
    reaped children, such as Python workers that ended) and by this
    process."""
    ticks = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # u/s time, children's
    own = os.times()
    return ticks / _TICK + own.user + own.system


def steal_s() -> float:
    """CPU seconds the host has taken from this machine so far, summed over
    its CPUs (printed with each run, to tell host contention apart)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


# --- measurement ---------------------------------------------------------------

def timed_runs(wl, seconds: float, pid: int) -> dict:
    """Run until ``seconds`` of timed runs have passed.  A run fails if it
    raises or fails its output check; failures are kept as messages."""
    runs, failures, attempted = [], [], 0
    timed = 0.0
    while attempted == 0 or timed < seconds:
        attempted += 1
        reset_peak(pid)
        cpu0, steal0 = cpu_s(pid), steal_s()
        try:
            r = wl.run_once()
        except Exception:
            failures.append(traceback.format_exc())
            timed += seconds / 4   # a failing run still ends the loop
            continue
        r["run_cpu_s"] = cpu_s(pid) - cpu0
        r["steal_s"] = steal_s() - steal0
        r["peak_rss_mb"], r["worker_rss_mb"] = peak_rss_mb(pid)
        timed += r["run_s"]
        try:
            errs = wl.check(r)
        except Exception:
            errs = [traceback.format_exc()]
        wl.finish(r)
        if errs:
            failures.append("; ".join(errs))
        else:
            runs.append(r)
    return {"runs": runs, "failures": failures, "attempted": attempted}


def measure(wl, seconds: float):
    """Set up, warm up, then make the timed runs in one session, which is
    returned still running."""
    phases = {}
    t0 = last = time.perf_counter()

    def phase(name):
        nonlocal last
        now = time.perf_counter()
        phases[name] = now - last
        last = now

    wl.prepare()
    phase("prepare")
    spark = start_session()
    phase("session")
    wl.bind(spark)
    phase("bind")
    wl.warm_up()
    phase("warm_up")
    wl.oracle()
    phase("oracle")
    res = {"setup_s": last - t0, "phases": phases}
    res.update(timed_runs(wl, seconds, jvm_pid()))
    return spark, res


def end_to_end(res: dict) -> dict:
    runs = res["runs"]
    run_s = statistics.median(r["run_s"] for r in runs)
    rows = statistics.median(r["rows"] for r in runs)
    return {"setup_s": res["setup_s"], "run_s": run_s,
            "run_cpu_s": statistics.median(r["run_cpu_s"] for r in runs),
            "rows_per_s": rows / run_s,
            "output_bytes_per_row": statistics.median(
                r["output_bytes"] / r["rows"] for r in runs),
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in runs),
            "worker_rss_mb": statistics.median(r["worker_rss_mb"]
                                               for r in runs)}


def traced(spark, wl, workload: str, seed: int, untraced_run_s: float,
           work: str) -> tuple[dict, dict, list[str]]:
    """One traced run in the warm session of the untraced runs, so that
    traced minus untraced run time is the tracing overhead."""
    from spans import (EventLog, Tracer, event_log_files, read_event_log,
                       span_metrics)
    event_dir = os.path.join(work, "events")
    tracer = Tracer(spark, f"{workload}-{seed}")
    wl.instrument(tracer)
    try:
        with EventLog(spark, event_dir):
            r = wl.traced_run(tracer)
    finally:
        tracer.unwrap()
    try:
        errs = wl.check(r)
        extras = wl.layer_extras(r)
    finally:
        wl.finish(r)
    log_data = read_event_log(event_log_files(event_dir))
    per_span = span_metrics(tracer.spans, log_data)
    errs += missing_spans(tracer.spans, per_span, wl.required_spans)
    layers = layer_metrics(tracer.spans, per_span)
    layers.update(extras)
    layers["trace.overhead_s"] = r["run_s"] - untraced_run_s
    not_run = [n for n, _, _ in LAYER_METRICS
               if n.split(".")[0] not in wl.layers + ("trace",)]
    trace_doc = {"workload": workload, "seed": seed,
                 "traced_run_s": r["run_s"], "untraced_run_s": untraced_run_s,
                 "spans": [{**s, **per_span[s["id"]]} for s in tracer.spans],
                 "layers": layers, "not_run": not_run}
    return trace_doc, layers, errs


def missing_spans(spans: list[dict], per_span: dict,
                  required: list[str]) -> list[str]:
    """A traced run fails unless each required span was recorded and
    launched a Spark job: a wrapper that no longer matches the program (a
    renamed function, or one called through another module) must show as
    an error, not as a layer that costs nothing."""
    jobs: dict[str, int] = {}
    for s in spans:
        jobs[s["name"]] = jobs.get(s["name"], 0) + per_span[s["id"]]["jobs"]
    return [f"span {name} was not recorded or ran no Spark job"
            for name in required if not jobs.get(name)]


def layer_metrics(spans: list[dict], per_span: dict) -> dict:
    out: dict[str, float] = {name: 0 for name, _, _ in LAYER_METRICS}
    sums = ("wall_s", "jobs", "task_s", "no_task_s", "shuffle_bytes",
            "spill_bytes", "bytes_written", "arrow_bytes_to_python",
            "arrow_bytes_from_python")
    maxes = ("task_skew", "plan_chars_max")
    for s in spans:
        m = per_span[s["id"]]
        if s["layer"] in ("textops", "simsearch"):
            prefix = f"{s['layer']}.{s['name']}."
        elif s["parent"] is None:
            prefix = "pipeline."
        else:
            prefix = f"{s['layer']}."
        for k in sums + maxes + ("self_s",):
            key = prefix + k
            if key not in out:
                continue
            if k in maxes:
                out[key] = max(out[key], m[k])
            else:
                out[key] += m[k]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    for need in ("olkg/pipeline.py", "data/pages.parquet",
                 "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"perfbench: {need} not found under {ROOT}")
            return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    set_env(work)
    try:
        wl = WORKLOADS[args.workload](ROOT, work, args.seed)
        spark, res = measure(wl, args.seconds)
        if not res["runs"]:
            raise RuntimeError("no run passed its checks:\n"
                               + "\n".join(res["failures"]))
        e2e = end_to_end(res)
        attempted, failures = res["attempted"], list(res["failures"])
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        if args.trace:
            doc, layers, errs = traced(spark, wl, args.workload, args.seed,
                                       e2e["run_s"], work)
            attempted += 1
            if errs:
                failures.append("traced run: " + "; ".join(errs))
            tdir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(tdir, exist_ok=True)
            tpath = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
            with open(tpath, "w") as f:
                json.dump({**doc, "info": wl.info}, f, indent=1)
            log(f"trace written to {os.path.relpath(tpath, ROOT)}; traced "
                f"run {doc['traced_run_s']:.3f} s, untraced {e2e['run_s']:.3f}"
                f" s, overhead {layers['trace.overhead_s']:.3f} s; layers "
                f"not run by this workload, reported as 0: "
                f"{', '.join(doc['not_run'])}")
            metrics = {n: {"value": layers[n], "unit": u}
                       for n, u, _ in LAYER_METRICS}
    finally:
        if "pyspark" in sys.modules:
            stop_session()
        shutil.rmtree(work, ignore_errors=True)

    report(args.workload, res, e2e, attempted, failures, wl.info)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


def report(workload, res, e2e, attempted, failures, info) -> None:
    """Human-readable summary: every end-to-end metric by name and unit,
    named per triple on the KG workloads, plus the error rate."""
    runs = res["runs"]
    item = "triple" if workload.startswith("kg_") else "row"
    rows = [("setup_s", e2e["setup_s"], "s"), ("run_s", e2e["run_s"], "s"),
            ("run_cpu_s", e2e["run_cpu_s"], "s"),
            (f"{item}s_per_s", e2e["rows_per_s"], "1/s"),
            (f"output_bytes_per_{item}", e2e["output_bytes_per_row"], "B"),
            ("peak_rss_mb", e2e["peak_rss_mb"], "MB"),
            ("worker_rss_mb", e2e["worker_rss_mb"], "MB"),
            ("error_rate", len(failures) / attempted, "failed/attempted")]
    lines = [f"workload {workload}: {len(runs)} timed runs "
             f"(run_s {', '.join(format(r['run_s'], '.3f') for r in runs)};"
             f" run_cpu_s "
             f"{', '.join(format(r['run_cpu_s'], '.2f') for r in runs)};"
             f" host steal s "
             f"{', '.join(format(r['steal_s'], '.2f') for r in runs)})",
             "  set-up: " + ", ".join(f"{k} {v:.2f} s"
                                      for k, v in res["phases"].items()),
             f"  inputs: {json.dumps(info, sort_keys=True)}"]
    if "walls" in runs[0]:
        lines.append("  median query s: " + ", ".join(
            f"{q} {statistics.median(r['walls'][q] for r in runs):.3f}"
            for q in runs[0]["walls"]))
    lines += [f"  {name:<24} {value:14.3f} {unit}" for name, value, unit in rows]
    for e in failures:
        lines.append("  ERROR " + e.strip().replace("\n", "\n        "))
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    sys.exit(main())
