"""spark-scrub benchmark: one workload per process.

    python3 perfbench/run.py --workload crawl_scrub --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout.  The run builds (or reuses) its
seeded inputs under ``.perfbench_work/``, starts a ``local[nproc/2]``
Spark session and makes one untimed pass of the workload (together the
set-up, ``setup_s``), then repeats the timed operation until
``--seconds`` have passed, at least ``MIN_REPS`` times, and checks every
operation's output.  The last stdout line is the result JSON; the line
before it records the host-speed probe, steal time during the set-up
and per timed rep, peak memory and the expected output of the run.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs with
Spark's event log on: the timed operations and the layer calls, whose
wall time it attributes to stages, then, in a second session with the
log off, the untimed pass and ``MIN_REPS`` untraced operations as the
reference for the tracing overhead.  It reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, procfs  # noqa: E402
from perfbench.workloads import FUNNEL_STAGES, WORKLOADS, CheckFailed  # noqa: E402

PACKAGE = "azure_based_pii_redactor_spark"
MIN_REPS = 3

# Every per-layer metric, with its unit.  A layer a workload does not
# run reports 0 there (e.g. the WARC scan on corpus_funnel).
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.stage_s": "s", "spark.driver_gap_s": "s",
    "trace.wall_s": "s", "trace.attributed_frac": "ratio", "trace.overhead_s": "s",
    "sources.warc.scan_s": "s", "sources.warc.records_per_s": "1/s",
    "engine.html_text.us_per_doc": "us",
    "quality.langid.us_per_doc": "us", "quality.perplexity.us_per_doc": "us",
    "quality.heuristics.us_per_doc": "us", "kernel.scrub.us_per_doc": "us",
    "kernel.entities_per_doc": "count", "quality.keep_frac": "ratio",
    "engine.pipeline.stage_s": "s", "engine.pipeline.py_bytes_sent": "bytes",
    "engine.pipeline.py_bytes_returned": "bytes", "engine.pipeline.python_s": "s",
    "engine.checkpoint.write_s": "s", "engine.checkpoint.lineage_s": "s",
    "engine.checkpoint.files_written": "count", "engine.checkpoint.jobs": "count",
    **{f"engine.corpus.{s}_s": "s" for s in (*FUNNEL_STAGES, "sink")},
    **{f"engine.corpus.{s}_rows": "count" for s in FUNNEL_STAGES},
    "engine.corpus.jobs": "count",
    "engine.operators.shuffle_write_bytes": "bytes",
    "engine.operators.shuffle_read_bytes": "bytes",
    "engine.operators.spill_bytes": "bytes",
    "streaming.admission.seed_s": "s", "streaming.admission.epoch_s": "s",
    "streaming.admission.admitted_frac": "ratio",
    "streaming.admission.band_store_bytes": "bytes",
    "engine.operators.dedup.shuffle_records": "count",
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Tracer:
    """Times calls under their own Spark job group and keeps the call
    intervals for event-log attribution."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls: list[eventlog.Call] = []

    @contextlib.contextmanager
    def call(self, name):
        group = f"perfbench-{len(self.calls) + 1}"
        self.sc.setJobGroup(group, name)
        rec = eventlog.Call(name, group, int(time.time() * 1000), 0)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            rec.end_ms = int(time.time() * 1000)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.calls.append(rec)


def start_session(work, slots, conf, event_log):
    from azure_based_pii_redactor_spark.engine.session import build_session

    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **conf,
    }
    # set either way: the session builder keeps options across sessions
    extra["spark.eventLog.enabled"] = str(bool(event_log)).lower()
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({"spark.eventLog.dir": "file://" + event_log,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    return build_session(app_name="perfbench", master=f"local[{slots}]", extra_conf=extra)


def stop_all(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process this run started (the JVM, the Python worker daemon and its
    workers) has exited, killing any that outlive a grace period."""
    from pyspark import SparkContext

    started = [p for p in procfs.tree_pids(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        alive = [p for p in started if procfs.is_running(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.2)


def kernel_layers(wl) -> dict:
    """Kernel sub-stages timed single-threaded in this process on a
    seeded sample of the workload's documents (median of three passes)."""
    from azure_based_pii_redactor_spark.engine.html_text import html_to_text
    from azure_based_pii_redactor_spark.kernel.scrub import scrub_text
    from azure_based_pii_redactor_spark.quality.decide import decide
    from azure_based_pii_redactor_spark.quality.heuristics import gopher_c4_metrics
    from azure_based_pii_redactor_spark.quality.langid import predict_language_batch
    from azure_based_pii_redactor_spark.quality.perplexity import perplexity_batch

    texts = wl.sample_texts()
    htmls = wl.sample_html()
    # the pages the JVM fast path cannot strip, where the workload has any
    fallback = [h for h in htmls
                if not (h.startswith(b"<html><body>") and h.endswith(b"</body></html>"))]
    n = len(texts)

    def us_per_doc(fn, items):
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(items)
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls) / len(items) * 1e6

    scrubbed = [scrub_text(t) for t in texts]
    return {
        "quality.langid.us_per_doc": us_per_doc(predict_language_batch, texts),
        "quality.perplexity.us_per_doc": us_per_doc(perplexity_batch, texts),
        "quality.heuristics.us_per_doc": us_per_doc(
            lambda ts: [gopher_c4_metrics(t) for t in ts], texts),
        "kernel.scrub.us_per_doc": us_per_doc(
            lambda ts: [scrub_text(t) for t in ts], texts),
        "kernel.entities_per_doc": sum(len(r.entities) for r in scrubbed) / n,
        "quality.keep_frac": sum(decide(t).keep for t in texts) / n,
        "engine.html_text.us_per_doc": us_per_doc(
            lambda hs: [html_to_text(h.decode("utf-8", "replace")) for h in hs], fallback)
        if fallback else 0.0,
    }


def timed_reps(spark, wl, seconds, call, steal) -> list[dict]:
    """Repeat the timed operation ``MIN_REPS`` times, then until ``seconds``
    have passed; check each output outside the timing."""
    reps: list[dict] = []
    t_start = time.perf_counter()
    while len(reps) < MIN_REPS or time.perf_counter() - t_start < seconds:
        i = len(reps)
        st0, cpu0, t0 = procfs.steal_s(), procfs.tree_cpu_s(), time.perf_counter()
        rec = {"ok": False}
        try:
            rec["docs"] = wl.op(spark, i, call)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = procfs.tree_cpu_s() - cpu0
            steal.append(procfs.steal_s() - st0)
            wl.check(spark, i)
            rec["ok"] = True
            print(f"rep {i}: {rec['wall_s']:.2f} s", file=sys.stderr)
        except CheckFailed as exc:
            print(f"check failed, rep {i}: {exc}", file=sys.stderr)
        except Exception as exc:  # the run goes on; the rep counts as failed
            traceback.print_exc()
            print(f"operation failed, rep {i}: {exc!r}", file=sys.stderr)
        reps.append(rec)
    return reps


def end_to_end(wl, reps, setup_s) -> dict:
    ok = [r for r in reps if r["ok"]]
    if not ok:
        return {}
    wall = statistics.median(r["wall_s"] for r in ok)
    docs = statistics.median(r["docs"] for r in ok)
    out = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (docs / wall, "docs/s"),
        "call_s": (wall, "s"),
        "cpu_s_per_kdoc": (statistics.median(r["cpu_s"] / r["docs"] * 1000 for r in ok),
                           "s/kdoc"),
        "out_bytes_per_in_byte": (wl.out_bytes_per_in_byte(), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def trace_metrics(wl, event_dir, tracer, n_timed, layers, untraced_wall) -> dict:
    """Per-layer metrics: event-log attribution of the timed calls and the
    layer calls, the workload's layer measurements, and the kernel
    sub-stages.  Prints the stage split of every call."""
    [log] = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    jobs = eventlog.read(log)
    by_group = eventlog.assign(jobs, tracer.calls)
    profiles = [eventlog.call_profile(c, by_group[c.group]) for c in tracer.calls]
    for c, p in zip(tracer.calls, profiles):
        # by_site shares plus driver_gap_s add up to wall_s
        print(json.dumps({"call": c.name, "group": c.group, **p}))
    timed = profiles[:n_timed]

    def med(key, ps=timed):
        return statistics.median(p[key] for p in ps) if ps else 0.0

    epochs = [p for c, p in zip(tracer.calls, profiles)
              if c.name == "streaming.admission.run_streaming_admission"]
    wall = med("wall_s")
    out = {
        "spark.jobs": med("jobs"), "spark.stages": med("stages"),
        "spark.tasks": med("tasks"), "spark.stage_s": med("stage_s"),
        "spark.driver_gap_s": med("driver_gap_s"),
        "engine.pipeline.py_bytes_sent": med("py_bytes_sent"),
        "engine.pipeline.py_bytes_returned": med("py_bytes_returned"),
        "engine.pipeline.python_s": med("python_s"),
        "engine.operators.shuffle_write_bytes": med("shuffle_write_bytes"),
        "engine.operators.shuffle_read_bytes": med("shuffle_read_bytes"),
        "engine.operators.spill_bytes": med("spill_bytes"),
        "engine.operators.dedup.shuffle_records": med("shuffle_records", epochs),
        "trace.wall_s": wall,
        "trace.attributed_frac": sum(p["stage_s"] for p in timed)
        / sum(p["wall_s"] for p in timed),
        "trace.overhead_s": wall - untraced_wall,
    }
    out.update(wl.trace_layers(tracer.calls[:n_timed], by_group, timed))
    out.update(layers)
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics {sorted(unknown)}")
    return {k: {"value": out.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}


def pinned_expected(workload: str, seed: int) -> dict | None:
    """The expected output recorded for this workload and seed, if any."""
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    # keep every child process's temporary files inside the checkout; the
    # JVM ignores TMPDIR and writes its perf-data file to /tmp by default
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the program's own knob for the driver heap, 2g instead of its 8g
    # default, keeps the process tree near 2 GB of RSS on a host whose
    # memory is shared (with 8g, corpus_funnel peaked at 4.4 GB)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    slots = max(1, (os.cpu_count() or 2) // 2)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, args.workload), slots)
    host = {"probe_before_s": procfs.host_probe_s()}
    wl.prepare(inputs.InputCache(os.path.join(work, "cache")))
    pinned = pinned_expected(args.workload, args.seed)
    if pinned not in (None, wl.expected()):
        print(f"perfbench: expected output {wl.expected()} differs from the one"
              f" recorded for seed {args.seed}, {pinned}", file=sys.stderr)
    shutil.rmtree(wl.run_dir, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog", args.workload)
    shutil.rmtree(event_dir, ignore_errors=True)

    steal, reps, layer_ops, untraced, traced = [], [], [], [], []
    metrics, crashed, spark = {}, False, None
    try:
        st0, t0 = procfs.steal_s(), time.perf_counter()
        spark = start_session(work, slots, wl.conf(), event_dir if args.trace else None)
        wl.warm(spark)
        setup_s = time.perf_counter() - t0
        host["setup_steal_s"] = procfs.steal_s() - st0
        tracer = Tracer(spark)
        reps = timed_reps(spark, wl, args.seconds, tracer.call, steal)
        if args.trace:
            traced = list(reps)
            try:
                layers = kernel_layers(wl) | wl.layers(spark, tracer)
                layer_ops.append(True)
            except Exception as exc:  # the layer calls count as one failed op
                traceback.print_exc()
                print(f"layer call failed: {exc!r}", file=sys.stderr)
                layer_ops.append(False)
            # the untraced reference reps run afterwards, in a second session
            # of the same JVM with the event log off and new Python workers
            # (started by its untimed pass); the JIT is warmer by then, so
            # trace.overhead_s is an upper bound
            spark.stop()
            shutil.rmtree(wl.run_dir, ignore_errors=True)
            spark = start_session(work, slots, wl.conf(), None)
            wl.warm(spark)
            ref = timed_reps(spark, wl, 0, Tracer(spark).call, steal)
            untraced = [r["wall_s"] for r in ref if r["ok"]]
            reps += ref
        else:
            metrics = end_to_end(wl, reps, setup_s)
    except Exception as exc:  # outside a timed rep: one more failed op
        traceback.print_exc()
        print(f"run failed: {exc!r}", file=sys.stderr)
        crashed = True
    finally:
        peak_rss = procfs.tree_peak_rss_mb()
        stop_all(spark)
    if args.trace and not crashed and untraced and all(layer_ops):
        try:
            metrics = trace_metrics(wl, event_dir, tracer, len(traced), layers,
                                    statistics.median(untraced))
        except Exception as exc:
            traceback.print_exc()
            print(f"trace attribution failed: {exc!r}", file=sys.stderr)
            layer_ops.append(False)
    host.update(probe_after_s=procfs.host_probe_s(), steal_s_per_rep=steal,
                peak_rss_mb=peak_rss, expected=wl.expected())
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host}))

    attempted = len(reps) + len(layer_ops) + crashed
    failed = sum(not r["ok"] for r in reps) + layer_ops.count(False) + crashed
    if pinned not in (None, wl.expected()):
        failed = attempted
    print(json.dumps({"correct": failed == 0 and bool(metrics),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
