"""The workloads: inputs, one untimed warm pass, the timed operation, its
output check, and the layer calls of the traced run.

Each workload runs on ``local[K]`` with ``K = nproc // 2``: a slot
occupies about two cores (a JVM task thread plus a Python worker), so
``K`` slots fill the host without oversubscribing it.  Inputs are split
into ``2K`` files so every scan stage has a task count that is a
multiple of the slot count.

``crawl_scrub`` runs the fused kernel and the bucketed writer with no
shuffle operator; ``corpus_funnel`` runs the shuffle operators and the
corpus count jobs.  The streaming admission loop (MinHash/LSH dedup) is
measured as layer calls in the traced run of ``corpus_funnel``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import numpy as np

from . import inputs, reference

SAMPLE_DOCS = 300  # docs in the single-threaded kernel sub-stage sample


class CheckFailed(Exception):
    """An operation's output does not match the expected output."""


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in files if f.endswith(suffix))
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(suffix))


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _sample(items: list, seed: int) -> list:
    rng = np.random.default_rng(seed + 1)
    return [items[i] for i in rng.choice(len(items), min(SAMPLE_DOCS, len(items)),
                                         replace=False)]


class Workload:
    name = ""
    params: dict = {}
    modules: tuple = inputs.GENERATOR_MODULES + inputs.REFERENCE_MODULES

    def __init__(self, seed: int, work: str, slots: int):
        self.seed, self.work, self.slots = seed, work, slots
        self.run_dir = os.path.join(work, "run")

    def prepare(self, cache: inputs.InputCache) -> None:
        """Build or reuse the inputs for this seed."""
        self.cache = cache
        self.inp, self.meta = cache.get(
            self.name, {"seed": self.seed, "slots": self.slots, **self.params},
            self.modules, self._build)

    def _build(self, path: str) -> dict:
        raise NotImplementedError

    def conf(self) -> dict:
        """Spark settings for this input: one input file per scan task."""
        return {"spark.sql.files.openCostInBytes": "0",
                "spark.sql.files.maxPartitionBytes": str(self.meta["max_file_bytes"])}

    def warm(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark, rep: int, call) -> int:
        """Run one timed operation under ``call(name)``; return the input
        docs it processed."""
        raise NotImplementedError

    def check(self, spark, rep: int) -> None:
        raise NotImplementedError

    def out_bytes_per_in_byte(self) -> float:
        raise NotImplementedError

    def digest(self) -> str:
        return self.meta["out_digest"]

    def expected(self) -> dict:
        """The expected output of this seed, as pinned in ``expected.json``."""
        return {"digest": self.digest()}

    def sample_texts(self) -> list[str]:
        raise NotImplementedError

    def sample_html(self) -> list[bytes]:
        return [b"<html><body>" + t.encode() + b"</body></html>"
                for t in self.sample_texts()]

    def layers(self, spark, tracer) -> dict:
        """Workload-specific layer calls of the traced run."""
        return {}

    def trace_layers(self, calls, by_group, profiles) -> dict:
        """Workload-specific metrics from the timed calls' event log."""
        return {}


# -- crawl_scrub -------------------------------------------------------------

class CrawlScrub(Workload):
    """WARC shards -> ``read_warc`` -> ``run_checkpointed`` (fused kernel
    and bucketed parquet writer, no shuffle operator)."""

    name = "crawl_scrub"
    # Every page carries real markup: the traffic this stands for is
    # Common Crawl WARC, whose response records are whole HTML documents,
    # none of them the bare <html><body> wrapper the JVM fast path strips.
    # How much markup a page carries (head, style, script, nav, footer,
    # entities; about 0.5 KB around 0.7 KB of text) is an assumption.
    params = {"n_docs": 1500}

    def _build(self, path):
        return inputs.build_crawl(path, self.seed, n_shards=2 * self.slots, **self.params)

    def _pages(self, spark):
        from azure_based_pii_redactor_spark.sources.warc import read_warc

        return read_warc(spark, os.path.join(self.inp, "warc", "*.warc.gz"))

    def _run(self, spark, out: str, run_id: str) -> int:
        from azure_based_pii_redactor_spark.engine.checkpoint import run_checkpointed

        shutil.rmtree(out, ignore_errors=True)
        return run_checkpointed(self._pages(spark), os.path.join(out, "table"),
                                os.path.join(out, "lineage"), run_id)

    def warm(self, spark):
        self._run(spark, os.path.join(self.run_dir, "warm"), "warm")
        shutil.rmtree(os.path.join(self.run_dir, "warm"), ignore_errors=True)

    def op(self, spark, rep, call):
        with call("engine.checkpoint.run_checkpointed"):
            self.last_n = self._run(spark, os.path.join(self.run_dir, f"rep{rep}"),
                                    f"rep{rep}")
        return self.meta["n_docs"]

    def _input_pages(self) -> list[dict]:
        """The input records, decoded in this process with ``parse_warc``."""
        if not hasattr(self, "_pages_list"):
            from azure_based_pii_redactor_spark.sources.warc import parse_warc

            shard_dir = os.path.join(self.inp, "warc")
            self._pages_list = []
            for f in sorted(os.listdir(shard_dir)):
                with open(os.path.join(shard_dir, f), "rb") as fh:
                    self._pages_list.extend(parse_warc(fh.read()))
        return self._pages_list

    def _reference_sample(self) -> dict:
        """Recomputed kernel rows of a seeded sample of 64 input urls."""
        if not hasattr(self, "_ref"):
            pages = self._input_pages()
            rng = np.random.default_rng(self.seed)
            pick = [pages[i] for i in rng.choice(len(pages), 64, replace=False)]
            self._ref = {r[0]: r for r in reference.kernel_rows(pick)}
        return self._ref

    def check(self, spark, rep):
        from pyspark.sql import functions as F

        n = self.meta["n_docs"]
        out = os.path.join(self.run_dir, f"rep{rep}")
        table = os.path.join(out, "table")
        self.last_out_bytes = dir_bytes(table)
        self.last_files = count_files(table)
        try:
            if self.last_n != n:
                raise CheckFailed(f"run_checkpointed processed {self.last_n} of {n} docs")
            lin = spark.read.parquet(os.path.join(out, "lineage")).agg(
                F.sum("n_docs")).first()[0]
            if lin != n:
                raise CheckFailed(f"lineage n_docs sums to {lin}, input has {n}")
            rows = [tuple(r) for r in spark.read.parquet(table)
                    .select("url", "keep", "drop_reason", "scrubbed_text").collect()]
            by_url = {r[0]: r for r in rows}
            for url, want in self._reference_sample().items():
                if by_url.get(url) != want:
                    raise CheckFailed(f"{url}: got {by_url.get(url)!r:.200}, "
                                      f"recomputed {want!r:.200}")
            if reference.digest(rows) != self.meta["out_digest"]:
                raise CheckFailed("scrubbed table digest differs from the recomputation")
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def out_bytes_per_in_byte(self):
        return self.last_out_bytes / self.meta["in_bytes"]

    def sample_html(self):
        return [p["html"] for p in _sample(self._input_pages(), self.seed)]

    def sample_texts(self):
        from azure_based_pii_redactor_spark.engine.pipeline import extract_text

        return [extract_text(h) or "" for h in self.sample_html()]

    def layers(self, spark, tracer):
        from azure_based_pii_redactor_spark.engine.pipeline import run_scrub_pipeline

        with tracer.call("sources.warc.read_warc") as scan:
            self._pages(spark).write.format("noop").mode("overwrite").save()
        with tracer.call("engine.pipeline.run_scrub_pipeline") as pipe:
            run_scrub_pipeline(self._pages(spark)).write.format("noop").mode(
                "overwrite").save()
        return {"sources.warc.scan_s": scan.wall_s,
                "sources.warc.records_per_s": self.meta["n_docs"] / scan.wall_s,
                "engine.pipeline.stage_s": pipe.wall_s - scan.wall_s,
                "engine.checkpoint.files_written": self.last_files}

    def trace_layers(self, calls, by_group, profiles):
        """The bucketed write is the job that runs the kernel (it sends
        rows to Python workers); every other job reads or appends lineage."""
        from . import eventlog

        write, lineage = [], []
        for c in calls:
            jobs = by_group[c.group]
            kernel = [j for j in jobs if any(
                s.acc.get(eventlog.PY_SENT, 0) for s in j.stages)]
            rest = [j for j in jobs if j not in kernel]
            write.append(eventlog.jobs_stage_s(kernel))
            lineage.append(eventlog.jobs_stage_s(rest))
        return {"engine.checkpoint.write_s": _median(write),
                "engine.checkpoint.lineage_s": _median(lineage),
                "engine.checkpoint.jobs": _median(p["jobs"] for p in profiles)}


# -- corpus_funnel -----------------------------------------------------------

FUNNEL_STAGES = ("input", "after_url_dedup", "after_quality_filter",
                 "after_passage_removal", "after_decontamination", "after_sampling")


@contextlib.contextmanager
def count_ends(ends: list):
    """Record the end time (epoch ms) of every ``DataFrame.count`` call:
    ``build_training_corpus`` counts each funnel stage once, in order."""
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.count

    def count(self):
        n = original(self)
        ends.append(int(time.time() * 1000))
        return n

    DataFrame.count = count
    try:
        yield ends
    finally:
        DataFrame.count = original


class CorpusFunnel(Workload):
    """Parquet pages -> ``build_training_corpus(report_counts=True)`` ->
    parquet sink: url dedup, the fused kernel, passage removal,
    decontamination and sampling, with the per-stage count jobs."""

    name = "corpus_funnel"
    # refetch_per_fresh: one re-fetch per five fresh pages, as in the
    # admission slices of the program's own benchmark (bench.py,
    # ``refetch_n = slice_n // 5``; BENCH/BASELINE.md).  Assumptions, with no
    # measured basis: mixed_share (a quarter of the pages from the
    # program's generator, so langid and the quality drops have work) and
    # boiler_pool (40 shared boilerplate passages, which put 26-30% of
    # the kept docs' 8-word windows in more than one doc).
    params = {"n_pages": 800, "refetch_per_fresh": 0.2, "mixed_share": 0.25,
              "boiler_pool": 40, "n_eval": 60, "sample_pct": 50}

    def __init__(self, *args):
        super().__init__(*args)
        # per timed call, in order, the end times of its counts; the traced
        # calls come first in a traced run
        self.count_ends: list[list[int]] = []

    def _build(self, path):
        return inputs.build_funnel(path, self.seed, n_files=2 * self.slots, **self.params)

    def _run(self, spark, out):
        from azure_based_pii_redactor_spark.engine.corpus import build_training_corpus

        pages = spark.read.parquet(os.path.join(self.inp, "pages"))
        evals = spark.read.parquet(os.path.join(self.inp, "eval"))
        corpus, report = build_training_corpus(
            pages, eval_docs=evals, sample_pct=self.params["sample_pct"],
            report_counts=True)
        corpus.write.mode("overwrite").parquet(out)
        return report

    def warm(self, spark):
        self._run(spark, os.path.join(self.run_dir, "warm"))
        shutil.rmtree(os.path.join(self.run_dir, "warm"), ignore_errors=True)

    def op(self, spark, rep, call):
        with call("engine.corpus.build_training_corpus"), count_ends([]) as ends:
            self.last_report = self._run(spark, os.path.join(self.run_dir, "out"))
        self.count_ends.append(ends)
        return self.meta["n_docs"]

    def check(self, spark, rep):
        want = self.meta["funnel"]
        if self.last_report != want:
            raise CheckFailed(f"funnel {self.last_report} != expected {want}")
        rows = [tuple(r) for r in spark.read.parquet(os.path.join(self.run_dir, "out"))
                .select("url", "text").collect()]
        self.last_out_text = sum(len(t.encode()) for _, t in rows)
        if reference.digest(rows) != self.meta["out_digest"]:
            raise CheckFailed("corpus digest differs from the recomputation")

    def out_bytes_per_in_byte(self):
        return self.last_out_text / self.meta["in_text_bytes"]

    def expected(self):
        return {"digest": self.digest(), "funnel": self.meta["funnel"]}

    def sample_texts(self):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.inp, "pages"), columns=["text"])
        return _sample(t.column("text").to_pylist(), self.seed)

    def trace_layers(self, calls, by_group, profiles):
        """Stage k of the funnel spans from the end of count k-1 (or the
        call start) to the end of count k; the sink is what follows."""
        spans: dict[str, list[float]] = {s: [] for s in FUNNEL_STAGES}
        spans["sink"] = []
        for c, ends in zip(calls, self.count_ends):
            bounds = [c.start_ms] + ends
            for stage, a, b in zip(FUNNEL_STAGES, bounds, ends):
                spans[stage].append((b - a) / 1000.0)
            spans["sink"].append((c.end_ms - bounds[-1]) / 1000.0)
        out = {f"engine.corpus.{s}_s": _median(v) for s, v in spans.items()}
        out.update({f"engine.corpus.{s}_rows": self.meta["funnel"][s]
                    for s in FUNNEL_STAGES})
        out["engine.corpus.jobs"] = _median(p["jobs"] for p in profiles)
        return out

    def layers(self, spark, tracer):
        adm = Admission(self.seed, self.work, self.slots)
        adm.prepare(self.cache)
        return adm.measure(spark, tracer)


# -- streaming admission (layer calls of the corpus_funnel traced run) -------

class Admission(Workload):
    """History corpus and band store, then ``run_streaming_admission``
    epochs over a growing stream directory; each epoch must admit exactly
    the slice's fresh documents."""

    name = "admission"
    # refetch_per_fresh: as in the admission slices of bench.py
    params = {"n_history": 1500, "n_slice": 400, "refetch_per_fresh": 0.2,
              "n_epochs": 3}
    modules = inputs.GENERATOR_MODULES

    def _build(self, path):
        return inputs.build_admission(path, self.seed, n_files=2 * self.slots, **self.params)

    def _history(self, spark):
        return spark.read.parquet(os.path.join(self.inp, "history"))

    def measure(self, spark, tracer) -> dict:
        from azure_based_pii_redactor_spark.streaming.admission import (
            ADMITTED_SCHEMA, run_streaming_admission, seed_band_store)

        root = os.path.join(self.run_dir, "stores")
        shutil.rmtree(root, ignore_errors=True)
        src, bands, admitted, ckpt = (os.path.join(root, k)
                                      for k in ("src", "bands", "admitted", "ckpt"))
        os.makedirs(src)
        with tracer.call("streaming.admission.seed_band_store") as seed:
            seed_band_store(self._history(spark), bands)
        epochs = []
        for e in range(self.params["n_epochs"]):
            sl = os.path.join(self.inp, f"slice-{e:03d}")
            for f in sorted(os.listdir(sl)):
                shutil.copyfile(os.path.join(sl, f), os.path.join(src, f"e{e:03d}-{f}"))
            with tracer.call("streaming.admission.run_streaming_admission") as c:
                run_streaming_admission(
                    spark.readStream.schema("doc_id long, text string").parquet(src),
                    self._history(spark), bands, admitted, ckpt).awaitTermination()
            epochs.append(c)
        store = spark.read.schema(ADMITTED_SCHEMA).parquet(admitted)
        got = {}
        for r in store.select("epoch_id", "doc_id").collect():
            got.setdefault(r.epoch_id, []).append(r.doc_id)
        for e, want in enumerate(self.meta["expected_admitted"]):
            if sorted(got.get(e, [])) != want:
                raise CheckFailed(f"admission epoch {e}: admitted "
                                  f"{len(got.get(e, []))} docs, expected {len(want)}")
        ids = [d for v in got.values() for d in v]
        if len(ids) != len(set(ids)):
            raise CheckFailed("a doc_id was admitted twice")
        return {
            "streaming.admission.seed_s": seed.wall_s,
            "streaming.admission.epoch_s": _median(c.wall_s for c in epochs),
            "streaming.admission.admitted_frac":
                len(ids) / (self.params["n_slice"] * self.params["n_epochs"]),
            "streaming.admission.band_store_bytes": dir_bytes(bands),
        }


WORKLOADS = {w.name: w for w in (CrawlScrub, CorpusFunnel)}
