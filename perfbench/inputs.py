"""Seeded workload inputs, built with the program's public generators and
cached on disk.

Every builder is a pure function of its parameters (seed and sizes): the
same parameters give byte-identical files.  ``InputCache`` keys each
built input by workload, parameters and a hash of the source files the
builder calls, so a later run reuses it and a change to a generator
rebuilds it.  Building happens before the Spark session starts and is
timed by nobody: it is the load generator's work, not the program's.
"""

from __future__ import annotations

import hashlib
import html as _html
import importlib.util
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import reference

_HERE = os.path.dirname(os.path.abspath(__file__))

# The sources every builder below reads (directly or through the
# generators it calls).  A change to any of them invalidates the cache.
GENERATOR_MODULES = (
    "azure_based_pii_redactor_spark.sources.pages",
    "azure_based_pii_redactor_spark.sources.piigen",
    "azure_based_pii_redactor_spark.sources.warc",
    "azure_based_pii_redactor_spark.quality.corpora",
    "azure_based_pii_redactor_spark.quality.perplexity",
)
# The expected outputs stored with the crawl and funnel inputs are
# recomputed with the library's quality and scrub functions, so their
# sources key those cache entries too.
REFERENCE_MODULES = (
    "azure_based_pii_redactor_spark.engine.pipeline",
    "azure_based_pii_redactor_spark.engine.html_text",
    "azure_based_pii_redactor_spark.quality.decide",
    "azure_based_pii_redactor_spark.quality.heuristics",
    "azure_based_pii_redactor_spark.quality.langid",
    "azure_based_pii_redactor_spark.kernel.scrub",
    "azure_based_pii_redactor_spark.kernel.patterns",
    "azure_based_pii_redactor_spark.kernel.redact",
    "azure_based_pii_redactor_spark.kernel.entities",
    "azure_based_pii_redactor_spark.kernel.training",
)
_BENCH_FILES = ("inputs.py", "reference.py")


def source_hash(modules) -> str:
    """sha256 over the source bytes of ``modules`` and of this
    benchmark's own input and reference code."""
    h = hashlib.sha256()
    paths = [importlib.util.find_spec(m).origin for m in modules]
    paths += [os.path.join(_HERE, f) for f in _BENCH_FILES]
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class InputCache:
    """Directory of built inputs, one sub-directory per key."""

    def __init__(self, root: str):
        self.root = root

    def get(self, workload: str, params: dict, modules, build) -> tuple[str, dict]:
        """Return ``(dir, meta)`` for the input, building it with
        ``build(dir) -> meta`` when no complete entry exists."""
        key = json.dumps(
            {"workload": workload, "params": params,
             "src": source_hash(modules)},
            sort_keys=True,
        )
        digest = hashlib.sha256(key.encode()).hexdigest()[:20]
        path = os.path.join(self.root, f"{workload}-{digest}")
        meta_path = os.path.join(path, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                return path, json.load(f)
        tmp = path + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        meta["key"] = json.loads(key)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        return path, meta


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, *stream])))


# -- text generators ---------------------------------------------------------

_BOS = "<s>"


def _bigram_table() -> tuple[dict[str, list[str]], list[str]]:
    """Successor lists of the English bigram table the perplexity model
    trains on (same corpus, same tokenizer), and its vocabulary."""
    from azure_based_pii_redactor_spark.quality.corpora import EN_SENTENCES
    from azure_based_pii_redactor_spark.quality.perplexity import tokenize

    succ: dict[str, list[str]] = {}
    for sentence in EN_SENTENCES:
        words = [_BOS] + tokenize(sentence)
        for v, w in zip(words, words[1:]):
            succ.setdefault(v, []).append(w)
    vocab = sorted({w for ws in succ.values() for w in ws})
    return {v: sorted(ws) for v, ws in succ.items()}, vocab


class WalkText:
    """English-looking sentences from random walks over the bigram table.

    A walk follows a seen bigram, but with probability ``escape`` it jumps
    to a random vocabulary word, which breaks the table's forced chains
    so that two documents rarely share an 8-word window by accident."""

    def __init__(self, escape: float = 0.3):
        self.succ, self.vocab = _bigram_table()
        self.escape = escape

    def sentence(self, rng: np.random.Generator) -> str:
        n = int(rng.integers(9, 17))
        prev, words = _BOS, []
        while len(words) < n:
            nxt = self.succ.get(prev)
            if not nxt or rng.random() < self.escape:
                w = self.vocab[int(rng.integers(len(self.vocab)))]
            else:
                w = nxt[int(rng.integers(len(nxt)))]
            words.append(w)
            prev = w
        return " ".join(words).capitalize() + "."


def _pii_sentence(rng: np.random.Generator) -> str:
    from azure_based_pii_redactor_spark.sources.piigen import GENERATORS, PII_TEMPLATES

    _, gen = GENERATORS[int(rng.integers(len(GENERATORS)))]
    template = PII_TEMPLATES[int(rng.integers(len(PII_TEMPLATES)))]
    return template.format(pii=gen(rng, valid=rng.random() > 0.15))


def markup_html(text: str, rng: np.random.Generator) -> bytes:
    """Wrap ``text`` the way real crawled pages arrive: head with title,
    style and script, a nav list, entity-escaped paragraphs and a footer.
    The JVM fast path cannot strip this, so ``engine.html_text`` runs."""
    sentences = text.split(". ")
    paras, i = [], 0
    while i < len(sentences):
        k = int(rng.integers(2, 5))
        paras.append(". ".join(sentences[i:i + k]))
        i += k
    body = "".join(f"<p>{_html.escape(p)}</p>\n" for p in paras)
    return (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        f"<title>Page {int(rng.integers(1 << 30))}</title>"
        "<style>body{font-family:sans-serif}.nav a{color:#333}</style>"
        "<script>window.dataLayer=window.dataLayer||[];"
        "function gtag(){dataLayer.push(arguments)}</script></head>"
        "<body><div class=\"nav\"><ul><li><a href=\"/\">Home</a></li>"
        "<li><a href=\"/news\">News</a></li></ul></div>\n"
        f"{body}<footer>&copy; 2024 Example &amp; Co &mdash; all rights"
        " reserved</footer></body></html>"
    ).encode("utf-8")


# -- crawl_scrub -------------------------------------------------------------

def build_crawl(path: str, seed: int, n_docs: int, n_shards: int) -> dict:
    """``n_docs`` generated pages as ``n_shards`` Common-Crawl-layout
    ``.warc.gz`` files (one gzip member per record, html inside an HTTP
    response).  Every page's text is wrapped in real markup
    (``markup_html``) instead of the generator's canonical wrapper."""
    from azure_based_pii_redactor_spark.sources.pages import generate_batch
    from azure_based_pii_redactor_spark.sources.warc import encode_warc

    pdf = generate_batch(np.arange(n_docs), seed)
    rng = _rng(seed, 1)
    pages = [{"url": url, "warc_ts": ts.to_pydatetime(), "html": markup_html(text, rng)}
             for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"])]
    expected = reference.kernel_rows(pages)
    shard_dir = os.path.join(path, "warc")
    os.makedirs(shard_dir)
    in_bytes = 0
    for s in range(n_shards):
        blob = encode_warc(pages[s::n_shards], gzip_members=True, http_wrap=True)
        in_bytes += len(blob)
        with open(os.path.join(shard_dir, f"part-{s:05d}.warc.gz"), "wb") as f:
            f.write(blob)
    return {"n_docs": n_docs, "n_shards": n_shards, "in_bytes": in_bytes,
            "n_kept": sum(1 for r in expected if r[1]),
            "out_digest": reference.digest(expected),
            "max_file_bytes": max_file_bytes(shard_dir)}


# -- corpus_funnel -----------------------------------------------------------

_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
_TS0 = datetime(2024, 1, 1)


def funnel_docs(seed: int, n_pages: int, refetch_per_fresh: float,
                mixed_share: float, boiler_pool: int) -> list[dict]:
    """Page rows for the funnel.  ``mixed_share`` of the pages come from
    ``sources.pages.generate_batch`` (mixed languages and quality-drop
    axes); the rest are English walk documents that each carry one or two
    lines from a pool of ``boiler_pool`` shared boilerplate lines (the
    duplicated 8-word windows passage removal cuts) and, for half of
    them, a PII sentence.  For every fresh url, ``refetch_per_fresh``
    rows re-fetch an earlier url later with new text, so url dedup keeps
    the newest."""
    from azure_based_pii_redactor_spark.sources.pages import generate_batch

    rng = _rng(seed, 2)
    walk = WalkText()
    pool = [" ".join(walk.sentence(rng) for _ in range(2)) for _ in range(boiler_pool)]
    n_unique = int(round(n_pages / (1 + refetch_per_fresh)))
    n_refetch = n_pages - n_unique
    mixed = rng.random(n_unique + n_refetch) < mixed_share
    gen = generate_batch(np.arange(len(mixed)), seed)

    def text_for(j: int) -> tuple[str, str]:
        if mixed[j]:
            return gen["text"][j], gen["lang"][j]
        sents = [walk.sentence(rng) for _ in range(int(rng.integers(6, 11)))]
        for _ in range(int(rng.integers(1, 3))):
            sents.insert(int(rng.integers(len(sents) + 1)),
                         pool[int(rng.integers(boiler_pool))])
        if rng.random() < 0.5:
            sents.insert(int(rng.integers(len(sents) + 1)), _pii_sentence(rng))
        return " ".join(sents), "en"

    rows = []
    for j in range(n_unique):
        text, lang = text_for(j)
        rows.append({
            "url": f"https://site{int(rng.integers(1, 400))}.example/doc/{j}",
            "warc_ts": _TS0 + timedelta(seconds=int(rng.integers(0, 86400 * 180))),
            "text": text, "lang": lang,
        })
    for j in range(n_refetch):
        src = rows[int(rng.integers(n_unique))]
        text, lang = text_for(n_unique + j)
        rows.append({
            "url": src["url"],
            "warc_ts": src["warc_ts"] + timedelta(days=int(rng.integers(1, 60))),
            "text": text, "lang": lang,
        })
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    for r in rows:
        r["html"] = b"<html><body>" + r["text"].encode("utf-8") + b"</body></html>"
    return rows


def eval_texts(seed: int, kept_texts: list[str], n_eval: int, n_words: int) -> list[str]:
    """Evaluation documents for decontamination: each quotes an
    ``n_words`` span of one kept document, padded with fresh text."""
    rng = _rng(seed, 3)
    walk = WalkText()
    out = []
    for _ in range(n_eval):
        words = kept_texts[int(rng.integers(len(kept_texts)))].split(" ")
        start = int(rng.integers(max(len(words) - n_words, 1)))
        out.append(" ".join([walk.sentence(rng),
                             " ".join(words[start:start + n_words]),
                             walk.sentence(rng)]))
    return out


def max_file_bytes(path: str) -> int:
    return max(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def write_parquet_parts(rows: list[dict], schema: pa.Schema, out_dir: str,
                        n_files: int) -> int:
    """Write ``rows`` round-robin into ``n_files`` parquet files; return
    the total byte size."""
    os.makedirs(out_dir)
    total = 0
    for k in range(n_files):
        part = rows[k::n_files]
        table = pa.Table.from_pylist(part, schema=schema)
        p = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table, p)
        total += os.path.getsize(p)
    return total


def build_funnel(path: str, seed: int, n_pages: int, n_files: int,
                 refetch_per_fresh: float, mixed_share: float, boiler_pool: int,
                 n_eval: int, sample_pct: int) -> dict:
    rows = funnel_docs(seed, n_pages, refetch_per_fresh, mixed_share, boiler_pool)
    in_bytes = write_parquet_parts(
        rows, _PAGES_ARROW, os.path.join(path, "pages"), n_files)
    latest = reference.dedup_newest(rows)
    kept = reference.quality_scrub(latest)
    evals = eval_texts(seed, [t for _, t in kept], n_eval, 12)
    write_parquet_parts([{"text": t} for t in evals],
                        pa.schema([("text", pa.string())]),
                        os.path.join(path, "eval"), 1)
    funnel, out = reference.funnel(rows, latest, kept, evals, sample_pct)
    return {"n_docs": n_pages, "in_bytes": in_bytes,
            "max_file_bytes": max_file_bytes(os.path.join(path, "pages")),
            "in_text_bytes": sum(len(r["text"].encode()) for r in rows),
            "funnel": funnel, "out_digest": reference.digest(out),
            "out_text_bytes": sum(len(t.encode()) for _, t in out),
            "dup_window_share": round(reference.dup_window_share(kept), 4)}


# -- admission_stream --------------------------------------------------------

_DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


class ZipfText:
    """Word sequences over a synthetic Zipf vocabulary: 3-word shingles
    of two such documents almost never coincide, so fresh documents sit
    far below the admission threshold from everything else."""

    def __init__(self, seed: int, vocab: int = 20_000, a: float = 1.1):
        rng = _rng(seed, 4)
        syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "de", "pa",
                "gu", "ze", "bo", "fi", "ha", "jo"]
        words = set()
        while len(words) < vocab:
            words.add("".join(syll[i] for i in rng.integers(0, 16, int(rng.integers(2, 5)))))
        self.words = sorted(words)
        w = 1.0 / np.arange(1, vocab + 1) ** a
        self.cdf = np.cumsum(w / w.sum())

    def doc(self, rng: np.random.Generator) -> str:
        n = int(rng.integers(80, 160))
        idx = np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1)
        return " ".join(self.words[i] for i in idx)


def build_admission(path: str, seed: int, n_history: int, n_slice: int,
                    refetch_per_fresh: float, n_epochs: int, n_files: int) -> dict:
    """History corpus plus ``n_epochs`` crawl slices of ``n_slice`` docs.
    For every fresh document, ``refetch_per_fresh`` documents of the
    slice re-fetch a document already in
    history or admitted in an earlier epoch (same text with the last word
    changed, under a new doc_id): those must be rejected, and every fresh
    document must be admitted."""
    rng = _rng(seed, 5)
    zt = ZipfText(seed)
    next_id = 1
    history = []
    for _ in range(n_history):
        history.append({"doc_id": next_id, "text": zt.doc(rng)})
        next_id += 1
    in_bytes = write_parquet_parts(
        history, _DOCS_ARROW, os.path.join(path, "history"), n_files)
    seen = list(history)
    expected = []
    n_refetch = n_slice - int(round(n_slice / (1 + refetch_per_fresh)))
    for e in range(n_epochs):
        fresh = []
        for _ in range(n_slice - n_refetch):
            fresh.append({"doc_id": next_id, "text": zt.doc(rng)})
            next_id += 1
        refetch = []
        for _ in range(n_refetch):
            words = seen[int(rng.integers(len(seen)))]["text"].split(" ")
            words[-1] = zt.words[int(rng.integers(len(zt.words)))]
            refetch.append({"doc_id": next_id, "text": " ".join(words)})
            next_id += 1
        slice_rows = fresh + refetch
        slice_rows = [slice_rows[i] for i in rng.permutation(len(slice_rows))]
        in_bytes += write_parquet_parts(
            slice_rows, _DOCS_ARROW, os.path.join(path, f"slice-{e:03d}"), n_files)
        seen.extend(fresh)
        expected.append(sorted(r["doc_id"] for r in fresh))
    return {"n_history": n_history, "n_slice": n_slice, "n_epochs": n_epochs,
            "in_bytes": in_bytes, "expected_admitted": expected}
