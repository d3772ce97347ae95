"""Single-process recomputation of the expected workload outputs.

The funnel stages are re-implemented here from their documented
semantics (newest fetch per url, 8-word-window passage removal with the
smallest ``(url, pos)`` occurrence kept, eval-window decontamination,
md5 percent sampling); the keep decision and the scrub call the
library's own per-document functions, outside Spark.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

WINDOW_N = 8


def digest(rows) -> str:
    """Order-independent sha256 of an iterable of tuples of str/None/int/bool."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def dedup_newest(rows: list[dict]) -> list[dict]:
    """One row per url: newest ``warc_ts``, ties to the smallest md5 of
    the html (``urls.dedup_pages_by_url``'s keeper order)."""
    best: dict[str, dict] = {}
    for r in rows:
        cur = best.get(r["url"])
        if cur is None or _newer(r, cur):
            best[r["url"]] = r
    return [best[u] for u in sorted(best)]


def _newer(a: dict, b: dict) -> bool:
    if a["warc_ts"] != b["warc_ts"]:
        return a["warc_ts"] > b["warc_ts"]
    return hashlib.md5(a["html"]).hexdigest() < hashlib.md5(b["html"]).hexdigest()


def kernel_rows(pages: list[dict]) -> list[tuple]:
    """``(url, keep, drop_reason, scrubbed_text)`` per page, from
    ``extract_text`` + ``decide`` + ``scrub_text`` (scrubbed only when
    kept, as the pipeline does by default)."""
    from azure_based_pii_redactor_spark.engine.pipeline import extract_text
    from azure_based_pii_redactor_spark.kernel.scrub import scrub_text
    from azure_based_pii_redactor_spark.quality.decide import decide
    from azure_based_pii_redactor_spark.quality.langid import predict_language_batch
    from azure_based_pii_redactor_spark.quality.perplexity import perplexity_batch

    texts = [extract_text(p["html"]) or "" for p in pages]
    langs = predict_language_batch(texts)
    ppls = perplexity_batch(texts)
    out = []
    for p, text, lang, ppl in zip(pages, texts, langs, ppls):
        d = decide(text, lang=lang, ppl=ppl)
        scrubbed = scrub_text(text).scrubbed_text if d.keep else None
        out.append((p["url"], d.keep, d.drop_reason, scrubbed))
    return out


def quality_scrub(pages: list[dict]) -> list[tuple[str, str]]:
    """``(url, scrubbed_text)`` of the pages the quality filter keeps."""
    return [(u, s) for u, keep, _, s in kernel_rows(pages) if keep]


def _windows(words: list[str], n: int = WINDOW_N) -> list[str]:
    return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]


def remove_duplicate_passages(docs: list[tuple[str, str]], n: int = WINDOW_N):
    """Every occurrence of an n-word window seen twice or more is cut,
    except the one with the smallest ``(url, pos)``; emptied docs drop."""
    words = {u: t.split(" ") for u, t in docs}
    occ: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for u, ws in words.items():
        for i, w in enumerate(_windows(ws, n)):
            occ[w].append((u, i))
    removed: dict[str, set[int]] = defaultdict(set)
    for hits in occ.values():
        if len(hits) < 2:
            continue
        keeper = min(hits)
        for u, p in hits:
            if (u, p) != keeper:
                removed[u].update(range(p, p + n))
    out = []
    for u, ws in words.items():
        rm = removed.get(u, ())
        cleaned = " ".join(w for i, w in enumerate(ws) if i not in rm)
        if cleaned:
            out.append((u, cleaned))
    return out


def dup_window_share(docs: list[tuple[str, str]], n: int = WINDOW_N) -> float:
    """Share of n-word window occurrences whose window occurs twice or
    more across ``docs``."""
    counts = Counter(w for _, t in docs for w in _windows(t.split(" "), n))
    total = sum(counts.values())
    return sum(c for c in counts.values() if c >= 2) / total if total else 0.0


def md5_bucket100(key: str) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16) % 100


def funnel(rows, latest, kept, evals, sample_pct, n: int = WINDOW_N):
    """The ``build_training_corpus`` report and final ``(url, text)``
    rows for url dedup -> quality filter -> passage removal ->
    decontamination -> sampling."""
    report = {"input": len(rows), "after_url_dedup": len(latest),
              "after_quality_filter": len(kept)}
    docs = remove_duplicate_passages(kept, n)
    report["after_passage_removal"] = len(docs)
    eval_wins = {w for t in evals for w in _windows(t.split(" "), n)}
    docs = [(u, t) for u, t in docs
            if not any(w in eval_wins for w in _windows(t.split(" "), n))]
    report["after_decontamination"] = len(docs)
    docs = [(u, t) for u, t in docs if md5_bucket100(u) < sample_pct]
    report["after_sampling"] = len(docs)
    return report, docs
