"""Input builders are deterministic per seed and differ across seeds;
the cache reuses a built input and rebuilds when its key changes."""

import hashlib
import os

from perfbench import inputs, reference


def _tree_digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _build(tmp_path, name, fn, seed, **kw):
    path = tmp_path / f"{name}-{seed}-{len(list(tmp_path.iterdir()))}"
    path.mkdir()
    meta = fn(str(path), seed, **kw)
    return _tree_digest(path), meta


def test_crawl_deterministic_and_seeded(tmp_path):
    kw = dict(n_docs=40, n_shards=2)
    a = _build(tmp_path, "crawl", inputs.build_crawl, 1, **kw)
    b = _build(tmp_path, "crawl", inputs.build_crawl, 1, **kw)
    c = _build(tmp_path, "crawl", inputs.build_crawl, 2, **kw)
    assert a == b
    assert a[0] != c[0] and a[1]["out_digest"] != c[1]["out_digest"]


def test_funnel_deterministic_and_seeded(tmp_path):
    kw = dict(n_pages=84, n_files=2, refetch_per_fresh=0.2, mixed_share=0.25,
              boiler_pool=5, n_eval=4, sample_pct=50)
    a = _build(tmp_path, "funnel", inputs.build_funnel, 1, **kw)
    b = _build(tmp_path, "funnel", inputs.build_funnel, 1, **kw)
    c = _build(tmp_path, "funnel", inputs.build_funnel, 2, **kw)
    assert a == b
    assert a[0] != c[0]
    f = a[1]["funnel"]
    assert f["input"] == 84 and f["after_url_dedup"] == 70
    assert f["input"] >= f["after_url_dedup"] >= f["after_quality_filter"] > 0


def test_admission_deterministic_and_seeded(tmp_path):
    kw = dict(n_history=30, n_slice=12, refetch_per_fresh=0.2, n_epochs=2, n_files=2)
    a = _build(tmp_path, "adm", inputs.build_admission, 1, **kw)
    b = _build(tmp_path, "adm", inputs.build_admission, 1, **kw)
    c = _build(tmp_path, "adm", inputs.build_admission, 2, **kw)
    assert a == b and a[0] != c[0]
    assert [len(e) for e in a[1]["expected_admitted"]] == [10, 10]


def test_cache_reuses_and_rebuilds(tmp_path):
    calls = []

    def build(path):
        calls.append(path)
        open(os.path.join(path, "x"), "w").close()
        return {"n": len(calls)}

    cache = inputs.InputCache(str(tmp_path))
    mods = ("perfbench.reference",)
    p1, m1 = cache.get("w", {"seed": 1}, mods, build)
    p2, m2 = cache.get("w", {"seed": 1}, mods, build)
    p3, _ = cache.get("w", {"seed": 2}, mods, build)
    assert p1 == p2 and m1 == m2 and len(calls) == 2 and p3 != p1


def test_passage_removal_reference_keeps_first_occurrence():
    shared = "a b c d e f g h"
    docs = [("u1", f"x1 {shared} y1"), ("u2", f"{shared}"), ("u3", "solo words only")]
    out = dict(reference.remove_duplicate_passages(docs, n=8))
    assert out == {"u1": f"x1 {shared} y1", "u3": "solo words only"}
