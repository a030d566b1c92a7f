"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)`` and writes plain
parquet files; the engine only ever sees those files. Inputs are cached
under the work directory by workload, size and seed, so repeated runs
with one seed pay generation once.

The documents/embeddings corpus comes from the repo's own sf-table
generators in ``scripts/gen_sfdata.py``; the spatial window and the
crawl pages have shapes those generators do not make.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: highest doc_id the spatial window may reach: the geo and domain hashes
#: multiply doc_id by 2654435761 in BIGINT, so ids must stay below 2^31
_SPATIAL_ID_SPAN = 2_000_000_000


def _cached(root: str, key: str, build) -> str:
    """Build ``key`` under ``root`` once (atomic rename); return its dir."""
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp) or {}
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def meta(path: str) -> dict:
    with open(os.path.join(path, "_DONE")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# spatial_pages: a contiguous doc_id window; geo and domain derive from id
# ---------------------------------------------------------------------------

def spatial_docs(root: str, seed: int, n: int) -> str:
    def build(out):
        lo = (seed * 7_919) % (_SPATIAL_ID_SPAN - n)
        ids = pa.array(np.arange(lo, lo + n, dtype=np.int64))
        table = pa.table({
            "doc_id": ids,
            # pages_table carries text/lang through; the spatial ops never
            # read them, so one shared value keeps the file id-dominated
            "text": pa.repeat(pa.scalar("", pa.string()), n),
            "lang": pa.repeat(pa.scalar("en", pa.string()), n),
        })
        # 16 row groups so the scan splits across every core
        pq.write_table(table, os.path.join(out, "documents.parquet"),
                       row_group_size=max(n // 16, 1))
        return {"rows": n, "doc_id_lo": lo}

    return _cached(root, f"spatial_pages-n{n}-s{seed}", build)


# ---------------------------------------------------------------------------
# curation: crawl pages with planted re-crawls, exact and near copies
# ---------------------------------------------------------------------------

_STOP = ["the", "of", "and", "to", "in", "is", "was", "for", "on", "as"]
_DOMAINS = ["example.com", "news.example.org", "blog.example.net", "shop.example.io"]
_WORDS_PER_PAGE = 60
_RECRAWL_ID = 2_000_000_000


def planted(n: int) -> tuple[np.ndarray, np.ndarray]:
    """Masks of the exact and near copies among page ids ``0..n-1``.

    An exact copy (id ≡ 7 mod 13) repeats page id-7 byte for byte; a near
    copy (id ≡ 5 mod 11) repeats page id-5 plus its last word once more.
    Both targets are always original pages, so each copy is removed by
    exactly one dedup stage and the funnel is known in closed form.
    """
    i = np.arange(n)
    exact = (i % 13 == 7) & (i >= 13) & ((i - 7) % 11 != 5)
    near = (i % 11 == 5) & (i >= 11) & ~exact & ((i - 5) % 13 != 7)
    return exact, near


def expected_funnel(n: int) -> dict[str, int]:
    exact, near = planted(n)
    recrawls = (n + 9) // 10
    kept = n - int(exact.sum()) - int(near.sum())
    return {
        "pages": n + recrawls, "canonical": n + recrawls, "url_dedup": n,
        "extracted": n, "text_feats": n, "exact_dedup": n - int(exact.sum()),
        "near_dedup": kept, "curated": kept,
    }


def _pages(rng: np.random.Generator, n: int) -> pa.Table:
    # letters-only pseudo-words from a ~3e8 universe: unrelated pages
    # share no shingles, and every page clears the quality gate
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    codes = rng.integers(0, 26, (n, _WORDS_PER_PAGE, 6))
    words = ["".join(w) for w in letters[codes].reshape(-1, 6).tolist()]
    stops = rng.integers(0, len(_STOP), (n, _WORDS_PER_PAGE))
    texts = []
    for d in range(n):
        row = words[d * _WORDS_PER_PAGE:(d + 1) * _WORDS_PER_PAGE]
        body = [_STOP[stops[d, k]] if k % 4 == 0 else row[k] for k in range(_WORDS_PER_PAGE)]
        texts.append(" ".join(body + body[-1:]))  # ends with a doubled word
    exact, near = planted(n)
    for d in np.flatnonzero(exact):
        texts[d] = texts[d - 7]
    for d in np.flatnonzero(near):
        # one more copy of the doubled final word adds bytes but no new
        # 5-shingle, so the MinHash signature equals the target's and LSH
        # must pair the two at any threshold
        texts[d] = texts[d - 5] + " " + texts[d - 5].rsplit(" ", 1)[1]
    ids = np.arange(n, dtype=np.int64)
    hosts = [_DOMAINS[i % len(_DOMAINS)] for i in range(n)]
    urls = [f"https://{h}/page/{i}" for i, h in zip(range(n), hosts)]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (ids * 37 % 2_592_000) * np.timedelta64(1, "s")
    html = [f"<html><head><title>Page {i}</title></head><body><p>{t}</p></body></html>".encode()
            for i, t in enumerate(texts)]
    re_ids = ids[ids % 10 == 0]
    re_urls = [f"HTTPS://{hosts[i].upper()}:443/page/{i}#utm" for i in re_ids]
    return pa.table({
        "doc_id": pa.array(np.concatenate([ids, re_ids + _RECRAWL_ID])),
        "url": pa.array(urls + re_urls, pa.string()),
        "warc_ts": pa.array(np.concatenate([ts, ts[re_ids] + np.timedelta64(3, "D")])),
        "html": pa.array(html + [html[i] for i in re_ids], pa.binary()),
    })


def _sfdata():
    """``scripts/gen_sfdata.py``, the repo's generator of sf-shaped tables."""
    spec = importlib.util.spec_from_file_location(
        "gen_sfdata", os.path.join(_ROOT, "scripts", "gen_sfdata.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: the corpus cycles through this many seeds. Its DuckDB twins take 12.4 s
#: per new corpus (2000 docs + 2000 vectors, 4-CPU host), while a warm
#: pass over its ops takes about 4 s, so a fresh corpus on every seed would
#: spend more time on answers than on measuring; each of the CORPUS_SEEDS
#: corpora pays for its answers once per checkout
CORPUS_SEEDS = 4


def corpus_docs(root: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """documents + embeddings in the sf-table shape, from gen_sfdata's
    generators driven by ``default_rng(seed % CORPUS_SEEDS)``."""
    seed %= CORPUS_SEEDS

    def build(out):
        gen, rng = _sfdata(), np.random.default_rng(seed)
        pq.write_table(gen.gen_documents(rng, n_docs), os.path.join(out, "documents.parquet"))
        pq.write_table(gen.gen_embeddings(rng, n_vecs), os.path.join(out, "embeddings.parquet"))
        return {"rows": n_docs + n_vecs}

    return _cached(root, f"corpus-d{n_docs}-v{n_vecs}-s{seed}", build)


def crawl_pages(root: str, seed: int, n: int) -> str:
    def build(out):
        pages = _pages(np.random.default_rng(seed), n)
        path = os.path.join(out, "pages.parquet")
        pq.write_table(pages, path)
        return {"rows": pages.num_rows, "bytes": os.path.getsize(path)}

    return _cached(root, f"pages-p{n}-s{seed}", build)
