"""Seeded benchmark inputs and their exact answers.

Everything is made in one child process from
``sources.webpages.generate_batch`` (the generator ``tests/test_webpages.py``
pins with golden hashes), so the same ``(seed, sizes)`` always gives
byte-identical files, and the memory generation takes never shows in the
peak RSS of the process that then runs Spark. An input set is
cached on disk under its key and stamped with a sha256 over its files; a
cached set whose hash no longer matches is regenerated.

Layout of one input set::

    corpus/part-NNN.parquet   raw pages, id-range slices (ingest, query)
    stream/part-NNN.parquet   the same pages, time-ordered, their year of
                              timestamps compressed into one day; slices
                              with increasing mtimes (one file per trigger)
    dedup/part-000.parquet    doc_id, text: a page sample plus injected
                              exact and near duplicates
    answers.npz               per-page (ts, lang, length) and the pair sets
    manifest.json             seed, sizes, content hash
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import numpy as np

CORPUS_FILES = 8
STREAM_FILES = 12
HOUR = 3600
DAY = 86400
WEEK = 7 * DAY
BASE_TS = 1735689600  # 2025-01-01, the generator's first timestamp
# the stream replays the corpus's year of pages compressed into one day of
# event time (a crawler emitting ~1000 pages an hour), so its hourly
# windows hold many pages each
STREAM_COMPRESSION = 365
# more sets than a steadiness check has seeds (ten), so such a check never
# evicts a set it is about to use again
CACHE_KEEP = 12


@dataclass(frozen=True)
class Sizes:
    pages: int = 24_000
    dedup_pages: int = 3_000
    exact_dups: int = 150
    near_dups: int = 150


@dataclass
class InputSet:
    root: str
    seed: int
    sizes: Sizes
    content_hash: str
    gen_s: float
    cached: bool
    ts: np.ndarray        # epoch seconds per corpus page
    stream_ts: np.ndarray # epoch seconds of the same page in the stream files
    lang: np.ndarray      # index into LANGS per corpus page
    length: np.ndarray    # length(text) per corpus page
    url_ndv: int
    exact_pairs: np.ndarray   # (k, 2) doc_id pairs with identical text, a < b
    injected_exact: np.ndarray
    injected_near: np.ndarray

    @property
    def corpus_dir(self) -> str:
        return os.path.join(self.root, "corpus")

    @property
    def stream_dir(self) -> str:
        return os.path.join(self.root, "stream")

    @property
    def dedup_dir(self) -> str:
        return os.path.join(self.root, "dedup")

    def corpus_files(self) -> list[str]:
        return sorted(os.path.join(self.corpus_dir, f)
                      for f in os.listdir(self.corpus_dir)
                      if f.endswith(".parquet"))

    def stream_files(self) -> list[str]:
        return sorted(os.path.join(self.stream_dir, f)
                      for f in os.listdir(self.stream_dir)
                      if f.endswith(".parquet"))


def _pages(ids: np.ndarray, seed: int):
    from ddsketch_spark.sources.webpages import generate_batch

    pdf = generate_batch(ids, seed)
    # Spark reads nanosecond or zone-less parquet timestamps as errors or
    # TIMESTAMP_NTZ; UTC microseconds read back as TimestampType
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    return pdf


def _write(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", compression="snappy")


def _near_copy(text: str, rng: np.random.Generator, vocab) -> str:
    words = text.split(" ")
    k = max(1, len(words) // 20)
    for i in rng.choice(len(words), size=k, replace=False):
        words[i] = str(vocab[rng.integers(len(vocab))])
    return " ".join(words)


def exact_pairs_of(doc_ids: np.ndarray, texts: list[str]) -> np.ndarray:
    """All (a, b), a < b, of doc ids whose texts are identical."""
    by_text: dict[str, list[int]] = {}
    for d, t in zip(doc_ids.tolist(), texts):
        by_text.setdefault(t, []).append(d)
    pairs = [(a, b) for ids in by_text.values() if len(ids) > 1
             for i, a in enumerate(sorted(ids)) for b in sorted(ids)[i + 1:]]
    return np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)


def _generate(root: str, seed: int, sizes: Sizes) -> None:
    import pandas as pd

    from ddsketch_spark.sources.webpages import LANGS, VOCAB

    os.makedirs(os.path.join(root, "corpus"))
    os.makedirs(os.path.join(root, "stream"))
    os.makedirs(os.path.join(root, "dedup"))
    n = sizes.pages
    bounds = [round(i * n / CORPUS_FILES) for i in range(CORPUS_FILES + 1)]
    parts = []
    for f in range(CORPUS_FILES):
        pdf = _pages(np.arange(bounds[f], bounds[f + 1]), seed)
        _write(pdf, os.path.join(root, "corpus", f"part-{f:03d}.parquet"))
        parts.append(pdf)
    corpus = pd.concat(parts, ignore_index=True)

    # time-ordered replay files; the file source orders by mtime
    ts = corpus["warc_ts"].astype("int64").to_numpy() // 10**9
    stream_ts = BASE_TS + (ts - BASE_TS) // STREAM_COMPRESSION
    ordered = corpus.assign(warc_ts=pd.to_datetime(stream_ts, unit="s", utc=True))
    ordered = ordered.sort_values(["warc_ts", "url"], kind="stable")
    sb = [round(i * n / STREAM_FILES) for i in range(STREAM_FILES + 1)]
    t_base = 1_700_000_000
    for f in range(STREAM_FILES):
        path = os.path.join(root, "stream", f"part-{f:03d}.parquet")
        _write(ordered.iloc[sb[f]:sb[f + 1]], path)
        os.utime(path, (t_base + f, t_base + f))

    # dedup sample: fresh ids past the corpus, then injected copies
    rng = np.random.default_rng(seed)
    base = _pages(np.arange(n, n + sizes.dedup_pages), seed)
    texts = base["text"].tolist()
    doc_ids = list(range(sizes.dedup_pages))
    nwords = np.array([t.count(" ") + 1 for t in texts])
    srcs = rng.choice(sizes.dedup_pages, size=sizes.exact_dups, replace=False)
    long_docs = np.flatnonzero(nwords >= 40)
    near_srcs = rng.choice(long_docs, size=sizes.near_dups, replace=False)
    inj_exact, inj_near = [], []
    for s in srcs.tolist():
        doc_ids.append(len(doc_ids))
        texts.append(texts[s])
        inj_exact.append((s, doc_ids[-1]))
    for s in near_srcs.tolist():
        doc_ids.append(len(doc_ids))
        texts.append(_near_copy(texts[s], rng, VOCAB))
        inj_near.append((s, doc_ids[-1]))
    order = rng.permutation(len(doc_ids))
    dedup = pd.DataFrame({"doc_id": np.array(doc_ids, dtype=np.int64)[order],
                          "text": [texts[i] for i in order]})
    _write(dedup, os.path.join(root, "dedup", "part-000.parquet"))

    lang_idx = {l: i for i, l in enumerate(LANGS)}
    np.savez(
        os.path.join(root, "answers.npz"),
        ts=ts,
        stream_ts=stream_ts,
        lang=corpus["lang"].map(lang_idx).to_numpy(np.int8),
        length=corpus["text"].str.len().to_numpy(np.int64),
        url_ndv=np.int64(corpus["url"].nunique()),
        exact_pairs=exact_pairs_of(np.array(doc_ids), texts),
        injected_exact=np.array(inj_exact, dtype=np.int64).reshape(-1, 2),
        injected_near=np.array(inj_near, dtype=np.int64).reshape(-1, 2),
    )


def content_hash(root: str) -> str:
    h = hashlib.sha256()
    for d in ("corpus", "stream", "dedup"):
        for f in sorted(os.listdir(os.path.join(root, d))):
            h.update(f"{d}/{f}".encode())
            with open(os.path.join(root, d, f), "rb") as fh:
                h.update(fh.read())
    with open(os.path.join(root, "answers.npz"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def _make_set(tmp: str, seed: int, sizes: Sizes) -> None:
    t0 = time.perf_counter()
    _generate(tmp, seed, sizes)
    manifest = {"seed": seed, "sizes": sizes.__dict__,
                "content_hash": content_hash(tmp),
                "gen_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)


def _prune(cache_dir: str) -> None:
    """Keep the most recently used input sets; a steadiness check uses a
    new seed per run, and one set is about 16 MB."""
    sets = sorted((os.path.join(cache_dir, d) for d in os.listdir(cache_dir)),
                  key=os.path.getmtime, reverse=True)
    for d in sets[CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def load_inputs(cache_dir: str, seed: int, sizes: Sizes = Sizes()) -> InputSet:
    """Return the input set for ``(seed, sizes)``, generating it on a cache
    miss. Generation time is reported but is the benchmark's own work."""
    key = (f"seed{seed}-p{sizes.pages}-d{sizes.dedup_pages}"
           f"-x{sizes.exact_dups}-n{sizes.near_dups}")
    root = os.path.join(cache_dir, key)
    manifest_path = os.path.join(root, "manifest.json")
    cached = False
    manifest = None
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("content_hash") == content_hash(root):
            cached = True
        else:
            manifest = None
    if manifest is None:
        shutil.rmtree(root, ignore_errors=True)
        tmp = root + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        root_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        subprocess.run([sys.executable, "-m", "perfbench.inputs", tmp, str(seed),
                        json.dumps(sizes.__dict__)], cwd=root_dir, check=True)
        with open(os.path.join(tmp, "manifest.json")) as fh:
            manifest = json.load(fh)
        os.replace(tmp, root)
    os.utime(root)
    _prune(cache_dir)
    a = np.load(os.path.join(root, "answers.npz"))
    return InputSet(
        root=root, seed=seed, sizes=sizes,
        content_hash=manifest["content_hash"], gen_s=manifest["gen_s"],
        cached=cached, ts=a["ts"], stream_ts=a["stream_ts"], lang=a["lang"], length=a["length"],
        url_ndv=int(a["url_ndv"]), exact_pairs=a["exact_pairs"],
        injected_exact=a["injected_exact"], injected_near=a["injected_near"])


if __name__ == "__main__":
    # python3 -m perfbench.inputs <dir> <seed> <sizes as JSON>: make one set
    _make_set(sys.argv[1], int(sys.argv[2]), Sizes(**json.loads(sys.argv[3])))
