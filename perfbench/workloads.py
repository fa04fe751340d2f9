"""The two workloads, each a closed loop of one client issuing one
operation at a time against the library's public functions.

An operation returns an :class:`OpResult`: pages it covered, latency
samples, bytes the program wrote, and the problems its output checks found.
With the tracer on, every public call gets a span and the plan metrics of
the queries it ran.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks
from perfbench.inputs import BASE_TS, DAY, HOUR, WEEK, InputSet
from perfbench.trace import Tracer

ALPHA = 0.01
NBUCKETS = 2048
QS = [0.5, 0.9, 0.99]
KLL_K = 200
KLL_EPS = 0.05
HLL_P = 12
# one checkpointed batch per ingest operation keeps an operation near 3 s,
# so a run holds five or six of them; the traced run kills and resumes a
# job of RESUME_BATCHES batches
INGEST_BATCHES = 1
RESUME_BATCHES = 2


@dataclass
class OpResult:
    docs: int
    timed_s: float
    samples_ms: list
    stored_bytes: int
    problems: list = field(default_factory=list)
    kind: str = ""


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Ctx:
    """What an operation needs: the session, inputs, scratch space, the
    tracer and (traced runs only) the plan-metric listener."""

    def __init__(self, spark, inputs: InputSet, work: str, tracer: Tracer,
                 listener=None):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self.listener = listener
        self._n = 0
        self._ref = None

    def fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def call(self, name: str, fn, *args, **kw):
        """Run ``fn`` inside a span named after the public call; in traced
        runs attach the plan metrics of the queries it ran."""
        if not self.tracer.enabled:
            return fn(*args, **kw)
        with self.tracer.span(name) as s:
            out = fn(*args, **kw)
            if self.listener is not None:
                pm = self.listener.drain()
                s.attrs.update(python_ms=pm.python_ms,
                               shuffle_bytes=pm.shuffle_bytes,
                               files_read_bytes=pm.files_read_bytes,
                               executions=pm.executions)
        return out

    @property
    def ref(self) -> "Reference":
        if self._ref is None:
            self._ref = Reference(self.inputs.ts, self.inputs.lang,
                                  self.inputs.length)
        return self._ref


def collect(df):
    from ddsketch_spark.plans.fastcollect import fast_collect

    return fast_collect(df).collect()


class Reference:
    """Exact answers and direct kernel builds over raw rows: per page its
    epoch seconds, index into ``LANGS`` and value."""

    def __init__(self, ts: np.ndarray, lang: np.ndarray, v: np.ndarray):
        from ddsketch_spark.sources.webpages import LANGS

        self.langs = LANGS
        self.ts = ts
        self.lang = lang
        self.v = v.astype(np.float64)
        self._cells: dict[int, dict] = {}

    def values(self, lang: str | None = None, t0=None, t1=None) -> np.ndarray:
        m = np.ones(len(self.v), dtype=bool)
        if lang is not None:
            m &= self.lang == self.langs.index(lang)
        if t0 is not None:
            m &= (self.ts >= t0) & (self.ts < t1)
        return np.sort(self.v[m])

    def count(self, t0=None, t1=None) -> int:
        if t0 is None:
            return len(self.v)
        return int(np.count_nonzero((self.ts >= t0) & (self.ts < t1)))

    @staticmethod
    def sketch(vals: np.ndarray):
        from ddsketch_spark.core.ddsketch import DDSketch

        return DDSketch(ALPHA, NBUCKETS).update(vals)

    def cells(self, granularity: int) -> dict:
        """(bucket epoch, lang) -> serialized direct build, for every cell."""
        if granularity not in self._cells:
            bucket = self.ts - self.ts % granularity
            order = np.lexsort((self.lang, bucket))
            b, l, v = bucket[order], self.lang[order], self.v[order]
            cut = np.flatnonzero((np.diff(b) != 0) | (np.diff(l) != 0)) + 1
            starts = np.concatenate([[0], cut])
            ends = np.concatenate([cut, [len(b)]])
            self._cells[granularity] = {
                (int(b[s]), self.langs[int(l[s])]):
                    self.sketch(v[s:e]).to_bytes()
                for s, e in zip(starts.tolist(), ends.tolist())}
        return self._cells[granularity]


def corpus_values(ctx: Ctx, files=None):
    from pyspark.sql import functions as F

    df = ctx.spark.read.parquet(*(files or [ctx.inputs.corpus_dir]))
    return df, df.select("warc_ts", "lang",
                         F.length("text").cast("double").alias("v"))


def check_lang_quantiles(ref: Reference, rows, qs, label: str,
                         t0=None, t1=None, exact_direct: bool = True) -> list[str]:
    """Rows of (lang, [est per q]): within alpha of the exact lower
    quantile and, when ``exact_direct``, equal to a direct kernel build."""
    problems = []
    seen = set()
    for lang, est in rows:
        seen.add(lang)
        vals = ref.values(lang, t0, t1)
        problems += checks.check_alpha(f"{label} {lang}", est, vals, qs, ALPHA)
        if exact_direct:
            problems += checks.check_equal(f"{label} {lang}", est,
                                           ref.sketch(vals).quantile(qs))
    want = {l for l in ref.langs if len(ref.values(l, t0, t1))}
    if seen != want:
        problems.append(f"{label}: languages {sorted(seen)} != {sorted(want)}")
    return problems


# ====================================================================== ingest

class IngestPages:
    """Write path: raw page files through ``run_job`` (checkpointed
    batches, JVM stage 1, merge of the stored partials), plus KLL and HLL
    builds over the same files."""

    name = "ingest_pages"
    cycle = 1

    def warm(self, ctx: Ctx) -> list[str]:
        return self.op(ctx, -1).problems

    def setup(self, ctx: Ctx) -> dict:
        return {}

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from ddsketch_spark.jobs.web_sketch_job import file_batches, run_job
        from ddsketch_spark.operators.api import hll_ndv, kll_percentile

        ck = ctx.fresh("ingest-ck")
        t0 = time.perf_counter()
        out = ctx.call("jobs.run_job", run_job, ctx.spark,
                       file_batches(ctx.spark, ctx.inputs.corpus_dir,
                                    INGEST_BATCHES),
                       ck, n_batches=INGEST_BATCHES, qs=QS)
        dd_rows = ctx.call("jobs.finalize.collect", out["result"].collect)
        raw, vals = corpus_values(ctx)
        kll_rows = ctx.call("api.kll_percentile", lambda: collect(
            kll_percentile(vals, "v", QS, keys=["lang"], k=KLL_K)))
        hll_rows = ctx.call("api.hll_ndv", lambda: collect(
            hll_ndv(raw, "url", p=HLL_P)))
        timed = time.perf_counter() - t0
        stored = du(ck)
        shutil.rmtree(ck, ignore_errors=True)
        return OpResult(ctx.inputs.sizes.pages, timed, [timed * 1e3], stored,
                        self.check(ctx.ref, dd_rows, kll_rows, hll_rows,
                                   ctx.inputs.url_ndv))

    @staticmethod
    def check(ref: Reference, dd_rows, kll_rows, hll_rows, url_ndv) -> list[str]:
        by_lang: dict[str, dict] = {}
        problems = []
        for r in dd_rows:
            by_lang.setdefault(r["lang"], {"n": r["n"], "est": {}})["est"][r["q"]] = r["est"]
        dd = [(l, [d["est"].get(q) for q in QS]) for l, d in sorted(by_lang.items())]
        problems += check_lang_quantiles(ref, dd, QS, "run_job")
        for l, d in by_lang.items():
            if d["n"] != len(ref.values(l)):
                problems.append(f"run_job {l}: n={d['n']} != {len(ref.values(l))}")
        for r in kll_rows:
            problems += checks.check_rank(f"kll {r['lang']}", r["percentile"],
                                          ref.values(r["lang"]), QS, KLL_EPS)
        if len(kll_rows) != len({l for l in ref.langs if len(ref.values(l))}):
            problems.append(f"kll: {len(kll_rows)} language rows")
        problems += checks.check_hll(float(hll_rows[0]["ndv_est"]), url_ndv, HLL_P)
        return problems


# ======================================================================= query

class QuerySketchTable:
    """Read path: a seeded closed-loop mix over the stored hourly x lang
    sketch table. No raw rows are read after set-up."""

    name = "query_sketch_table"
    # one cycle: six ranges (one per length stratum), the all-time reads
    # and a 90-day daily rollup; docs_per_s is a median over whole cycles
    KINDS = ["range", "range", "all_time", "range", "rank", "range",
             "trimmed", "range", "range", "rollup"]
    cycle = len(KINDS)

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed + 1)
        self.table = None
        self.stored = 0
        self._plan: list = []

    def warm(self, ctx: Ctx) -> list[str]:
        return [p for kind in dict.fromkeys(self.KINDS)
                for p in self.run(ctx, kind, 7, 0).problems]

    def setup(self, ctx: Ctx) -> dict:
        from ddsketch_spark.operators.rollup import (
            build_sketch_table, read_sketch_table, store_sketch_table,
        )

        _, vals = corpus_values(ctx)
        path = ctx.fresh("sketch-table")
        t0 = time.perf_counter()
        tbl = ctx.call("rollup.build_sketch_table", build_sketch_table, vals,
                       "warc_ts", "v", ALPHA, NBUCKETS, HOUR, keys=["lang"])
        ctx.call("rollup.store_sketch_table", store_sketch_table, tbl, path, WEEK)
        store_s = time.perf_counter() - t0
        self.table = read_sketch_table(ctx.spark, path)
        self.stored = du(path)
        return {"rollup.store_s": store_s}

    def _next(self):
        if not self._plan:
            strata = list(self.rng.permutation(6))
            for kind in self.KINDS:
                if kind == "range":
                    s = strata.pop()
                    days = int(self.rng.integers(15 * s + 1, 15 * s + 16))
                elif kind == "rollup":
                    days = 90
                else:
                    days = 0
                d0 = int(self.rng.integers(0, 365 - days + 1))
                self._plan.append((kind, days, d0))
        return self._plan.pop(0)

    def op(self, ctx: Ctx, i: int) -> OpResult:
        kind, days, d0 = self._next()
        return self.run(ctx, kind, days, d0)

    def run(self, ctx: Ctx, kind: str, days: int, d0: int) -> OpResult:
        from pyspark.sql import functions as F

        from ddsketch_spark.operators import api
        from ddsketch_spark.operators.rollup import range_percentile, rollup

        t0s, t1s = BASE_TS + d0 * DAY, BASE_TS + (d0 + days) * DAY
        tbl = self.table
        x = [100.0, 400.0, 1600.0]
        t0 = time.perf_counter()
        if kind == "range":
            rows = ctx.call("rollup.range_percentile", lambda: collect(
                range_percentile(tbl, t0s, t1s, QS, HOUR, keys=["lang"],
                                 partition_granularity_seconds=WEEK)))
            docs = ctx.ref.count(t0s, t1s)
        elif kind == "all_time":
            rows = ctx.call("api.ddsketch_percentile_from_sketches", lambda: collect(
                api.ddsketch_percentile_from_sketches(tbl, "sketch", QS, keys=["lang"])))
            docs = ctx.ref.count()
        elif kind == "rank":
            rows = ctx.call("api.ddsketch_percentile_of_from_sketches", lambda: collect(
                api.ddsketch_percentile_of_from_sketches(tbl, "sketch", x, keys=["lang"])))
            docs = ctx.ref.count()
        elif kind == "trimmed":
            rows = ctx.call("api.ddsketch_avg_from_sketches", lambda: collect(
                api.ddsketch_avg_from_sketches(tbl, "sketch", 0.05, 0.95, keys=["lang"])))
            docs = ctx.ref.count()
        else:
            part = tbl.where((F.col("bucket") >= t0s) & (F.col("bucket") < t1s)
                             & (F.col("pbucket") >= t0s - t0s % WEEK)
                             & (F.col("pbucket") < t1s))
            rows = ctx.call("rollup.rollup", lambda: collect(
                rollup(part.drop("pbucket"), DAY, HOUR, keys=["lang"])))
            docs = ctx.ref.count(t0s, t1s)
        timed = time.perf_counter() - t0
        return OpResult(docs, timed, [timed * 1e3], self.stored,
                        self.check(ctx.ref, kind, rows, t0s, t1s, x), kind)

    @staticmethod
    def check(ref: Reference, kind, rows, t0s, t1s, x) -> list[str]:
        if kind == "range":
            by_lang: dict[str, dict] = {}
            for r in rows:
                by_lang.setdefault(r["lang"], {})[r["q"]] = r["est"]
            got = [(l, [d.get(q) for q in QS]) for l, d in sorted(by_lang.items())]
            return check_lang_quantiles(ref, got, QS, f"range[{t0s},{t1s})",
                                        t0s, t1s)
        if kind == "all_time":
            return check_lang_quantiles(
                ref, [(r["lang"], r["percentile"]) for r in rows], QS, "all-time")
        problems = []
        if kind in ("rank", "trimmed"):
            for r in rows:
                s = ref.sketch(ref.values(r["lang"]))
                if kind == "rank":
                    problems += checks.check_equal(f"rank {r['lang']}",
                                                   r["percentile_of"], s.rank_of(x))
                else:
                    problems += checks.check_equal(f"trimmed {r['lang']}", [r["avg"]],
                                                   [s.trimmed_avg(0.05, 0.95)], 1e-9)
            if len(rows) != len({l for l in ref.langs if len(ref.values(l))}):
                problems.append(f"{kind}: {len(rows)} language rows")
            return problems
        want = {k: v for k, v in ref.cells(DAY).items() if t0s <= k[0] < t1s}
        got = {(int(r["bucket"]), r["lang"]): bytes(r["sketch"]) for r in rows}
        return checks.check_sketch_cells(got, want, f"rollup[{t0s},{t1s})")


def make(name: str, seed: int):
    return {"ingest_pages": IngestPages,
            "query_sketch_table": lambda: QuerySketchTable(seed)}[name]()


WORKLOADS = ("ingest_pages", "query_sketch_table")
