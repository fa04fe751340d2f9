"""Per-layer measurements for the traced run.

Each measurement calls one layer's public function from outside and splits
the call into phases, each a span:

- construct: the public call returns the DataFrame (py4j plan building);
- execute: a ``noop`` sink, whose plan metrics are read afterwards;
- transfer: ``toArrow``;
- materialize: ``collect`` through ``plans.fastcollect``.

A workload measures the layers it uses on its own full inputs. Every
per-layer metric is reported on every workload, so the layers a workload
does not use are measured on small probe inputs cut from the same seeded
set; ``README.md`` lists which come from where. ``textops`` and
``streaming`` are always probes, and their outputs are checked like a
workload's: every exact-duplicate pair among the probe's pages is found,
and the streamed window sketches equal ``build_sketch_table`` over the
probe's stream files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np

from perfbench import checks
from perfbench.inputs import BASE_TS, DAY, HOUR, WEEK, InputSet
from perfbench.planmetrics import PlanSummary
from perfbench.workloads import (
    ALPHA, KLL_K, NBUCKETS, QS, RESUME_BATCHES, Ctx, Reference, collect,
    corpus_values,
)

GROUPS = ("sources", "native", "jobs", "aggregate_build", "table",
          "textops", "streaming")

OWN = {
    "ingest_pages": {"sources", "native", "jobs", "aggregate_build"},
    "query_sketch_table": {"sources", "native", "table"},
}

PROBE_DAYS = 60
PROBE_DEDUP_PAGES = 500
PROBE_STREAM_FILES = 3
PROBE_STREAM_GLOB = f"part-00[0-{PROBE_STREAM_FILES - 1}].parquet"
WATERMARK = "10 minutes"
WATERMARK_S = 600


@dataclass
class Phases:
    execute_s: float
    plan: PlanSummary
    transfer_s: float | None = None
    materialize_s: float | None = None
    rows: list | None = None


class LayerPass:
    def __init__(self, ctx: Ctx, workload: str):
        self.ctx = ctx
        self.workload = workload
        self.metrics: dict[str, float] = {}
        self.sources: dict[str, str] = {}
        self.problems: list[str] = []
        self._transfer: list[float] = []
        self._materialize: list[float] = []
        self._rows: list[int] = []

    # ------------------------------------------------------------ phases
    def phases(self, name: str, build, full: bool = True) -> Phases:
        from ddsketch_spark.plans.fastcollect import fast_collect

        tr, lst = self.ctx.tracer, self.ctx.listener
        tr.new_op()
        with tr.span(name):
            with tr.span("construct"):
                df = build()
            with tr.span("execute") as s:
                t = time.perf_counter()
                df.select("*").write.format("noop").mode("overwrite").save()
                execute = time.perf_counter() - t
                plan = lst.drain()
                s.attrs.update(python_ms=plan.python_ms,
                               shuffle_bytes=plan.shuffle_bytes,
                               files_read_bytes=plan.files_read_bytes,
                               scan_rows=plan.scan_rows)
            out = Phases(execute, plan)
            if full:
                with tr.span("transfer"):
                    t = time.perf_counter()
                    df.select("*").toArrow()
                    out.transfer_s = time.perf_counter() - t
                    lst.drain()
                with tr.span("materialize"):
                    # time the Arrow transfer inside this same collect, so
                    # materialize is its row building alone; the stock path
                    # (binary columns) has no separate transfer, and there
                    # it is collect minus the transfer phase
                    fc = fast_collect(df.select("*"))
                    inner = []
                    to_arrow = fc.toArrow

                    def timed_to_arrow():
                        t0 = time.perf_counter()
                        tbl = to_arrow()
                        inner.append(time.perf_counter() - t0)
                        return tbl

                    fc.toArrow = timed_to_arrow
                    t = time.perf_counter()
                    out.rows = fc.collect()
                    collect_s = time.perf_counter() - t
                    out.materialize_s = collect_s - (sum(inner) if inner
                                                     else out.transfer_s)
                    lst.drain()
                self._transfer.append(out.transfer_s)
                self._materialize.append(out.materialize_s)
                self._rows.append(len(out.rows))
        return out

    def put(self, group: str, **values: float) -> None:
        for k, v in values.items():
            self.metrics[k] = float(v)
            self.sources[k] = group

    # ------------------------------------------------------------ run all
    def run(self, own_inputs: dict) -> dict[str, float]:
        for g in GROUPS:
            own = g in OWN[self.workload]
            with self.ctx.tracer.span(f"layer.{g}", probe=not own):
                getattr(self, f"m_{g}")(own, own_inputs)
        self.put("fastcollect",
                 **{"fastcollect.transfer_s": statistics.median(self._transfer),
                    "fastcollect.materialize_s": statistics.median(self._materialize),
                    "fastcollect.rows_out": statistics.median(self._rows)})
        return self.metrics

    # ------------------------------------------------------------ inputs
    def _corpus(self, own: bool):
        from pyspark.sql import functions as F

        raw, vals = corpus_values(self.ctx)
        if not own:
            keep = F.col("warc_ts") < F.lit(BASE_TS + PROBE_DAYS * DAY).cast("timestamp")
            raw, vals = raw.where(keep), vals.where(keep)
        return raw, vals

    def _dedup(self):
        """The first PROBE_DEDUP_PAGES sample pages and every injected copy
        of one of them: the DataFrame, its doc ids and the near pairs."""
        from pyspark.sql import functions as F

        inputs = self.ctx.inputs
        near = inputs.injected_near[inputs.injected_near[:, 0] < PROBE_DEDUP_PAGES]
        exact = inputs.injected_exact[inputs.injected_exact[:, 0] < PROBE_DEDUP_PAGES]
        copies = [int(i) for i in np.concatenate([near[:, 1], exact[:, 1]])]
        df = self.ctx.spark.read.parquet(inputs.dedup_dir)
        df = df.where((F.col("doc_id") < PROBE_DEDUP_PAGES)
                      | F.col("doc_id").isin(copies))
        return df, set(range(PROBE_DEDUP_PAGES)) | set(copies), near

    # ------------------------------------------------------------ layers
    def m_sources(self, own, own_inputs):
        from pyspark.sql import functions as F

        df = self.ctx.spark.read.parquet(self.ctx.inputs.corpus_dir).select(
            "lang", F.length("text"))
        p = self.phases("sources.scan", lambda: df, full=False)
        self.put("sources", **{"sources.scan_s": p.execute_s,
                               "sources.read_mb": p.plan.files_read_bytes / 1e6})

    def m_native(self, own, own_inputs):
        from ddsketch_spark.operators.native import ddsketch_agg_native

        _, vals = self._corpus(own)
        p = self.phases("native.ddsketch_agg_native", lambda: ddsketch_agg_native(
            vals.select("lang", "v"), "v", ALPHA, NBUCKETS, keys=["lang"]))
        self.put("native", **{"native.build_s": p.execute_s,
                              "native.python_s": p.plan.python_ms / 1e3,
                              "native.python_mb": p.plan.python_sent_bytes / 1e6,
                              "native.shuffle_mb": p.plan.shuffle_bytes / 1e6})

    def m_jobs(self, own, own_inputs):
        import pyarrow.parquet as pq

        from ddsketch_spark.jobs.web_sketch_job import file_batches, run_job

        ctx = self.ctx
        files = ctx.inputs.corpus_files()
        nb = RESUME_BATCHES
        path = ctx.inputs.corpus_dir
        if not own:
            path = ctx.fresh("jobs-probe-input")
            os.makedirs(path)
            for f in files[:2]:
                shutil.copy(f, path)
        ck = ctx.fresh("jobs-ck")
        ctx.tracer.new_op()
        with ctx.tracer.span("jobs.run_job.killed"):
            first = run_job(ctx.spark, file_batches(ctx.spark, path, nb), ck,
                            n_batches=nb, qs=QS, max_batches=nb // 2)
            ctx.listener.drain()
        with ctx.tracer.span("jobs.run_job.resume"):
            t = time.perf_counter()
            out = run_job(ctx.spark, file_batches(ctx.spark, path, nb), ck,
                          n_batches=nb, qs=QS)
            resume = time.perf_counter() - t
            ctx.listener.drain()
        replayed = len(out["metrics"]["batches_ran"])
        if first["result"] is not None or replayed != nb - nb // 2:
            self.problems.append(f"jobs: resume replayed {replayed} batches, "
                                 f"{nb - nb // 2} were unfinished")
        walls = [pq.read_table(os.path.join(ck, f"batch={b}"),
                               columns=["wall_s"]).column(0)[0].as_py()
                 for b in range(nb)]
        p = self.phases("jobs.finalize", lambda: out["result"])
        self.put("jobs", **{"jobs.batch_s": statistics.median(walls),
                            "jobs.finalize_s": p.execute_s,
                            "jobs.resume_s": resume,
                            "jobs.replayed_batches": replayed})

    def m_aggregate_build(self, own, own_inputs):
        from ddsketch_spark.core.kll import KLL
        from ddsketch_spark.operators.aggregate import sketch_partials

        _, vals = self._corpus(own)
        p = self.phases("aggregate.sketch_partials", lambda: sketch_partials(
            vals.select("lang", "v"), "v", ["lang"], factory=lambda: KLL(KLL_K)),
            full=False)
        self.put("aggregate_build", **{"aggregate.arrow_build_s": p.execute_s})

    def m_table(self, own, own_inputs):
        """Stored-table layers: aggregate merge, extraction UDFs, rollup."""
        from pyspark.sql import functions as F

        from ddsketch_spark.functions.sketch_udfs import sketch_quantile
        from ddsketch_spark.operators import api
        from ddsketch_spark.operators.rollup import (
            build_sketch_table, range_percentile, read_sketch_table,
            store_sketch_table,
        )

        ctx = self.ctx
        if own:
            table, store_s = own_inputs["table"], own_inputs["rollup.store_s"]
            days = 365
        else:
            _, vals = self._corpus(False)
            path = ctx.fresh("probe-table")
            t = time.perf_counter()
            with ctx.tracer.span("rollup.store_sketch_table"):
                store_sketch_table(build_sketch_table(
                    vals, "warc_ts", "v", ALPHA, NBUCKETS, HOUR, keys=["lang"]),
                    path, WEEK)
                ctx.listener.drain()
            store_s = time.perf_counter() - t
            table = read_sketch_table(ctx.spark, path)
            days = PROBE_DAYS
        merge = self.phases("aggregate.merge_sketches", lambda: api.ddsketch_merge(
            table.select("lang", "sketch"), "sketch", keys=["lang"]), full=False)
        extract = self.phases("functions.sketch_quantile", lambda: table.select(
            sketch_quantile(F.col("sketch"), QS).alias("est")), full=False)
        t0 = BASE_TS + (days // 3) * DAY
        short = self.phases("rollup.range_percentile.short", lambda: range_percentile(
            table, t0, t0 + DAY, QS, HOUR, keys=["lang"],
            partition_granularity_seconds=WEEK))
        span = min(90, days)
        long = self.phases("rollup.range_percentile.long", lambda: range_percentile(
            table, BASE_TS, BASE_TS + span * DAY, QS, HOUR, keys=["lang"],
            partition_granularity_seconds=WEEK))
        all_time = self.phases("api.ddsketch_percentile_from_sketches",
                               lambda: api.ddsketch_percentile_from_sketches(
                                   table, "sketch", QS, keys=["lang"]))
        self.put("table", **{
            "aggregate.merge_s": merge.execute_s,
            "aggregate.merged_rows_per_s": merge.plan.scan_rows / merge.execute_s,
            "aggregate.python_s": merge.plan.python_ms / 1e3,
            "functions.extract_s": extract.execute_s,
            "functions.python_s": extract.plan.python_ms / 1e3,
            "rollup.store_s": store_s,
            "rollup.range_short_ms": short.execute_s * 1e3,
            "rollup.range_long_ms": long.execute_s * 1e3,
            "rollup.all_time_ms": all_time.execute_s * 1e3,
            "rollup.rows_scanned_per_row_out":
                long.plan.scan_rows / max(1, len(long.rows)),
        })

    def m_textops(self, own, own_inputs):
        from ddsketch_spark.operators.textops import minhash_lsh_pairs

        df, ids, near = self._dedup()
        mh = self.phases("textops.minhash_lsh_pairs",
                         lambda: minhash_lsh_pairs(df, "doc_id", "text"))
        prof = self.phases("textops.profile", lambda: profile(df))
        texts = dedup_texts(self.ctx.inputs)
        pairs = {(r["a"], r["b"]) for r in mh.rows}
        self.problems += check_dedup(self.ctx.inputs, texts, ids, pairs, prof.rows)
        verified = sum(1 for a, b in pairs
                       if jaccard(texts[a], texts[b]) >= 0.5)
        found = sum(1 for a, b in near.tolist() if (a, b) in pairs)
        self.put("textops", **{
            "textops.minhash_s": mh.execute_s,
            "textops.profile_s": prof.execute_s,
            "textops.shuffle_mb": mh.plan.shuffle_bytes / 1e6,
            "textops.python_s": (mh.plan.python_ms + prof.plan.python_ms) / 1e3,
            "textops.candidate_pairs": len(pairs),
            "textops.pair_yield": verified / max(1, len(pairs)),
            "textops.near_dup_recall": found / max(1, len(near)),
        })

    def m_streaming(self, own, own_inputs):
        from ddsketch_spark.streaming.sketch_stream import assemble_window_sketches

        ctx = self.ctx
        ctx.tracer.new_op()
        with ctx.tracer.span("streaming.replay", files=PROBE_STREAM_GLOB):
            q, out = replay(ctx, PROBE_STREAM_GLOB)
            ctx.listener.drain()
        prog = [p for p in q.recentProgress if p.numInputRows > 0]
        ops = [so for p in q.recentProgress for so in p.stateOperators]
        asm = self.phases("streaming.assemble_window_sketches",
                          lambda: assemble_window_sketches(
                              ctx.spark.read.parquet(out), ALPHA, NBUCKETS,
                              keys=["lang"]))
        files = ctx.inputs.stream_files()[:PROBE_STREAM_FILES]
        if len(prog) != len(files):
            self.problems.append(f"streaming: {len(prog)} data triggers for "
                                 f"{len(files)} files")
        self.problems += check_stream(stream_reference(files), asm.rows,
                                      batch_cells(ctx, files))
        self.put("streaming", **{
            "streaming.batch_ms": statistics.median(
                p.durationMs["triggerExecution"] for p in prog),
            "streaming.state_rows": max(so.numRowsTotal for so in ops),
            "streaming.state_mb": max(so.memoryUsedBytes for so in ops) / 1e6,
            "streaming.assemble_s": asm.execute_s,
        })


# ============================================================ dedup probe

def dedup_texts(inputs: InputSet) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(inputs.dedup_dir, columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def profile(df):
    """The text-profile columns of ``operators.textops``."""
    from ddsketch_spark.operators.textops import (
        fingerprint_col, langid_col, quality_score_col, rfp_col,
        token_count_col,
    )

    return df.select("doc_id", token_count_col("text").alias("tokens"),
                     langid_col("text").alias("langid"),
                     quality_score_col("text").alias("quality"),
                     fingerprint_col("text").alias("fp"),
                     rfp_col("text").alias("rfp"))


def check_dedup(inputs: InputSet, texts: dict, ids: set, found: set,
                prof_rows) -> list[str]:
    """Every injected and every natural exact-duplicate pair among the pages
    ``ids`` is found; profile token counts are exact, and exact duplicates
    share both fingerprints."""
    from ddsketch_spark.textconf import LANGID_LANGS

    def among(pairs: np.ndarray) -> np.ndarray:
        return pairs[[a in ids and b in ids for a, b in pairs.tolist()]].reshape(-1, 2)

    exact = among(inputs.exact_pairs)
    problems = checks.check_pairs_found(found, among(inputs.injected_exact),
                                        "injected exact duplicates")
    problems += checks.check_pairs_found(found, exact, "exact duplicates")
    prof = {r["doc_id"]: r for r in prof_rows}
    if set(prof) != ids:
        return problems + [f"profile: {len(prof)} rows for {len(ids)} pages"]
    for d, r in prof.items():
        want = texts[d].count(" ") + 1 if texts[d] else 0
        if (r["tokens"] != want or r["langid"] not in LANGID_LANGS
                or not 0.0 <= r["quality"] <= 1.0):
            problems.append(f"profile doc {d}: tokens={r['tokens']} (want {want}),"
                            f" langid={r['langid']}, quality={r['quality']}")
            break
    for a, b in exact.tolist():
        if prof[a]["fp"] != prof[b]["fp"] or prof[a]["rfp"] != prof[b]["rfp"]:
            problems.append(f"profile: exact duplicates {a},{b} have "
                            f"different fingerprints")
            break
    return problems


# ======================================================== streaming probe

def replay(ctx: Ctx, glob: str):
    """Replay the stream files matching ``glob``, one file per trigger, with
    ``availableNow``, through the watermarked hourly x lang bucket counts
    into a parquet sink. Returns the finished query and the sink path."""
    from pyspark.sql import functions as F

    from ddsketch_spark.sources.webpages import SCHEMA
    from ddsketch_spark.streaming.sketch_stream import windowed_bucket_counts

    ck, out = ctx.fresh("stream-ck"), ctx.fresh("stream-out")
    src = (ctx.spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
           .option("pathGlobFilter", glob).parquet(ctx.inputs.stream_dir)
           .select("warc_ts", "lang", F.length("text").cast("double").alias("v")))
    cells = ctx.call("streaming.windowed_bucket_counts", windowed_bucket_counts,
                     src, "warc_ts", "v", "1 hour", WATERMARK, alpha=ALPHA,
                     keys=["lang"])
    q = (cells.writeStream.outputMode("append")
         .option("checkpointLocation", ck).trigger(availableNow=True)
         .format("parquet").option("path", out).start())
    ctx.call("streaming.awaitTermination", q.awaitTermination)
    return q, out


def stream_reference(files: list[str]) -> Reference:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ddsketch_spark.sources.webpages import LANGS

    t = pq.read_table(files, columns=["warc_ts", "lang", "text"])
    ts = t.column("warc_ts").cast("int64").to_numpy() // 10**6
    lang = np.array([LANGS.index(l) for l in t.column("lang").to_pylist()], np.int8)
    return Reference(ts, lang, pc.utf8_length(t.column("text")).to_numpy())


def batch_cells(ctx: Ctx, files: list[str]) -> dict:
    """The same rows through the batch ``build_sketch_table``."""
    from pyspark.sql import functions as F

    from ddsketch_spark.operators.rollup import build_sketch_table

    df = ctx.spark.read.parquet(*files)
    rows = collect(build_sketch_table(
        df.select("warc_ts", "lang", F.length("text").cast("double").alias("v")),
        "warc_ts", "v", ALPHA, NBUCKETS, HOUR, keys=["lang"]))
    return {(int(r["bucket"]), r["lang"]): bytes(r["sketch"]) for r in rows}


def check_stream(ref: Reference, rows, built: dict) -> list[str]:
    """Streamed window sketches are byte-equal to ``build_sketch_table``
    and to direct kernel builds, for every window the final watermark
    closed; the one closing exactly at it may or may not be emitted, so it
    is left out."""
    wm = int(ref.ts.max()) - WATERMARK_S
    closed = {k for k in ref.cells(HOUR) if k[0] + HOUR < wm}
    got = {(int(r["window_start"].timestamp()), r["lang"]): bytes(r["sketch"])
           for r in rows}
    got = {k: v for k, v in got.items() if k[0] + HOUR != wm}
    problems = checks.check_sketch_cells(
        got, {k: built.get(k) for k in closed}, "stream vs build_sketch_table")
    problems += checks.check_sketch_cells(
        got, {k: ref.cells(HOUR)[k] for k in closed}, "stream vs kernel")
    return problems


def shingles(text: str) -> set:
    from ddsketch_spark.textconf import SHINGLE_K

    n = max(len(text) - SHINGLE_K + 1, 1)
    return {text[i:i + SHINGLE_K] for i in range(n)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)
