"""The workloads. Each one writes its seeded inputs (``setup``),
runs one timed iteration through the program's public functions
(``iteration``), checks that iteration's outputs (``problems``) and, for
the traced run, runs an iteration that brackets every call into a module
with a span and a Spark job group (``traced_iteration``).

Sizes are fixed per workload so that ``docs_per_s`` is stated at a known
input size; see README.md for the sizes and why each workload exists.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench.tracing import Tracer, digest_sum_expr, triple_set_digest


@dataclass
class Ctx:
    spark: object
    seed: int
    cores: int
    tmp: str
    tracer: Tracer = field(default_factory=Tracer)
    tag: str = ""  # suffix of the job groups of the current traced iteration

    @contextmanager
    def layer(self, name: str):
        """Span plus Spark job group around one call into a module."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{name}{self.tag}", name)
        try:
            with self.tracer.span(name, tag=self.tag):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def _count():
    return F.count(F.lit(1)).alias("rows")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(df, *exprs):
    """Cache ``df`` and fill the cache with one noop write that also
    observes ``exprs`` (row count always). Returns (cached df, observed)."""
    df = df.cache()
    obs = Observation()
    _noop(df.observe(obs, _count(), *exprs))
    return df, obs.get


def _triples_out(df):
    """Timed-path output: a noop write of the triples that observes their
    row count and set digest on the same pass."""
    obs = Observation()
    _noop(df.observe(obs, _count(), digest_sum_expr().alias("digest")))
    got = obs.get
    return {"rows": int(got["rows"]), "digest": str(got["digest"])}


class Workload:
    name = ""
    docs = 0  # input pages
    warmups = 1  # untimed iterations before the timed ones
    # job groups of a traced iteration that run the timed path's Python
    # stage, and that the spark.* totals cover (None: all of them)
    inference_groups: tuple[str, ...] = ()
    spark_groups: tuple[str, ...] | None = None

    def setup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def prepare(self, ctx: Ctx) -> None:
        """Bind the written inputs to the (possibly restarted) session."""

    def iteration(self, ctx: Ctx) -> tuple[float, dict]:
        raise NotImplementedError

    def problems(self, out: dict, first: dict, pinned: dict | None) -> list[str]:
        """Output check: every iteration repeats the first one and, for a
        pinned seed, the pinned outputs."""
        bad = []
        if out != first:
            bad.append(f"output {out} differs from first iteration {first}")
        if pinned is not None and out != pinned:
            bad.append(f"output {out} differs from pinned {pinned}")
        return bad

    def traced_iteration(self, ctx: Ctx) -> tuple[dict, dict, float]:
        """Returns (per-layer metrics, outputs, wall of the work that
        matches one timed iteration); the outputs must match the timed
        iterations' on the keys they share."""
        raise NotImplementedError

    def replay_pages(self, ctx: Ctx, n: int) -> list[tuple[str, bytes]]:
        """(url, html) pages for the in-process Python-stage replay."""
        return []


# --------------------------------------------------------------------------
# kg_build: pipeline.build_triples to the noop sink.
# --------------------------------------------------------------------------


class KgBuild(Workload):
    name = "kg_build"
    docs = 400
    sent_range = (12, 28)
    warmups = 2  # the workers' token-id caches fill over the first passes
    inference_groups = spark_groups = ("fused",)

    def setup(self, ctx):
        """Generate the corpus with the program's own generator as
        ``4 × cores`` parquet files: a single-row-group file would leave
        the scan, and every narrow stage after it, on one or two tasks."""
        from glre_spark.datagen import pages_df

        pages_df(ctx.spark, self.docs, seed=ctx.seed, partitions=4 * ctx.cores,
                 sent_range=self.sent_range).write.mode("overwrite").parquet(self.pages_path(ctx))

    def pages_path(self, ctx):
        return os.path.join(ctx.tmp, "pages")

    def prepare(self, ctx):
        self.pages = ctx.spark.read.parquet(self.pages_path(ctx))

    def iteration(self, ctx):
        from glre_spark.pipeline import build_triples

        t0 = time.perf_counter()
        df = build_triples(ctx.spark, self.pages)
        out = _triples_out(df)
        return time.perf_counter() - t0, out

    def traced_iteration(self, ctx):
        """The timed iteration under one job group ("fused": Spark totals
        and the Python stage as the timed path runs it), then
        build_triples' composition one module call at a time, each
        materialized under its own span and job group. Both outputs must
        equal the timed iterations'."""
        from glre_spark import linking, pipeline
        from glre_spark.inference import broadcast_weights, infer_stage_agg

        with ctx.layer("fused"):
            wall, fused = self.iteration(ctx)
        spark, m = ctx.spark, {}
        cached = []
        with ctx.layer("pipeline.prepare"):
            o_in, o_el = Observation(), Observation()
            src = self.pages.observe(o_in, _count())
            eligible = pipeline.eligible_pages(src).observe(o_el, _count())
            docs, got = _materialize(pipeline.prepare_pages(eligible))
            cached.append(docs)
        m["pipeline.rows_in"] = o_in.get["rows"]
        m["pipeline.rows_eligible"] = o_el.get["rows"]
        m["pipeline.rows_latest"] = got["rows"]
        with ctx.layer("inference"):
            preds, got = _materialize(
                infer_stage_agg(docs, weights_bc=broadcast_weights(spark), extract_html=True),
                F.sum("n_pred_rows").alias("pred_rows"),
            )
            cached.append(preds)
        m["inference.rows_out"] = got["rows"]
        m["inference.pred_rows"] = got["pred_rows"] or 0
        m["inference.collapse_ratio"] = m["inference.pred_rows"] / max(got["rows"], 1)
        with ctx.layer("pipeline.to_triples"):
            triples, _ = _materialize(
                pipeline.predictions_to_triples(preds, linking.alias_dict_df(spark))
            )
            cached.append(triples)
        with ctx.layer("linking.dedup"):
            final, got = _materialize(linking.dedup_triples(triples))
            cached.append(final)
        m["linking.triples_out"] = got["rows"]
        rows = final.select("subj", "pred", "obj").toPandas()
        out = dict(zip(("rows", "digest"), triple_set_digest(map(tuple, rows.values))))
        for df in cached:
            df.unpersist()
        if out != fused:
            out["fused"] = fused
        return m, out, wall

    def replay_pages(self, ctx, n):
        """The first ``n`` english pages of this workload's generator:
        the corpus's own pages, then more of the same distribution."""
        from glre_spark.datagen import gen_page_row

        rows = (gen_page_row(i, ctx.seed, self.sent_range) for i in range(n))
        return [(r["url"], r["html"]) for r in rows if r["lang"] == "en"]


# --------------------------------------------------------------------------
# kg_resume: the run.py path with an injected crash, then resume.
# --------------------------------------------------------------------------


def _parquet_rows(path: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


class KgResume(KgBuild):
    name = "kg_resume"
    docs = 600
    sent_range = (2, 8)
    groups = 16
    fail_after = 8
    warmups = 1  # the uninterrupted reference run
    inference_groups = ("lineage.first_pass", "lineage.resume")
    spark_groups = None

    def prepare(self, ctx):
        from glre_spark.pipeline import eligible_pages

        super().prepare(ctx)
        self.input_rows = self.pages.count()
        self.eligible_rows = eligible_pages(self.pages).count()
        self.reference = None

    def _reset(self, base):
        shutil.rmtree(base, ignore_errors=True)

    def _read_back(self, ctx, triples):
        obs = Observation()
        from glre_spark.io import entity_table, sink_entities

        sink_entities(ctx.spark, entity_table(triples).observe(obs, _count()),
                      os.path.join(self.base, "entities"))
        return obs.get["rows"]

    def iteration(self, ctx):
        from glre_spark.lineage import read_triples, run_with_checkpoints

        self.base = os.path.join(ctx.tmp, "out")
        self._reset(self.base)
        spark = ctx.spark
        # The first call (the untimed warm-up) is the uninterrupted run
        # every crash-and-resume iteration must reproduce.
        uninterrupted = self.reference is None
        t0 = time.perf_counter()
        crashed = not uninterrupted and self._crash_pass(spark)
        run_with_checkpoints(spark, self.pages, self.base, n_groups=self.groups)
        entity_rows = self._read_back(ctx, read_triples(spark, self.base))
        wall = time.perf_counter() - t0
        out = self._outputs(entity_rows)
        if uninterrupted:
            self.reference = out
        elif not crashed:
            out["crash"] = "no injected failure"
        return wall, out

    def _crash_pass(self, spark) -> bool:
        """First pass with the injected crash; True if it did crash."""
        from glre_spark.lineage import run_with_checkpoints

        try:
            run_with_checkpoints(spark, self.pages, self.base, n_groups=self.groups,
                                 fail_after=self.fail_after)
        except RuntimeError as e:
            if str(e).startswith("injected failure"):
                return True
            raise
        return False

    def _outputs(self, entity_rows: int) -> dict:
        man = _parquet_rows(os.path.join(self.base, "_manifest"),
                            ["bucket_group", "status", "input_rows"]).to_pydict()
        done = sorted(g for g, s in zip(man["bucket_group"], man["status"]) if s == "done")
        tri = _parquet_rows(os.path.join(self.base, "triples"), ["subj", "pred", "obj"])
        rows, digest = triple_set_digest(zip(*(tri.column(c).to_pylist() for c in ("subj", "pred", "obj"))))
        return {
            "rows": rows, "digest": digest, "entity_rows": int(entity_rows),
            "done_groups": done, "input_rows": int(sum(man["input_rows"])),
        }

    def problems(self, out, first, pinned):
        bad = super().problems(out, first, pinned)
        if out["done_groups"] != list(range(self.groups)):
            bad.append(f"manifest groups done: {out['done_groups']}")
        # The manifest counts every page routed to a group; a run funnel
        # that counts admitted pages instead would report the eligible ones.
        if out["input_rows"] not in (self.input_rows, self.eligible_rows):
            bad.append(f"manifest input_rows {out['input_rows']} != pages {self.input_rows}")
        return bad

    def traced_iteration(self, ctx):
        from glre_spark.lineage import pending_groups, read_triples, run_with_checkpoints

        spark, m = ctx.spark, {}
        self.base = os.path.join(ctx.tmp, "out")
        self._reset(self.base)
        t0 = time.perf_counter()
        with ctx.layer("lineage.first_pass"):
            crashed = self._crash_pass(spark)
        with ctx.layer("lineage.pending_groups"):
            pending_groups(spark, self.base, self.groups)
        with ctx.layer("lineage.resume"):
            run_with_checkpoints(spark, self.pages, self.base, n_groups=self.groups)
        with ctx.layer("lineage.read_triples"):
            triples, _ = _materialize(read_triples(spark, self.base))
        with ctx.layer("io.entities"):
            m["io.entity_rows"] = self._read_back(ctx, triples)
        wall = time.perf_counter() - t0
        triples.unpersist()
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.base) for f in fs
                 if f.endswith(".parquet")]
        m["lineage.files_written"] = len(files)
        m["lineage.bytes_written_mb"] = sum(os.path.getsize(f) for f in files) / 1e6
        out = self._outputs(m["io.entity_rows"])
        m["lineage.manifest_rows"] = len(out["done_groups"])
        out = {"rows": out["rows"], "digest": out["digest"]}
        if not crashed:
            out["crash"] = "no injected failure"
        return m, out, wall


WORKLOADS = {w.name: w for w in (KgBuild, KgResume)}
