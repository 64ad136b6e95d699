"""etl_objects: the reference framework's own traffic.

Small JSON-lines data objects go one at a time (closed loop) through a
Pipeline with extract, transform and load enabled, durable gzip staging
and MetadataStore upserts.  Each iteration builds a new pipeline class,
model class, data directory and store, so per-object cost cannot grow
with the iteration index through the pipeline singleton or the store's
whole-file rewrite.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from common import IterResult, Workload, check, duck, tree_cpu_s
from tracing import tree_bytes

from flask_data_pipes_spark.models import Model, fields
from flask_data_pipes_spark.pipeline import MetadataStore, Pipeline
from flask_data_pipes_spark.pipeline import pipeline as pipeline_mod
from flask_data_pipes_spark.session import EngineConfig

OBJECTS_PER_ITER = 4
CREATED = "2026-08-13"


def _route(df):
    return F.concat_ws(" ", F.upper(F.col("verb")), F.col("url"))


def make_classes(tag: str):
    """A new (model, pipeline) class pair; `tag` keeps registry names unique."""
    model = type(f"EtlRecord{tag}", (Model,), {
        "__module__": __name__,
        "object_id": fields.Integer(),
        "row_id": fields.Integer(),
        "name": fields.UppercaseString(),
        "route": fields.Method("define_route"),
        "url": fields.Url(),
        "day": fields.Date(),
        "tags": fields.DenormalizedList(fields.String()),
        "define_route": staticmethod(_route),
    })
    pipe = type(f"EtlPipeline{tag}", (Pipeline,), {
        "__module__": __name__, "extract": True, "transform": True, "load": True,
    })
    return model, pipe


def _dir_bytes(args):
    return tree_bytes(args[1]) if os.path.exists(args[1]) else 0


def _bytes_out(span, args, before):
    # the load area is appended to: count only what this call added
    span.extra["bytes_out"] = tree_bytes(args[1]) - (before or 0)


def _state_bytes(span, args, _before):
    span.extra["bytes_rewritten"] = os.path.getsize(args[0]._objects_path)


class EtlObjects(Workload):
    name = "etl_objects"
    # warm up on 16 objects and measure 16 or more, so that p90 lies
    # between order statistics, not on the slowest one
    warmup_tiny = 0
    warmup_full = 4
    min_iters = 4

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.count = 0

    def install(self, tracer) -> None:
        tracer.install(pipeline_mod, "read_staged", "sources.read_staged", "busy")
        tracer.install(Model, "transform", "models.transform", "build")
        tracer.install(pipeline_mod, "write_jsonl", "sinks.write_jsonl", "busy", _bytes_out)
        tracer.install(pipeline_mod, "write_parquet", "sinks.write_parquet", "busy",
                       _bytes_out, _dir_bytes)
        tracer.install(MetadataStore, "upsert", "pipeline.state.upsert", "busy", _state_bytes)
        tracer.install(Pipeline, "__call__", "pipeline", "busy")

    def _objects(self, manifest: dict, start: int, n: int) -> list[tuple[int, str]]:
        total = manifest["params"]["n_objects"]
        objs = [(start + k) % total for k in range(n)]
        return [(o, os.path.join(manifest["root"], "objects", f"obj_{o:04d}.jsonl"))
                for o in objs]

    def _pass(self, manifest: dict, start: int, n: int) -> IterResult:
        self.count += 1
        tag = f"{self.count}"
        data_dir = os.path.join(self.ctx.workdir, f"etl-{tag}")
        model, pipe_cls = make_classes(tag)
        cfg = EngineConfig(data_dir=data_dir)
        pipe = pipe_cls(model=model, spark=self.ctx.spark, config=cfg,
                        store=MetadataStore(os.path.join(data_dir, "_metadata")))
        pipe.register_model(model)
        objects = self._objects(manifest, start, n)
        lat, cpu, pkeys = [], [], []
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.ctx.tracer.span("bench.iteration", "root"):
            for _obj, path in objects:
                t, c = time.perf_counter(), tree_cpu_s()
                meta = [dict(pkey=None, model=model.__qname__, file=path, created=CREATED)]
                out = pipe(stage="extract", meta=meta)
                lat.append((time.perf_counter() - t) * 1000.0)
                cpu.append((tree_cpu_s() - c) * 1000.0)
                pkeys.append(out[0]["pkey"])
        wall, cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
        ok, problems = self.verify(manifest, objects, pkeys, pipe, model, data_dir)
        rows_in = n * manifest["params"]["rows"]
        return IterResult(wall, cpu_s, rows_in, lat, cpu, ok, problems)

    def verify(self, manifest, objects, pkeys, pipe, model, data_dir):
        """Per object: every output row present with its exploded tag rows,
        invalid URLs nulled, names upper-cased, pipeline_completed set."""
        truth = manifest["truth"]
        load_dir = os.path.join(data_dir, "load", model.filename())
        con = duck()
        got = dict(con.execute(
            f"SELECT object_id, count(*) FROM read_parquet('{load_dir}/*.parquet') "
            "GROUP BY object_id").fetchall())
        null_urls = dict(con.execute(
            f"SELECT object_id, count(*) FROM read_parquet('{load_dir}/*.parquet') "
            "WHERE url IS NULL GROUP BY object_id").fetchall())
        lower = dict(con.execute(
            f"SELECT object_id, count(*) FROM read_parquet('{load_dir}/*.parquet') "
            "WHERE name <> upper(name) OR route NOT LIKE upper(split_part(route, ' ', 1)) || ' %' "
            "GROUP BY object_id").fetchall())
        con.close()
        problems: list[str] = []
        ok = []
        for (obj, _path), pkey in zip(objects, pkeys):
            key = str(obj)
            state = pipe.store.get_object(pkey) or {}
            good = all([
                check(problems, got.get(obj, 0) == truth["rows_out"][key],
                      f"object {obj}: {got.get(obj, 0)} rows, expected {truth['rows_out'][key]}"),
                check(problems, null_urls.get(obj, 0) == truth["bad_url_rows"][key],
                      f"object {obj}: {null_urls.get(obj, 0)} null urls, "
                      f"expected {truth['bad_url_rows'][key]}"),
                check(problems, lower.get(obj, 0) == 0, f"object {obj}: field not upper-cased"),
                check(problems, bool(state.get("pipeline_completed")),
                      f"object {obj}: pipeline_completed not set"),
            ])
            ok.append(good)
        return ok, problems

    def iteration(self, i: int) -> IterResult:
        # distinct objects within an iteration: verification counts rows
        # per object_id
        n = min(OBJECTS_PER_ITER, self.ctx.inputs["params"]["n_objects"])
        return self._pass(self.ctx.inputs, i * n, n)

    def run(self, seconds: float) -> list[IterResult]:
        results = super().run(seconds)
        lat = [x for r in results for x in r.latencies_ms]
        if self.ctx.tracer.enabled and len(lat) >= 2:
            # least-squares slope of object latency over object index: a
            # per-object cost that grew with the iteration would show here
            n = len(lat)
            xbar, ybar = (n - 1) / 2, sum(lat) / n
            self.ctx.add_layer("pipeline.latency_trend_ms", sum(
                (i - xbar) * (y - ybar) for i, y in enumerate(lat))
                / sum((i - xbar) ** 2 for i in range(n)))
        return results
