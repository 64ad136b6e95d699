"""Model layer + pipeline framework tests: golden User-model pipeline
(FIXTURES.md B1), denormalize semantics (B3), state machine (B5),
versioning truth table (reference tables.py:66-84)."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from flask_data_pipes_spark.models import Model, ModelFieldDeclarationError, fields
from flask_data_pipes_spark.pipeline import (
    MetadataStore,
    Pipeline,
    PipelineTaskError,
    PipelineVersionError,
    decorators,
    version_setter,
)
from flask_data_pipes_spark.session import EngineConfig


# --- model layer -----------------------------------------------------------


class User(Model):
    """The README User model (reference README.md:105-118)."""

    first = fields.UppercaseString()
    last = fields.UppercaseString()
    email = fields.Method("define_email")
    birthday = fields.Date()
    profile = fields.Url()

    @staticmethod
    def define_email(df):
        return F.concat(
            F.concat_ws(".", F.lower(F.col("first")), F.lower(F.col("last"))),
            F.lit("@mycompany.com"),
        )


def test_user_model_transform(spark):
    df = spark.createDataFrame(
        [
            ("ada", "lovelace", "1815-12-10", "https://x.example/a"),
            (None, "turing", None, "not a url"),
        ],
        "first string, last string, birthday string, profile string",
    )
    out = User.transform(df)
    rows = {r["last"]: r for r in out.collect()}
    assert list(out.columns) == ["first", "last", "email", "birthday", "profile"]
    assert rows["LOVELACE"]["first"] == "ADA"
    assert rows["LOVELACE"]["email"] == "ada.lovelace@mycompany.com"
    assert rows["LOVELACE"]["birthday"] == "1815-12-10"  # string passes through
    assert rows["LOVELACE"]["profile"] == "https://x.example/a"
    assert rows["TURING"]["profile"] is None  # failed URL validation


def test_denormalize_semantics(spark):
    class OrderItems(Model):
        order_id = fields.Integer()
        customer = fields.String()
        items = fields.DenormalizedList(fields.String())

    df = spark.createDataFrame(
        [
            (1, "a", ["x", "y", "z"]),
            (2, "b", []),
            (3, "c", None),
        ],
        "order_id long, customer string, items array<string>",
    )
    out = OrderItems.transform(df).collect()
    got = sorted((r["order_id"], r["items"]) for r in out)
    # N items → N rows; empty list → ONE NULL row; null list → NULL row
    assert got == [(1, "x"), (1, "y"), (1, "z"), (2, None), (3, None)]


def test_denormalize_scalar_noop(spark):
    class Weird(Model):
        a = fields.Integer()
        items = fields.DenormalizedList(fields.String())

    # input where 'items' is scalar (missing/non-iterable → row unchanged)
    df = spark.createDataFrame([(1, "solo")], "a long, items string")
    out = Weird.transform(df).collect()
    assert [(r["a"], r["items"]) for r in out] == [(1, "solo")]


def test_single_denormalize_enforced():
    with pytest.raises(ModelFieldDeclarationError):

        class Bad(Model):
            a = fields.DenormalizedList(fields.String())
            b = fields.DenormalizedList(fields.String())


def test_hostname_companions(spark):
    class Host(Model):
        hostname = fields.HostName()

    df = spark.createDataFrame(
        [("CORP\\web01",), ("web01.corp.example.com",), ("web01",)],
        "hostname string",
    )
    out = Host.transform(df).collect()
    assert out[0]["hostname"] == "WEB01" and out[0]["hostname_domain"] == "CORP"
    assert out[1]["hostname_fqdn"] == "web01.corp.example.com"
    assert out[2]["hostname_domain"] is None and out[2]["hostname_fqdn"] is None


# --- versioning truth table (tables.py:66-84) ------------------------------


def test_version_setter_truth_table():
    h = lambda s: {f"{k}_sha256": v for k, v in s.items()}  # noqa: E731

    # first registration: version 1, mapping = presence bits
    v, m = version_setter(
        h({"upload": None, "extract": "A", "transform": "B", "load": None}),
        None,
        None,
        None,
    )
    assert (v, m) == (1, [0, 1, 1, 0])

    # unchanged hashes: same version, mapping unchanged
    v2, m2 = version_setter(
        h({"upload": None, "extract": "A", "transform": "B", "load": None}),
        v,
        m,
        h({"upload": None, "extract": "A", "transform": "B", "load": None}),
    )
    assert (v2, m2) == (1, [0, 1, 1, 0])

    # change a previously-set hash: version bump + mapping count
    v3, m3 = version_setter(
        h({"upload": None, "extract": "A2", "transform": "B", "load": None}),
        v2,
        m2,
        h({"upload": None, "extract": "A", "transform": "B", "load": None}),
    )
    assert (v3, m3) == (2, [0, 2, 1, 0])

    # first-time set of a NEW stage (mapping bit was 0): NO version bump
    v4, m4 = version_setter(
        h({"upload": None, "extract": "A2", "transform": "B", "load": "C"}),
        v3,
        m3,
        h({"upload": None, "extract": "A2", "transform": "B", "load": None}),
    )
    assert (v4, m4) == (2, [0, 2, 1, 1])


# --- pipeline framework ----------------------------------------------------


def test_task_schema_validation():
    with pytest.raises(PipelineTaskError):

        class Gappy(Pipeline):
            extract = True
            load = True  # gap: transform missing

    class LoadOnly(Pipeline):  # explicitly allowed (pipeline.py:109-110)
        load = True


def test_golden_pipeline_end_to_end(spark, tmp_path):
    """B1 golden pipeline: jsonl upload → extract (identity) → transform
    (User model) → load (parquet), with state rows advancing."""
    raw = tmp_path / "users.jsonl"
    raw.write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"first": "ada", "last": "lovelace", "birthday": "1815-12-10", "profile": "https://x.example/a"},
                {"first": "alan", "last": "turing", "birthday": "1912-06-23", "profile": "https://x.example/b"},
                {"first": "", "last": "nobody", "birthday": None, "profile": None},
            ]
        )
    )

    class GoldenPipeline(Pipeline):
        extract = True
        transform = True
        load = True

        @decorators.post_transform
        def drop_blank_first(self, df, meta):
            return df.filter(F.col("first") != "")

    class GoldenUser(User):
        __pipeline__ = None  # registered manually below

    cfg = EngineConfig(data_dir=str(tmp_path / "data"))
    pipe = GoldenPipeline(model=GoldenUser, spark=spark, config=cfg)
    pipe.register_model(GoldenUser)

    meta = [dict(pkey=None, model=GoldenUser.__qname__, file=str(raw), created="2026-08-13")]
    out = pipe(stage="extract", meta=meta)
    assert len(out) == 1

    obj = pipe.store.get_object(out[0]["pkey"])
    assert obj["extracted"] and obj["transformed"] and obj["loaded"]
    assert obj["pipeline_completed"]

    # staged transform file exists under dated layout, gzipped jsonl
    tfile = obj["transform_file"]
    assert "/2026/08/13/" in tfile
    loaded = spark.read.json(tfile)
    rows = {r["last"]: r for r in loaded.collect()}
    assert set(rows) == {"LOVELACE", "TURING"}  # blank-first row filtered
    assert rows["TURING"]["email"] == "alan.turing@mycompany.com"

    # load output parquet exists
    load_dir = os.path.join(cfg.data_dir, "load", GoldenUser.filename())
    assert spark.read.parquet(load_dir).count() == 2


def test_advance_and_version_guard(spark, tmp_path):
    class ResumePipeline(Pipeline):
        extract = True
        transform = True

    class ResumeUser(User):
        pass

    cfg = EngineConfig(data_dir=str(tmp_path / "data"))
    pipe = ResumePipeline(model=ResumeUser, spark=spark, config=cfg)
    pipe.register_model(ResumeUser)

    raw = tmp_path / "r.jsonl"
    raw.write_text(json.dumps({"first": "x", "last": "y", "birthday": None, "profile": None}))

    # run only extract; object should be resumable at transform
    meta = [dict(pkey=None, model=ResumeUser.__qname__, file=str(raw), created="2026-08-13")]
    pipe._extract_executor(meta)
    pkey = pipe.store.objects[-1]["pkey"]
    stage, m = pipe.store.next(pkey)
    assert stage == "transform"

    out = pipe.advance(pkey)
    assert pipe.store.get_object(pkey)["transformed"]
    # fully processed now
    assert pipe.store.next(pkey) == (None, None)

    # version mismatch → PipelineVersionError
    pipe.store.get_object(pkey)["pipeline_version"] = 99
    with pytest.raises(PipelineVersionError):
        pipe.advance(pkey)


def test_restart_stalled(spark, tmp_path):
    class StallPipeline(Pipeline):
        extract = True
        transform = True

    class StallUser(User):
        pass

    cfg = EngineConfig(data_dir=str(tmp_path / "data"))
    pipe = StallPipeline(model=StallUser, spark=spark, config=cfg)
    pipe.register_model(StallUser)
    raw = tmp_path / "s.jsonl"
    raw.write_text(json.dumps({"first": "x", "last": "y", "birthday": None, "profile": None}))
    pipe._extract_executor(
        [dict(pkey=None, model=StallUser.__qname__, file=str(raw), created="2026-08-13")]
    )
    assert len(pipe.store.incomplete_objects()) == 1
    assert pipe.restart_stalled() == 1
    assert pipe.store.incomplete_objects() == []


def test_constant_and_function_fields(spark):
    class Tagged(Model):
        __pipeline__ = None

        name = fields.String()
        source = fields.Constant("crm")
        name_len = fields.Function(lambda df: F.length(F.col("name")))

    df = spark.createDataFrame([("ada",), ("turing",)], "name string")
    rows = {r["name"]: r for r in Tagged.transform(df).collect()}
    assert rows["ada"]["source"] == "crm" and rows["ada"]["name_len"] == 3
    assert rows["turing"]["name_len"] == 6


def test_async_hooks_and_record_toggle(spark, tmp_path):
    """O2/W5: asynchronous hooks fire without mutating the stream;
    load(record=False) leaves the object un-marked (reference
    decorators.py:273,294, pipeline.py:691-696)."""
    calls = []

    class SidePipeline(Pipeline):
        extract = True
        transform = True
        load = True

        @decorators.pre_transform(asynchronous=True)
        def notify(self, meta):
            calls.append(("pre_transform", len(meta)))

        @decorators.load(record=False)
        def quiet_load(self, df, meta):
            calls.append(("load", df.count()))

    class SideUser(User):
        pass

    cfg = EngineConfig(data_dir=str(tmp_path / "data"))
    pipe = SidePipeline(model=SideUser, spark=spark, config=cfg)
    pipe.register_model(SideUser)
    raw = tmp_path / "a.jsonl"
    raw.write_text(
        json.dumps({"first": "x", "last": "y", "birthday": None, "profile": None})
    )
    out = pipe(
        stage="extract",
        meta=[dict(pkey=None, model=SideUser.__qname__, file=str(raw), created="2026-08-13")],
    )
    obj = pipe.store.get_object(out[0]["pkey"])
    assert ("pre_transform", 1) in calls and ("load", 1) in calls
    assert obj["transformed"]
    assert not obj["loaded"]  # record=False skips the loaded mark


# --- staged schema sidecar -------------------------------------------------


_TYPED_SQL = """
SELECT * FROM VALUES
  (1, 1.5D, 12.34BD, true, date'2024-01-02', timestamp'2024-07-01 10:11:12.123456',
   INTERVAL '1 02:03:04.5' DAY TO SECOND, array(1, 2), map('a', 'b'),
   named_struct('k', 1, 's', 'x'), 'www.Example.com', X'0A0B', CAST(NULL AS STRING)),
  (2, double('NaN'), -0.01BD, false, date'1999-12-31', timestamp'1970-01-01 00:00:00',
   INTERVAL '-0 00:00:01' DAY TO SECOND, array(), map(),
   named_struct('k', 2, 's', NULL), 'api.host.org', X'', CAST(NULL AS STRING)),
  (3, double('-Infinity'), NULL, NULL, NULL, NULL,
   NULL, NULL, NULL, NULL, NULL, NULL, CAST(NULL AS STRING))
  AS t(n, x, amount, flag, day, at, span, items, attrs, inner, host, blob, gone)
"""


def _typed_pipeline(tag, source, data_dir):
    """extract (the typed frame) → transform (a model with one field of
    every type) → load, on fresh class names so neither registry
    returns an earlier test's class."""

    def pull(self, spark, meta):
        return source

    model = type(f"Typed{tag}", (Model,), {
        "__module__": __name__,
        "n": fields.Integer(),
        "x": fields.Float(),
        "amount": fields.Decimal(),
        "flag": fields.Boolean(),
        "day": fields.Date(),
        "day_at": fields.DateTime(attribute="at"),
        "at": fields.Raw(),
        "span": fields.TimeDelta(),
        "items": fields.List(fields.Integer()),
        "attrs": fields.Dict(),
        "inner": fields.Nested(User),
        "host": fields.HostName(),
        "blob": fields.Raw(),
        "gone": fields.String(),
    })
    pipe_cls = type(f"TypedPipeline{tag}", (Pipeline,), {
        "__module__": __name__, "extract": True, "transform": True, "load": True,
        "pull": decorators.extract(pull),
    })
    cfg = EngineConfig(data_dir=data_dir)
    pipe = pipe_cls(model=model, spark=source.sparkSession, config=cfg)
    pipe.register_model(model)
    meta = [dict(pkey=None, model=model.__qname__, file=None, created="2026-08-13")]
    load_dir = os.path.join(data_dir, "load", model.filename())
    return pipe, model, meta, load_dir


def _canon(df):
    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=repr)
        for r in df.collect()
    )


def test_staged_schema_round_trip_every_field_type(spark, tmp_path):
    """Staged stages read back with their writer's schema: the loaded
    Parquet has exactly `Model.transform`'s schema (types, column order,
    the all-null column) and rows. Schema inference would sort columns,
    drop `gone`, and turn int/decimal/timestamp/interval/binary/map
    into bigint/double/string/string/string/struct."""
    source = spark.sql(_TYPED_SQL)
    pipe, model, meta, load_dir = _typed_pipeline("RoundTrip", source, str(tmp_path / "d"))
    pipe(stage="extract", meta=meta)
    expected = model.transform(source)
    loaded = spark.read.parquet(load_dir)
    assert loaded.schema.simpleString() == expected.schema.simpleString()
    assert _canon(loaded) == _canon(expected)


def test_staged_pipeline_runs_four_jobs_per_object(spark, tmp_path):
    """extract + transform + load of one raw JSON-lines object: one
    inference read of the raw file and three writes. The transform and
    load inputs are read with their sidecar schema, so no inference job."""
    raw = tmp_path / "jobs.jsonl"
    raw.write_text(json.dumps({"first": "ada", "last": "lovelace", "birthday": None}))

    class JobsPipeline(Pipeline):
        extract = True
        transform = True
        load = True

    class JobsUser(User):
        pass

    pipe = JobsPipeline(model=JobsUser, spark=spark,
                        config=EngineConfig(data_dir=str(tmp_path / "data")))
    pipe.register_model(JobsUser)
    sc = spark.sparkContext
    sc.setJobGroup("staged-pipeline-jobs", "one object, extract to load")
    try:
        pipe(stage="extract", meta=[dict(pkey=None, model=JobsUser.__qname__,
                                         file=str(raw), created="2026-08-13")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("staged-pipeline-jobs")) == 4


def test_advance_reads_staged_schema(spark, tmp_path):
    """An object stopped after transform and resumed by advance() loads
    the same schema and rows as a straight-through run."""
    source = spark.sql(_TYPED_SQL)
    straight = _typed_pipeline("Straight", source, str(tmp_path / "a"))
    straight[0](stage="extract", meta=straight[2])
    pipe, model, meta, load_dir = _typed_pipeline("Resumed", source, str(tmp_path / "b"))
    pipe._transform_executor(pipe._extract_executor(meta))
    pkey = pipe.store.objects[-1]["pkey"]
    assert pipe.store.next(pkey)[0] == "load"
    pipe.advance(pkey)
    want, got = spark.read.parquet(straight[3]), spark.read.parquet(load_dir)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.schema.simpleString() == model.transform(source).schema.simpleString()
    assert _canon(got) == _canon(want)
    assert pipe.store.get_object(pkey)["pipeline_completed"]


# --- exception taxonomy (reference exceptions.py:1-49) ---------------------


def test_exception_taxonomy_hierarchy():
    """The reference's error hierarchy is mirrored, including its quirk
    of rooting both trees at NameError; legacy names stay importable."""
    from flask_data_pipes_spark import exceptions as ex
    from flask_data_pipes_spark.models.model import (
        ModelFieldDeclarationError as legacy_mfde,
    )
    from flask_data_pipes_spark.pipeline.pipeline import PipelineTaskError
    from flask_data_pipes_spark.pipeline.state import (
        PipelineVersionError as legacy_pve,
    )

    for sub in (
        ex.PipelineModelError,
        ex.PipelineTaskSchemaError,
        ex.PipelineExecutionError,
        ex.PipelineDataError,
        ex.StopPipeline,
        ex.PipelineVersionError,
    ):
        assert issubclass(sub, ex.PipelineError)
    assert issubclass(ex.PipelineError, NameError)
    assert issubclass(ex.ModelError, NameError)
    assert issubclass(ex.ModelFieldDeclarationError, ex.ModelError)
    # legacy aliases resolve into the taxonomy
    assert issubclass(PipelineTaskError, ex.PipelineTaskSchemaError)
    assert legacy_pve is ex.PipelineVersionError
    assert legacy_mfde is ex.ModelFieldDeclarationError
    # pre-taxonomy LookupError handlers keep working for model lookup
    assert issubclass(ex.PipelineModelError, LookupError)


def test_exception_taxonomy_raise_sites(spark, tmp_path):
    """Resolution, completed-advance, and missing-object paths raise the
    reference's exception types."""
    from flask_data_pipes_spark.exceptions import (
        PipelineExecutionError,
        PipelineModelError,
        StopPipeline,
    )

    class TaxPipeline(Pipeline):
        extract = True
        transform = True

    class TaxUser(User):
        pass

    cfg = EngineConfig(data_dir=str(tmp_path / "data"))
    pipe = TaxPipeline(model=TaxUser, spark=spark, config=cfg)
    pipe.register_model(TaxUser)

    with pytest.raises(PipelineModelError):
        pipe._resolve_model("NoSuchModelAnywhere")
    with pytest.raises(PipelineExecutionError):
        pipe.advance(999_999)

    raw = tmp_path / "t.jsonl"
    raw.write_text(
        json.dumps(
            {"first": "x", "last": "y", "birthday": None, "profile": None}
        )
    )
    pipe._extract_executor(
        [
            dict(
                pkey=None,
                model=TaxUser.__qname__,
                file=str(raw),
                created="2026-08-13",
            )
        ]
    )
    pkey = pipe.store.objects[-1]["pkey"]
    pipe.advance(pkey)  # completes transform
    with pytest.raises(StopPipeline):
        pipe.advance(pkey)  # reference pipeline.py:477
