"""Pipeline: staged ETL (upload → extract → transform → load) as
composed DataFrame transformations, with the reference's registry,
validation, hook, state, and versioning semantics (reference:
flask_data_pipes/data_pipes/pipeline.py).

Parity map:
- PipelineMeta registry + singleton (pipeline.py:24-95, 226-243):
  one shared registry, one instance per pipeline class.
- Task-schema validation (pipeline.py:97-121): enabled stages must be
  consecutive in [upload, extract, transform, load]; a load-only
  pipeline is explicitly allowed (109-110).
- MRO processor scan (pipeline.py:123-174): tagged functions collected
  per stage; >1 core method per stage → error.
- Stage chain (pipeline.py:253-263): `__call__(stage=...)` slices
  TASK_KEYS from `stage` onward; each stage = async pre-hooks (fire-
  and-forget) → sync pre-hooks (rewrite meta) → core → sync post-hooks
  (DataFrame → DataFrame) → write+commit → metadata upsert →
  on-commit hooks.
- Celery (pipeline.py:237-241, tasks.py) is replaced by the Spark
  driver itself: stages run synchronously in the driver process and
  the cluster parallelizes the data work. Async hooks run on a small
  thread pool (they cannot modify the stream — reference contract).

Scale notes: stages compose into ONE Catalyst plan when staging to
disk is disabled (`durable_staging=False`) — no spill between stages
(the reference re-reads files between stages; SURVEY §4 explicitly
drops that for performance). With durable staging on, each stage
writes JSON-lines and the next reads it back — the auditability
layout of the reference, kept as an option. Each staged directory
carries a `_schema.json` sidecar (the written frame's schema; Spark's
file index skips `_`-prefixed names), so the next stage — straight
through or resumed by `advance()` — reads the file back with its
writer's types and column order and runs no schema-inference job.
A file without a sidecar (uploads, raw inputs, files staged before
sidecars existed) is read with inference.
"""

from __future__ import annotations

import concurrent.futures
import json
import os
from datetime import datetime, timezone
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import EngineConfig
from ..sinks.writers import dated_path, write_jsonl, write_parquet
from ..sources.files import read_staged
from .decorators import (
    ASYNC_TAGS,
    EXTRACT,
    LOAD,
    ON_EXTRACT_COMMIT,
    ON_LOAD_COMMIT,
    ON_TRANSFORM_COMMIT,
    ON_UPLOAD_COMMIT,
    POST_EXTRACT,
    POST_TRANSFORM,
    PRE_EXTRACT,
    PRE_LOAD,
    PRE_TRANSFORM,
    PRE_UPLOAD,
    SYNC_TAGS,
    TRANSFORM,
    UPLOAD,
)
from ..exceptions import (
    PipelineExecutionError,
    PipelineModelError,
    PipelineTaskSchemaError,
    StopPipeline,
)
from .state import MetadataStore, PipelineVersionError
from .versioning import TASK_KEYS, mix_model_hash, stage_hash


class PipelineTaskError(PipelineTaskSchemaError):
    """Invalid task schema (reference exceptions.py / pipeline.py:97-121).
    Back-compat alias of the taxonomy's PipelineTaskSchemaError."""


class PipelineMeta(type):
    __registry: dict = {}

    def __new__(mcs, name, bases, attrs):
        cls = super().__new__(mcs, name, bases, attrs)
        cls.__qname__ = f"{cls.__module__}.{cls.__name__}"
        if not hasattr(cls, "_registry"):
            cls._registry = PipelineMeta.__registry
            return cls  # base class

        # ---- task schema validation (pipeline.py:97-121) ----
        schema = {k: bool(getattr(cls, k, False)) for k in TASK_KEYS}
        enabled = [k for k in TASK_KEYS if schema[k]]
        if enabled:
            idxs = [TASK_KEYS.index(k) for k in enabled]
            consecutive = idxs == list(range(idxs[0], idxs[-1] + 1))
            load_only = enabled == ["load"]
            if not consecutive and not load_only:
                raise PipelineTaskError(
                    f"pipeline {name}: enabled stages {enabled} must be consecutive "
                    f"(load-only allowed)"
                )

        # ---- MRO scan for tagged processors (pipeline.py:123-174) ----
        processors: dict[str, list] = {}
        cores: dict[str, list] = {}
        for klass in reversed(cls.__mro__):
            for fn in vars(klass).values():
                tag = getattr(fn, "__task__", None)
                if tag is None:
                    continue
                if tag in TASK_KEYS:
                    cores.setdefault(tag, []).append(fn)
                else:
                    processors.setdefault(tag, []).append(fn)
        for stage, fns in cores.items():
            if len(fns) > 1:
                raise PipelineTaskError(
                    f"pipeline {name}: multiple core methods for stage '{stage}': "
                    f"{[f.__name__ for f in fns]}"
                )
        cls._task_schema = schema
        cls._cores = {k: v[0] for k, v in cores.items()}
        cls._processors = processors

        # ---- per-stage source hashing (pipeline.py:176-221) ----
        hashes = {}
        for stage in TASK_KEYS:
            if not schema[stage]:
                hashes[stage] = None
                continue
            sync_pre = [
                f
                for f in processors.get(f"pre_{stage}", [])
                if not getattr(f, "__async__", False)
            ]
            core = cls._cores.get(stage) or _DEFAULT_CORES.get(stage)
            hashes[stage] = stage_hash(
                sync_pre,
                core,
                executor_name=f"_{stage}_executor",
                kwargs=getattr(core, "__task_kwargs__", None),
            )
        cls._task_hashes = hashes

        PipelineMeta.__registry[cls.__qname__] = dict(
            cls=cls, self=None, task_schema=schema, task_hashes=hashes
        )
        return cls


def _utcnow_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")


class Pipeline(metaclass=PipelineMeta):
    """Declarative pipeline. Subclass and set stage flags + methods:

    >>> class UserPipeline(Pipeline):
    ...     extract = True
    ...     transform = True
    ...     load = True
    ...
    ...     @decorators.extract
    ...     def pull(self, spark, meta):
    ...         return read_staged(spark, meta["file"])

    Calling the instance runs the chain; `advance(pkey=...)` resumes at
    the first incomplete stage (reference pipeline.py:456-485).
    """

    upload = False
    extract = False
    transform = False
    load = False

    def __new__(cls, model=None, *a, **kw):
        entry = cls._registry.get(cls.__qname__)
        if entry and entry.get("self") is not None:
            return entry["self"]  # singleton (pipeline.py:226-243)
        inst = super().__new__(cls)
        if entry is not None:
            entry["self"] = inst
        return inst

    def __init__(
        self,
        model=None,
        spark: Optional[SparkSession] = None,
        config: Optional[EngineConfig] = None,
        store: Optional[MetadataStore] = None,
    ) -> None:
        if getattr(self, "_initialized", False):
            if model is not None:
                self.models.append(model)
            return
        self._initialized = True
        self.models = [model] if model is not None else []
        self.spark = spark
        self.config = config or EngineConfig()
        self.store = store or MetadataStore(
            os.path.join(self.config.data_dir, "_metadata")
        )
        self.durable_staging = True
        self._pool = concurrent.futures.ThreadPoolExecutor(max_workers=4)
        from ..ext.engines import EngineRegistry

        # named JDBC binds (O10): databases addressed by name, not URL
        self.engines = EngineRegistry(getattr(self.config, "jdbc_binds", None))

    # -- model registration hook (ModelMeta._register_pipeline) -----------
    def version_config(self, model_cls) -> dict:
        """Stage flags + hashes for the model's DataModel row; the
        transform hash mixes the model source (model.py:89-93)."""
        config: dict[str, Any] = {
            f"has_{s}": self._task_schema[s] for s in TASK_KEYS
        }
        for s in TASK_KEYS:
            config[f"{s}_sha256"] = self._task_hashes[s]
        if config["has_transform"] and config["transform_sha256"]:
            config["transform_sha256"] = mix_model_hash(
                config["transform_sha256"], model_cls
            )
        config["upload_accept"] = getattr(self, "upload_accept", None)
        config["upload_role"] = getattr(self, "upload_role", None)
        return config

    def register_model(self, model_cls) -> dict:
        """Push the model's version row into the metadata store
        (reference __init__.py:192-207 signal handler), then send the
        `etl_tables_imported` signal (ext/signals.py analog) so user
        code can hook registrations."""
        from ..ext.signals import signals

        row = self.store.register_model(
            name=model_cls.__qname__,
            pipeline=self.__qname__,
            directory=model_cls.directory(),
            filename=model_cls.filename(),
            config=self.version_config(model_cls),
        )
        signals.etl_tables_imported.send(self, model=model_cls, row=row)
        return row

    # -- hook running ------------------------------------------------------
    def _run_pre(self, stage: str, meta_list: list[dict]) -> list[dict]:
        """Async pre-hooks first (fire-and-forget), then sync pre-hooks
        rewrite the meta list (pipeline.py:530-547 ordering)."""
        for fn in self._processors.get(f"pre_{stage}", []):
            if getattr(fn, "__async__", False):
                self._pool.submit(_safe_call, fn, self, list(meta_list))
        for fn in self._processors.get(f"pre_{stage}", []):
            if not getattr(fn, "__async__", False):
                meta_list = fn(self, meta_list)
        return meta_list

    def _run_post(self, stage: str, df: DataFrame, meta: dict) -> DataFrame:
        """Sync post-hooks: DataFrame → DataFrame (drop-by-filter is the
        vectorized analog of return-None-to-drop, pipeline.py:565-575)."""
        for fn in self._processors.get(f"post_{stage}", []):
            df = fn(self, df, meta)
        return df

    def _run_on_commit(self, stage: str, meta: dict) -> None:
        for fn in self._processors.get(f"on_{stage}_commit", []):
            self._pool.submit(_safe_call, fn, self, dict(meta))

    # -- stage executors ---------------------------------------------------
    def _extract_executor(self, meta_list: list[dict]) -> list[dict]:
        meta_list = self._run_pre(EXTRACT, meta_list)
        core = self._cores.get(EXTRACT) or _default_extract
        out_meta = []
        if getattr(core, "__many__", False):
            # many=True: whole [(df-to-be, meta), ...] bundle to user code
            # (reference decorators.py:127-138)
            batches = core(self, self.spark, meta_list)
        else:
            batches = [(core(self, self.spark, meta), meta) for meta in meta_list]
        for df, meta in batches:
            df = self._run_post(EXTRACT, df, meta)
            out_meta.append(self._commit_stage(EXTRACT, df, meta))
        return out_meta

    def _transform_executor(self, meta_list: list[dict]) -> list[dict]:
        meta_list = self._run_pre(TRANSFORM, meta_list)
        out_meta = []
        for meta in meta_list:
            df = self._stage_input(EXTRACT, meta)
            model_cls = self._resolve_model(meta.get("model"))
            core = self._cores.get(TRANSFORM)
            if core is not None:
                df = core(self, df, meta)
            elif model_cls is not None:
                df = model_cls.transform(df)
            df = self._run_post(TRANSFORM, df, meta)
            out_meta.append(self._commit_stage(TRANSFORM, df, meta))
        return out_meta

    def _load_executor(self, meta_list: list[dict]) -> list[dict]:
        meta_list = self._run_pre(LOAD, meta_list)
        out_meta = []
        for meta in meta_list:
            df = self._stage_input(TRANSFORM, meta)
            core = self._cores.get(LOAD)
            record = True
            if core is not None:
                record = getattr(core, "__task_kwargs__", {}).get("record", True)
                core(self, df, meta)
            else:
                _default_load(self, df, meta)
            if record and meta.get("pkey") is not None:
                self.store.upsert(LOAD, None, pkey=meta["pkey"])
            self._run_on_commit(LOAD, meta)
            out_meta.append(meta)
        return out_meta

    # -- staging plumbing --------------------------------------------------
    def _stage_input(self, prev_stage: str, meta: dict) -> DataFrame:
        """Input DataFrame for a stage: the in-flight frame when staging
        is composed (single Catalyst plan), else re-read the staged file
        (the reference's spill-per-stage, kept for auditability) with
        the schema its writer recorded, if any."""
        df = meta.pop("_df", None)
        if df is not None:
            return df
        return read_staged(self.spark, meta["file"], schema=_staged_schema(meta["file"]))

    def _commit_stage(self, stage: str, df: DataFrame, meta: dict) -> dict:
        """Write + metadata upsert + on-commit hooks (pipeline.py:825-851
        commit ordering: data durable before metadata row)."""
        model_cls = self._resolve_model(meta.get("model"))
        directory = model_cls.directory() if model_cls else "default"
        filename = model_cls.filename() if model_cls else "data"
        # canonicalize the model name so state rows join to DataModel rows
        model_qname = model_cls.__qname__ if model_cls else meta.get("model")
        created = meta.get("created") or _utcnow_iso()
        batch_id = meta.get("batch_id")
        out: dict = dict(meta, model=model_qname)
        if self.durable_staging:
            suffix = ".jsonl.gz" if self.config.data_compression == "gzip" else ".jsonl"
            # Filename discriminator: micro-batches key on batch_id so
            # each foreachBatch invocation gets its OWN staged path —
            # a replay of the same batch_id overwrites its own file
            # (idempotent), never a sibling batch's. Batch objects key
            # on pkey as before.
            if batch_id is not None:
                disc = f"b{batch_id}"
            else:
                disc = str(meta.get("pkey") if meta.get("pkey") is not None else 0)
            path = dated_path(
                self.config.stage_dir(stage if stage != LOAD else TRANSFORM),
                directory,
                f"{filename}_{disc}{suffix}",
                created,
            )
            write_jsonl(df, path, compression=self.config.data_compression)
            _write_staged_schema(path, df.schema)
            out["file"] = path
        else:
            out["_df"] = df
        if meta.get("pkey") is not None:
            upserted = self.store.upsert(stage, out.get("file"), pkey=meta["pkey"])
        else:
            upserted = self.store.upsert(
                stage,
                out.get("file"),
                created=str(created)[:10],
                model=model_qname,
                batch_id=batch_id,
            )
        out.update(pkey=upserted["pkey"], created=upserted["created"])
        self._run_on_commit(stage, out)
        return out

    def _resolve_model(self, name: Optional[str]):
        """Suffix-match model resolution (pipeline.py:387-442): 'User' or
        'pkg.mod.User'; 0 or >1 match → error."""
        if name is None:
            return self.models[0] if self.models else None
        from ..models.model import Model

        matches = [
            entry["cls"]
            for qname, entry in Model._registry.items()
            if qname == name or qname.endswith("." + name)
        ]
        if len(matches) > 1:
            raise PipelineModelError(f"ambiguous model name '{name}': {matches}")
        if not matches:
            raise PipelineModelError(f"no registered model named '{name}'")
        return matches[0]

    # -- entry points ------------------------------------------------------
    def __call__(self, stage: Optional[str] = None, meta: Optional[list] = None) -> list[dict]:
        """Run enabled stages from `stage` (default: first enabled),
        chaining each stage's meta output into the next
        (pipeline.py:253-263)."""
        enabled = [k for k in TASK_KEYS if self._task_schema.get(k)]
        if stage is not None:
            enabled = [k for k in enabled if TASK_KEYS.index(k) >= TASK_KEYS.index(stage)]
        executors = {
            EXTRACT: self._extract_executor,
            TRANSFORM: self._transform_executor,
            LOAD: self._load_executor,
        }
        meta_list = meta if meta is not None else [
            dict(pkey=None, model=(m.__qname__ if m else None), file=None, created=None)
            for m in (self.models or [None])
        ]
        for k in enabled:
            if k == UPLOAD:
                continue  # upload happens via sources.upload, driver-side
            meta_list = executors[k](meta_list)
        return meta_list

    def advance(self, pkey: int, ignore_pipeline_version: bool = False) -> list[dict]:
        """Resume at the first incomplete stage (pipeline.py:456-485 +
        tables.py:184-196 version assertion)."""
        obj = self.store.get_object(pkey)
        if obj is None:
            raise PipelineExecutionError(f"no DataObject pkey={pkey}")
        if not ignore_pipeline_version:
            latest = self.store.latest_model(obj["model"])
            if latest and obj["pipeline_version"] != latest["pipeline_version"]:
                raise PipelineVersionError(
                    f"object {pkey} at version {obj['pipeline_version']}, "
                    f"latest is {latest['pipeline_version']}"
                )
        stage, meta = self.store.next(pkey)
        if stage is None:
            # reference pipeline.py:477: advancing a completed object is
            # a StopPipeline, not a silent no-op
            raise StopPipeline(f"DataObject pkey={pkey} has no remaining stages")
        return self(stage=stage, meta=[meta])

    def restart_stalled(self) -> int:
        """Re-advance every incomplete object (reference tasks.py:22-30
        `restart_stalled_pipelines`)."""
        count = 0
        for obj in self.store.incomplete_objects():
            self.advance(obj["pkey"], ignore_pipeline_version=True)
            count += 1
        return count


SCHEMA_SIDECAR = "_schema.json"


def _write_staged_schema(path: str, schema: StructType) -> None:
    """Record the schema of the frame staged at `path` (temp + rename:
    a reader never sees a partial sidecar)."""
    tmp = os.path.join(path, SCHEMA_SIDECAR + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(schema.json())
    os.replace(tmp, os.path.join(path, SCHEMA_SIDECAR))


def _staged_schema(path: str) -> Optional[StructType]:
    """The schema recorded when the pipeline staged `path`, or None
    (infer) for a file it did not stage."""
    try:
        with open(os.path.join(path, SCHEMA_SIDECAR), encoding="utf-8") as fh:
            return StructType.fromJson(json.load(fh))
    except (FileNotFoundError, NotADirectoryError):
        return None


def _safe_call(fn: Callable, *args: Any) -> None:
    try:
        fn(*args)
    except Exception:  # async hooks are fire-and-forget (reference contract)
        import logging

        logging.getLogger(__name__).exception("async hook %s failed", fn)


def _default_extract(pipeline: Pipeline, spark: SparkSession, meta: dict) -> DataFrame:
    """Identity extract (P2, pipeline.py:527-528): read the raw staged
    file as-is (bronze pass-through)."""
    return read_staged(spark, meta["file"])


def _default_transform(pipeline: "Pipeline", df: DataFrame, meta: dict) -> DataFrame:
    """Model-driven transform (the reference's `o.dump`, P1): present so
    the transform stage has a stable source hash even when the user
    declares no @transform method — the model source is mixed in on top
    (model.py:89-93)."""
    model_cls = pipeline._resolve_model(meta.get("model"))
    return model_cls.transform(df) if model_cls else df


def _default_load(pipeline: Pipeline, df: DataFrame, meta: dict) -> None:
    """Default load (W3): write Parquet to the load area keyed by the
    model's table name (JDBC is opt-in via sinks.writers.write_jdbc)."""
    model_cls = pipeline._resolve_model(meta.get("model"))
    table = (model_cls and model_cls.__table__) or (
        model_cls and model_cls.filename()
    ) or "data"
    path = os.path.join(pipeline.config.data_dir, "load", str(table))
    write_parquet(df, path, mode="append")


_DEFAULT_CORES = {
    EXTRACT: _default_extract,
    TRANSFORM: _default_transform,
    LOAD: _default_load,
}
