"""Source/sink tests: staged readers (extension dispatch, gzip, CSV
string typing), JSONL writer serialization parity (ISO-8601 timestamps
with offset, non-ASCII), dated path layout, upload ingest validation (extension /
role / active / hash-prefix), and the HTTP connector's driver-side
pieces (URL joining, auth injection, pagination staging, mapInPandas
fan-out) — all without network access.
"""

from __future__ import annotations

import glob
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from flask_data_pipes_spark.sinks import writers
from flask_data_pipes_spark.sources import files, upload
from flask_data_pipes_spark.sources import http as http_src


# --- staged file readers ---------------------------------------------------


def test_write_then_read_staged_jsonl_gz(spark, tmp_path):
    df = spark.range(5).select(
        F.col("id"), F.concat(F.lit("naïve-"), F.col("id")).alias("name")
    )
    path = str(tmp_path / "out.jsonl")
    writers.write_jsonl(df, path, compression="gzip")
    parts = glob.glob(os.path.join(path, "part-*.json.gz"))
    assert parts, "expected gzip part files"
    back = files.read_staged(spark, path, schema="id long, name string")
    rows = {r["id"]: r["name"] for r in back.collect()}
    assert rows == {i: f"naïve-{i}" for i in range(5)}  # non-ASCII preserved


def test_write_jsonl_timestamp_iso_z(spark, tmp_path):
    df = spark.sql("SELECT timestamp'2024-02-29 12:34:56.789' AS ts, 1 AS k")
    path = str(tmp_path / "ts.jsonl")
    writers.write_jsonl(df, path, compression=None)
    [part] = glob.glob(os.path.join(path, "part-*.json"))
    rec = json.loads(open(part).read().splitlines()[0])
    # reference serializer: isoformat + 'Z' (ext/serializers.py:7-16)
    assert rec["ts"] == "2024-02-29T12:34:56.789000Z"


def test_write_jsonl_utc_bytes_match_literal_z_pattern(spark, tmp_path):
    """Under a UTC session the offset pattern writes exactly the bytes
    the earlier literal-'Z' pattern wrote."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    df = spark.sql(
        "SELECT timestamp'2024-02-29 12:34:56.789' AS ts,"
        " timestamp'1969-12-31 23:59:59.999999' AS early, 1 AS k"
    ).coalesce(1)
    new, old = str(tmp_path / "new.jsonl"), str(tmp_path / "old.jsonl")
    writers.write_jsonl(df, new, compression=None)
    df.write.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").json(old)
    [a] = glob.glob(os.path.join(new, "part-*.json"))
    [b] = glob.glob(os.path.join(old, "part-*.json"))
    assert open(a, "rb").read() == open(b, "rb").read()


def test_staged_timestamps_round_trip_non_utc(spark, tmp_path):
    """A non-UTC session stages the real offset, not local wall time
    labelled 'Z', and read_staged with the schema returns the same
    instant."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.sql("SELECT timestamp'2024-07-01 10:11:12.123456Z' AS ts")
        path = str(tmp_path / "ny.jsonl")
        writers.write_jsonl(df, path, compression=None)
        [part] = glob.glob(os.path.join(path, "part-*.json"))
        rec = json.loads(open(part).read().splitlines()[0])
        assert rec["ts"] == "2024-07-01T06:11:12.123456-04:00"
        back = files.read_staged(spark, path, schema=df.schema)
        micros = "unix_micros(ts) AS us"
        assert back.selectExpr(micros).collect() == df.selectExpr(micros).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_staged_timestamps_keep_offset_seconds_and_read_foreign(spark, tmp_path):
    """New York's pre-1883 local-mean-time offset is -04:56:02: staging
    must keep its seconds or the instant shifts by 2 s on read. And
    read_staged with a timestamp schema accepts the common foreign
    spellings instead of reading NULL."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.sql("SELECT timestamp'1850-03-04 12:00:00.123456Z' AS ts")
        path = str(tmp_path / "lmt.jsonl")
        writers.write_jsonl(df, path, compression=None)
        [part] = glob.glob(os.path.join(path, "part-*.json"))
        rec = json.loads(open(part).read().splitlines()[0])
        assert rec["ts"] == "1850-03-04T07:03:58.123456-04:56:02"
        back = files.read_staged(spark, path, schema=df.schema)
        micros = "unix_micros(ts) AS us"
        assert back.selectExpr(micros).collect() == df.selectExpr(micros).collect()

        foreign = tmp_path / "foreign.jsonl"
        foreign.write_text(
            '{"ts": "2024-02-29 12:34:56"}\n{"ts": "2024-02-29T12:34:56"}\n'
        )
        got = files.read_staged(spark, str(foreign), schema="ts timestamp")
        want = spark.sql("SELECT timestamp'2024-02-29 12:34:56' AS ts")
        assert got.selectExpr(micros).collect() == 2 * want.selectExpr(micros).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_read_csv_defaults_to_strings(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = files.read_csv(spark, str(p))
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string",
        "string",
    ]  # csv.DictReader parity: coercion happens in transform, not here
    assert df.count() == 2


def test_orc_round_trip_with_staged_dispatch(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )
    path = str(tmp_path / "out.orc")
    writers.write_orc(df, path)
    back = files.read_staged(spark, path)
    assert sorted(r["doubled"] for r in back.collect()) == [i * 2 for i in range(10)]


def test_read_text_lines_and_whole_docs(spark, tmp_path):
    (tmp_path / "a.txt").write_text("line one\nline two\n")
    (tmp_path / "b.txt").write_text("second doc\n")
    lines = files.read_text(spark, str(tmp_path / "*.txt"))
    assert lines.columns == ["text"]
    assert sorted(r["text"] for r in lines.collect()) == [
        "line one",
        "line two",
        "second doc",
    ]
    docs = files.read_text(spark, str(tmp_path / "*.txt"), whole_docs=True)
    assert docs.count() == 2  # one row per shard file
    assert any("line one\nline two" in r["text"] for r in docs.collect())


def test_read_staged_unsupported_extension(spark):
    with pytest.raises(ValueError, match="unsupported staged file type"):
        files.read_staged(spark, "/x/y/file.xlsx")


def test_dated_path_layout():
    p = writers.dated_path("/data/raw", "users", "f.jsonl", "2023-01-05T10:00:00")
    assert p == "/data/raw/users/2023/01/05/f.jsonl"


# --- upload ingest ---------------------------------------------------------


class _FakeModel:
    __qname__ = "tests.FakeModel"

    @classmethod
    def directory(cls):
        return "fake_models"


def _mk_src(tmp_path, name="data.csv", content=b"a,b\n1,2\n"):
    p = tmp_path / name
    p.write_bytes(content)
    return str(p)


def test_upload_happy_path(tmp_path):
    src = _mk_src(tmp_path)
    meta = upload.ingest_upload(
        src,
        _FakeModel,
        str(tmp_path / "uploads"),
        created="2023-01-05T10:00:00",
    )
    assert meta["model"] == "tests.FakeModel"
    assert meta["created"] == "2023-01-05"
    assert os.path.exists(meta["file"])
    # dated layout + 8-hex content-hash prefix on the landed name
    rel = os.path.relpath(meta["file"], str(tmp_path / "uploads"))
    parts = rel.split(os.sep)
    assert parts[:4] == ["fake_models", "2023", "01", "05"]
    prefix, base = parts[4].split("_", 1)
    assert base == "data.csv" and len(prefix) == 8
    int(prefix, 16)  # hex


def test_upload_rejects_bad_extension(tmp_path):
    src = _mk_src(tmp_path, "evil.exe", b"MZ")
    with pytest.raises(upload.UploadError) as e:
        upload.ingest_upload(src, _FakeModel, str(tmp_path / "u"))
    assert e.value.status == 415


def test_upload_gz_uses_inner_extension(tmp_path):
    src = _mk_src(tmp_path, "rows.jsonl.gz", gzip.compress(b'{"a":1}\n'))
    meta = upload.ingest_upload(src, _FakeModel, str(tmp_path / "u"))
    assert meta["file"].endswith("rows.jsonl.gz")


def test_upload_role_and_active_checks(tmp_path):
    src = _mk_src(tmp_path)
    with pytest.raises(upload.UploadError) as e:
        upload.ingest_upload(
            src,
            _FakeModel,
            str(tmp_path / "u"),
            role=upload.Role.viewer,
            required_role=upload.Role.admin,
        )
    assert e.value.status == 403
    with pytest.raises(upload.UploadError) as e:
        upload.ingest_upload(src, _FakeModel, str(tmp_path / "u"), active=False)
    assert e.value.status == 400


# --- HTTP connector (no network) ------------------------------------------


def test_connection_url_joining():
    pytest.importorskip("requests")
    c = http_src.Connection("https://api.example.com/v1/")
    assert c.url("users/1") == "https://api.example.com/v1/users/1"
    assert c.url("/admin") == "https://api.example.com/admin"
    assert c.url("https://other.example.com/x") == "https://other.example.com/x"
    c.close()  # logout=None must not crash (reference bug not replicated)


def test_connection_requires_scheme():
    pytest.importorskip("requests")
    with pytest.raises(http_src.MissingSchema):
        http_src.Connection("api.example.com")


def test_authenticator_applies_to_session():
    pytest.importorskip("requests")
    c = http_src.Connection("https://api.example.com")
    auth = http_src.HTTPAuthenticator(
        headers={"X-Token": "t"}, params={"k": "v"}, cookies={"sid": "1"}
    )
    auth.apply(c)
    assert c.session.headers["X-Token"] == "t"
    assert c.session.params["k"] == "v"
    assert c.session.cookies["sid"] == "1"
    c.close()


class _FakeResp:
    def __init__(self, payload):
        self._payload = payload

    def raise_for_status(self):
        pass

    def json(self):
        return self._payload


class _FakeClient:
    """Duck-typed APIClient: pages 'p0' → 'p1' → stop."""

    def __init__(self):
        self.pages = {"p0": [{"i": 1}, {"i": 2}], "p1": [{"i": 3}]}

    def get(self, endpoint):
        return _FakeResp(self.pages[endpoint])


def test_fetch_jsonl_paginates_and_stages(spark, tmp_path):
    path = str(tmp_path / "land" / "api.jsonl")
    http_src.fetch_jsonl(
        _FakeClient(),
        "p0",
        path,
        paginate=lambda resp, n: "p1" if n == 1 else None,
    )
    back = files.read_jsonl(spark, path, schema="i long")
    assert sorted(r["i"] for r in back.collect()) == [1, 2, 3]
    assert not os.path.exists(path + ".tmp")  # atomic rename, no temp left


def test_paginated_frame_fans_out_on_executors(spark):
    specs = [{"url": f"shard-{i}", "n": i} for i in range(4)]

    def fake_fetch(spec):
        return [{"shard": spec["url"], "value": spec["n"] * 10}]

    df = http_src.paginated_frame(
        spark, specs, schema="shard string, value long", fetch=fake_fetch
    )
    rows = {r["shard"]: r["value"] for r in df.collect()}
    assert rows == {f"shard-{i}": i * 10 for i in range(4)}


def test_write_sorted_parquet_clusters_ranges(spark, sf_dir, tmp_path):
    """Range-clustered write: files are value-disjoint on the cluster
    key (row-group pruning depends on it), and the write plan contains
    a range exchange, not a global single-partition sort."""
    from flask_data_pipes_spark.sinks.writers import write_sorted_parquet

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    part = l.repartitionByRange(4, F.col("l_shipdate")).sortWithinPartitions("l_shipdate")
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(l_shipdate" in plan
    assert "SinglePartition" not in plan

    out = str(tmp_path / "li_sorted")
    write_sorted_parquet(l, out, ["l_shipdate"], num_partitions=4)
    back = spark.read.parquet(out)
    assert back.count() == l.count()
    # per-file min/max must not overlap across files (disjoint ranges)
    import pyspark.sql.functions as SF

    stats = (
        back.withColumn("file", SF.input_file_name())
        .groupBy("file")
        .agg(SF.min("l_shipdate").alias("lo"), SF.max("l_shipdate").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(stats) > 1
    for a, b in zip(stats, stats[1:]):
        assert a["hi"] <= b["lo"], "file ranges overlap — clustering broken"


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    from flask_data_pipes_spark.sinks.writers import compact_parquet
    import glob

    out = str(tmp_path / "frag")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(16).write.parquet(out)
    assert len(glob.glob(out + "/*.parquet")) == 16
    before = spark.read.parquet(out).count()
    n = compact_parquet(spark, out, target_file_bytes=1 << 30)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n == 1
    assert spark.read.parquet(out).count() == before


# --- W4: batched upsert load ------------------------------------------------


def _read_op_logs(log_dir: str):
    import glob
    import json as _json

    logs = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*.jsonl"))):
        with open(p) as fh:
            logs.append([_json.loads(l) for l in fh])
    return logs


def test_write_upsert_commit_cadence(spark, tmp_path):
    """Reference parity (pipeline.py:662-689): rows fed one-by-one,
    commit every N, plus one trailing commit — pinned against a fake
    DBAPI sink on a single partition so the op order is deterministic."""

    class _LoggingConn:
        """Fake DBAPI connection recording every op to a per-connection
        JSONL file (foreachPartition runs in worker processes, so the
        log must cross the process boundary via disk). Defined inside
        the test so cloudpickle ships it by value to the workers."""

        def __init__(self, log_dir: str):
            import os as _os
            import uuid

            self.path = _os.path.join(log_dir, f"{uuid.uuid4().hex}.jsonl")
            self._ops = []

        def _log(self, op):
            self._ops.append(op)

        def commit(self):
            self._log(["commit"])

        def close(self):
            import json as _json

            with open(self.path, "w") as fh:
                for op in self._ops:
                    fh.write(_json.dumps(op) + "\n")

    log_dir = str(tmp_path / "ops")
    os.makedirs(log_dir)
    df = spark.createDataFrame([(i,) for i in range(5)], "id long").repartition(1)

    writers.write_upsert(
        df,
        connection_factory=lambda: _LoggingConn(log_dir),
        merge_row=lambda conn, row: conn._log(["merge", row["id"]]),
        batch_size=2,
    )

    (ops,) = _read_op_logs(log_dir)
    merges = [op[1] for op in ops if op[0] == "merge"]
    assert sorted(merges) == [0, 1, 2, 3, 4]
    # commit after every 2 merges + the trailing catch-all commit
    kinds = [op[0] for op in ops]
    assert kinds == [
        "merge", "merge", "commit",
        "merge", "merge", "commit",
        "merge", "commit",
    ]


def test_write_upsert_sqlite_end_to_end(spark, tmp_path):
    """Real keyed upsert against stdlib sqlite3 (the sandbox has no JDBC
    driver; same DBAPI contract): second load with changed values
    updates in place — row count stays, values move."""
    import sqlite3

    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE users (id INTEGER PRIMARY KEY, name TEXT, score REAL)")

    sql = writers.upsert_sql(
        "users", ["id", "name", "score"], keys=["id"], dialect="onconflict"
    )

    def factory():
        return sqlite3.connect(db)

    def merge(conn, row):
        conn.execute(sql, (row["id"], row["name"], row["score"]))

    df1 = spark.createDataFrame(
        [(1, "ada", 1.0), (2, "alan", 2.0), (3, "grace", 3.0)],
        "id long, name string, score double",
    ).repartition(1)  # sqlite: single writer
    writers.write_upsert(df1, factory, merge, batch_size=2)

    df2 = spark.createDataFrame(
        [(2, "alan", 20.0), (4, "edsger", 4.0)], "id long, name string, score double"
    ).repartition(1)
    writers.write_upsert(df2, factory, merge, batch_size=2)

    with sqlite3.connect(db) as conn:
        rows = dict(
            (i, (n, s)) for i, n, s in conn.execute("SELECT id, name, score FROM users")
        )
    assert rows == {
        1: ("ada", 1.0),
        2: ("alan", 20.0),  # updated, not duplicated
        3: ("grace", 3.0),
        4: ("edsger", 4.0),
    }


def test_upsert_sql_dialects():
    ansi = writers.upsert_sql("t", ["k", "a", "b"], keys=["k"], dialect="ansi")
    assert ansi.startswith("MERGE INTO t t USING")
    assert "WHEN MATCHED THEN UPDATE SET t.a = s.a, t.b = s.b" in ansi
    assert "WHEN NOT MATCHED THEN INSERT (k, a, b)" in ansi
    oc = writers.upsert_sql("t", ["k", "a"], keys=["k"], dialect="onconflict")
    assert oc == (
        "INSERT INTO t (k, a) VALUES (?, ?) "
        "ON CONFLICT (k) DO UPDATE SET a = excluded.a"
    )
    keys_only = writers.upsert_sql("t", ["k"], keys=["k"], dialect="onconflict")
    assert keys_only.endswith("DO NOTHING")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        writers.upsert_sql("t", ["k"], keys=["k"], dialect="nope")


def test_batched_upsert_load_record_false(spark, tmp_path):
    """@load(record=False, batches=N) interplay (reference
    decorators.py:273,294 + pipeline.py:691-696): the batched upsert
    runs, but the object is NOT marked loaded — resumable at load."""
    import sqlite3

    from flask_data_pipes_spark.models import Model, fields
    from flask_data_pipes_spark.pipeline import Pipeline, decorators
    from flask_data_pipes_spark.session import EngineConfig

    db = str(tmp_path / "load.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE items (item TEXT PRIMARY KEY)")
    sql = writers.upsert_sql("items", ["item"], keys=["item"], dialect="onconflict")

    class Item(Model):
        item = fields.String()

    class UpsertPipeline(Pipeline):
        extract = True
        transform = True
        load = True

        @decorators.load(record=False, batches=2)
        def load_items(self, df, meta):
            batches = getattr(self.load_items, "__task_kwargs__", {}).get("batches")
            writers.write_upsert(
                df.repartition(1),
                connection_factory=lambda: sqlite3.connect(db),
                merge_row=lambda conn, row: conn.execute(sql, (row["item"],)),
                batch_size=batches,
            )

    cfg = EngineConfig(data_dir=str(tmp_path / "data"))
    pipe = UpsertPipeline(model=Item, spark=spark, config=cfg)
    pipe.register_model(Item)

    raw = tmp_path / "items.jsonl"
    raw.write_text("\n".join(json.dumps({"item": w}) for w in ["a", "b", "c"]))
    meta = [dict(pkey=None, model=Item.__qname__, file=str(raw), created="2026-08-13")]
    out = pipe(stage="extract", meta=meta)

    with sqlite3.connect(db) as conn:
        loaded = sorted(r[0] for r in conn.execute("SELECT item FROM items"))
    assert loaded == ["a", "b", "c"]

    obj = pipe.store.get_object(out[0]["pkey"])
    assert obj["transformed"]
    assert not obj["loaded"]  # record=False leaves the object resumable


def test_jdbc_dbapi_roundtrip_sqlite(spark, tmp_path):
    """End-to-end write_jdbc -> read_jdbc through the DBAPI fallback
    against sqlite (VERDICT r2 #7): the same call path as the JDBC
    driver — per-partition connections, executemany append batches,
    range-stripe partitioned read — proven without a driver jar."""
    import sqlite3

    from flask_data_pipes_spark.sinks.writers import write_jdbc
    from flask_data_pipes_spark.sources.files import (
        jdbc_partition_predicates,
        read_jdbc,
    )

    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE metrics (id INTEGER, name TEXT, v REAL)")

    def factory():
        # sqlite allows one writer at a time; the timeout makes
        # concurrent partition writers queue instead of failing busy
        return sqlite3.connect(db, timeout=30)

    src = spark.range(100).selectExpr(
        "id", "concat('n', id) AS name", "CAST(id * 1.5 AS DOUBLE) AS v"
    )
    write_jdbc(
        src, url="", table="metrics", connection_factory=factory, batch_size=7
    )

    with sqlite3.connect(db) as conn:
        assert conn.execute("SELECT COUNT(*) FROM metrics").fetchone()[0] == 100

    out = read_jdbc(
        spark,
        url="",
        query="SELECT id, name, v FROM metrics",
        connection_factory=factory,
        schema="id long, name string, v double",
        partition_column="id",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
    )
    rows = {r["id"]: r for r in out.collect()}
    # every row read exactly once across the 4 range stripes
    assert len(rows) == 100 and out.count() == 100
    assert rows[3]["name"] == "n3" and abs(rows[3]["v"] - 4.5) < 1e-12

    # stripe algebra: first stripe unbounded below, last unbounded above
    preds = jdbc_partition_predicates("id", 0, 100, 4)
    assert len(preds) == 4
    assert "IS NULL" in preds[0] and preds[-1] == "id >= 75"


def test_jdbc_live_jvm_roundtrip_derby(spark):
    """LIVE JVM JDBC path (S6/W3, VERDICT r3 #1): write_jdbc ->
    read_jdbc through Spark's actual `format("jdbc")` datasource
    against embedded Derby (`jdbc:derby:memory:` — the derby jars ship
    inside pyspark's own jars/ dir, so no network and no new deps).

    Proves what the DBAPI fallback cannot: Spark's option validation
    (query+partitionColumn are mutually exclusive — the partitioned
    scan must be a `dbtable` subquery alias), the JVM driver-class
    load, the writer's CREATE TABLE + batched INSERT leg, and that the
    partitioned reader really fans the scan into numPartitions range
    stripes (verified on the returned RDD, not on option strings).

    Column names are uppercase because Spark's JDBC writer quotes
    identifiers at CREATE time while unquoted SQL folds to upper in
    Derby — the same case discipline a real warehouse load needs.
    """
    from flask_data_pipes_spark.sinks.writers import write_jdbc
    from flask_data_pipes_spark.sources.files import read_jdbc

    url = "jdbc:derby:memory:etl_live;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(100).selectExpr(
        "id AS RID",
        "concat('n', id) AS NAME",
        "CAST(id * 1.5 AS DOUBLE) AS V",
    )
    write_jdbc(src, url, "metrics_live", mode="overwrite", driver=drv)
    # second overwrite must be idempotent (drop/recreate, not append)
    write_jdbc(src, url, "metrics_live", mode="overwrite", driver=drv)

    out = read_jdbc(
        spark,
        url,
        "SELECT RID, NAME, V FROM metrics_live",
        partition_column="RID",
        lower_bound=0,
        upper_bound=99,
        num_partitions=4,
        driver=drv,
    )
    # the partitioned JVM scan really is 4 range stripes
    assert out.rdd.getNumPartitions() == 4
    rows = {r["RID"]: r for r in out.collect()}
    assert len(rows) == 100
    assert rows[3]["NAME"] == "n3" and abs(rows[3]["V"] - 4.5) < 1e-12

    # unpartitioned `query` leg: pushdown of an aggregate to the DB
    agg = read_jdbc(
        spark, url, "SELECT COUNT(*) AS N FROM metrics_live", driver=drv
    )
    assert [r["N"] for r in agg.collect()] == [100]

    # append leg: mode="append" adds rows instead of recreating
    write_jdbc(
        src.limit(5), url, "metrics_live", mode="append", driver=drv
    )
    assert (
        read_jdbc(
            spark, url, "SELECT COUNT(*) AS N FROM metrics_live", driver=drv
        ).collect()[0]["N"]
        == 105
    )


def test_read_jdbc_dbapi_unpartitioned_single_stripe(spark, tmp_path):
    import sqlite3

    from flask_data_pipes_spark.sources.files import read_jdbc

    db = str(tmp_path / "s.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE kv (k TEXT, n INTEGER)")
        conn.executemany(
            "INSERT INTO kv VALUES (?, ?)", [("a", 1), ("b", 2)]
        )
        conn.commit()
    out = read_jdbc(
        spark,
        url="",
        query="SELECT k, n FROM kv",
        connection_factory=lambda: sqlite3.connect(db),
        schema="k string, n long",
    )
    assert sorted((r["k"], r["n"]) for r in out.collect()) == [("a", 1), ("b", 2)]


def test_atrest_partition_ids_list_drop_and_junk_raises(spark, tmp_path):
    """Listing partition values: an absent path is [], a partitioned
    table lists its sorted ids, and a directory holding a junk part
    file raises instead of reading as "no partitions"."""
    from flask_data_pipes_spark.sinks import atrest

    assert atrest.partition_ids(spark, str(tmp_path / "absent"), "gen") == []
    table = str(tmp_path / "t")
    for b in (3, 1):
        atrest.write_batch(spark.range(2), table, b)
    assert atrest.partition_ids(spark, table, "batch_id") == [1, 3]
    atrest.drop_partitions(spark, [table], "batch_id", [1])
    assert atrest.partition_ids(spark, table, "batch_id") == [3]
    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "part-00000.parquet").write_text("garbage, not parquet")
    with pytest.raises(Exception):
        atrest.partition_ids(spark, str(junk), "gen")


def test_atrest_meta_sidecar_and_bytes_round_trip(spark, tmp_path):
    """The JSON sidecar keeps its 1-row text layout (indexes and models
    saved earlier still load), `mode` is honored, and the byte writer
    creates one plain file."""
    from flask_data_pipes_spark.sinks import atrest

    path = str(tmp_path / "meta")
    atrest.write_meta(spark, path, {"seed": 7, "centers": [[0.5, 1.0]]})
    [part] = glob.glob(os.path.join(path, "part-*"))
    assert open(part).read() == '{"seed": 7, "centers": [[0.5, 1.0]]}\n'
    assert atrest.read_meta(spark, path) == {"seed": 7, "centers": [[0.5, 1.0]]}
    with pytest.raises(Exception):
        atrest.write_meta(spark, path, {"seed": 8}, mode="error")
    blob = str(tmp_path / "blob.bin")
    atrest.write_bytes(spark, blob, b"\x00abc")
    assert open(blob, "rb").read() == b"\x00abc"
    assert atrest.exists(spark, blob)
    atrest.rm(spark, blob)
    assert not atrest.exists(spark, blob)


def test_replay_safe_write_protocol_has_one_home():
    """The dynamic-overwrite write, the raw Hadoop-FS calls and the
    JSON sidecar live only in `sinks/atrest.py`; every other module
    calls its functions, so no hand-written copy can drift."""
    import pathlib

    pkg = pathlib.Path(writers.__file__).resolve().parents[1]
    home = pkg / "sinks" / "atrest.py"
    copies = [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p != home
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if any(
            s in line
            for s in ("partitionOverwriteMode", "hadoop.fs.Path(", '"meta string"')
        )
    ]
    assert copies == []
    assert "partitionOverwriteMode" in home.read_text()
