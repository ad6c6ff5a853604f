"""`etl_bulk`: the reference's three DAGs through ``plans.pipelines`` at
bulk size, against offline sinks.

- P1 ``books_pipeline``: the fake BigBookAPI (``inputs.BookApi``) → bronze
  JSON → silver parquet → Spark JDBC append into a fresh embedded Derby
  database. Derby has no array type, so the load writes ``genres``,
  ``author_id`` and ``author_name`` as JSON text.
- P2 ``warehouse_sync``: partitioned ``read_jdbc_table`` of that table →
  staging parquet → ``SnowflakeBulkLoadPlan`` run through a recording
  executor whose COPY INTO loads the staged files into a DuckDB table.
- P3 ``models_pipeline``: the fake listing (``inputs.listing``) →
  standardize → keep-first dedup → ``JdbcUpsertWriter`` into a copy of a
  sqlite file that already holds every second listed id, so the run does
  inserts and ON CONFLICT updates.

Every pass gets its own Derby database, DuckDB file and sqlite copy, so
each pass starts from the same sink state.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.plans import pipelines
from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import jdbc as jdbc_sink
from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.snowflake import SnowflakeBulkLoadPlan
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources import huggingface
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.jdbc import (
    jdbc_scan_options,
    read_jdbc_table,
)
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.rest import FetchPolicy

import inputs
from spans import median

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
WAREHOUSE_COLUMNS = [
    ("id", "NUMBER"), ("title", "VARCHAR"), ("image", "VARCHAR"), ("genres", "VARIANT"),
    ("rating", "FLOAT"), ("author_id", "VARIANT"), ("author_name", "VARIANT"),
]
_INPUTS_PY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs.py")


def _models_db(action: str, db: str, seed: int, n: int) -> str:
    """Seed or check the P3 sqlite file in a child process."""
    return subprocess.run(
        [sys.executable, _INPUTS_PY, action, "--db", db, "--seed", str(seed), "--n", str(n)],
        check=True, capture_output=True, text=True, timeout=170,
    ).stdout


class TracedConnection:
    """DBAPI connection proxy for the traced run: times ``executemany`` per
    batch and ``commit``, and ships the timings back in an accumulator."""

    def __init__(self, conn, acc) -> None:
        self._conn, self._acc = conn, acc

    def cursor(self):
        return _TracedCursor(self._conn.cursor(), self._acc)

    def execute(self, *a):
        return self._conn.execute(*a)

    def commit(self) -> None:
        t0 = time.perf_counter()
        self._conn.commit()
        self._acc.add([("commit", time.perf_counter() - t0)])

    def close(self) -> None:
        self._conn.close()


class _TracedCursor:
    def __init__(self, cur, acc) -> None:
        self._cur, self._acc = cur, acc

    def executemany(self, sql, rows):
        t0 = time.perf_counter()
        out = self._cur.executemany(sql, rows)
        self._acc.add([("batch", time.perf_counter() - t0)])
        return out


def _traced_factory(factory, acc):
    def connect():
        return TracedConnection(factory(), acc)

    return connect


class EtlBulk:
    name = "etl_bulk"

    def __init__(self, work: str, seed: int, n_books: int, n_models: int, nproc: int) -> None:
        self.work, self.seed, self.nproc = work, seed, nproc
        self.n_pages = n_books // inputs.PAGE
        self.n_models = n_models
        self.passes: list[dict] = []
        self.prior_db = os.path.join(work, "models_prior.db")
        self.warehouse_stmts: list[str] = []
        self.probes: dict = {}

    def sizes(self) -> dict:
        return {"book_records": self.n_pages * inputs.PAGE, "api_pages": self.n_pages,
                "listing_records": self.n_models}

    def make_inputs(self) -> None:
        _models_db("seed", self.prior_db, self.seed, self.n_models)

    # -- one pass of P1 → P2 → P3 ------------------------------------------------

    def _sinks(self, spark, tag: str) -> dict:
        """Fresh sink state: a new embedded Derby database and a copy of the
        prior sqlite file, in a directory of their own."""
        d = os.path.join(self.work, tag)
        os.makedirs(d)
        shutil.copy(self.prior_db, os.path.join(d, "models.db"))
        s = {"dir": d, "derby": f"jdbc:derby:{d}/derby", "duck": os.path.join(d, "warehouse.duckdb"),
             "models": os.path.join(d, "models.db")}
        spark.sparkContext._jvm.java.sql.DriverManager.getConnection(s["derby"] + ";create=true").close()
        return s

    def prepare(self, spark, k: int) -> None:
        """Set-up after the session (re)start: the sink state of one pass."""
        s = self._sinks(spark, f"setup{k}")
        _shutdown_derby(spark, s["derby"])
        shutil.rmtree(s["dir"], ignore_errors=True)

    def warm_up(self, spark) -> None:
        pass  # none: the reference DAGs run in a fresh process every day

    def run_pass(self, spark, tracer, tag: str) -> list[tuple[str, float, bool]]:
        s = self._sinks(spark, tag)
        self.passes.append(s)
        api = inputs.BookApi(self.seed, self.n_pages)
        s["api"] = api
        ops = []

        def load_books(df):
            out = df.select(
                "id", "title", "image", F.to_json("genres").alias("genres"), "rating",
                F.to_json("author_id").alias("author_id"),
                F.to_json("author_name").alias("author_name"),
            )
            (out.write.format("jdbc")
             .options(**jdbc_sink.jdbc_append_options(s["derby"], "books", DERBY))
             .mode("append").save())

        policy = FetchPolicy(page_size=inputs.PAGE, max_requests=self.n_pages + 2,
                             inter_page_sleep=0, retry_backoff=0, max_retries=3)
        ops.append(self._op("books_etl_s", tracer, lambda: pipelines.books_pipeline(
            spark, raw_json_path=os.path.join(s["dir"], "raw.json"),
            silver_parquet_path=os.path.join(s["dir"], "silver"),
            load=tracer.timed(load_books, "jdbc.append"),
            transport=tracer.ticked(api, "rest.transport"), policy=policy)))

        def extract():
            df = read_jdbc_table(spark, **jdbc_scan_options(
                s["derby"], "books", DERBY, partition_column="id", lower_bound=1,
                upper_bound=self.n_pages * inputs.PAGE, num_partitions=self.nproc))
            if tracer.enabled:
                # the scan's partitions: warehouse_sync stages with one task
                # that reads them all, so no stage shows them as tasks
                s["scan_partitions"] = df.rdd.getNumPartitions()
            return df

        def load_warehouse(staged):
            stage_path = os.path.join(s["dir"], "staging")
            plan = SnowflakeBulkLoadPlan("BOOKS", "BOOKS_STAGE", stage_path, WAREHOUSE_COLUMNS)
            con = duckdb.connect(s["duck"])
            try:
                def execute(sql: str) -> None:
                    self.warehouse_stmts.append(sql)
                    if sql.startswith("COPY INTO"):
                        con.execute("CREATE TABLE books AS SELECT * FROM "
                                    f"read_parquet('{stage_path}/*.parquet')")
                plan.run(execute)
            finally:
                con.close()

        ops.append(self._op("warehouse_sync_s", tracer, lambda: s.update(
            synced=pipelines.warehouse_sync(
                tracer.timed(extract, "jdbc.extract"), os.path.join(s["dir"], "staging"),
                tracer.timed(load_warehouse, "warehouse.load")))))

        acc = spark.sparkContext.accumulator([], _ListParam()) if tracer.enabled else None
        s["conn_acc"] = acc
        # pickles by reference to the light inputs module, so the workers
        # need not import this one (the traced proxy below does)
        factory = functools.partial(inputs.sqlite_connect, s["models"])
        if acc is not None:
            factory = _traced_factory(factory, acc)
        writer = jdbc_sink.JdbcUpsertWriter(factory, "ai_models", ["model_id"], paramstyle="?",
                                            ensure_columns=inputs.MODEL_COLUMNS)

        def lister(limit):
            return tracer.ticked_iter(inputs.listing(self.seed, limit), "hf.lister")

        ops.append(self._op("models_upsert_s", tracer, lambda: pipelines.models_pipeline(
            spark, lister=lister, limit=self.n_models,
            upsert=lambda df: writer.write(df.withColumn("tags", F.to_json("tags"))))))
        return ops

    @staticmethod
    def _op(name: str, tracer, fn) -> tuple[str, float, bool]:
        t0 = time.perf_counter()
        try:
            with tracer.span(name):
                fn()
            ok = True
        except Exception as e:  # an operation that raises is a failed op, not a crash
            print(f"[{name}] failed: {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        return name, time.perf_counter() - t0, ok

    # -- tracing hooks ------------------------------------------------------------

    def hook(self, tracer) -> None:
        tracer.wrap(pipelines, "fetch_pages", "rest.fetch_pages")
        tracer.wrap(pipelines, "write_parquet", "files.write_parquet")
        tracer.wrap(huggingface, "read_top_models", "hf.read_top_models")
        tracer.wrap(jdbc_sink.JdbcUpsertWriter, "write", "jdbc.upsert")

    # -- output checks ------------------------------------------------------------

    def check(self, spark) -> dict[str, bool]:
        """Per pass: P1 row count and a seeded sample against the transform
        rules; P2 warehouse rows = Derby rows; P3 table = keep-first state."""
        results: dict[str, bool] = {}
        for s in self.passes:
            tag = os.path.basename(s["dir"])
            try:
                p1 = self._check_books(spark, s)
            except Exception as e:
                print(f"[check {tag} P1] {type(e).__name__}: {e}", file=sys.stderr)
                p1 = False
            results[f"{tag}/books_etl_s"] = p1
            try:
                con = duckdb.connect(s["duck"], read_only=True)
                n_wh = con.execute("SELECT COUNT(*) FROM books").fetchone()[0]
                con.close()
                n_db = _derby_count(spark, s["derby"])
                p2 = n_wh == n_db == s.get("synced")
                if not p2:
                    print(f"[check {tag} P2] warehouse {n_wh}, derby {n_db}, "
                          f"returned {s.get('synced')}", file=sys.stderr)
            except Exception as e:
                print(f"[check {tag} P2] {type(e).__name__}: {e}", file=sys.stderr)
                p2 = False
            results[f"{tag}/warehouse_sync_s"] = p2
            out = json.loads(_models_db("check", s["models"], self.seed, self.n_models))
            if not out["ok"]:
                print(f"[check {tag} P3] {out}", file=sys.stderr)
            results[f"{tag}/models_upsert_s"] = out["ok"]
        self.probes = self.probe_bare_objects(spark)
        return results

    def _check_books(self, spark, s) -> bool:
        import random

        n_books = inputs.count_books(self.seed, self.n_pages)
        n_db = _derby_count(spark, s["derby"])
        ok = n_db == n_books
        if not ok:
            print(f"[check P1] derby rows {n_db}, non-empty wrappers {n_books}", file=sys.stderr)
        rnd = random.Random(self.seed)
        pages = sorted(rnd.sample(range(self.n_pages), min(20, self.n_pages)))
        sample = [w[0] for p in pages for w in inputs.book_page(self.seed, p) if w]
        ids = ",".join(str(b["id"]) for b in sample)
        rows = (spark.read.format("jdbc")
                .options(url=s["derby"], driver=DERBY,
                         query=f'SELECT * FROM books WHERE "id" IN ({ids})')
                .load().collect())
        got = {r["id"]: r for r in rows}
        for b in sample:
            want, r = inputs.expected_book(b), got.get(b["id"])
            have = r and {**r.asDict(), **{c: json.loads(r[c]) for c in
                                           ("genres", "author_id", "author_name")}}
            if have != want:
                print(f"[check P1] id {b['id']}: want {want}, got {have}", file=sys.stderr)
                ok = False
        return ok and len(got) == len(sample)

    def probe_bare_objects(self, spark) -> dict:
        """FIXTURES.md §F1 allows bare book objects beside the one-element
        wrappers, and the reference accepts them. The bulk input holds
        none, because one bare object makes ``read_raw_books`` null the
        whole dump; this probe runs P1 on [[b1], b2, [], [b3]] and reports
        the rows it keeps (3 when fixed) in every run's provenance."""
        d = os.path.join(self.work, "probe")
        os.makedirs(d, exist_ok=True)
        book = lambda i: {"id": i, "title": f"t{i}", "genres": ["g"], "rating": {"average": 0.5}}  # noqa: E731
        with open(os.path.join(d, "raw.json"), "w") as f:
            json.dump([[book(1)], book(2), [], [book(3)]], f)
        silver = pipelines.books_pipeline(spark, os.path.join(d, "raw.json"), os.path.join(d, "silver"))
        return {"p1_bare_object_rows": silver.count(), "expected_rows": 3}

    def close(self, spark) -> None:
        for s in self.passes:
            _shutdown_derby(spark, s["derby"])

    # -- per-layer metrics ----------------------------------------------------------

    def layer_metrics(self, tracer) -> dict[str, float]:
        m = {f"etl.{op}": median(tracer.value(x, "seconds") for x in tracer.find(op))
             for op in ("books_etl_s", "warehouse_sync_s", "models_upsert_s")}
        fetch = tracer.find("rest.fetch_pages")
        m["rest.fetch_s"] = median(tracer.value(x, "seconds") for x in fetch)
        n = max(1, len(self.passes))
        m["rest.transport_s"] = tracer.ticks["rest.transport"][1] / n
        pages = sum(p["api"].served for p in self.passes)
        m["rest.pages"] = pages / n
        m["rest.attempts_per_page"] = sum(p["api"].calls for p in self.passes) / max(
            1, pages + len(self.passes))
        pipes = tracer.find("books_etl_s") + tracer.find("warehouse_sync_s")
        m["pipelines.self_s"] = sum(tracer.self_value(x, "seconds") for x in pipes) / n
        m["pipelines.self_jobs"] = sum(tracer.self_value(x, "jobs") for x in pipes) / n
        writes = tracer.find("files.write_parquet")
        silver, staging = ([w for w in writes if tracer.spans[w["parent"]]["name"] == op]
                           for op in ("books_etl_s", "warehouse_sync_s"))
        m["files.silver_write_s"] = median(tracer.value(x, "seconds") for x in silver)
        m["files.silver_tasks"] = median(x["tasks"] for x in silver)
        m["files.staging_write_s"] = median(tracer.value(x, "seconds") for x in staging)
        m["files.staging_tasks"] = median(x["tasks"] for x in staging)
        m["files.output_bytes"] = sum(x["outputBytes"] for x in writes) / n
        app = tracer.find("jdbc.append")
        m["jdbc.append_s"] = median(tracer.value(x, "seconds") for x in app)
        m["jdbc.append_tasks"] = median(x["tasks"] for x in app)
        m["jdbc.scan_tasks"] = median(p["scan_partitions"] for p in self.passes
                                      if "scan_partitions" in p)
        wh = tracer.find("warehouse.load")
        m["warehouse.load_s"] = median(tracer.value(x, "seconds") for x in wh)
        m["warehouse.statements"] = len(self.warehouse_stmts) / n
        m["hf.read_s"] = median(tracer.value(x, "seconds") for x in tracer.find("hf.read_top_models"))
        m["hf.lister_s"] = tracer.ticks["hf.lister"][1] / n
        up = tracer.find("jdbc.upsert")
        m["jdbc.upsert_s"] = median(tracer.value(x, "seconds") for x in up)
        m["jdbc.upsert_jobs"] = median(x["jobs"] for x in up)
        m["jdbc.upsert_tasks"] = median(x["tasks"] for x in up)
        batches = [t for p in self.passes if p["conn_acc"] for k, t in p["conn_acc"].value if k == "batch"]
        commits = [t for p in self.passes if p["conn_acc"] for k, t in p["conn_acc"].value if k == "commit"]
        m["jdbc.executemany_s"] = sum(batches) / n
        m["jdbc.commit_s"] = sum(commits) / n
        m["jdbc.batches"] = len(batches) / n
        m["jdbc.batch_p50_s"] = median(batches)
        # the batch time with ten batches slower than it (the slowest when fewer)
        m["jdbc.batch_tail_s"] = sorted(batches)[max(0, len(batches) - 11)] if batches else 0.0
        m["dedup.shuffle_bytes"] = median(x["shuffleWriteBytes"] for x in up)
        return m


class _ListParam:
    """Accumulator of a list of (kind, seconds) pairs."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def _derby_count(spark, url: str) -> int:
    return (spark.read.format("jdbc")
            .options(url=url, driver=DERBY, query="SELECT COUNT(*) AS N FROM books")
            .load().collect()[0][0])


def _shutdown_derby(spark, url: str) -> None:
    """Close an embedded Derby database; Derby reports success by raising."""
    try:
        spark.sparkContext._jvm.java.sql.DriverManager.getConnection(url + ";shutdown=true")
    except Exception:  # py4j wraps Derby's SQLException 08006 "database shut down"
        pass
