"""`query_mix`: registry entries run over the reference corpus at sf0.01
(``corpus_sf0.01/``, a copy of the ten parquet tables of the corpus the
test suite's correctness tier reads), each written to the noop sink:
``bench.py``'s 28 read-side entries (``BENCH_QUERIES``), then the
versioned-table entries whose commits go through the write paths of
``sinks.versioned``.

Each entry is one operation: the registry call (plan construction, which
may already launch jobs) and then the sink, timed together and traced as
two child spans. The entries run in a fixed order over a fixed corpus, so
the entries that pay the cold JVM's first-use costs, and the jobs and tasks
every entry launches, are the same in every run; the workload seed picks
the read-side entries that are checked.

Output check, once per run and untimed: the DataFrames the last pass wrote
are collected again (which re-runs only their final plans, not the
construction) and compared with the entry's oracle SQL run by DuckDB over
the same corpus, as ``tests/test_oracle_parity.py`` compares them (columns
by name, rows by all columns, dtype kinds equal): every versioned entry,
whose final plans are cheap, and a seeded sample of ``QUERY_CHECKS``
read-side entries, so successive seeds cover the mix.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import random
import sys
import time

from bench import BENCH_QUERIES
from spans import median

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus_sf0.01")
# versioned-table entries whose commits together go through write_version,
# merge_version, delete_version (copy-on-write and merge-on-read),
# update_version and overwrite_partitions of sinks.versioned
VERSIONED_DML = (
    "versioned_merge_delete versioned_mor_delete versioned_update versioned_replace_where"
).split()
QUERY_CHECKS = 4


@functools.cache
def _oracle_parity():
    """``tests/test_oracle_parity.py``, loaded from its file (``tests`` is
    not a package, and a ``tests`` package elsewhere on the path would win)."""
    path = os.path.join(os.path.dirname(HERE), "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_parity", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _prefix(name: str) -> str:
    """Per-layer metric prefix of an entry: ``v.`` for sinks.versioned."""
    return "v" if name in VERSIONED_DML else "q"


class RegistryWorkload:
    name = "query_mix"

    def __init__(self, seed: int) -> None:
        self.entries = BENCH_QUERIES + VERSIONED_DML
        self.checked = sorted(random.Random(seed).sample(BENCH_QUERIES, QUERY_CHECKS)) + VERSIONED_DML
        self.frames: dict = {}
        self.probes: dict = {}
        self.corpus = CORPUS
        self.passes = 0

    def sizes(self) -> dict:
        return {"corpus": "sf0.01", "entries": len(self.entries), "checked": self.checked}

    def make_inputs(self) -> None:
        pass  # the corpus is read in place; entries write their tables under TMPDIR

    def prepare(self, spark, k: int) -> None:
        pass  # the corpus is the whole state; set-up is the session start

    def warm_up(self, spark) -> None:
        """bench.py's warm-up: the row-count audit over the corpus."""
        from bigbookapi_etl_with_airflow_and_snowflake_spark import queries

        queries.q_count_audit(spark, self.corpus).write.format("noop").mode("overwrite").save()

    def hook(self, tracer) -> None:
        pass  # the registry calls are spanned where run_pass makes them

    def run_pass(self, spark, tracer, tag: str) -> list[tuple[str, float, bool]]:
        from bigbookapi_etl_with_airflow_and_snowflake_spark import queries

        registry = queries.queries()
        ops = []
        for name in self.entries:
            span = f"{_prefix(name)}.{name}"
            t0 = time.perf_counter()
            try:
                with tracer.span(span):
                    with tracer.span(span + ".construct"):
                        df = registry[name](spark, self.corpus)
                    with tracer.span(span + ".sink"):
                        df.write.format("noop").mode("overwrite").save()
                self.frames[name] = df
                ok = True
            except Exception as e:  # a failing entry is a failed op, not a crash
                print(f"[{name}] failed: {type(e).__name__}: {e}", file=sys.stderr)
                ok = False
            ops.append((name, time.perf_counter() - t0, ok))
        self.passes += 1
        return ops

    def check(self, spark) -> dict[str, bool]:
        import duckdb

        from bigbookapi_etl_with_airflow_and_snowflake_spark import queries

        oracle = queries.oracle_sql()
        con = duckdb.connect()
        for t in _oracle_parity().TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
        results = {}
        for name in self.checked:
            if name not in oracle or name not in self.frames:
                continue  # no oracle, or the entry already failed in the pass
            try:
                problem = compare(self.frames[name].toPandas(), con.execute(oracle[name]).fetchdf())
            except Exception as e:
                problem = f"{type(e).__name__}: {e}"
            if problem:
                print(f"[check {name}] {problem}", file=sys.stderr)
            results[f"pass{self.passes - 1}/{name}"] = not problem
        con.close()
        return results

    def close(self, spark) -> None:
        pass

    def layer_metrics(self, tracer) -> dict[str, float]:
        n = max(1, self.passes)
        spans = {name: (tracer.find(f"{_prefix(name)}.{name}"),
                        tracer.find(f"{_prefix(name)}.{name}.construct"),
                        tracer.find(f"{_prefix(name)}.{name}.sink")) for name in self.entries}
        m = {f"{_prefix(name)}.{name}_s": median(tracer.value(s, "seconds") for s in ops)
             for name, (ops, _, _) in spans.items()}
        for group, names in (("query_mix", BENCH_QUERIES), ("versioned", VERSIONED_DML)):
            ops = [s for name in names for s in spans[name][0]]
            cons = [s for name in names for s in spans[name][1]]
            sinks = [s for name in names for s in spans[name][2]]
            m[f"{group}.construct_s"] = sum(tracer.value(s, "seconds") for s in cons) / n
            m[f"{group}.jobs"] = sum(s["jobs"] for s in ops) / n
            m[f"{group}.tasks"] = sum(s["tasks"] for s in ops) / n
            if group == "query_mix":
                m["query_mix.execute_s"] = sum(tracer.value(s, "seconds") for s in sinks) / n
                m["query_mix.construct_jobs"] = sum(s["jobs"] for s in cons) / n
                m["query_mix.exec_run_s"] = sum(s["executorRunTime"] for s in ops) / 1000.0 / n
                m["query_mix.shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in ops) / n
                m["query_mix.spill_bytes"] = sum(
                    s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ops) / n
            else:
                m["versioned.output_bytes"] = sum(s["outputBytes"] for s in ops) / n
        return m


def compare(got, want) -> str | None:
    """None when ``got`` matches ``want``, else what differs: the checks
    ``test_query_matches_oracle`` asserts, with that module's helpers."""
    parity = _oracle_parity()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    kind = lambda dt: "i" if dt.kind == "u" else dt.kind  # noqa: E731
    for c in sorted(got.columns):
        if kind(got[c].dtype) != kind(want[c].dtype):
            return f"{c}: dtype {got[c].dtype} != {want[c].dtype}"
    g, w = parity._canon(got), parity._canon(want)
    for c in g.columns:
        bad = [(i, x, y) for i, (x, y) in enumerate(zip(g[c], w[c])) if not parity._values_equal(x, y)]
        if bad:
            return f"{c}: first mismatches {bad[:3]}"
    return None
