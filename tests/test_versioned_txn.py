"""Transactional writes on versioned tables: the idempotent
txnAppId/txnVersion contract (a replayed batch is a silent skip —
nothing stages, the table stays exactly-once — bounded by vacuum's
retention window, a documented caveat), the abort rule of the single
commit path (a write that fails before its manifest commits leaves no
staged data behind), and a guard that keeps that path single.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned as V
from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    create_branch,
    delete_version,
    merge_version,
    overwrite_partitions,
    read_version,
    update_version,
    vacuum,
    versions,
    write_version,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def _ids(spark, table, **kw):
    return sorted(r["id"] for r in read_version(spark, table, **kw).collect())


def _data_files(table):
    return sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(table, "data"))
        for f in fs
        if f.endswith(".parquet")
    )


def test_replayed_batch_is_silent_skip(spark, table):
    write_version(spark, _df(spark, 0, 10), table, txn_app="etl", txn_version=0)
    v2 = write_version(
        spark, _df(spark, 10, 20), table, mode="append",
        txn_app="etl", txn_version=1,
    )
    before = _data_files(table)
    # the restarted stream re-offers batch 1 (possibly recomputed)
    v_replay = write_version(
        spark, _df(spark, 10, 20), table, mode="append",
        txn_app="etl", txn_version=1,
    )
    assert v_replay == v2 == 2
    assert len(versions(table)) == 2  # no third commit
    assert _data_files(table) == before  # nothing staged
    assert _ids(spark, table) == list(range(20))  # exactly-once


def test_older_txn_skips_newer_applies(spark, table):
    write_version(spark, _df(spark, 0, 5), table, txn_app="a", txn_version=7)
    write_version(
        spark, _df(spark, 5, 8), table, mode="append",
        txn_app="a", txn_version=3,  # stale replay from before a restart
    )
    assert _ids(spark, table) == list(range(5))
    write_version(
        spark, _df(spark, 5, 8), table, mode="append",
        txn_app="a", txn_version=8,
    )
    assert _ids(spark, table) == list(range(8))


def test_apps_are_independent(spark, table):
    write_version(spark, _df(spark, 0, 5), table, txn_app="a", txn_version=1)
    write_version(
        spark, _df(spark, 5, 10), table, mode="append",
        txn_app="b", txn_version=1,  # same number, different app: applies
    )
    assert _ids(spark, table) == list(range(10))


def test_txn_args_come_together(spark, table):
    with pytest.raises(ValueError, match="come together"):
        write_version(spark, _df(spark, 0, 5), table, txn_app="a")


def test_vacuum_retention_bounds_replay_memory(spark, table):
    """Documented caveat: a txn recorded only in a vacuumed manifest is
    forgotten — retention must outlast the longest replay gap."""
    write_version(spark, _df(spark, 0, 5), table)
    write_version(
        spark, _df(spark, 5, 10), table, mode="append",
        txn_app="etl", txn_version=1,
    )
    write_version(spark, _df(spark, 10, 15), table, mode="append")
    vacuum(table, keep_last=1)  # drops the txn-carrying v2
    write_version(
        spark, _df(spark, 5, 10), table, mode="append",
        txn_app="etl", txn_version=1,
    )
    # the replay RE-APPLIED: ids 5..9 now duplicated — the caveat, pinned
    got = sorted(r["id"] for r in read_version(spark, table).collect())
    assert got == sorted(list(range(15)) + list(range(5, 10)))


def test_txn_on_branch_chain(spark, table):
    write_version(spark, _df(spark, 0, 5), table)
    create_branch(table, "wip")
    write_version(
        spark, _df(spark, 5, 8), table, mode="append", branch="wip",
        txn_app="etl", txn_version=1,
    )
    v = write_version(
        spark, _df(spark, 5, 8), table, mode="append", branch="wip",
        txn_app="etl", txn_version=1,
    )
    assert v == 2
    assert _ids(spark, table, branch="wip") == list(range(8))
    # main never saw the txn: the same pair applies there independently
    write_version(
        spark, _df(spark, 100, 102), table, mode="append",
        txn_app="etl", txn_version=1,
    )
    assert 100 in _ids(spark, table)


def test_racing_replay_of_the_same_txn_is_a_silent_skip(spark, table, monkeypatch):
    """A writer whose pre-stage check ran before a racing writer landed
    the SAME (txn_app, txn_version) unwinds at commit time: nothing
    commits and its staging is removed."""
    write_version(spark, _df(spark, 0, 10), table)
    real = V._last_txn_version

    def racing(table_dir, app, branch=None):
        monkeypatch.setattr(V, "_last_txn_version", real)
        write_version(
            spark, _df(spark, 10, 20), table, mode="append",
            txn_app="etl", txn_version=1,
        )
        return None  # the check ran before the racing commit landed

    monkeypatch.setattr(V, "_last_txn_version", racing)
    v = write_version(
        spark, _df(spark, 10, 20), table, mode="append",
        txn_app="etl", txn_version=1,
    )
    assert v == 2 and len(versions(table)) == 2
    assert _ids(spark, table) == list(range(20))  # exactly-once
    assert len(os.listdir(os.path.join(table, "data"))) == 2


def _referenced_dirs(table, kind):
    """Top-level staging dirs under ``table/kind`` that a manifest
    references (a partitioned staging nests its files one level down)."""
    root = os.path.realpath(os.path.join(table, kind))
    out = set()
    for v in versions(table):
        m = V._load_manifest(table, v["version"])
        for f in m["files"] + (m.get("change_files") or []):
            rel = os.path.relpath(f, root)
            if not rel.startswith(".."):
                out.add(rel.split(os.sep)[0])
    return out


_FAILING_DML = {
    "merge": lambda spark, t: merge_version(
        spark,
        spark.range(0, 6).select(
            "id", F.lit(-1).cast("long").alias("v"), (F.col("id") % 2).alias("p")
        ),
        t, keys=["id"], change_files=True,
    ),
    "delete": lambda spark, t: delete_version(
        spark, t, "id % 5 = 0", change_files=True
    ),
    "update": lambda spark, t: update_version(
        spark, t, "id < 10", {"v": "v + 1"}, change_files=True
    ),
    "replace_where": lambda spark, t: overwrite_partitions(
        spark,
        spark.range(100, 110).select(
            "id", (F.col("id") * 2).alias("v"), F.lit(0).cast("long").alias("p")
        ),
        t, change_files=True,
    ),
}


@pytest.mark.parametrize("op", sorted(_FAILING_DML))
def test_failed_change_write_leaves_no_staged_data(spark, table, monkeypatch, op):
    """A step failing after the data staging (here the change-file
    write) aborts the commit AND removes every staging — vacuum never
    sweeps data/, so a leaked staging would be unreclaimable."""
    write_version(
        spark,
        _df(spark, 0, 40).withColumn("p", F.col("id") % 2).repartition(2),
        table,
        partition_by=["p"],
    )

    def boom(*args, **kwargs):
        raise RuntimeError("injected change-file failure")

    monkeypatch.setattr(V, "_write_change_files", boom)
    with pytest.raises(RuntimeError, match="injected"):
        _FAILING_DML[op](spark, table)
    assert [v["version"] for v in versions(table)] == [1]
    for kind in ("data", "_change_data"):
        d = os.path.join(table, kind)
        on_disk = set(os.listdir(d)) if os.path.isdir(d) else set()
        assert on_disk <= _referenced_dirs(table, kind), kind


def test_only_the_transaction_commits():
    """Every manifest commit goes through ``_Txn``: no other function
    may call the low-level link loop (a new DML would otherwise bring
    back a hand-written commit closure) or raise the conflict itself."""
    with open(V.__file__) as fh:
        tree = ast.parse(fh.read())
    commit_users, conflict_raisers = set(), set()

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                inner = scope + (child.name,)
            if isinstance(child, ast.Name) and child.id == "_commit":
                commit_users.add(".".join(scope))
            if isinstance(child, ast.Raise) and "CommitConflict" in ast.dump(child):
                conflict_raisers.add(".".join(scope))
            visit(child, inner)

    visit(tree, ())
    assert commit_users == {"_Txn.commit"}
    assert conflict_raisers == {"_Txn._check"}
