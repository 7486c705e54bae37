"""The write-once store protocol (datapipe/store.py), pinned once for
every declared table: a second call serves the entry without
rebuilding, a failed build re-raises and leaves no ``.tmp.`` dir, and a
lost build race reads the winner's entry.

Per-table contents (store == fresh) stay pinned in each store's own
test module."""

import dataclasses
import os
import shutil

import pytest

from ecmm428_pycart_spark.datapipe import store
from tests.conftest import TESTDATA

TABLES = store.declared()


def _id(table):
    return f"{table.store}-{table.name}"


@pytest.fixture()
def root(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_STORE_OFF", raising=False)
    return tmp_path


def _tmp_dirs(root):
    return [e for d in root.iterdir() for e in d.iterdir()
            if ".tmp." in e.name]


def test_every_store_module_declares_tables():
    assert {(t.store, t.name) for t in TABLES} == {
        ("borders", "customer"), ("borders", "orders"),
        ("crawl", "html"), ("crawl", "links"), ("crawl", "media"),
        ("band", "documents"), ("band", "crawl_html"),
        ("lm", "documents"), ("lm", "documents_dedup")}


@pytest.mark.parametrize("table", TABLES, ids=_id)
def test_second_call_does_not_rebuild(spark, root, table):
    writes = []

    def counting_write(spark_, sf_dir, path):
        writes.append(path)
        table.write(spark_, sf_dir, path)

    counted = dataclasses.replace(table, write=counting_write)
    first = store.served(spark, TESTDATA, counted)
    assert store.served(spark, TESTDATA, counted) == first
    assert len(writes) == 1 and os.path.isdir(first)
    assert os.path.basename(first) == table.entry(spark, TESTDATA)
    assert _tmp_dirs(root) == []


@pytest.mark.parametrize("table", TABLES, ids=_id)
def test_failed_build_reraises_and_leaves_no_tmp_dir(spark, root, table,
                                                     monkeypatch):
    # fail AFTER the write (the tmp dir exists on disk) with a
    # non-OSError; upstream entries a build reads (crawl html under the
    # band crawl_html variant) still land normally
    final = os.path.join(table.directory, table.entry(spark, TESTDATA))
    real_rename = os.rename
    seen = {}

    def boom(src, dst):
        if dst != final:
            return real_rename(src, dst)
        seen["tmp_existed"] = os.path.isdir(src)
        raise RuntimeError("injected post-write failure")

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(RuntimeError, match="injected"):
        store.served(spark, TESTDATA, table)
    assert seen.get("tmp_existed"), "injection fired before the write"
    assert not os.path.exists(final)
    assert _tmp_dirs(root) == []


@pytest.mark.parametrize("table", TABLES, ids=_id)
def test_lost_race_reads_winner(spark, root, table, monkeypatch):
    # a concurrent writer lands its entry between this writer's
    # existence check and its rename: the rename then fails (the
    # target is a non-empty dir), and the loser must clean its tmp dir
    # and serve the winner's entry
    final = os.path.join(table.directory, table.entry(spark, TESTDATA))
    real_rename = os.rename

    def racing_rename(src, dst):
        if dst == final and not os.path.isdir(final):
            shutil.copytree(src, final)
            open(os.path.join(final, "WINNER"), "w").close()
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    assert store.served(spark, TESTDATA, table) == final
    assert os.path.exists(os.path.join(final, "WINNER"))
    assert _tmp_dirs(root) == []
