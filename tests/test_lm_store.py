"""Pins for the write-once Stupid-Backoff LM count-table store
(datapipe/lm_store) — the fourth derived-dataset store (VERDICT r12
next-1).

Same contract as test_band_store / test_crawl_store: "exactly the
fresh computation's rows, built at most once, atomically". Wrong or
stale count tables would silently shift every LM-quality score
(d37/d43/q95), so:

- both store variants' three subtables are compared row-for-row
  against a same-session fresh ``text.lm_count_tables`` build;
- the downstream scorer is pinned bit-identical: ``bigram_lm_score``
  with store-served counts equals the all-fresh computation on the
  full corpus AND on the dedup variant's corpus (the q95 shape);
- the key folds every upstream kernel source (the ADVICE r11
  staleness class, now standing protocol) and the dedup variant's key
  additionally folds ``exact_dup_groups``;
- the bypass env (fresh path, with and without ``fresh_ref``), the
  build-once property, the lost-race branch, and the non-OSError
  tmp-dir cleanup (the ADVICE r12 injection-point lesson: fail AFTER
  the write so the tmp dir exists) are exercised.
"""

import os

import pytest

from tests.conftest import TESTDATA


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _counts_rows(counts):
    uni, bg, total = counts
    return (_rows(uni), _rows(bg), _rows(total))


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    root = str(tmp_path / "lm_store")
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_STORE_OFF", raising=False)
    return root


def test_store_equals_fresh_both_variants(spark, store_root):
    from ecmm428_pycart_spark.datapipe import lm_store as ls

    for variant in ls._VARIANTS:
        fresh = _counts_rows(ls._fresh_counts(spark, TESTDATA, variant))
        built = ls.count_tables(spark, TESTDATA, variant)  # build+write
        reread = ls.count_tables(spark, TESTDATA, variant)  # pure read
        assert [c for df in built for c in df.columns] == [
            "w", "cu", "w1", "w2", "cb", "cc", "total"]
        assert _counts_rows(built) == fresh, variant
        assert _counts_rows(reread) == fresh, variant
    dirs = [d for d in os.listdir(store_root) if not d.startswith(".")]
    assert len(dirs) == 2 and not any(".tmp." in d for d in dirs)
    for d in dirs:
        # total is NOT stored: re-derived from uni at read so the
        # crossJoin build side stays a provably-1-row Aggregate
        # (test_plan_shapes.py's BNLJ allowlist)
        assert sorted(os.listdir(os.path.join(store_root, d))) == [
            "bg", "uni"]


def test_scores_bit_identical_full_corpus(spark, store_root):
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.datapipe import text
    from ecmm428_pycart_spark.session import load_table

    docs = load_table(spark, TESTDATA, "documents").select(
        "doc_id", "text")
    fresh = text.bigram_lm_score(docs)
    stored = text.bigram_lm_score(docs, counts=ls.count_tables(
        spark, TESTDATA, "documents", fresh_ref=docs))
    assert _rows(stored) == _rows(fresh)


def test_scores_bit_identical_dedup_variant(spark, store_root):
    # the q95 shape: score the exact-dedup survivors against their own
    # counts, tables served from the documents_dedup variant
    from ecmm428_pycart_spark.datapipe import dedup
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.datapipe import text
    from ecmm428_pycart_spark.session import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, TESTDATA, "documents").select(
        "doc_id", "text")
    canon = (dedup.exact_dup_groups(docs)
             .select(F.col("canonical_id").alias("doc_id")))
    corpus = docs.join(canon, "doc_id", "left_semi")
    fresh = text.perplexity_buckets(corpus).select("doc_id", "bucket")
    stored = text.perplexity_buckets(
        corpus, counts=ls.count_tables(
            spark, TESTDATA, "documents_dedup", fresh_ref=corpus)
    ).select("doc_id", "bucket")
    assert _rows(stored) == _rows(fresh)


def test_bypass_env_fresh_paths(spark, store_root, monkeypatch):
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.session import load_table

    monkeypatch.setenv("SPARK_GRAFT_STORE_OFF", "1")
    want = _counts_rows(ls._fresh_counts(spark, TESTDATA, "documents"))
    # without fresh_ref: derives the variant corpus itself
    assert _counts_rows(ls.count_tables(
        spark, TESTDATA, "documents")) == want
    # with fresh_ref: counts over the caller's frame (same content)
    docs = load_table(spark, TESTDATA, "documents").select(
        "doc_id", "text")
    assert _counts_rows(ls.count_tables(
        spark, TESTDATA, "documents", fresh_ref=docs)) == want
    # nothing was written
    assert not os.path.isdir(store_root) or os.listdir(store_root) == []


def test_builds_at_most_once(spark, store_root, monkeypatch):
    from ecmm428_pycart_spark.datapipe import lm_store as ls

    calls = {"n": 0}
    real = ls._fresh_counts

    def counting(spark_, sf_dir_, variant_):
        calls["n"] += 1
        return real(spark_, sf_dir_, variant_)

    monkeypatch.setattr(ls, "_fresh_counts", counting)
    ls.count_tables(spark, TESTDATA, "documents")
    ls.count_tables(spark, TESTDATA, "documents")
    ls.count_tables(spark, TESTDATA, "documents")
    assert calls["n"] == 1


def test_lost_race_reads_winner(spark, store_root, monkeypatch):
    # force the race: os.rename raises OSError AFTER a concurrent
    # winner materialized `final` — the loser must clean its tmp dir
    # and serve the winner's tables
    import os as os_mod

    from ecmm428_pycart_spark.datapipe import lm_store as ls

    final = os.path.join(store_root,
                         ls._entry_key(spark, TESTDATA, "documents"))
    real_rename = os_mod.rename

    def racing_rename(src, dst):
        if dst == final and not os_mod.path.isdir(final):
            real_rename(src, final)  # the "winner" lands first
            raise OSError("injected lost race")
        return real_rename(src, dst)

    monkeypatch.setattr(ls.os, "rename", racing_rename)
    got = ls.count_tables(spark, TESTDATA, "documents")
    want = _counts_rows(ls._fresh_counts(spark, TESTDATA, "documents"))
    assert _counts_rows(got) == want
    leftovers = [d for d in os.listdir(store_root) if ".tmp." in d]
    assert leftovers == [], leftovers


def test_failed_build_cleans_tmp_dir(spark, store_root, monkeypatch):
    # non-OSError failure AFTER the parquet writes completed (the
    # ADVICE r12 injection-point lesson): tmp dir exists, must be gone
    import os as os_mod

    from ecmm428_pycart_spark.datapipe import lm_store as ls

    seen = {}

    def boom(src, dst):
        seen["tmp_existed"] = os_mod.path.isdir(src)
        raise RuntimeError("injected post-write failure")

    monkeypatch.setattr(ls.os, "rename", boom)
    with pytest.raises(RuntimeError, match="injected"):
        ls.count_tables(spark, TESTDATA, "documents")
    assert seen.get("tmp_existed"), "injection fired before the write"
    leftovers = os.listdir(store_root) if os.path.isdir(store_root) else []
    assert leftovers == [], leftovers


def test_algo_key_includes_every_upstream_kernel(spark):
    """The ADVICE r11 staleness class, pinned for the fourth store: a
    tokenizer / pairing / counting / corpus-derivation edit must
    change the key."""
    import inspect

    from ecmm428_pycart_spark.datapipe import dedup
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.datapipe.text import (adjacent_pairs,
                                                    lm_count_tables,
                                                    tokens)

    srcs = ls._algo_sources("documents")
    for dep in (tokens, adjacent_pairs, lm_count_tables,
                ls._base_corpus, ls._fresh_counts):
        assert inspect.getsource(dep) in srcs, dep.__qualname__

    dedup_srcs = ls._algo_sources("documents_dedup")
    assert inspect.getsource(dedup.exact_dup_groups) in dedup_srcs
    assert inspect.getsource(dedup.exact_dup_groups) not in srcs
    assert ls._algo_version("documents") != ls._algo_version(
        "documents_dedup")


def test_variant_keys_distinct_and_validated(spark, store_root):
    from ecmm428_pycart_spark.datapipe import lm_store as ls

    k1 = ls._entry_key(spark, TESTDATA, "documents")
    k2 = ls._entry_key(spark, TESTDATA, "documents_dedup")
    assert k1 != k2
    with pytest.raises(ValueError, match="unknown lm-store variant"):
        ls.count_tables(spark, TESTDATA, "nope")
