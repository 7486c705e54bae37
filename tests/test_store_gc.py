"""Pins for tools/store_gc.py: live entries (current key prefix, ANY
fingerprint) must survive, orphaned generations and — only with
--tmp-too — in-flight tmp dirs must go, and dry-run must delete
nothing."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*flags, env):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "store_gc.py"),
         *flags],
        capture_output=True, text=True, env=env, cwd=REPO, check=True)


def test_gc_keeps_live_prefixes_and_removes_orphans(tmp_path):
    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import borders_store as obs
    from ecmm428_pycart_spark.datapipe import crawl_store as cs
    from ecmm428_pycart_spark.datapipe import lm_store as ls

    roots = {s: tmp_path / f"{s}_store"
             for s in ("borders", "crawl", "band", "lm")}
    for r in roots.values():
        r.mkdir()

    band_hash = bs._TABLES["documents"].code_hash
    live = [
        roots["borders"] / f"{obs.CUSTOMER.prefix}c9_0_8_ffff",
        # the orders grid's table: the hand-kept prefix list this tool
        # had before the store declarations missed it
        roots["borders"] / f"{obs.ORDERS.prefix}o1500_0_2499_abcd",
        roots["crawl"] / f"{cs.HTML.prefix}d9_0_8_eeee_html",
        roots["band"] / f"v1_{band_hash}_d9_0_8_dddd_bands_documents",
        roots["band"] / f"v1_{band_hash}-c{cs._algo_version()}"
                        f"_d9_0_8_dddd_bands_crawl_html",
        roots["lm"] / f"v1_{ls._algo_version('documents')}"
                      f"_d9_0_8_cccc_lm_documents",
        roots["lm"] / f"v1_{ls._algo_version('documents_dedup')}"
                      f"_d9_0_8_cccc_lm_documents_dedup",
    ]
    dead = [
        roots["borders"] / "v1_c9_0_8",  # pre-r10 format
        roots["crawl"] / "v1_000000000000_d9_0_8_x_html",
        roots["band"] / "v0_stale_d9_0_8_x_bands_documents",
        roots["lm"] / "v1_000000000000_d9_0_8_x_lm_documents",
    ]
    tmpd = roots["crawl"] / f"{cs.HTML.prefix}d9_0_8_eeee_html.tmp.abc123"
    for d in [*live, *dead, tmpd]:
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")

    env = {**os.environ, "SPARK_GRAFT_STORE_ROOT": str(tmp_path)}

    out = _run(env=env).stdout              # dry-run: nothing deleted
    assert all(d.exists() for d in [*live, *dead, tmpd])
    assert out.count("DEAD") == len(dead), out
    assert f"{len(live)} live" in out

    _run("--apply", env=env)                # orphans go, tmp stays
    assert all(d.exists() for d in live) and tmpd.exists()
    assert not any(d.exists() for d in dead)

    _run("--apply", "--tmp-too", env=env)   # now the tmp dir goes too
    assert all(d.exists() for d in live)
    assert not tmpd.exists()
