"""Garbage-collect orphaned derived-dataset store entries.

Every store entry is named by layout version + producing-code source
hash + input fingerprint (``datapipe/store.py``), so editing a producer
or hardening a fingerprint orphans the old entries: they can never be
SERVED again (the name no longer matches), but they sit on disk
forever — e.g. the round-10 borders key-format change and the round-11
fingerprint hardening each left a generation of unreachable
directories behind.

An entry is LIVE iff some declared table (``store.declared()``) could
construct its name for SOME input: it starts with that table's current
``{layout}_{code-hash}_`` prefix. Entries with live prefixes but
unfamiliar fingerprints are KEPT — other sf_dirs / scratch corpora are
legitimately different fingerprints. ``.tmp.`` directories are
in-flight builds; they are removed only with ``--tmp-too`` (safe on a
quiescent host, not while a build races).

Dry-run by default; pass ``--apply`` to delete. The root is
``SPARK_GRAFT_STORE_ROOT`` (default ``<repo>/out``), as for the stores.

Usage: python tools/store_gc.py [--apply] [--tmp-too]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def live_prefixes() -> dict[str, set[str]]:
    """Store directory → the entry-name prefixes the CURRENT code serves."""
    from ecmm428_pycart_spark.datapipe import store

    live: dict[str, set[str]] = {}
    for table in store.declared():
        live.setdefault(table.directory, set()).add(table.prefix)
    return live


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--apply", action="store_true",
                    help="actually delete (default: dry-run report)")
    ap.add_argument("--tmp-too", action="store_true",
                    help="also remove .tmp. in-flight dirs (only on a "
                         "quiescent host)")
    args = ap.parse_args()

    n_dead = n_live = 0
    for root, prefixes in live_prefixes().items():
        if not os.path.isdir(root):
            continue
        for entry in sorted(os.listdir(root)):
            path = os.path.join(root, entry)
            if not os.path.isdir(path) or entry.startswith("."):
                continue
            if ".tmp." in entry:
                if args.tmp_too:
                    print(f"TMP   {path}")
                    if args.apply:
                        shutil.rmtree(path, ignore_errors=True)
                continue
            if any(entry.startswith(p) for p in prefixes):
                n_live += 1
                continue
            n_dead += 1
            print(f"DEAD  {path}")
            if args.apply:
                shutil.rmtree(path, ignore_errors=True)
    print(f"# {n_live} live, {n_dead} orphaned"
          + ("" if args.apply else " (dry-run; pass --apply to delete)"))


if __name__ == "__main__":
    main()
