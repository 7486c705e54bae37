"""The write-once store protocol behind every derived-dataset store
(``borders_store``, ``crawl_store``, ``band_store``, ``lm_store``).

Several registry queries re-derive the SAME table before doing any of
their own work: a borders graph, an extracted crawl corpus, a MinHash
band index, LM count tables. The reference derives per call
(``pycart/border_util.py:51,77`` rebuilds the Queen borders on every
``dorling()``) — right for an 852-line single-node library, wrong at
cluster scale, where you land the derived table once, laid out by its
consumers' key, and every downstream job starts from a columnar scan.

A store module only DECLARES its tables (``declare``): a fingerprint
of the input data, the producing code's sources, and a function that
writes the table into a directory. This module owns the rest:

- Root: ``SPARK_GRAFT_STORE_ROOT`` (default ``<repo>/out``); a store's
  entries live in ``<root>/<store>_store``.
- Entry name: ``{layout}_{code-hash}_{fingerprint}[_{suffix}]``. The
  code hash is a sha256 of the producing sources joined with "\\n", in
  declared order and memoized per process, so editing any producer
  changes the name and a stale entry is never served silently. A table
  built from another table's output also folds that table's hash in,
  as ``{hash}-c{upstream hash}``. The fingerprint is a digest of the
  input's CONTENT, not its path, so a regenerated input re-materializes.
- Atomic, race-safe builds: a writer builds into a uuid tmp dir and
  ``os.rename``s it into place, so no reader sees a partial entry. A
  lost race (another process renamed first) removes its tmp dir and
  reads the winner's entry; a failed build removes its tmp dir and
  re-raises. A killed writer's ``.tmp.`` dir is removed by
  ``tools/store_gc.py --tmp-too``, which lists live entries from the
  same declarations.
- ``SPARK_GRAFT_STORE_OFF=1`` bypasses every store: each reader
  computes its table fresh and nothing touches disk.

Correctness contract for every table: an entry holds EXACTLY the fresh
build's rows, so every consumer's oracle is unchanged (pinned per table
by tests/test_*_store.py, the protocol once for all tables by
tests/test_store.py).
"""

from __future__ import annotations

import hashlib
import importlib
import os
import pkgutil
import shutil
import uuid
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LAYOUT_VERSION = "v1"
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
_DECLARED: list[Table] = []

# builds a table into a directory: (spark, sf_dir, path) -> None
Write = Callable[[SparkSession, str, str], None]


def off() -> bool:
    return os.environ.get("SPARK_GRAFT_STORE_OFF") == "1"


def root() -> str:
    return (os.environ.get("SPARK_GRAFT_STORE_ROOT")
            or os.path.join(_REPO, "out"))


@dataclass(frozen=True, eq=False)
class Table:
    """One derived table of a store; see the module docstring."""
    name: str
    store: str
    sources: Callable[[], list[str]]
    fingerprint: Callable[[SparkSession, str], str]
    write: Write
    suffix: str = ""
    reads: Table | None = None      # upstream table whose output it reads

    @cached_property
    def code_hash(self) -> str:
        src = "\n".join(self.sources())
        h = hashlib.sha256(src.encode()).hexdigest()[:12]
        return f"{h}-c{self.reads.code_hash}" if self.reads else h

    @property
    def directory(self) -> str:
        return os.path.join(root(), f"{self.store}_store")

    @property
    def prefix(self) -> str:
        """What every entry the current code builds starts with."""
        return f"{_LAYOUT_VERSION}_{self.code_hash}_"

    def entry(self, spark: SparkSession, sf_dir: str) -> str:
        name = self.prefix + self.fingerprint(spark, sf_dir)
        return f"{name}_{self.suffix}" if self.suffix else name


def declare(**fields) -> Table:
    table = Table(**fields)
    _DECLARED.append(table)
    return table


def declared() -> list[Table]:
    """Every table of every ``datapipe/*_store`` module."""
    from ecmm428_pycart_spark import datapipe

    for mod in pkgutil.iter_modules(datapipe.__path__):
        if mod.name.endswith("_store"):
            importlib.import_module(f"{datapipe.__name__}.{mod.name}")
    return list(_DECLARED)


def served(spark: SparkSession, sf_dir: str, table: Table) -> str:
    """The directory of ``table``'s entry for ``sf_dir``, built first if
    it does not exist yet."""
    final = os.path.join(table.directory, table.entry(spark, sf_dir))
    if not os.path.isdir(final):
        tmp = f"{final}.tmp.{uuid.uuid4().hex[:12]}"
        try:
            table.write(spark, sf_dir, tmp)
            os.rename(tmp, final)
        except OSError:
            # lost a concurrent build race (final now exists) — read
            # the winner's entry; anything else re-raises
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(final):
                raise
        except Exception:
            # a failed Spark write raises Py4JJavaError, not OSError —
            # don't leak the uuid tmp dir
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    return final


def fingerprint(memo: dict[str, str], sf_dir: str, tag: str,
                keys: Callable[[], DataFrame], digest: str = "k") -> str:
    """``{tag}{count}_{min k}_{max k}_{digest}`` over the frame
    ``keys()`` (a long column ``k``), memoized per sf_dir in ``memo``.
    The digest is an order-insensitive sum + bit_xor of column
    ``digest``, so two inputs with equal count/min/max but different key
    sets (e.g. {1,2,4,5} vs {1,3,4,5}) never collide onto one entry."""
    key = os.path.abspath(sf_dir)
    if key not in memo:
        row = (keys()
               .agg(F.count(F.lit(1)).alias("n"),
                    F.min("k").alias("lo"),
                    F.max("k").alias("hi"),
                    F.sum(digest).alias("s"),
                    F.expr(f"bit_xor({digest})").alias("x")).collect()[0])
        h = hashlib.sha256(f"{row['s']}_{row['x']}".encode()).hexdigest()
        memo[key] = f"{tag}{row['n']}_{row['lo']}_{row['hi']}_{h[:10]}"
    return memo[key]


def layout_files(fp: str) -> int:
    """Entry file count scaled with input size (VERDICT r10 next-6):
    ~one file per 50k rows with a floor of 8, so a sim-sf1+ corpus keeps
    scan parallelism instead of funneling through a fixed 8-file layout,
    while the small test corpora don't fragment into thousands of tiny
    files. The row count is the fingerprint's (``<tag><n>_...``)."""
    return max(8, int(fp.split("_")[0][1:]) // 50_000)


def write_clustered(df: DataFrame, path: str, n_files: int,
                    *cols: str) -> None:
    """Write ``df`` as ``n_files`` parquet files hashed on ``cols[0]``,
    rows sorted by ``cols`` within each: the local stand-in for
    ``bucketBy`` into a catalog table, which is the cluster deployment
    (local gate runs must not depend on a Hive metastore the driver's
    plain session may not have)."""
    (df.repartition(n_files, cols[0]).sortWithinPartitions(*cols)
     .write.mode("overwrite").parquet(path))
