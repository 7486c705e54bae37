"""Write-once store for the crawl family's shared extraction passes
(protocol: ``datapipe/store.py``).

Round-10 performance program (VERDICT r9 next-3 — the borders-store
move, applied again): the crawl-macro queries each re-run the SAME
corpus-linear Arrow extraction over ``documents`` before doing any of
their own work:

- q133 (crawl pipeline) and q137 (crawl search) both run the WARC
  capture + ISO 28500 walk + stdlib-html.parser visible-text
  extraction (``multimodal.synth_warc_html_payload`` →
  ``multimodal.warc_html_extract``);
- d93 (outlink graph), d94 (crawl frontier) and g41 (host PageRank)
  each run the real href extraction (``text.outlink_host_edges``);
- m52 (media dispatch) runs the WARC walk + magic-byte sniff +
  mixed-media decode (``multimodal.synth_warc_media_payload`` →
  ``multimodal.warc_media_extract``).

At 100 TB you run the CPU-linear decode ONCE and land the extracted
corpus as a doc_id-clustered columnar table — exactly what
Common-Crawl-scale pipelines do (WARC → WET/WAT derived tables). This
module declares three such tables: ``html`` (doc_id, source, text,
n_links, n_records), ``links`` (doc_id, src_host, dst_host — one row
per extracted href) and ``media`` (doc_id, source, media_type, n_units,
sum_val, n_records, n_responses), each built independently and at most
once, hashed + sorted by ``doc_id`` with a corpus-scaled file count.

Each table holds EXACTLY the fresh extraction's rows (pinned by
tests/test_crawl_store.py). Entries are keyed by (a) an
order-insensitive content digest of ``documents``, so a regenerated or
edited corpus re-materializes, and (b) the source of the multimodal +
text modules and this module's builders, so editing any extractor
invalidates old entries (the ADVICE r9 staleness class, closed here
from day one). The band and lm stores key their corpus-derived tables
by the same ``documents`` fingerprint.
"""

from __future__ import annotations

import inspect
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecmm428_pycart_spark.datapipe import store
from ecmm428_pycart_spark.session import load_table

# content fingerprint of the documents table per sf_dir, memoized per
# process so repeated calls in one gate/bench session pay it once
_FP_MEMO: dict[str, str] = {}


def _algo_sources() -> list[str]:
    """Everything that determines the stored rows: the whole
    multimodal module (WARC synth/walk, html extraction, media
    decoders), the whole text module (outlink_host_edges, html_to_text
    and their helpers), and this module's fresh builders. Any
    extractor edit changes the key."""
    from ecmm428_pycart_spark.datapipe import multimodal
    from ecmm428_pycart_spark.datapipe import text as text_mod

    return [
        inspect.getsource(multimodal),
        inspect.getsource(text_mod),
        inspect.getsource(_fresh_html),
        inspect.getsource(_fresh_links),
        inspect.getsource(_fresh_media),
    ]


def _algo_version() -> str:
    return HTML.code_hash


def _fingerprint(spark: SparkSession, sf_dir: str) -> str:
    """Order-insensitive content digest of ``documents``: count +
    min/max doc_id + sum and bit_xor of a per-row crc32 over an
    INJECTIVE encoding of (doc_id, source, text). One cheap native
    scan — far below the Arrow extraction it guards — and it pins the
    CONTENT, not just the key range, so two corpora with equal shape
    but different text never collide onto one store entry.

    The per-row encoding is null-guarded and length-prefixed (ADVICE
    r10): NULL encodes as ``~`` and a value as ``<len>:<value>``, so a
    NULL source vs NULL text, or a ``|`` embedded in a field, can no
    longer produce the digest another corpus produces (the old
    ``concat_ws('|', ...)`` both dropped NULLs and left field
    boundaries ambiguous)."""

    def _field(name: str):
        s = F.col(name).cast("string")
        return F.when(s.isNull(), F.lit("~")).otherwise(
            F.concat(F.length(s).cast("string"), F.lit(":"), s))

    return store.fingerprint(_FP_MEMO, sf_dir, "d", lambda: (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("k"),
                F.crc32(F.concat(_field("doc_id"), _field("source"),
                                 _field("text"))).alias("c"))), digest="c")


def _layout_files(spark: SparkSession, sf_dir: str) -> int:
    return store.layout_files(_fingerprint(spark, sf_dir))


def _fresh_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q133/q137 ingestion prefix: WARC capture → ISO 28500 walk →
    html.parser visible-text extraction, one zero-shuffle Arrow pass.
    Columns (doc_id, source, text, n_links, n_records) where ``text``
    is the EXTRACTED text."""
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    return (docs
            .withColumn("payload", multimodal.synth_warc_html_payload(
                F.col("doc_id"), F.col("text")))
            .withColumn("x", multimodal.warc_html_extract("payload"))
            .select("doc_id", "source",
                    F.col("x.ext_text").alias("text"),
                    "x.n_links", "x.n_records"))


def _fresh_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d93/d94/g41 edge feed: real href extraction over each
    doc's outlink page — one row per (doc, extracted dst_host)."""
    from ecmm428_pycart_spark.datapipe.text import outlink_host_edges

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text")
    return outlink_host_edges(docs).select(
        "doc_id", "src_host", "dst_host")


def _fresh_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The m52 binary branch: WARC walk → magic-byte sniff → real
    mixed-media decode (QOI/BMP/WAV/TIFF by doc_id % 4), flattened."""
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    return (docs
            .withColumn("payload",
                        multimodal.synth_warc_media_payload(
                            F.col("doc_id")))
            .withColumn("s", multimodal.warc_media_extract("payload"))
            .select("doc_id", "source",
                    F.col("s.media_type").alias("media_type"),
                    F.col("s.n_units").alias("n_units"),
                    F.col("s.sum_val").alias("sum_val"),
                    F.col("s.n_records").alias("n_records"),
                    F.col("s.n_responses").alias("n_responses")))


def _doc_clustered(fresh: Callable) -> store.Write:
    return lambda spark, sf_dir, path: store.write_clustered(
        fresh(spark, sf_dir), path, _layout_files(spark, sf_dir), "doc_id")


HTML, LINKS, MEDIA = (
    store.declare(name=kind, store="crawl", suffix=kind,
                  sources=_algo_sources, fingerprint=_fingerprint,
                  write=_doc_clustered(fresh))
    for kind, fresh in (("html", _fresh_html), ("links", _fresh_links),
                        ("media", _fresh_media)))


def crawl_html(spark: SparkSession, sf_dir: str,
               checkpoint_if_fresh: bool = False) -> DataFrame:
    """The extracted-HTML corpus (doc_id, source, text, n_links,
    n_records), from the write-once store; values identical to the
    fresh extraction. ``checkpoint_if_fresh`` preserves the pre-store
    multi-branch shape when the store is bypassed (q133 fans the
    corpus into audit + filter branches — without the store that pass
    must still run only once)."""
    if store.off():
        df = _fresh_html(spark, sf_dir)
        return df.localCheckpoint(eager=True) if checkpoint_if_fresh else df
    return spark.read.parquet(store.served(spark, sf_dir, HTML))


def crawl_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extracted outlink edges (doc_id, src_host, dst_host), one
    row per href, from the write-once store."""
    if store.off():
        return _fresh_links(spark, sf_dir)
    return spark.read.parquet(store.served(spark, sf_dir, LINKS))


def crawl_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decoded media roll-up feed (doc_id, source, media_type,
    n_units, sum_val, n_records, n_responses), from the store."""
    if store.off():
        return _fresh_media(spark, sf_dir)
    return spark.read.parquet(store.served(spark, sf_dir, MEDIA))
