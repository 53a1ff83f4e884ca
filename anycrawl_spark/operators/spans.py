"""Extraction stage: fetch results -> documents with interleaved spans + links.

The Spark face of the HTML kernel (``functions/htmlmd.py``): one
``mapInPandas`` pass computes title, metadata, markdown, the interleaved
``spans`` payload (input_hint shape) and the DOM-ordered out-link list —
mirroring the reference's single DataExtractor pass that fans out to all
formats concurrently (reference: packages/scrape/src/core/
DataExtractor.ts:230-341). Vectorized: one Python call per Arrow batch.

Output carries ``links: array<string>`` (absolute, raw order) so the link
expansion downstream is a built-in ``posexplode`` (the only table-generating
transform, matching SURVEY §2.10). ``fetch_extract`` can also gate the links
in the same pass (``link_gate``): the crawl's candidate chain then starts
from a JVM ``explode`` and no link crosses into Python a second time.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from anycrawl_spark.functions.htmlmd import extract_document
from anycrawl_spark.schemas import SPAN

EXTRACTED = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovery_seq", T.LongType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)


def _extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if pdf.empty:
            continue
        rows = []
        for r in pdf.itertuples(index=False):
            doc = extract_document(r.html, r.url)
            rows.append(
                {
                    "job_id": r.job_id,
                    "url": r.url,
                    "url_hash": r.url_hash,
                    "host": r.host,
                    "depth": r.depth,
                    "discovery_seq": r.discovery_seq,
                    "status_code": r.status_code,
                    "title": doc["title"],
                    "markdown": doc["markdown"],
                    "spans": doc["spans"],
                    "links": doc["links"],
                }
            )
        yield pd.DataFrame(rows)


def extract(fetched_ok: DataFrame) -> DataFrame:
    """Successful fetch rows (status 200, html non-null) -> EXTRACTED rows."""
    cols = [
        "job_id", "url", "url_hash", "host", "depth", "discovery_seq",
        "status_code", "html",
    ]
    return fetched_ok.select(*cols).mapInPandas(_extract_batch, schema=EXTRACTED)


# --- fused fetch+extract (the hot path) ------------------------------------
# One python stage instead of fetch->Arrow->JVM->Arrow->extract: halves the
# python worker count per task chain (no JVM/py oversubscription at high
# core counts) and never ships raw HTML through Arrow at all.

FETCHED_DOC = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovery_seq", T.LongType()),
        T.StructField("parent_url_hash", T.LongType()),
        T.StructField("round_added", T.IntegerType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("latency_ms", T.IntegerType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)


CAND_LINK = T.StructType(
    [
        T.StructField("ordinal", T.IntegerType()),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
    ]
)

FETCHED_DOC_GATED = T.StructType(
    FETCHED_DOC.fields + [T.StructField("cand_links", T.ArrayType(CAND_LINK))]
)


def _gate_links(link_gate, rows: list[dict]) -> None:
    """Run ``link_gate`` once over every link of the batch and attach each
    row's kept links as ``cand_links`` (``ordinal`` = position in the raw
    ``links`` array, so first-wins order downstream is unchanged)."""
    owner, ordinals, jobs, urls, parents = [], [], [], [], []
    for i, row in enumerate(rows):
        row["cand_links"] = None if row["links"] is None else []
        for k, u in enumerate(row["links"] or ()):
            owner.append(i); ordinals.append(k)
            jobs.append(row["job_id"]); urls.append(u); parents.append(row["url"])
    if not urls:
        return
    g = link_gate(
        pd.Series(jobs, dtype=object), pd.Series(urls, dtype=object),
        pd.Series(parents, dtype=object),
    )
    for i, k, u, h, keep in zip(owner, ordinals, g["url"], g["host"], g["keep"]):
        if keep:
            rows[i]["cand_links"].append({"ordinal": k, "url": u, "host": h})


def fetch_extract(sched: DataFrame, web=None, link_gate=None) -> DataFrame:
    """Scheduled frontier rows -> fetch results + extracted docs in ONE
    python pass. Non-200 rows carry null title/markdown/spans/links.

    ``link_gate``: an optional per-batch candidate gate — the plain function
    behind ``make_candidate_gate(...)`` (its ``.func``), called as
    ``link_gate(job_id, url, parent_url)`` on pandas Series and returning
    ``url``/``host``/``keep`` columns. With it, the output gains
    ``cand_links: array<struct<ordinal, url, host>>`` (the links the gate
    kept, canonical, raw order; null on non-200 rows); without it the schema
    is ``FETCHED_DOC``."""
    from anycrawl_spark import synth

    cfg = web or synth.DEFAULT_WEB
    schema = FETCHED_DOC if link_gate is None else FETCHED_DOC_GATED

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema.fields]
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for r in pdf.itertuples(index=False):
                status = synth.page_status(r.url)
                html = synth.page_html(r.url, cfg)
                row = {
                    "job_id": r.job_id, "url": r.url, "url_hash": r.url_hash,
                    "host": r.host, "depth": r.depth,
                    "discovery_seq": r.discovery_seq,
                    "parent_url_hash": r.parent_url_hash,
                    "round_added": r.round_added, "attempt": r.attempt,
                    "priority": r.priority,
                    "status_code": status,
                    "latency_ms": synth.page_latency_ms(r.url),
                    "size_bytes": len(html),
                    "title": None, "markdown": None, "spans": None, "links": None,
                }
                if status == 200:
                    doc = extract_document(html, r.url)
                    row.update(
                        title=doc["title"], markdown=doc["markdown"],
                        spans=doc["spans"], links=doc["links"],
                    )
                rows.append(row)
            if link_gate is not None:
                _gate_links(link_gate, rows)
            yield pd.DataFrame(rows, columns=cols)

    cols = [
        "job_id", "url", "url_hash", "host", "depth", "discovery_seq",
        "parent_url_hash", "round_added", "attempt", "priority",
    ]
    return sched.select(*cols).mapInPandas(batches, schema=schema)
