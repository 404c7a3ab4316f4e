"""The extraction operator: vectorized Arrow-batched UDF stage.

This is the Spark expression of the reference's core extractor chain
O3->O9->O13 (services/file_processor.py dispatch, the Gemini call at
services/gemini_service.py:61-146 replaced by the deterministic oracle,
schema projection at services/business_license_processor.py:233-239).

Per BASELINE.json ``input_hint``: all hot-path work runs inside
``mapInArrow`` over Arrow record batches of the BinaryType ``html``
column — there is **no per-row Python UDF dispatch**; per-document
Python inside the batch kernel is the allowed pattern (SURVEY.md
§2.3).  The kernel is the *same* function as the pytest oracle
(`ocr_spark.extractor.core.extract_bytes`), which is what makes
byte-equality structural rather than aspirational.

Every other per-document operator (the head/link/date/charset side
operators here, and the structure, media, caption and OCR operators)
runs through the one shared batch path, :func:`map_payloads`.  Only
:func:`extract_pages`, the job's hot path, keeps its own kernel: it
assembles the spans column from flat arrays.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.extractor.core import (decode_html, extract_bytes,
                                      extract_hreflang, extract_http_equiv,
                                      extract_jsonld, extract_meta,
                                      extract_meta_kv, extract_microdata,
                                      extract_publish_date,
                                      extract_rel_links)

__all__ = ["extract_pages", "extract_meta_pages", "extract_jsonld_pages",
           "extract_microdata_pages", "rel_links_pages",
           "http_equiv_pages",
           "EXTRACT_RESULT_FIELDS", "META_RESULT_FIELDS",
           "JSONLD_RESULT_FIELDS", "MICRODATA_RESULT_FIELDS",
           "REL_LINK_RESULT_FIELDS", "HTTP_EQUIV_RESULT_FIELDS",
           "SPAN_TYPE"]

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.LongType(), False),
            T.StructField("end", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
        ]
    )
)

# Output contract of the extraction stage (FIXTURES.md §2).
EXTRACT_RESULT_FIELDS = [
    T.StructField("text", T.StringType(), True),
    T.StructField("spans", SPAN_TYPE, True),
    T.StructField("n_blocks", T.IntegerType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("error_msg", T.StringType(), True),
    T.StructField("doc_kind", T.StringType(), True),
    T.StructField("bytes_in", T.LongType(), True),
    T.StructField("bytes_out", T.LongType(), True),
    T.StructField("extract_ms", T.LongType(), True),
]


def extract_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
    all_pages: bool = False,
    with_spans: bool = True,
    dedup_first: str | None = None,
    profiles: dict | None = None,
    profile_col: str | None = None,
) -> DataFrame:
    """Run the deterministic extractor over a pages DataFrame.

    Input: any DataFrame with a BinaryType ``payload_col`` plus the
    ``passthrough`` columns (carried through untouched — keep this list
    minimal so Catalyst prunes the parquet scan to exactly what the
    stage needs).  Output: passthrough columns + EXTRACT_RESULT_FIELDS.

    ``dedup_first``: name of a key column (must be in ``passthrough``)
    for streaming keep-FIRST-per-key dedup inside the kernel.  Contract:
    the input is partitioned by a pure function of the key (all captures
    of a url share a partition) and ``sortWithinPartitions(key, ...)``
    has placed the winning capture first in each key group.  This turns
    keep-latest dedup into an O(1)-state streaming filter that rides the
    one html exchange instead of costing its own shuffle of the multi-MB
    payload column (SURVEY.md §4.2 "never shuffle html twice").

    ``profiles``/``profile_col``: per-key extraction profiles (the
    reference's per-country config, O7/O8 — normalized exactly per
    config.py:31-42 rules and shipped to executors with the task
    closure, the broadcast-dim pattern).  Each row resolves
    ``profiles[lower(strip(row[profile_col]))]`` falling back to
    ``profiles['default']`` then engine defaults; the resolved dict
    tunes the HTML classifier thresholds (core._classify).

    ``extract_ms`` is wall-clock metadata (the analogue of the
    reference's declared-but-unused processing_duration_ms,
    models.py:15-18) and is excluded from determinism contracts.
    """
    if dedup_first is not None and dedup_first not in passthrough:
        raise ValueError(f"dedup_first={dedup_first!r} must be in passthrough")
    if profile_col is not None and profile_col not in passthrough:
        raise ValueError(f"profile_col={profile_col!r} must be in passthrough")
    if profiles is not None:
        from ocr_spark.extractor.profiles import normalize_config
        norm_profiles = normalize_config(profiles)
        default_profile = norm_profiles.get("default")
    else:
        norm_profiles, default_profile = {}, None
    in_fields = [df.schema[c] for c in passthrough]
    result_fields = list(EXTRACT_RESULT_FIELDS)
    if not with_spans:
        result_fields = [f for f in result_fields if f.name != "spans"]
    out_schema = T.StructType(in_fields + result_fields)
    cols = list(passthrough) + [payload_col]

    # Arrow-native kernel (mapInArrow, not mapInPandas): passthrough
    # columns are forwarded zero-copy from the input RecordBatch, and
    # the spans column is assembled as flat (start, end, kind) arrays +
    # list offsets — building a Python dict per span and letting pandas
    # ->Arrow inference walk it measured ~2x the whole stage's cost on
    # boilerplate-heavy corpora.
    def kernel(batches):
        import pyarrow as pa  # executor-side import
        from pyspark.sql.pandas.types import to_arrow_type

        types = {f.name: to_arrow_type(f.dataType) for f in result_fields}
        span_fields = list(to_arrow_type(SPAN_TYPE).value_type)
        state = {"prev_key": None}  # streaming dedup; partition == key scope
        for batch in batches:
            if dedup_first is not None and batch.num_rows:
                keys = batch.column(cols.index(dedup_first)).to_pylist()
                prev = state["prev_key"]
                keep = [k != prev if i == 0 else k != keys[i - 1]
                        for i, k in enumerate(keys)]
                state["prev_key"] = keys[-1]
                if not all(keep):
                    batch = batch.filter(pa.array(keep, pa.bool_()))
            n = batch.num_rows
            if n == 0:
                continue
            payloads = batch.column(cols.index(payload_col)).to_pylist()
            if profile_col is not None and norm_profiles:
                row_profiles = [
                    norm_profiles.get(str(k).lower().strip(), default_profile)
                    if k is not None else default_profile
                    for k in batch.column(cols.index(profile_col)).to_pylist()
                ]
            else:
                row_profiles = [default_profile] * n
            texts, n_blocks, status, error_msg = [], [], [], []
            doc_kind, bytes_in, bytes_out, extract_ms = [], [], [], []
            s_start, s_end, s_kind = [], [], []
            s_offsets = [0]
            for payload, prof in zip(payloads, row_profiles):
                t0 = time.perf_counter()
                r = extract_bytes(payload if payload is not None else b"",
                                  all_pages=all_pages, profile=prof)
                dt_ms = int((time.perf_counter() - t0) * 1000)
                texts.append(r["text"])
                if with_spans:
                    for s, e, k in r["spans"]:
                        s_start.append(s)
                        s_end.append(e)
                        s_kind.append(k)
                    s_offsets.append(len(s_start))
                n_blocks.append(r["n_blocks"])
                status.append(r["status"])
                error_msg.append(r["error_msg"])
                doc_kind.append(r["doc_kind"])
                bytes_in.append(len(payload) if payload is not None else 0)
                bytes_out.append(len(r["text"].encode("utf-8")))
                extract_ms.append(dt_ms)
            vals = {"text": texts, "n_blocks": n_blocks, "status": status,
                    "error_msg": error_msg, "doc_kind": doc_kind,
                    "bytes_in": bytes_in, "bytes_out": bytes_out,
                    "extract_ms": extract_ms}
            flat = {"start": s_start, "end": s_end, "kind": s_kind}
            arrays = [batch.column(cols.index(c)) for c in passthrough]
            for f in result_fields:
                if f.name != "spans":
                    arrays.append(pa.array(vals[f.name], types[f.name]))
                    continue
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(s_offsets, pa.int32()),
                    pa.StructArray.from_arrays(
                        [pa.array(flat[sf.name], sf.type) for sf in span_fields],
                        fields=span_fields),
                    type=types["spans"]))
            yield pa.RecordBatch.from_arrays(arrays, out_schema.fieldNames())

    return df.select(*cols).mapInArrow(kernel, schema=out_schema)


def map_payloads(df: DataFrame, fn, fields: list[T.StructField],
                 payload_col: str, passthrough: tuple[str, ...],
                 explode: bool = False,
                 error_status: str | None = None) -> DataFrame:
    """The one Arrow batch path under every "one payload in, typed rows
    out" operator: ``mapInArrow`` over ``passthrough + [payload_col]``,
    ``fn(payload)`` per row, no pandas frame and no per-row UDF
    dispatch.

    ``fn`` gets the payload as a Python value (``None`` for NULL) and
    returns a dict keyed by the ``fields`` names — absent keys are NULL,
    extra keys are ignored — or, with ``explode``, an iterable of such
    dicts (zero or more rows per payload).  Each output column takes its
    Arrow type from its declared ``StructField``.  Passthrough columns
    are forwarded from the input batch without a copy (``take`` per
    emitted row when exploding), so the payload never shuffles and only
    the skinny result rows move downstream.

    ``error_status``: when set, an exception from ``fn`` becomes ONE row
    whose fields are all NULL except ``status = error_status`` and
    ``error_msg = "<ExcType>: <message>"`` — the engine's error-rows,
    not-exceptions taxonomy.  When unset, exceptions fail the task."""
    cols = [*passthrough, payload_col]
    out_schema = T.StructType([df.schema[c] for c in passthrough] + fields)

    def kernel(batches):
        import pyarrow as pa  # executor-side import
        from pyspark.sql.pandas.types import to_arrow_type

        result = pa.schema([(f.name, to_arrow_type(f.dataType))
                            for f in fields])
        n_pass = len(passthrough)
        for batch in batches:
            rows: list[dict] = []
            idx: list[int] = []
            for i, payload in enumerate(batch.column(n_pass).to_pylist()):
                try:
                    got = list(fn(payload)) if explode else [fn(payload)]
                except Exception as exc:
                    if error_status is None:
                        raise
                    got = [{"status": error_status,
                            "error_msg": f"{type(exc).__name__}: {exc}"}]
                rows += got
                idx += [i] * len(got)
            arrays = [batch.column(j) for j in range(n_pass)]
            if explode:
                take = pa.array(idx, pa.int64())
                arrays = [a.take(take) for a in arrays]
            out = pa.RecordBatch.from_pylist(rows, schema=result)
            yield pa.RecordBatch.from_arrays(
                arrays + out.columns, [*passthrough, *result.names])

    return df.select(*cols).mapInArrow(kernel, schema=out_schema)


META_RESULT_FIELDS = [
    T.StructField("title", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("canonical", T.StringType(), True),
    T.StructField("og_title", T.StringType(), True),
    T.StructField("h1", T.StringType(), True),
]


def extract_meta_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Structured head/landmark fields per page (title, meta
    description, canonical link, og:title, first h1) — the html
    analogue of the reference's document->fixed-field-schema projection
    (services/business_license_processor.py:233-239), extracted
    deterministically by ``extractor.core.extract_meta``.

    One row per page through :func:`map_payloads`: one Arrow-batched
    pass, the binary payload never shuffles, passthrough columns are
    forwarded zero-copy, output is the skinny field projection."""
    return map_payloads(df, lambda p: extract_meta(p or b""),
                        META_RESULT_FIELDS, payload_col, passthrough)


JSONLD_RESULT_FIELDS = [
    T.StructField("script_idx", T.IntegerType(), True),
    T.StructField("entity_idx", T.IntegerType(), True),
    T.StructField("etype", T.StringType(), True),
    T.StructField("name", T.StringType(), True),
    T.StructField("word_count", T.LongType(), True),
    T.StructField("status", T.StringType(), True),
]


def extract_jsonld_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Schema.org JSON-LD entities per page (``script
    [type=application/ld+json]`` blocks -> typed entity rows) — the
    structured-metadata modality next to :func:`extract_meta_pages`'s
    head fields; extracted by ``extractor.core.extract_jsonld``.

    One-to-many per page (a page yields 0..n entity rows), so the
    passthrough values repeat per emitted row — still one batched pass,
    the binary payload never shuffles, malformed blocks come back as
    ``parse_error`` ROWS (the engine-wide error taxonomy), never
    exceptions."""
    return map_payloads(df, lambda p: extract_jsonld(p or b""),
                        JSONLD_RESULT_FIELDS, payload_col, passthrough,
                        explode=True)


HTTP_EQUIV_RESULT_FIELDS = [
    T.StructField("html_lang", T.StringType(), True),
    T.StructField("content_language", T.StringType(), True),
    T.StructField("refresh_delay", T.IntegerType(), True),
    T.StructField("refresh_url", T.StringType(), True),
]


def http_equiv_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Head directives per page (one row each): declared language
    (``<html lang>`` + http-equiv content-language) and meta-refresh
    redirect target; extracted by ``extractor.core.extract_http_equiv``.
    One-to-ONE per page (unlike the jsonld/microdata operators), one
    batched pass, payload never shuffles."""
    return map_payloads(df, lambda p: extract_http_equiv(p or b""),
                        HTTP_EQUIV_RESULT_FIELDS, payload_col, passthrough)


REL_LINK_RESULT_FIELDS = [
    T.StructField("link_idx", T.IntegerType(), True),
    T.StructField("rel", T.StringType(), True),
    T.StructField("href", T.StringType(), True),
]


def rel_links_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Typed link relations per page (``<link>/<a>/<area>`` with
    rel+href -> ``(link_idx, rel, href)`` rows): the generic extraction
    under pagination discovery (rel=next/prev), canonicalization
    (rel=canonical) and feed discovery (rel=alternate); extracted by
    ``extractor.core.extract_rel_links``.  One-to-many per page, like
    the jsonld/microdata operators."""
    return map_payloads(df, lambda p: extract_rel_links(p or b""),
                        REL_LINK_RESULT_FIELDS, payload_col, passthrough,
                        explode=True)


HREFLANG_RESULT_FIELDS = [
    T.StructField("link_idx", T.IntegerType(), True),
    T.StructField("hreflang", T.StringType(), True),
    T.StructField("href", T.StringType(), True),
]


def hreflang_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """hreflang alternate declarations per page (``<link
    rel="alternate" hreflang href>`` -> ``(link_idx, hreflang, href)``
    rows): the extraction surface under multilingual translation-group
    alignment (:func:`ocr_spark.operators.web.hreflang_groups`);
    extracted by ``extractor.core.extract_hreflang``.  One-to-many per
    page, like :func:`rel_links_pages`."""
    return map_payloads(df, lambda p: extract_hreflang(p or b""),
                        HREFLANG_RESULT_FIELDS, payload_col, passthrough,
                        explode=True)


PUBLISH_DATE_RESULT_FIELDS = [
    T.StructField("source", T.StringType(), True),
    T.StructField("published_raw", T.StringType(), True),
    T.StructField("published", T.DateType(), True),
]


def publish_date_pages(
    df: DataFrame,
    payload_col: str = "html",
    url_col: str = "url",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Publish-date extraction per page (htmldate-style precedence):
    the in-markup sources (JSON-LD datePublished > article:
    published_time meta > first <time datetime>) come from ONE
    Arrow-batched pass (``extractor.core.extract_publish_date``), and
    the final fallback — a /YYYY/MM/DD/ url-path segment — is pure JVM
    expression work (regexp_extract + try_to_date) on the passthrough
    url, costing no Python at all.  One row per page: (passthrough...,
    source, published_raw, published); all three NULL when no source
    yields a valid date.

    Scale: the binary payload never shuffles (the extraction is a map),
    the fallback is whole-stage-codegen'd, and the output is a skinny
    (url, date) projection ready for freshness joins."""
    marked = map_payloads(df, lambda p: extract_publish_date(p or b""),
                          PUBLISH_DATE_RESULT_FIELDS, payload_col,
                          passthrough)
    pat = r"/(\d{4})/(\d{2})/(\d{2})/"
    g = [F.regexp_extract(F.col(url_col), pat, i) for i in (1, 2, 3)]
    url_date = F.try_to_date(
        F.concat(g[0], F.lit("-"), g[1], F.lit("-"), g[2]))
    use_url = F.col("source").isNull() & url_date.isNotNull()
    return (marked
            .withColumn("source",
                        F.when(use_url, F.lit("url"))
                         .otherwise(F.col("source")))
            .withColumn("published_raw",
                        F.when(F.col("source") == "url",
                               F.concat(g[0], F.lit("/"), g[1],
                                        F.lit("/"), g[2]))
                         .otherwise(F.col("published_raw")))
            .withColumn("published",
                        F.when(F.col("source") == "url", url_date)
                         .otherwise(F.col("published"))))


META_KV_RESULT_FIELDS = [
    T.StructField("idx", T.IntegerType(), True),
    T.StructField("key", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
]


def meta_kv_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
    prefixes: tuple[str, ...] = ("og:", "twitter:", "article:"),
) -> DataFrame:
    """Namespaced meta key/value rows per page (Open Graph /
    Twitter-card / article:* tags -> ``(idx, key, content)``):
    the generic extraction under social-card assembly
    (:func:`social_cards`); extracted by ``extractor.core.
    extract_meta_kv``.  One-to-many per page, like
    :func:`rel_links_pages`."""
    return map_payloads(df, lambda p: extract_meta_kv(p or b"", prefixes),
                        META_KV_RESULT_FIELDS, payload_col, passthrough,
                        explode=True)


def social_cards(kv: DataFrame, ids: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """Social-card assembly from meta KV rows (``meta_kv_pages``
    output): per document, the resolved Open Graph core fields
    (og:title / og:description / og:image, duplicate tags resolved
    FIRST-WINS by document order), the card type (twitter:card value
    when declared, else 'og' when any OG field exists, else NULL),
    and the OG completeness count.  ``ids`` is the full document
    population — pages with no card tags come back as all-NULL rows
    (a left join), because "no card" is a signal downstream ranking
    consumes, not an absent row.

    Plan: one (id, key) hash aggregate with min_by for first-wins,
    one conditional-aggregation pivot, one broadcast-able left join —
    skinny rows throughout, no window."""
    firsts = (kv.groupBy(id_col, "key")
                .agg(F.min_by("content", "idx").alias("content")))

    def first(key: str) -> Column:
        return F.max(F.when(F.col("key") == key, F.col("content")))

    pivot = (firsts.groupBy(id_col)
             .agg(first("og:title").alias("og_title"),
                  first("og:description").alias("og_description"),
                  first("og:image").alias("og_image"),
                  first("twitter:card").alias("tw_card")))
    joined = ids.select(id_col).join(pivot, id_col, "left")
    n_og = sum(F.col(c).isNotNull().cast("long")
               for c in ("og_title", "og_description", "og_image"))
    any_og = (F.col("og_title").isNotNull()
              | F.col("og_description").isNotNull()
              | F.col("og_image").isNotNull())
    return joined.select(
        id_col,
        F.coalesce(F.col("tw_card"),
                   F.when(any_og, F.lit("og"))).alias("card_type"),
        "og_title", "og_description", "og_image",
        n_og.alias("n_og_fields"))


MICRODATA_RESULT_FIELDS = [
    T.StructField("item_idx", T.IntegerType(), True),
    T.StructField("item_type", T.StringType(), True),
    T.StructField("prop", T.StringType(), True),
    T.StructField("value", T.StringType(), True),
    T.StructField("status", T.StringType(), True),
]


def extract_microdata_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Schema.org MICRODATA property rows per page (itemscope/itemprop
    attributes -> ``(item_idx, item_type, prop, value, status)``) —
    the in-markup sibling of :func:`extract_jsonld_pages`; extracted by
    ``extractor.core.extract_microdata``.

    Same shape as the jsonld operator: one-to-many per page with
    passthrough values repeated per emitted row, ONE Arrow-batched pass,
    the binary payload never shuffles, and orphaned itemprops come back
    as ``orphan_prop`` ROWS rather than exceptions."""
    return map_payloads(df, lambda p: extract_microdata(p or b""),
                        MICRODATA_RESULT_FIELDS, payload_col, passthrough,
                        explode=True)


CHARSET_RESULT_FIELDS = [
    T.StructField("codec", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
]


def sniff_charsets(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Charset detection + decode per page: the deterministic
    BOM > <meta charset> > strict-utf-8-probe > latin-1 ladder of
    ``extractor.core.sniff_charset`` (SURVEY.md §7.3.2), exposed as a
    standalone operator so ingest pipelines can label/partition a
    crawl by encoding before the full extraction pass.

    Mirrors the reference's mime/encoding dispatch ahead of its
    extractor (services/file_processor.py:30-47).  One ``mapInArrow``
    pass (:func:`map_payloads`); emits the detected ``codec`` plus the
    decoded ``text`` (replacement-char policy, never fails) so
    downstream ops are bytes-free."""

    def sniff(payload):
        text, codec = decode_html(payload or b"")
        return {"codec": codec, "text": text}

    return map_payloads(df, sniff, CHARSET_RESULT_FIELDS, payload_col,
                        passthrough)
