"""WARC (ISO 28500) ingestion — the Common Crawl wire format.

A 100-TB training-data pipeline's raw input is web-crawl archives:
`.warc.gz` files of per-record gzip members, each member one WARC
record (warcinfo / request / response / resource / metadata /
revisit). This module turns opaque binary WARC payloads into one
typed row per record — the very first step before any dedup, quality
scoring, or language ID can run — with the same posture as the media
container walks (operators/multimodal.py): a from-the-spec walker in
pure Python over Arrow-batched ``mapInPandas``, value-checked against
the fixture generator's independent layout arithmetic
(tools/gen_fixtures.py:gen_warc_fixture — provenance note: the
reference checkout is empty per SURVEY §0, so parity is judged
against the public WARC 1.0 spec, not reference file:line).

Spec corners the walker must survive (all present in the fixture):

* **Content-Length-driven block bounds** — blocks legally CONTAIN
  ``\\r\\n\\r\\nWARC/1.0``; a parser that scans for the next record
  delimiter instead of honoring Content-Length desynchronizes and
  silently corrupts every following record.
* **Case-insensitive field names with optional whitespace values**
  (ISO 28500 §4) — real crawlers emit ``content-length`` in any case.
* **Per-record gzip members** — the .warc.gz convention; member
  boundaries come from the DEFLATE stream end (zlib ``eof`` +
  ``unused_data``), not from any recorded size.
* **Strict CRLF CRLF record terminator** — a record that does not end
  exactly there is malformed, and at 100 TB a silent resync is
  corrupt training data, not a warning: every anomaly raises with a
  named reason.

Scale shape: one file = one row in, O(records) rows out; the parse is
per-payload local (no shuffle), Arrow-batched, and embarrassingly
parallel across files — exactly how a 1000-executor cluster chews a
crawl dump. Registered as ``q_llm_warc_extract`` with a full DuckDB
value-hash oracle: gzip'd files check against the generator's
bookkeeping; PLAIN files check against the payload bytes themselves
(the oracle re-sums each block from hex at the recorded offsets — the
uncompressed-TIFF posture, so a wrong offset or length parse
mismatches actual bytes, not copied numbers).
"""

from __future__ import annotations

import os
import re
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import read_parquet

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
WARC_PARQUET = os.path.join(_REPO, "fixtures", "parquet", "warc.parquet")

#: one output row per WARC record
WARC_RECORD_DDL = (
    "file_id long, rec_idx int, warc_type string, target_uri string, "
    "http_status int, block_len long, block_sum long, gz boolean"
)


def load_warc(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, WARC_PARQUET)


def split_gzip_members(payload: bytes) -> "list[bytes]":
    """Split a multi-member gzip stream (the .warc.gz convention: one
    member per record) into the decompressed members. Boundaries come
    from each member's DEFLATE end-of-stream — ``decompressobj(wbits=
    31)`` sets ``eof`` at the member trailer and parks the remainder
    in ``unused_data``. Strict: a truncated final member or trailing
    non-gzip garbage raises."""
    members: list[bytes] = []
    rest = payload
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(rest)
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member: {e}") from e
        if not d.eof:
            raise ValueError("truncated gzip member at end of payload")
        members.append(out)
        if len(d.unused_data) >= len(rest):
            raise ValueError("gzip member consumed no bytes")
        rest = d.unused_data
    return members


def parse_warc_record(
    raw: bytes, with_block: bool = False
) -> "tuple[dict, int]":
    """Parse ONE record from the head of ``raw``. Returns
    ``(fields, consumed)`` where fields has warc_type / target_uri /
    http_status / block_len / block_sum / block_off (offset of the
    block within ``raw``; plus the ``block`` bytes themselves when
    ``with_block`` — the parser already sliced them for the sum, so
    body consumers get them without re-walking or re-gunzipping the
    payload). Malformed input raises with a named reason — never a
    silent resync."""
    sep = raw.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("no header terminator in WARC record")
    try:
        head = raw[:sep].decode("utf-8")
    except UnicodeDecodeError as e:
        raise ValueError("non-UTF-8 WARC header") from e
    lines = head.split("\r\n")
    if not lines[0].startswith("WARC/"):
        raise ValueError(f"bad WARC version line: {lines[0][:40]!r}")
    fields: dict[str, str] = {}
    for ln in lines[1:]:
        name, colon, value = ln.partition(":")
        if not colon:
            raise ValueError(f"malformed WARC header line: {ln[:40]!r}")
        # field names are case-insensitive, values take optional
        # whitespace (ISO 28500 §4)
        fields[name.strip().lower()] = value.strip()
    if "content-length" not in fields:
        raise ValueError("WARC record without Content-Length")
    if "warc-type" not in fields:
        raise ValueError("WARC record without WARC-Type")
    block_len = int(fields["content-length"])
    block_off = sep + 4
    block = raw[block_off : block_off + block_len]
    if len(block) != block_len:
        raise ValueError("truncated WARC block")
    end = block_off + block_len
    if raw[end : end + 4] != b"\r\n\r\n":
        raise ValueError("missing CRLF CRLF record terminator")
    warc_type = fields["warc-type"]
    status = None
    if warc_type == "response" and block[:5] == b"HTTP/":
        status_line = block.split(b"\r\n", 1)[0]
        parts = status_line.split(b" ")
        if len(parts) >= 2 and parts[1].isdigit():
            status = int(parts[1])
    rec = {
        "warc_type": warc_type,
        "target_uri": fields.get("warc-target-uri"),
        "http_status": status,
        "block_len": block_len,
        "block_sum": sum(block),
        "block_off": block_off,
    }
    if with_block:
        rec["block"] = block
    return rec, end + 4


def parse_warc(
    payload: bytes, gz: bool, with_blocks: bool = False
) -> "list[dict]":
    """All records of one WARC file, in file order. GZ: one record per
    gzip member, each member consumed EXACTLY (trailing bytes inside a
    member are malformed). Plain: records parsed back-to-back by
    Content-Length until the payload is exhausted. ``with_blocks``
    includes each record's block bytes (one decompression pass either
    way — body consumers must not gunzip the payload a second time)."""
    out: list[dict] = []
    if gz:
        for m in split_gzip_members(payload):
            rec, consumed = parse_warc_record(m, with_block=with_blocks)
            if consumed != len(m):
                raise ValueError(
                    "gzip member holds more than one WARC record"
                )
            out.append(rec)
    else:
        pos = 0
        while pos < len(payload):
            rec, consumed = parse_warc_record(
                payload[pos:], with_block=with_blocks
            )
            rec["block_off"] += pos
            out.append(rec)
            pos += consumed
    return out


def warc_records(files: DataFrame) -> DataFrame:
    """``(file_id, gz, payload)`` → one row per WARC record, via
    Arrow-batched ``mapInPandas`` (the media-walk plumbing: parse is
    per-payload local, no shuffle, scales across files)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            cols = {
                "file_id": [], "rec_idx": [], "warc_type": [],
                "target_uri": [], "http_status": [], "block_len": [],
                "block_sum": [], "gz": [],
            }
            for fid, gz, payload in zip(
                pdf["file_id"], pdf["gz"], pdf["payload"]
            ):
                for i, rec in enumerate(parse_warc(bytes(payload), bool(gz))):
                    cols["file_id"].append(int(fid))
                    cols["rec_idx"].append(i)
                    cols["warc_type"].append(rec["warc_type"])
                    cols["target_uri"].append(rec["target_uri"])
                    cols["http_status"].append(rec["http_status"])
                    cols["block_len"].append(rec["block_len"])
                    cols["block_sum"].append(rec["block_sum"])
                    cols["gz"].append(bool(gz))
            yield pd.DataFrame(
                {
                    "file_id": pd.array(cols["file_id"], dtype="Int64"),
                    "rec_idx": pd.array(cols["rec_idx"], dtype="Int32"),
                    "warc_type": pd.array(cols["warc_type"], dtype="string"),
                    "target_uri": pd.array(
                        cols["target_uri"], dtype="string"
                    ),
                    "http_status": pd.array(
                        cols["http_status"], dtype="Int32"
                    ),
                    "block_len": pd.array(cols["block_len"], dtype="Int64"),
                    "block_sum": pd.array(cols["block_sum"], dtype="Int64"),
                    "gz": pd.array(cols["gz"], dtype="boolean"),
                }
            )

    return files.select("file_id", "gz", "payload").mapInPandas(
        gen, WARC_RECORD_DDL
    )


# The oracle's two postures (the TIFF split): PLAIN files re-sum each
# block from the payload's OWN hex at the generator-recorded offsets —
# a wrong walker offset/length mismatches actual bytes; GZ files check
# against the generator's bookkeeping (SQL cannot gunzip — the
# PackBits/raw_px posture, encoder and decoder independent).
WARC_EXTRACT_ORACLE = f"""
WITH f AS (
  SELECT file_id, gz, hex(payload) AS hx,
         rec_type, rec_uri, rec_status, rec_len, rec_sum, rec_off
  FROM read_parquet('{WARC_PARQUET}')
),
r AS (
  SELECT file_id, gz, hx,
         CAST(unnest(range(0, len(rec_type))) AS INTEGER) AS rec_idx,
         rec_type, rec_uri, rec_status, rec_len, rec_sum, rec_off
  FROM f
),
x AS (
  SELECT file_id, gz, hx, rec_idx,
         rec_type[rec_idx + 1] AS warc_type,
         rec_uri[rec_idx + 1] AS target_uri,
         rec_status[rec_idx + 1] AS http_status,
         rec_len[rec_idx + 1] AS block_len,
         rec_sum[rec_idx + 1] AS gt_sum,
         rec_off[rec_idx + 1] AS off
  FROM r
),
pbytes AS (
  SELECT file_id, rec_idx, hx, off,
         CAST(unnest(range(0, block_len)) AS BIGINT) AS b
  FROM x WHERE NOT gz
),
psum AS (
  SELECT file_id, rec_idx,
         CAST(SUM(CAST('0x' || substring(hx, (off + b) * 2 + 1, 2)
                        AS BIGINT)) AS BIGINT) AS s
  FROM pbytes GROUP BY file_id, rec_idx
)
SELECT x.file_id,
       x.rec_idx,
       x.warc_type,
       x.target_uri,
       CAST(x.http_status AS INTEGER) AS http_status,
       CAST(x.block_len AS BIGINT) AS block_len,
       CAST(CASE WHEN x.gz THEN x.gt_sum ELSE COALESCE(p.s, 0) END
            AS BIGINT) AS block_sum,
       x.gz
FROM x LEFT JOIN psum p USING (file_id, rec_idx)
ORDER BY x.file_id, x.rec_idx
"""


@register(
    "q_llm_warc_extract",
    oracle=WARC_EXTRACT_ORACLE,
    tags=("llm", "ingest", "warc", "mapinpandas"),
)
def q_llm_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-archive ingest: every record of every fixture WARC file
    (plain and per-record-gzip) as a typed row — type, target URI,
    HTTP status, block length and byte-sum. The step upstream of every
    dedup/quality/language operator in the LLM family; sf_dir is
    unused (the fixture corpus is scale-independent, the media-key
    convention)."""
    return warc_records(load_warc(spark)).orderBy("file_id", "rec_idx")


# ------------------------------------------------- crawl → documents
# The composition downstream of ingest: successful HTML responses
# become a documents-shaped frame (doc_id, text, source) ready for the
# dedup/quality/language family — the full crawl→curate story in one
# engine. Registered r18 (q_llm_warc_to_documents below, per the r17
# verdict item 2) with a two-posture DuckDB oracle: PLAIN files'
# text is re-derived in SQL from the payload hex at the
# generator-recorded block offsets (tag strip, entity unescape,
# whitespace collapse — a wrong parse mismatches actual bytes); GZ
# files compare against the generator's independent rec_text
# bookkeeping (a character state machine, not this module's regex).
# Harness-pinned in tests/test_round17_warc.py and
# tests/test_round18_warc.py as well.


def _http_body(block: bytes) -> "bytes | None":
    """The entity body of an application/http response block: bytes
    after the HTTP header section. None when the block is not an HTTP
    message (spec-permitted: a response record may carry any
    Content-Type)."""
    if block[:5] != b"HTTP/":
        return None
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return None
    return block[sep + 4 :]


_TAG_RE = re.compile(r"<[^>]*>")
_HREF_RE = re.compile(r'href="([^"]*)"')


def _unescape_entities(text: str) -> str:
    """The five XML entities, in table order (&amp; LAST, so the
    double-escape &amp;lt; yields the literal string '&lt;' — standard
    single-pass unescape semantics)."""
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        text = text.replace(ent, ch)
    return text


def _html_to_text(body: bytes) -> str:
    """Deterministic zero-dep HTML→text: decode UTF-8 (crawl reality:
    replacement for undecodable bytes — a lossy page must not kill the
    batch), strip tags, unescape the five XML entities, collapse
    whitespace. A real deployment swaps in a proper extractor
    (trafilatura-class) behind the same column contract; the Spark
    plumbing — batch shape, null handling, schema — is what this
    module owns."""
    text = _unescape_entities(_TAG_RE.sub(" ", body.decode("utf-8", "replace")))
    return " ".join(text.split())


def _html_hrefs(body: bytes) -> "list[str]":
    """Anchor targets of an HTML body, in document order: every
    href="..." attribute value, entity-unescaped (attribute values are
    &amp;-escaped in source; the crawl frontier wants the actual
    URL). Same zero-dep posture as _html_to_text — a real deployment
    swaps in a proper parser behind the same column contract."""
    return [
        _unescape_entities(h)
        for h in _HREF_RE.findall(body.decode("utf-8", "replace"))
    ]


WARC_TO_DOCUMENTS_ORACLE = f"""
WITH f AS (
  SELECT file_id, gz, hex(payload) AS hx,
         rec_type, rec_uri, rec_status, rec_len, rec_off, rec_text
  FROM read_parquet('{WARC_PARQUET}')
),
r AS (
  SELECT file_id, gz, hx,
         CAST(unnest(range(0, len(rec_type))) AS INTEGER) AS rec_idx,
         rec_type, rec_uri, rec_status, rec_len, rec_off, rec_text
  FROM f
),
x AS (
  SELECT file_id, gz, hx, rec_idx,
         rec_type[rec_idx + 1] AS warc_type,
         rec_uri[rec_idx + 1] AS target_uri,
         rec_status[rec_idx + 1] AS http_status,
         rec_len[rec_idx + 1] AS block_len,
         rec_off[rec_idx + 1] AS off,
         rec_text[rec_idx + 1] AS gt_text
  FROM r
),
sel AS (
  SELECT * FROM x
  WHERE warc_type = 'response'
    AND http_status IS NOT NULL
    AND http_status >= 200 AND http_status < 300
),
-- PLAIN posture: the block's bytes out of the payload hex at the
-- generator-recorded offset, then the same html→text normalization
-- re-expressed in SQL (a wrong walker parse mismatches actual bytes)
plain AS (
  SELECT file_id, rec_idx,
         decode(unhex(substring(hx, off * 2 + 1, block_len * 2))) AS blk
  FROM sel WHERE NOT gz
),
ptext AS (
  SELECT file_id, rec_idx,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(
             regexp_replace(
               substr(blk,
                      strpos(blk, chr(13)||chr(10)||chr(13)||chr(10)) + 4),
               '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&apos;', ''''), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS txt
  FROM plain
  WHERE blk LIKE 'HTTP/%'
    AND strpos(blk, chr(13)||chr(10)||chr(13)||chr(10)) > 0
)
-- GZ posture: the generator's independent rec_text bookkeeping (SQL
-- cannot gunzip; the plain posture has already cross-checked the
-- normalization against real bytes)
SELECT CAST(s.file_id * 1048576 + s.rec_idx AS BIGINT) AS doc_id,
       CASE WHEN s.gz THEN s.gt_text ELSE p.txt END AS text,
       CASE WHEN strpos(s.target_uri, '://') > 0
            THEN string_split(s.target_uri, '/')[3] ELSE '' END AS source
FROM sel s LEFT JOIN ptext p USING (file_id, rec_idx)
WHERE (s.gz AND s.gt_text IS NOT NULL) OR (NOT s.gz AND p.txt IS NOT NULL)
ORDER BY doc_id
"""


@register(
    "q_llm_warc_to_documents",
    oracle=WARC_TO_DOCUMENTS_ORACLE,
    tags=("llm", "ingest", "warc", "documents", "mapinpandas"),
)
def q_llm_warc_to_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl → documents: the fixture archives' successful (2xx) HTML
    responses as a documents-shaped frame (doc_id, text, source) —
    ingest composed into the dedup/quality/language family's input
    contract. sf_dir is unused (fixture corpus, the media-key
    convention)."""
    return warc_to_documents(load_warc(spark)).orderBy("doc_id")


# Shared two-posture href derivation (the documents-oracle pattern):
# PLAIN files re-extract href="..." attributes from the payload hex at
# the generator-recorded offsets and entity-unescape them in SQL; GZ
# files use the generator's independent rec_links bookkeeping (recorded
# unescaped). Ends with a `hrefs(file_id, rec_idx, src_host, href)`
# CTE for the two link keys to build on.
_WARC_HREFS_CTE = f"""
WITH f AS (
  SELECT file_id, gz, hex(payload) AS hx,
         rec_type, rec_uri, rec_status, rec_len, rec_off, rec_links
  FROM read_parquet('{WARC_PARQUET}')
),
r AS (
  SELECT file_id, gz, hx,
         CAST(unnest(range(0, len(rec_type))) AS INTEGER) AS rec_idx,
         rec_type, rec_uri, rec_status, rec_len, rec_off, rec_links
  FROM f
),
x AS (
  SELECT file_id, gz, hx, rec_idx,
         rec_type[rec_idx + 1] AS warc_type,
         rec_uri[rec_idx + 1] AS target_uri,
         rec_status[rec_idx + 1] AS http_status,
         rec_len[rec_idx + 1] AS block_len,
         rec_off[rec_idx + 1] AS off,
         rec_links[rec_idx + 1] AS gt_links
  FROM r
),
sel AS (
  SELECT * FROM x
  WHERE warc_type = 'response'
    AND http_status IS NOT NULL
    AND http_status >= 200 AND http_status < 300
),
plain AS (
  SELECT file_id, rec_idx,
         decode(unhex(substring(hx, off * 2 + 1, block_len * 2))) AS blk
  FROM sel WHERE NOT gz
),
praw AS (
  SELECT file_id, rec_idx,
         unnest(regexp_extract_all(
           substr(blk,
                  strpos(blk, chr(13)||chr(10)||chr(13)||chr(10)) + 4),
           'href="([^"]*)"', 1)) AS raw
  FROM plain
  WHERE blk LIKE 'HTTP/%'
    AND strpos(blk, chr(13)||chr(10)||chr(13)||chr(10)) > 0
),
phref AS (
  SELECT file_id, rec_idx,
         replace(replace(replace(replace(replace(raw,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&apos;', ''''), '&amp;', '&') AS href
  FROM praw
),
ghref AS (
  SELECT file_id, rec_idx, unnest(gt_links) AS href
  FROM sel WHERE gz
),
hrefs AS (
  SELECT s.file_id, s.rec_idx,
         CASE WHEN strpos(s.target_uri, '://') > 0
              THEN string_split(s.target_uri, '/')[3] ELSE '' END
           AS src_host,
         h.href
  FROM sel s
  JOIN (SELECT * FROM phref UNION ALL SELECT * FROM ghref) h
    USING (file_id, rec_idx)
)
"""

WARC_LINKS_ORACLE = (
    _WARC_HREFS_CTE
    + """
, resolved AS (
  SELECT src_host,
         lower(regexp_extract(href,
           '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme,
         regexp_extract(href,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
         starts_with(href, '//') AS prel,
         regexp_extract(href, '^//([^/?#]*)', 1) AS auth2
  FROM hrefs
)
SELECT src_host,
       CASE WHEN prel
            THEN lower(regexp_replace(auth2, ':[0-9]+$', ''))
            WHEN scheme = '' THEN src_host
            ELSE lower(regexp_replace(auth, ':[0-9]+$', '')) END
         AS dst_host,
       CAST(COUNT(*) AS BIGINT) AS n_links
FROM resolved
WHERE scheme IN ('', 'http', 'https')
GROUP BY 1, 2
ORDER BY src_host, dst_host
"""
)


@register(
    "q_llm_warc_links",
    oracle=WARC_LINKS_ORACLE,
    tags=("llm", "ingest", "warc", "graph", "mapinpandas"),
)
def q_llm_warc_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph out of the crawl: every anchor of every
    successful HTML response resolves to a (src_host, dst_host) edge
    with a link count — the frontier/authority substrate (host
    PageRank, spam-neighborhood scoring) of a production crawl
    pipeline. Resolution is pure Catalyst over warc_hrefs' raw feed
    (``resolve_links`` — shared with the streaming href log's
    read_warc_link_graph): no scheme → same-host relative; http(s) →
    authority lowercased, port stripped (host identity, any port);
    other schemes (mailto, javascript) dropped. sf_dir unused (fixture
    corpus)."""
    return resolve_links(warc_hrefs(load_warc(spark)))


URL_NORMALIZE_ORACLE = (
    _WARC_HREFS_CTE
    + """
, pre AS (
  SELECT src_host, href,
         lower(regexp_extract(href,
           '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme0
  FROM hrefs
),
absu AS (
  SELECT CASE WHEN starts_with(href, '//') THEN 'http:' || href
              WHEN scheme0 = ''
              THEN 'http://' || src_host || href ELSE href END AS u
  FROM pre WHERE scheme0 IN ('', 'http', 'https')
),
parts AS (
  SELECT lower(regexp_extract(u,
           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(u,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
         regexp_extract(u,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         -- first '?' only when it precedes any '#' (a fragment's '?'
         -- must not resurrect dropped content as params)
         regexp_extract(u, '^[^#?]*\\?([^#]*)', 1) AS query
  FROM absu
),
canon AS (
  SELECT scheme || '://'
         || CASE WHEN scheme = 'http'
                 THEN regexp_replace(auth, ':80$', '')
                 WHEN scheme = 'https'
                 THEN regexp_replace(auth, ':443$', '')
                 ELSE auth END
         || path
         || CASE WHEN q = '' THEN '' ELSE '?' || q END AS url
  FROM (
    SELECT scheme, auth, path,
           COALESCE(array_to_string(list_sort(list_filter(
             string_split(query, '&'),
             x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&'),
             '') AS q
    FROM parts
  )
)
SELECT url, CAST(COUNT(*) AS BIGINT) AS n
FROM canon GROUP BY url ORDER BY url
"""
)


@register(
    "q_llm_url_normalize",
    oracle=URL_NORMALIZE_ORACLE,
    tags=("llm", "ingest", "warc", "urls", "mapinpandas"),
)
def q_llm_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization — the dedup key under "have
    I queued this page before": relative hrefs resolve against the
    page host; scheme and host lowercase; DEFAULT ports strip (:80
    http, :443 https — a non-default port is identity); fragments
    drop; utm_* tracking params drop; surviving query params sort;
    non-http(s) schemes drop. Output is the distinct canonical URL
    with its occurrence count. All resolution is Catalyst built-ins
    (regexp/array expressions, ``canonical_urls`` — shared with the
    streaming href log's read_warc_frontier) over warc_hrefs' raw feed
    — the mapInPandas boundary stays at byte parsing, string surgery
    stays JVM-side. sf_dir unused (fixture corpus)."""
    return canonical_urls(warc_hrefs(load_warc(spark)))


def warc_to_documents(files: DataFrame, id_bits: int = 20) -> DataFrame:
    """``(file_id, gz, payload)`` → a documents-shaped frame
    ``(doc_id, text, source)`` of the SUCCESSFUL (2xx) HTML responses:
    doc_id = file_id * 2^id_bits + rec_idx (stable across runs, no
    window or zipWithIndex — a pure function of position, the
    surrogate-key posture q_etl_surrogate_keys documents), source =
    the target URI's host. A file holding more records than the
    rec_idx field can pack raises loudly instead of silently colliding
    doc_ids (ADVICE r17 #3); ``id_bits`` widens the shift for archive
    shapes beyond Common Crawl's (~100k records/file), at the cost of
    file_id headroom within the long. Plumbing, not policy: one
    mapInPandas pass shared with warc_records' parser, no shuffle."""
    import pandas as pd

    ddl = "doc_id long, text string, source string"
    capacity = 1 << id_bits

    def gen(batches):
        for pdf in batches:
            ids, texts, sources = [], [], []
            for fid, gz, payload in zip(
                pdf["file_id"], pdf["gz"], pdf["payload"]
            ):
                # with_blocks: block bytes come out of the SAME parse
                # pass — gz payloads are gunzipped exactly once
                recs = parse_warc(bytes(payload), bool(gz), with_blocks=True)
                if len(recs) > capacity:
                    # rec_idx would overflow into the file_id field and
                    # collide with the NEXT file's doc_ids — refuse
                    # loudly (the module's every-anomaly-raises posture)
                    raise ValueError(
                        f"WARC file_id={int(fid)} holds {len(recs)} "
                        f"records, exceeding the 2^{id_bits} rec_idx "
                        f"capacity of doc_id = file_id * 2^{id_bits} + "
                        "rec_idx — split the archive or widen id_bits"
                    )
                for i, rec in enumerate(recs):
                    block = rec["block"]
                    if rec["warc_type"] != "response":
                        continue
                    st = rec["http_status"]
                    if st is None or not (200 <= st < 300):
                        continue
                    body = _http_body(block)
                    if body is None:
                        continue
                    uri = rec["target_uri"] or ""
                    host = uri.split("/")[2] if "://" in uri else ""
                    ids.append(int(fid) * capacity + i)
                    texts.append(_html_to_text(body))
                    sources.append(host)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "text": pd.array(texts, dtype="string"),
                    "source": pd.array(sources, dtype="string"),
                }
            )

    return files.select("file_id", "gz", "payload").mapInPandas(gen, ddl)


#: one row per anchor; ``seq`` is the anchor's index in document
#: order, making (doc_id, seq) a key — a re-fed archive re-emits
#: IDENTICAL rows (streaming-log distinct() stays lossless even when a
#: page genuinely repeats an href)
WARC_HREF_DDL = "doc_id long, seq int, src_host string, href string"


#: the single-parse streaming union: record rows (kind='rec', href
#: columns null) and anchor rows (kind='href', record columns null)
#: out of ONE walk of each payload
WARC_COMBINED_DDL = (
    "kind string, file_id long, rec_idx int, warc_type string, "
    "target_uri string, http_status int, block_len long, "
    "block_sum long, gz boolean, doc_id long, seq int, "
    "src_host string, href string"
)


def warc_records_with_hrefs(
    files: DataFrame, id_bits: int = 20
) -> DataFrame:
    """One mapInPandas walk emitting BOTH the record table and the
    anchor feed as a kind-tagged union — the streaming job's hot path
    parses and gunzips each payload exactly once (code-review r18 #7:
    two independent passes doubled the dominant CPU cost at crawl
    scale). ``.filter(kind=...)`` splits it back into the
    warc_records / warc_hrefs shapes; callers persist the combined
    frame across the two writes."""
    import pandas as pd

    capacity = 1 << id_bits

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in (
                "kind", "file_id", "rec_idx", "warc_type", "target_uri",
                "http_status", "block_len", "block_sum", "gz", "doc_id",
                "seq", "src_host", "href",
            )}

            def emit(kind, **kw):
                rows["kind"].append(kind)
                for k in rows:
                    if k != "kind":
                        rows[k].append(kw.get(k))

            for fid, gz, payload in zip(
                pdf["file_id"], pdf["gz"], pdf["payload"]
            ):
                recs = parse_warc(bytes(payload), bool(gz), with_blocks=True)
                if len(recs) > capacity:
                    raise ValueError(
                        f"WARC file_id={int(fid)} holds {len(recs)} "
                        f"records, exceeding the 2^{id_bits} rec_idx "
                        "capacity of doc_id = file_id * "
                        f"2^{id_bits} + rec_idx — split the archive "
                        "or widen id_bits"
                    )
                for i, rec in enumerate(recs):
                    emit(
                        "rec",
                        file_id=int(fid),
                        rec_idx=i,
                        warc_type=rec["warc_type"],
                        target_uri=rec["target_uri"],
                        http_status=rec["http_status"],
                        block_len=rec["block_len"],
                        block_sum=rec["block_sum"],
                        gz=bool(gz),
                    )
                    if rec["warc_type"] != "response":
                        continue
                    st = rec["http_status"]
                    if st is None or not (200 <= st < 300):
                        continue
                    body = _http_body(rec["block"])
                    if body is None:
                        continue
                    uri = rec["target_uri"] or ""
                    host = uri.split("/")[2] if "://" in uri else ""
                    for n, h in enumerate(_html_hrefs(body)):
                        emit(
                            "href",
                            doc_id=int(fid) * capacity + i,
                            seq=n,
                            src_host=host,
                            href=h,
                        )
            yield pd.DataFrame(
                {
                    "kind": pd.array(rows["kind"], dtype="string"),
                    "file_id": pd.array(rows["file_id"], dtype="Int64"),
                    "rec_idx": pd.array(rows["rec_idx"], dtype="Int32"),
                    "warc_type": pd.array(
                        rows["warc_type"], dtype="string"
                    ),
                    "target_uri": pd.array(
                        rows["target_uri"], dtype="string"
                    ),
                    "http_status": pd.array(
                        rows["http_status"], dtype="Int32"
                    ),
                    "block_len": pd.array(
                        rows["block_len"], dtype="Int64"
                    ),
                    "block_sum": pd.array(
                        rows["block_sum"], dtype="Int64"
                    ),
                    "gz": pd.array(rows["gz"], dtype="boolean"),
                    "doc_id": pd.array(rows["doc_id"], dtype="Int64"),
                    "seq": pd.array(rows["seq"], dtype="Int32"),
                    "src_host": pd.array(
                        rows["src_host"], dtype="string"
                    ),
                    "href": pd.array(rows["href"], dtype="string"),
                }
            )

    return files.select("file_id", "gz", "payload").mapInPandas(
        gen, WARC_COMBINED_DDL
    )


def warc_hrefs(files: DataFrame, id_bits: int = 20) -> DataFrame:
    """``(file_id, gz, payload)`` → one row per anchor of each
    successful (2xx) HTML response: ``(doc_id, seq, src_host, href)``
    in document order, hrefs entity-unescaped. The raw-link feed under
    the crawl frontier (q_llm_url_normalize) and the host link graph
    (q_llm_warc_links). Same selection, packing (``id_bits``, incl.
    the over-capacity raise — a silent collision here would corrupt
    the doc join and undercount edges under the href log's distinct),
    and one-Arrow-pass shuffle-free shape as warc_to_documents."""
    import pandas as pd

    capacity = 1 << id_bits

    def gen(batches):
        for pdf in batches:
            ids, seqs, hosts_, hrefs = [], [], [], []
            for fid, gz, payload in zip(
                pdf["file_id"], pdf["gz"], pdf["payload"]
            ):
                recs = parse_warc(bytes(payload), bool(gz), with_blocks=True)
                if len(recs) > capacity:
                    raise ValueError(
                        f"WARC file_id={int(fid)} holds {len(recs)} "
                        f"records, exceeding the 2^{id_bits} rec_idx "
                        f"capacity of doc_id = file_id * 2^{id_bits} + "
                        "rec_idx — split the archive or widen id_bits"
                    )
                for i, rec in enumerate(recs):
                    if rec["warc_type"] != "response":
                        continue
                    st = rec["http_status"]
                    if st is None or not (200 <= st < 300):
                        continue
                    body = _http_body(rec["block"])
                    if body is None:
                        continue
                    uri = rec["target_uri"] or ""
                    host = uri.split("/")[2] if "://" in uri else ""
                    for n, h in enumerate(_html_hrefs(body)):
                        ids.append(int(fid) * capacity + i)
                        seqs.append(n)
                        hosts_.append(host)
                        hrefs.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "seq": pd.array(seqs, dtype="Int32"),
                    "src_host": pd.array(hosts_, dtype="string"),
                    "href": pd.array(hrefs, dtype="string"),
                }
            )

    return files.select("file_id", "gz", "payload").mapInPandas(
        gen, WARC_HREF_DDL
    )


def resolve_links(hrefs: DataFrame) -> DataFrame:
    """Raw href feed → host-level link edges ``(src_host, dst_host,
    n_links)``: no scheme = same-host relative, EXCEPT the
    protocol-relative ``//host/...`` form, whose authority is its own
    host (code-review r18 #5 — a CDN reference must not inflate
    self-edges); http(s) = lowercased authority with ANY port stripped
    (host identity); other schemes drop. Shared by q_llm_warc_links
    and the streaming href log's ``read_warc_link_graph`` — streaming
    ≡ batch is shared code."""
    from pyspark.sql import functions as F

    scheme = F.lower(
        F.regexp_extract("href", r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    )
    auth = F.regexp_extract(
        "href", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
    )
    prel = F.col("href").startswith("//")
    auth2 = F.regexp_extract("href", r"^//([^/?#]*)", 1)
    dst = (
        F.when(prel, F.lower(F.regexp_replace(auth2, r":[0-9]+$", "")))
        .when(scheme == "", F.col("src_host"))
        .otherwise(F.lower(F.regexp_replace(auth, r":[0-9]+$", "")))
    )
    return (
        hrefs.filter(scheme.isin("", "http", "https"))
        .select("src_host", dst.alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
        .orderBy("src_host", "dst_host")
    )


def host_rank(links: DataFrame, k: int = 5) -> DataFrame:
    """Weighted PageRank over the host link graph — the authority
    signal a crawl scheduler feeds on, composed directly from
    ``resolve_links``' (src_host, dst_host, n_links) edges. Follows
    the engine's fixed-point integer discipline (the
    analytics.pagerank_fixpoint posture, re-derived for a WEIGHTED
    edge set): ranks live in micro-units (10⁶ = 1.0) and each
    superstep is rank' = 150000 + (850 · Σ(rank·n div out_n)) div
    1000 — pure BIGINT math, deterministic across engines and
    iteration counts. Per superstep: one join on src, one aggregate
    by dst — vertex-state only, the scale shape of every fixpoint in
    analytics.py. Nodes = every host appearing as src OR dst (a
    sink host keeps collecting rank; it has no out-edges to damp)."""
    from pyspark.sql import functions as F

    out = links.groupBy("src_host").agg(
        F.sum("n_links").alias("out_n")
    )
    weighted = links.join(out, "src_host")
    nodes = (
        links.select(F.col("src_host").alias("host"))
        .unionByName(links.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    ranks = nodes.select(
        "host", F.lit(1000000).cast("long").alias("rank_u")
    )
    for _ in range(k):
        contrib = (
            weighted.join(
                ranks, weighted.src_host == ranks.host
            )
            .select(
                F.col("dst_host").alias("host"),
                F.expr("rank_u * n_links div out_n").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contrib, "host", "left")
            .select(
                "host",
                (
                    F.lit(150000)
                    + F.expr("850 * coalesce(c, 0) div 1000")
                ).cast("long").alias("rank_u"),
            )
        )
    return ranks.orderBy(F.desc("rank_u"), "host")


def canonical_urls(hrefs: DataFrame) -> DataFrame:
    """Raw href feed → canonical URL occurrence counts ``(url, n)``
    under the frontier-dedup rules documented on q_llm_url_normalize.
    Shared by the registered key and the streaming href log's
    ``read_warc_frontier`` — streaming ≡ batch is shared code."""
    from pyspark.sql import functions as F

    scheme0 = F.lower(
        F.regexp_extract("href", r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    )
    # protocol-relative //host/... resolves with the crawl's scheme
    # (http here; a real deployment carries the page scheme through),
    # NOT as a same-host path — 'http://a.example//cdn.example/x' is
    # not a URL that exists (code-review r18 #5)
    u = (
        F.when(
            F.col("href").startswith("//"),
            F.concat(F.lit("http:"), F.col("href")),
        )
        .when(
            scheme0 == "",
            F.concat(F.lit("http://"), F.col("src_host"), F.col("href")),
        )
        .otherwise(F.col("href"))
    )
    pre = (
        hrefs.filter(scheme0.isin("", "http", "https"))
        .select(u.alias("u"))
    )
    scheme = F.lower(
        F.regexp_extract("u", r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    auth = F.lower(
        F.regexp_extract("u", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    path = F.regexp_extract(
        "u", r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    # query = after the FIRST '?' only when it precedes any '#': a '?'
    # inside the fragment ('/doc#sec?x=1') must not resurrect dropped
    # fragment content as params (code-review r18 #4). [^#?]* needs no
    # backtracking, so the same pattern is exact in RE2 (DuckDB) too.
    query = F.regexp_extract("u", r"^[^#?]*\?([^#]*)", 1)
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    url = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return (
        pre.select(url.alias("url"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("url")
    )
