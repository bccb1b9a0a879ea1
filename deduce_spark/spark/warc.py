"""WARC-style crawl-archive packing and parsing (S5 source coverage).

Common-Crawl-shaped pipelines (BASELINE.json input_hint: pages with
``url / warc_ts / html`` columns) do not receive parquet — they receive
WARC archives: concatenated, length-delimited records.  This module
gives the engine both directions:

- :func:`warc_record_expr` / :func:`pack_warc_files` — assemble pages
  into deterministic WARC/1.0-style archive blobs with NATIVE
  expressions (concat / octet_length / collect_list sorted per file).
  At production scale archives already exist on object storage; the
  packer is the test-fixture synthesizer and the writer for re-sharding
  jobs, so its one shuffle (groupBy file_id) is bounded by the caller's
  records-per-file choice.
- :func:`parse_warc_records` — the production INGEST operator: an
  Arrow-batched ``mapInPandas`` kernel that walks each archive blob with
  the real WARC algorithm (scan headers to CRLFCRLF, read
  ``Content-Length``, slice the body by BYTE length, require the record
  terminator).  Length-delimited parsing means bodies containing the
  record magic ("WARC/1.0\\r\\n") cannot split a record — pinned by
  test.  Each archive is parsed independently: embarrassingly parallel,
  no shuffle, no Python in any other stage.

Record layout (a strict subset of WARC/1.0, ISO 28500):

    WARC/1.0\\r\\n
    WARC-Type: response\\r\\n
    WARC-Target-URI: <url>\\r\\n
    WARC-Date: <ts>\\r\\n
    Content-Length: <octet_length(body)>\\r\\n
    \\r\\n
    <body>\\r\\n\\r\\n

Content-Length counts BYTES (multibyte text pinned by test), matching
the spec and both engines (Spark ``octet_length`` / DuckDB ``strlen``).

Oracle strategy: packing is deterministic, so the DuckDB twin
(:func:`warc_roundtrip_oracle_sql`) reconstructs every record's
expected byte offset / length / body md5 straight from the source
table — offsets are prefix sums of record byte lengths within each
file in the packer's (url) sort order.  The driver compare therefore
validates the PARSER (the production path) bit-for-bit.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CRLF = "\r\n"

_PARSE_SCHEMA = (
    "file_id long, url string, ts string, offset long, rec_len long, "
    "body_bytes long, body_md5 string"
)


def warc_record_expr(url: Column, ts: Column, body: Column) -> Column:
    """The deterministic WARC/1.0-style record string for one page
    (native concat — no Python).  ``Content-Length`` is the body's BYTE
    length (``octet_length``), per the WARC spec."""
    return F.concat(
        F.lit("WARC/1.0" + _CRLF),
        F.lit("WARC-Type: response" + _CRLF),
        F.lit("WARC-Target-URI: "), url, F.lit(_CRLF),
        F.lit("WARC-Date: "), ts, F.lit(_CRLF),
        F.lit("Content-Length: "),
        F.octet_length(body).cast("string"), F.lit(_CRLF),
        F.lit(_CRLF),
        body,
        F.lit(_CRLF + _CRLF),
    )


def pack_warc_files(
    pages: DataFrame,
    n_files: int,
    url_col: str = "url",
    ts_col: str = "ts",
    body_col: str = "body",
    compress: bool = False,
) -> DataFrame:
    """Assemble pages into ``n_files`` WARC archive blobs:
    ``(file_id long, payload binary, n_records long)``.

    File assignment is the portable 32-bit md5-prefix hash (the
    curation.split_assign discipline) so both engines and any
    re-run agree; records are concatenated in ``url`` order within each
    file, making every archive byte-deterministic (resume-safe).

    ``compress=True`` produces the REAL Common-Crawl ``.warc.gz``
    layout: each record is its own gzip MEMBER (concatenated members
    form a valid gzip stream, yet any record is independently seekable
    by its member offset).  Members are deterministic (mtime=0, fixed
    level), so re-packs stay bit-identical.

    Scale shape: one shuffle (groupBy file_id) whose per-group size is
    records-per-file — the caller sizes ``n_files`` so a file fits an
    Arrow batch, exactly like sizing real WARC shards.  All string
    assembly is codegen'd; the only Python is the gzip deflate in
    compressed mode (one Arrow-batched stage, the multimodal codec
    pattern)."""
    # NULL url/ts/body would make the record expression NULL, which
    # collect_list silently skips while n_records still counts the row —
    # the exact silent data loss the parser's contract forbids.  Raise
    # per offending row instead (the branch only evaluates on NULLs).
    null_guard = (
        F.col(url_col).isNull()
        | F.col(ts_col).isNull()
        | F.col(body_col).isNull()
    )
    rec = F.when(
        null_guard,
        F.raise_error(
            F.concat(
                F.lit("pack_warc_files: NULL url/ts/body for url="),
                F.coalesce(F.col(url_col), F.lit("<null>")),
            )
        ),
    ).otherwise(
        warc_record_expr(F.col(url_col), F.col(ts_col), F.col(body_col))
    ).alias("rec")
    file_id = (
        F.expr(
            f"CAST(conv(substr(md5({url_col}), 1, 8), 16, 10) AS BIGINT)"
            f" % {n_files}"
        )
        .cast("long")
        .alias("file_id")
    )
    keyed = pages.select(file_id, F.col(url_col).alias("url"), rec)
    sorted_recs = F.array_sort(F.collect_list(F.struct("url", "rec")))
    grouped = keyed.groupBy("file_id").agg(
        F.transform(sorted_recs, lambda x: x["rec"]).alias("recs"),
        F.count(F.lit(1)).cast("long").alias("n_records"),
    )
    if not compress:
        return grouped.select(
            "file_id",
            F.array_join("recs", "").cast("binary").alias("payload"),
            "n_records",
        )

    import gzip

    import pandas as pd

    def gz(batches):
        for pdf in batches:
            payloads = [
                b"".join(
                    gzip.compress(r.encode("utf-8"), compresslevel=6,
                                  mtime=0)
                    for r in recs
                )
                for recs in pdf["recs"]
            ]
            yield pd.DataFrame(
                {
                    "file_id": pdf["file_id"].astype("int64"),
                    "payload": payloads,
                    "n_records": pdf["n_records"].astype("int64"),
                }
            )

    return grouped.mapInPandas(
        gz, "file_id long, payload binary, n_records long"
    )


def parse_warc_records(
    files: DataFrame,
    file_col: str = "file_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Parse WARC archive blobs into one row per record:
    ``(file_id, url, ts, offset, rec_len, body_bytes, body_md5)``.

    ``offset`` is the record's byte offset inside its archive and
    ``rec_len`` its total byte length (headers + body + terminator) —
    the pair a re-fetching or range-read job needs.  ``body_md5`` is
    the hex md5 of the raw body bytes (DuckDB ``md5()`` twin).

    The kernel is the real length-delimited WARC walk: find CRLFCRLF,
    parse headers, slice the body by ``Content-Length`` BYTES, then
    require the CRLFCRLF record terminator.  Gzip-member archives (the
    Common-Crawl ``.warc.gz`` layout — one gzip member per record) are
    auto-detected by the 1f 8b member magic; ``offset``/``rec_len``
    then describe the COMPRESSED member (the seekable unit a range
    read fetches), while body fields describe the decompressed record.
    Malformed archives raise (honest failure, no silent row drops).
    Python iterates RECORDS inside an Arrow batch — the
    per-format-parse pattern shared with multimodal.py decoders; there
    is no per-row Python stage anywhere else in the plan and parsing
    needs no shuffle."""
    import hashlib
    import zlib

    import pandas as pd

    def parse_one(buf: bytes, pos: int, fid) -> tuple:
        """(url, ts, body, end_pos) for the plain record at ``pos``."""
        hdr_end = buf.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(
                f"warc file {fid}: unterminated header at byte {pos}"
            )
        lines = buf[pos:hdr_end].decode("utf-8").split(_CRLF)
        if lines[0] != "WARC/1.0":
            raise ValueError(
                f"warc file {fid}: bad record magic {lines[0]!r} "
                f"at byte {pos}"
            )
        hdrs = dict(ln.split(": ", 1) for ln in lines[1:])
        clen = int(hdrs["Content-Length"])
        body_start = hdr_end + 4
        body = buf[body_start:body_start + clen]
        if len(body) != clen:
            raise ValueError(
                f"warc file {fid}: truncated body at byte {body_start}"
            )
        end = body_start + clen
        if buf[end:end + 4] != b"\r\n\r\n":
            raise ValueError(
                f"warc file {fid}: missing record terminator at byte {end}"
            )
        return hdrs["WARC-Target-URI"], hdrs["WARC-Date"], body, end + 4

    def gen(batches):
        for pdf in batches:
            fids, urls, tss, offs, lens, blens, md5s = (
                [], [], [], [], [], [], [],
            )
            for fid, payload in zip(pdf[file_col], pdf[payload_col]):
                buf = bytes(payload)
                pos = 0
                while pos < len(buf):
                    start = pos
                    if buf[pos:pos + 2] == b"\x1f\x8b":
                        # one gzip member per record (.warc.gz layout)
                        d = zlib.decompressobj(wbits=31)
                        rec = d.decompress(buf[pos:])
                        if not d.eof:
                            raise ValueError(
                                f"warc file {fid}: truncated gzip member "
                                f"at byte {pos}"
                            )
                        pos = len(buf) - len(d.unused_data)
                        url, ts, body, end = parse_one(rec, 0, fid)
                        if end != len(rec):
                            raise ValueError(
                                f"warc file {fid}: gzip member at byte "
                                f"{start} holds more than one record"
                            )
                    else:
                        url, ts, body, pos = parse_one(buf, pos, fid)
                    fids.append(int(fid))
                    urls.append(url)
                    tss.append(ts)
                    offs.append(start)
                    lens.append(pos - start)
                    blens.append(len(body))
                    md5s.append(hashlib.md5(body).hexdigest())
            yield pd.DataFrame(
                {
                    "file_id": pd.Series(fids, dtype="int64"),
                    "url": pd.Series(urls, dtype="object"),
                    "ts": pd.Series(tss, dtype="object"),
                    "offset": pd.Series(offs, dtype="int64"),
                    "rec_len": pd.Series(lens, dtype="int64"),
                    "body_bytes": pd.Series(blens, dtype="int64"),
                    "body_md5": pd.Series(md5s, dtype="object"),
                }
            )

    return files.mapInPandas(gen, _PARSE_SCHEMA)


def warc_roundtrip_oracle_sql(
    pages_sql: str,
    n_files: int,
    url_col: str = "url",
    ts_col: str = "ts",
    body_col: str = "body",
) -> str:
    """DuckDB twin of ``parse_warc_records(pack_warc_files(pages))``:
    reconstructs each record's expected (file_id, url, ts, offset,
    rec_len, body_bytes, body_md5) straight from the source rows.  The
    record string is the same deterministic expression as
    :func:`warc_record_expr`; offsets are prefix sums of record BYTE
    lengths (``strlen`` = bytes in DuckDB) per file in url order — a
    window over one file's records, the oracle-semantics form of what
    the parser computes by walking bytes."""
    crlf = "chr(13) || chr(10)"
    return f"""
        SELECT file_id, url, ts,
               COALESCE(SUM(rec_len) OVER (
                   PARTITION BY file_id ORDER BY url
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS offset,
               rec_len, body_bytes, body_md5
        FROM (
            SELECT ('0x' || substr(md5({url_col}), 1, 8))::BIGINT
                       % {n_files} AS file_id,
                   {url_col} AS url, {ts_col} AS ts,
                   strlen(
                       'WARC/1.0' || {crlf}
                       || 'WARC-Type: response' || {crlf}
                       || 'WARC-Target-URI: ' || {url_col} || {crlf}
                       || 'WARC-Date: ' || {ts_col} || {crlf}
                       || 'Content-Length: '
                       || CAST(strlen({body_col}) AS VARCHAR) || {crlf}
                       || {crlf} || {body_col} || {crlf} || {crlf}
                   )::BIGINT AS rec_len,
                   strlen({body_col})::BIGINT AS body_bytes,
                   md5({body_col}) AS body_md5
            FROM ({pages_sql})
        )
    """
