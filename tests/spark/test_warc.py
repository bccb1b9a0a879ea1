"""WARC-style archive pack/parse (deduce_spark.spark.warc).

Pins: byte-exact roundtrip (url/ts/body back out), offset contiguity
(records tile each archive exactly), length-delimited robustness
(bodies containing the record magic), byte-vs-char Content-Length on
multibyte text, honest failure on malformed archives, and DuckDB
oracle parity on the synthetic pages surface.
"""
import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from deduce_spark.spark.warc import (
    pack_warc_files,
    parse_warc_records,
    warc_roundtrip_oracle_sql,
)

PAGES = [
    # (url, ts, body)
    ("https://a.nl/1", "2026-08-01T00:00:00Z", "plain body one"),
    ("https://a.nl/2", "2026-08-02T00:00:00Z", ""),  # empty body
    # body containing the record magic — length-delimited parsing must
    # NOT split here
    ("https://b.nl/3", "2026-08-03T00:00:00Z",
     "evil WARC/1.0\r\nWARC-Type: response\r\n\r\n payload"),
    # multibyte: Content-Length counts BYTES, not chars
    ("https://b.nl/4", "2026-08-04T00:00:00Z", "café crème 🍰"),
    ("https://c.nl/5", "2026-08-05T00:00:00Z", "x" * 5000),
]


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(PAGES, "url string, ts string, body string")


def test_roundtrip_all_fields(spark, pages_df):
    files = pack_warc_files(pages_df, n_files=2)
    out = parse_warc_records(files).orderBy("url").collect()
    assert [r["url"] for r in out] == [p[0] for p in PAGES]
    for row, (url, ts, body) in zip(out, PAGES):
        assert row["ts"] == ts
        raw = body.encode("utf-8")
        assert row["body_bytes"] == len(raw)
        assert row["body_md5"] == hashlib.md5(raw).hexdigest()


def test_offsets_tile_each_file(spark, pages_df):
    files = pack_warc_files(pages_df, n_files=2).cache()
    try:
        sizes = {
            r["file_id"]: (len(bytes(r["payload"])), r["n_records"])
            for r in files.collect()
        }
        recs = parse_warc_records(files).collect()
        by_file: dict[int, list] = {}
        for r in recs:
            by_file.setdefault(r["file_id"], []).append(r)
        assert sum(n for _, n in sizes.values()) == len(PAGES)
        for fid, rows in by_file.items():
            rows.sort(key=lambda r: r["offset"])
            pos = 0
            for r in rows:
                assert r["offset"] == pos  # contiguous, gap-free tiling
                pos += r["rec_len"]
            assert pos == sizes[fid][0]  # records cover the whole blob
            assert len(rows) == sizes[fid][1]
    finally:
        files.unpersist()


def test_multibyte_body_bytes_exceed_chars(spark, pages_df):
    row = (
        parse_warc_records(pack_warc_files(pages_df, n_files=1))
        .filter(F.col("url") == "https://b.nl/4")
        .collect()[0]
    )
    body = PAGES[3][2]
    assert row["body_bytes"] == len(body.encode("utf-8")) > len(body)


def test_malformed_archive_raises(spark):
    bad = spark.createDataFrame(
        [(0, bytearray(b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort"))],
        "file_id long, payload binary",
    )
    with pytest.raises(Exception, match="truncated|terminator"):
        parse_warc_records(bad).collect()


def test_null_body_raises_instead_of_silent_drop(spark):
    pages = spark.createDataFrame(
        [("https://a.nl/1", "2026-08-01T00:00:00Z", "ok"),
         ("https://a.nl/2", "2026-08-02T00:00:00Z", None)],
        "url string, ts string, body string",
    )
    with pytest.raises(Exception, match="NULL url/ts/body"):
        pack_warc_files(pages, n_files=1).collect()


def test_not_a_warc_raises(spark):
    bad = spark.createDataFrame(
        [(0, bytearray(b"HTTP/1.1 200 OK\r\n\r\nnope\r\n\r\n"))],
        "file_id long, payload binary",
    )
    with pytest.raises(Exception, match="magic"):
        parse_warc_records(bad).collect()


def test_gzip_roundtrip_matches_plain(spark, pages_df):
    plain = (
        parse_warc_records(pack_warc_files(pages_df, n_files=2))
        .select("file_id", "url", "ts", "body_bytes", "body_md5")
        .orderBy("url")
        .collect()
    )
    gz = (
        parse_warc_records(
            pack_warc_files(pages_df, n_files=2, compress=True)
        )
        .select("file_id", "url", "ts", "body_bytes", "body_md5")
        .orderBy("url")
        .collect()
    )
    assert plain == gz


def test_gzip_members_tile_and_shrink(spark, pages_df):
    files = pack_warc_files(pages_df, n_files=1, compress=True).cache()
    try:
        payload = bytes(files.collect()[0]["payload"])
        recs = sorted(
            parse_warc_records(files).collect(), key=lambda r: r["offset"]
        )
        pos = 0
        for r in recs:
            assert r["offset"] == pos
            pos += r["rec_len"]
        assert pos == len(payload)
        plain_size = len(bytes(
            pack_warc_files(pages_df, n_files=1).collect()[0]["payload"]
        ))
        # the x*5000 body makes deflate win overall
        assert len(payload) < plain_size
    finally:
        files.unpersist()


def test_gzip_pack_deterministic(spark, pages_df):
    a = bytes(
        pack_warc_files(pages_df, n_files=1, compress=True)
        .collect()[0]["payload"]
    )
    b = bytes(
        pack_warc_files(pages_df, n_files=1, compress=True)
        .collect()[0]["payload"]
    )
    assert a == b


def test_truncated_gzip_member_raises(spark, pages_df):
    payload = bytes(
        pack_warc_files(pages_df, n_files=1, compress=True)
        .collect()[0]["payload"]
    )
    bad = spark.createDataFrame(
        [(0, bytearray(payload[:-20]))], "file_id long, payload binary"
    )
    with pytest.raises(Exception, match="truncated gzip|one record"):
        parse_warc_records(bad).collect()


def test_streaming_ingest_exactly_once(spark, pages_df, tmp_path):
    # parse_warc_records is a stateless mapInPandas, so the batch kernel
    # runs unchanged on a file-source stream; exactly-once comes from the
    # source + checkpoint: each archive file is parsed once per lineage
    src, ckpt = tmp_path / "drops", tmp_path / "ckpt"
    src.mkdir()
    first = pages_df.filter(F.col("url") < "https://b")
    second = pages_df.filter(F.col("url") >= "https://b")
    pack_warc_files(first, n_files=1).write.parquet(str(src / "d1"))

    collected: list = []

    def run():
        stream = spark.readStream.schema(
            "file_id long, payload binary, n_records long"
        ).parquet(f"{src}/*")

        def sink(batch_df, batch_id):
            collected.extend(batch_df.collect())

        q = (
            parse_warc_records(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert sorted(r["url"] for r in collected) == sorted(
        r[0] for r in first.select("url").collect()
    )
    # second drop arrives; restart from the same checkpoint parses ONLY it
    pack_warc_files(second, n_files=1).write.parquet(str(src / "d2"))
    n_before = len(collected)
    run()
    assert sorted(r["url"] for r in collected[n_before:]) == sorted(
        r[0] for r in second.select("url").collect()
    )
    # third run with nothing new emits nothing (exactly-once)
    n_before = len(collected)
    run()
    assert len(collected) == n_before
    # every record's content fields match the batch parse of both packs
    batch = parse_warc_records(
        pack_warc_files(pages_df, n_files=1)
    ).collect()
    assert {(r["url"], r["body_md5"]) for r in collected} == {
        (r["url"], r["body_md5"]) for r in batch
    }


def test_oracle_parity_inline(spark, pages_df):
    got = (
        parse_warc_records(pack_warc_files(pages_df, n_files=2))
        .orderBy("url")
        .toPandas()
    )
    con = duckdb.connect()
    con.register(
        "pages_src", __import__("pandas").DataFrame(
            PAGES, columns=["url", "ts", "body"]
        ),
    )
    want = con.execute(
        warc_roundtrip_oracle_sql("SELECT * FROM pages_src", n_files=2)
        + " ORDER BY url"
    ).df()
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert list(got[c]) == list(want[c]), c
