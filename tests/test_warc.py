"""WARC writer/parser round trip + the distributed ingestion stage.

Writer and parser are independent code paths; round-tripping through
real files proves the converter contract (external format → pages
schema) byte-exactly, including the WARC-Date timestamp.
"""

import pytest

from mindocr_spark.sources.warc import (
    format_response_record,
    parse_warc,
    _warcinfo,
)


RECORDS = [
    ("https://a.example/x", 1704067200, b"<html><body>alpha</body></html>", "en"),
    ("https://b.example/y?q=1&r=2", 1704067261,
     "<html><body>unicode 中文 €</body></html>".encode(), "zh"),
    ("https://c.example/crlf", 1704153600,
     b"<html>embedded\r\n\r\nseparators WARC/1.0\r\nContent-Length: 9</html>",
     "de"),
]


def _build_file():
    buf = bytearray(_warcinfo("test.warc"))
    for url, ts, html, lang in RECORDS:
        buf += format_response_record(url, ts, html, lang)
    return bytes(buf)


def test_warc_roundtrip_exact():
    got = parse_warc(_build_file())
    assert len(got) == len(RECORDS)      # warcinfo skipped
    for rec, (url, ts, html, lang) in zip(got, RECORDS):
        assert rec["url"] == url
        assert rec["ts_sec"] == ts       # WARC-Date survives exactly
        assert rec["html"] == html       # byte-identical body
        assert rec["lang"] == lang
        assert rec["http_status"] == 200


def test_warc_payload_is_length_delimited():
    """Bodies containing CRLF CRLF and 'WARC/1.0' must not confuse the
    walk — records are Content-Length-delimited, not sentinel-scanned."""
    got = parse_warc(_build_file())
    assert b"WARC/1.0" in got[2]["html"]


def test_warc_rejects_corruption():
    good = _build_file()
    with pytest.raises(ValueError):
        parse_warc(good[:-2])                      # truncated terminator
    with pytest.raises(ValueError):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")     # no WARC version line
    # declared HTTP Content-Length must match the actual body: shrink
    # the html's declared length (keeping the WARC record framing valid
    # by padding the WARC Content-Length back up is unnecessary — the
    # mismatch is detected before the record terminator check)
    html_len = len(RECORDS[0][2])
    bad = good.replace(
        f"Content-Length: {html_len}\r\n\r\n<html><body>alpha".encode(),
        f"Content-Length: {html_len - 1}\r\n\r\n<html><body>alpha".encode(),
        1,
    )
    assert bad != good  # the tampering actually landed
    with pytest.raises(ValueError, match="Content-Length mismatch"):
        parse_warc(bad)
    # content bytes themselves are opaque — same-length edits parse fine
    mism = bytearray(good)
    i = mism.index(b"<html><body>alpha")
    mism[i:i + 5] = b"<HTML"
    parse_warc(bytes(mism))


def test_warc_rejects_hostile_framing():
    """Untrusted-crawl hardening: a crafted negative or absent
    Content-Length must raise, never drive the walk backwards (the
    negative-slice trick could satisfy the terminator check against
    bytes near EOF and loop forever)."""
    good = _build_file()
    warc_cl = good.index(b"Content-Length: ")
    cl_end = good.index(b"\r\n", warc_cl)
    # negative WARC Content-Length
    neg = good[:warc_cl] + b"Content-Length: -8" + good[cl_end:]
    with pytest.raises(ValueError, match="negative Content-Length"):
        parse_warc(neg)
    # absent WARC Content-Length
    absent = good[:warc_cl] + b"X-Nope: 1" + good[cl_end:]
    with pytest.raises(ValueError, match="missing Content-Length"):
        parse_warc(absent)
    # non-numeric
    junk = good[:warc_cl] + b"Content-Length: 12abc" + good[cl_end:]
    with pytest.raises(ValueError):
        parse_warc(junk)


def test_warc_non_ascii_headers_roundtrip():
    """UTF-8 URLs / langs in WARC headers must survive exactly (a
    latin-1-only parse would mojibake them)."""
    url = "https://例え.jp/ünïcode/path?q=日本語"
    rec = format_response_record(url, 1704067200,
                                 b"<html><body>x</body></html>", "ja")
    got = parse_warc(rec)
    assert got[0]["url"] == url
    assert got[0]["lang"] == "ja"


def test_warc_distributed_roundtrip(spark, tmp_path):
    """write_warc_dir (applyInPandas sink) → read_warc (binaryFile +
    mapInPandas) restores every page byte-identically."""
    from pyspark.sql import functions as F
    from mindocr_spark.sources.warc import read_warc, write_warc_dir

    rows = [
        (f"https://w.example/p/{i}", 1704067200 + i,
         f"<html><body>doc {i} body</body></html>".encode(),
         ["en", "de", "zh"][i % 3])
        for i in range(25)
    ]
    pages = spark.createDataFrame(
        rows, "url string, sec bigint, html binary, lang string"
    ).select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"), "html", "lang"
    )
    out = str(tmp_path / "warc")
    n = write_warc_dir(pages, out, n_files=4)
    assert n == 25
    back = {r["url"]: r for r in read_warc(spark, out).collect()}
    assert len(back) == 25
    for url, sec, html, lang in rows:
        r = back[url]
        assert bytes(r["html"]) == html
        assert r["lang"] == lang
        assert r["http_status"] == 200
    # timestamps round-trip as instants (epoch computed JVM-side —
    # tz-proof; python .timestamp() on collected naive datetimes is not)
    secs = {r["url"]: r["sec"] for r in
            read_warc(spark, out)
            .select("url", F.unix_timestamp("warc_ts").alias("sec"))
            .collect()}
    for url, sec, *_ in rows:
        assert secs[url] == sec


def test_incremental_ingest_exactly_once(spark, tmp_path):
    """File-grain exactly-once: new files ingest once, replay after a
    lost lineage commit overwrites instead of duplicating."""
    from pyspark.sql import functions as F
    from mindocr_spark.sources.warc import (
        format_response_record,
        ingest_warc_incremental,
        _warcinfo,
    )

    warc_dir = tmp_path / "in"
    warc_dir.mkdir()

    def put(name, ids):
        buf = bytearray(_warcinfo(name))
        for i in ids:
            buf += format_response_record(
                f"https://inc.example/{i}", 1704067200 + i,
                f"<html><body>doc {i}</body></html>".encode(), "en")
        (warc_dir / name).write_bytes(bytes(buf))

    put("a.warc", range(0, 5))
    put("b.warc", range(5, 8))
    pages_out = str(tmp_path / "pages")
    lineage = str(tmp_path / "lineage")

    got = ingest_warc_incremental(spark, str(warc_dir), pages_out, lineage)
    assert got == ["a.warc", "b.warc"]
    assert spark.read.parquet(pages_out).count() == 8
    # idempotent: nothing pending on re-run
    assert ingest_warc_incremental(spark, str(warc_dir), pages_out, lineage) == []

    # a new file lands → only it is ingested
    put("c.warc", range(8, 10))
    assert ingest_warc_incremental(
        spark, str(warc_dir), pages_out, lineage) == ["c.warc"]
    df = spark.read.parquet(pages_out)
    assert df.count() == 10
    assert df.select("url").distinct().count() == 10

    # crash replay: lineage lost AFTER data commit → re-ingest overwrites
    # per-file partitions, never duplicates
    import shutil
    shutil.rmtree(lineage)
    assert sorted(ingest_warc_incremental(
        spark, str(warc_dir), pages_out, lineage)) == [
        "a.warc", "b.warc", "c.warc"]
    df = spark.read.parquet(pages_out)
    assert df.count() == 10
    assert df.select("url").distinct().count() == 10


def test_jsonl_roundtrip(spark, tmp_path):
    """JSON-lines converter: write → read restores the pages contract
    byte-exactly (base64 payload, epoch-second timestamp)."""
    from pyspark.sql import functions as F
    from mindocr_spark.sources.jsonl import read_jsonl_pages, write_jsonl_pages

    rows = [
        (f"https://j.example/p/{i}", 1704067200 + i,
         f"<html><body>doc {i} with ünïcode 中文</body></html>".encode(),
         ["en", "zh"][i % 2])
        for i in range(20)
    ]
    pages = spark.createDataFrame(
        rows, "url string, sec bigint, html binary, lang string"
    ).select("url", F.timestamp_seconds("sec").alias("warc_ts"),
             "html", "lang")
    out = str(tmp_path / "jsonl")
    write_jsonl_pages(pages, out, n_files=3)
    back = {r["url"]: r for r in
            read_jsonl_pages(spark, out)
            .withColumn("sec", F.unix_timestamp("warc_ts")).collect()}
    assert len(back) == 20
    for url, sec, html, lang in rows:
        assert bytes(back[url]["html"]) == html
        assert back[url]["lang"] == lang
        assert back[url]["sec"] == sec


def test_jsonl_malformed_lines_survive(spark, tmp_path):
    from pyspark.sql import functions as F
    from mindocr_spark.sources.jsonl import read_jsonl_pages

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.txt").write_text(
        '{"url":"https://ok.example/1","warc_sec":5,'
        '"html_b64":"PGh0bWw+","lang":"en"}\n'
        "this is not json at all\n"
        '{"broken": \n'
    )
    df = read_jsonl_pages(spark, str(p))
    ok = df.where(F.col("url").isNotNull()).collect()
    assert len(ok) == 1 and bytes(ok[0]["html"]) == b"<html>"
    # malformed lines surface as null-url rows, not a dead scan
    assert df.count() >= 1


def test_mixed_status_record_roundtrip():
    """Non-200 statuses and non-HTML media types survive the
    writer→parser loop; mime strips parameters."""
    from mindocr_spark.sources.warc import (
        format_response_record, parse_warc,
    )

    recs = (
        format_response_record("u/a", 5, b"<h1>gone</h1>", "en",
                               status=404, reason="Not Found")
        + format_response_record("u/b", 6, b"%PDF-1.4", "en",
                                 content_type="application/pdf")
        + format_response_record("u/c", 7, b"<p>x</p>", "en")
    )
    got = {r["url"]: r for r in parse_warc(recs)}
    assert got["u/a"]["http_status"] == 404
    assert got["u/b"]["mime"] == "application/pdf"
    assert got["u/c"]["mime"] == "text/html"  # charset param stripped
    assert got["u/c"]["http_status"] == 200


def test_http_gate_flags(spark):
    from mindocr_spark.sources.warc import http_gate

    pages = spark.createDataFrame(
        [("a", 200, "text/html"), ("b", 404, "text/html"),
         ("c", 200, "application/pdf"), ("d", 200, None),
         ("e", 301, "text/html")],
        "url string, http_status int, mime string",
    )
    got = {r["url"]: r["fetch_ok"] for r in http_gate(pages).collect()}
    assert got == {"a": True, "b": False, "c": False,
                   "d": False, "e": False}


class TestRevisitRecords:
    def _pages(self, spark, rows):
        import datetime as dt

        from pyspark.sql import functions as F

        data = [
            (u, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), h, "en")
            for u, h in rows
        ]
        df = spark.createDataFrame(
            data, "url string, warc_ts timestamp, html string, lang string")
        return df.withColumn("html", F.col("html").cast("binary"))

    def test_dedup_write_counts_and_resolution(self, spark, tmp_path):
        from mindocr_spark.sources.warc import (
            read_warc_resolved,
            write_warc_dir_deduped,
        )

        pages = self._pages(spark, [
            ("https://a.example/1", "<p>same</p>"),
            ("https://b.example/2", "<p>same</p>"),   # mirror -> revisit
            ("https://c.example/3", "<p>other</p>"),
        ])
        out = str(tmp_path / "w")
        n_resp, n_rev = write_warc_dir_deduped(pages, out, n_files=2)
        assert (n_resp, n_rev) == (2, 1)
        back = {r["url"]: bytes(r["html"]).decode()
                for r in read_warc_resolved(spark, out).collect()}
        assert back == {
            "https://a.example/1": "<p>same</p>",
            "https://b.example/2": "<p>same</p>",
            "https://c.example/3": "<p>other</p>",
        }

    def test_canonical_is_smallest_url(self, spark, tmp_path):
        from mindocr_spark.sources.warc import (
            parse_warc_with_revisits,
            write_warc_dir_deduped,
        )

        pages = self._pages(spark, [
            ("https://z.example/big", "<p>x</p>"),
            ("https://a.example/small", "<p>x</p>"),
        ])
        out = str(tmp_path / "w")
        write_warc_dir_deduped(pages, out, n_files=1)
        import pathlib

        recs = parse_warc_with_revisits(
            (pathlib.Path(out) / "part-00000.warc").read_bytes())
        roles = {r["url"]: r["is_revisit"] for r in recs}
        assert roles == {"https://a.example/small": False,
                         "https://z.example/big": True}

    def test_same_url_refetch_becomes_revisit(self, spark, tmp_path):
        """N re-crawls of the SAME url with identical payload — the
        most common archive-dedup case — must store ONE response (the
        earliest observation) and N-1 revisits, and resolve back to
        all N observations."""
        import datetime as dt

        from pyspark.sql import functions as F

        from mindocr_spark.sources.warc import (
            parse_warc_with_revisits,
            read_warc_resolved,
            write_warc_dir_deduped,
        )

        url = "https://r.example/page"
        data = [
            (url, dt.datetime(2024, 1, d, tzinfo=dt.timezone.utc),
             "<p>stable</p>", "en")
            for d in (3, 1, 2)
        ]
        pages = spark.createDataFrame(
            data,
            "url string, warc_ts timestamp, html string, lang string",
        ).withColumn("html", F.col("html").cast("binary"))
        out = str(tmp_path / "w")
        n_resp, n_rev = write_warc_dir_deduped(pages, out, n_files=1)
        assert (n_resp, n_rev) == (1, 2)
        import pathlib

        recs = parse_warc_with_revisits(
            (pathlib.Path(out) / "part-00000.warc").read_bytes())
        # the earliest (url, ts) observation is the canonical response
        responses = [r for r in recs if not r["is_revisit"]]
        assert len(responses) == 1
        assert responses[0]["ts_sec"] == int(
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
        back = read_warc_resolved(spark, out).collect()
        assert len(back) == 3
        assert {bytes(r["html"]).decode() for r in back} == {"<p>stable</p>"}
        assert {int(r["warc_ts"].day) for r in back} == {1, 2, 3}

    def test_revisit_record_bytes_walk_clean(self, spark, tmp_path):
        """Revisit records (Content-Length 0) must pass the hardened
        record walk and carry the md5 pointer."""
        from mindocr_spark.sources.warc import (
            format_revisit_record,
            parse_warc_with_revisits,
        )

        rec = format_revisit_record(
            "https://m.example/", 0, "d" * 32, "https://o.example/")
        [parsed] = parse_warc_with_revisits(rec)
        assert parsed["is_revisit"] and parsed["digest"] == "d" * 32

    def test_empty_input_writes_nothing(self, spark, tmp_path):
        from mindocr_spark.sources.warc import write_warc_dir_deduped

        empty = self._pages(spark, [])
        assert write_warc_dir_deduped(
            empty, str(tmp_path / "w0"), n_files=2) == (0, 0)


def test_incremental_ingest_fails_closed_on_lineage_read_error(
        spark, tmp_path, monkeypatch):
    """A lineage that exists but cannot be read is an error, not
    "nothing ingested yet": the run raises instead of re-ingesting
    every file."""
    from pyspark.sql.readwriter import DataFrameReader
    from mindocr_spark.sources.warc import (
        format_response_record,
        ingest_warc_incremental,
        _warcinfo,
    )

    warc_dir = tmp_path / "in"
    warc_dir.mkdir()
    buf = bytearray(_warcinfo("a.warc"))
    buf += format_response_record(
        "https://inc.example/0", 1704067200,
        b"<html><body>doc 0</body></html>", "en")
    (warc_dir / "a.warc").write_bytes(bytes(buf))
    pages_out = str(tmp_path / "pages")
    lineage = str(tmp_path / "lineage")
    assert ingest_warc_incremental(
        spark, str(warc_dir), pages_out, lineage) == ["a.warc"]

    real_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        if lineage in paths:
            raise OSError("simulated lineage read failure")
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    with pytest.raises(OSError, match="lineage read failure"):
        ingest_warc_incremental(spark, str(warc_dir), pages_out, lineage)
    monkeypatch.undo()
    assert spark.read.parquet(pages_out).count() == 1
