"""warc — external-format ingestion: WARC files → the pages contract.

The reference ships converters normalizing eight public dataset formats
into its canonical TSV contract (reference:
tools/dataset_converters/convert.py:32-54). The graft's external format
is Common Crawl's: WARC/1.0. This module has a real pure-stdlib parser
for the response-record subset — header-block scan, Content-Length-
delimited payloads, embedded HTTP/1.1 response parse (status, headers,
body) — plus a deterministic distributed writer used to synthesize
fixture WARCs from the documents corpus, and the Spark ingestion stage
(binaryFile scan → mapInPandas parse → pages schema).

Writer and parser are independent code paths; the ingested pages then
run the full extraction pipeline, so the WARC path is verified
end-to-end against the same byte-identical oracle as the direct path.

Time discipline: WARC-Date is formatted from / parsed to EPOCH SECONDS
(UTC, ISO-8601 Z); timestamps cross the Python/JVM boundary only as
tz-aware instants, so an unknown driver session timezone cannot skew
them.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

_CRLF = b"\r\n"

#: Ingested-pages schema: warc_ts as a tz-aware instant (timestamp),
#: lang recovered from the HTTP Content-Language header.
WARC_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, lang string, "
    "http_status int, mime string, warc_file string"
)


# --------------------------------------------------------------------------
# Record formatting (deterministic writer)
# --------------------------------------------------------------------------


def _iso(ts_sec: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(
        int(ts_sec), dt.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%SZ")


def format_response_record(url: str, ts_sec: int, html: bytes,
                           lang: str, status: int = 200,
                           reason: str = "OK",
                           content_type: str =
                           "text/html; charset=utf-8") -> bytes:
    """One WARC/1.0 response record wrapping an HTTP/1.1 response.
    Defaults produce byte-identical records to the original 200-only
    writer; the mixed-status fixture family passes status/reason/
    content_type to plant the non-2xx / non-HTML arms a real crawl
    ingest must classify."""
    http = (
        f"HTTP/1.1 {status} {reason}\r\n".encode()
        + f"Content-Type: {content_type}\r\n".encode()
        + f"Content-Language: {lang}\r\n".encode()
        + f"Content-Length: {len(html)}\r\n".encode()
        + _CRLF + html
    )
    import hashlib

    rec_id = hashlib.md5(f"{url}:{ts_sec}".encode()).hexdigest()
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Target-URI: {url}\r\n".encode()
        + f"WARC-Date: {_iso(ts_sec)}\r\n".encode()
        + f"WARC-Record-ID: <urn:uuid:{rec_id}>\r\n".encode()
        + b"Content-Type: application/http; msgtype=response\r\n"
        + f"Content-Length: {len(http)}\r\n".encode()
        + _CRLF
    )
    return head + http + _CRLF + _CRLF


def _warcinfo(filename: str) -> bytes:
    body = b"software: mindocr-spark-warc-writer/1.0\r\nformat: WARC File Format 1.0\r\n"
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        + f"WARC-Filename: {filename}\r\n".encode()
        + f"WARC-Date: {_iso(0)}\r\n".encode()
        + b"Content-Type: application/warc-fields\r\n"
        + f"Content-Length: {len(body)}\r\n".encode()
        + _CRLF + body + _CRLF + _CRLF
    )


# --------------------------------------------------------------------------
# Parser (real byte-level WARC walk)
# --------------------------------------------------------------------------

_TS_RE = re.compile(r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})Z")


def _parse_iso(s: str) -> int:
    import calendar

    m = _TS_RE.fullmatch(s.strip())
    if not m:
        raise ValueError(f"bad WARC-Date: {s!r}")
    y, mo, d, h, mi, se = (int(x) for x in m.groups())
    return calendar.timegm((y, mo, d, h, mi, se))


def _hdr_decode(b: bytes) -> str:
    """Header values are UTF-8 per WARC/1.0 (the writer encodes them as
    UTF-8); latin-1 is the lossless fallback for raw legacy bytes —
    decoding everything as latin-1 would mojibake non-ASCII URLs."""
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = _hdr_decode(v.strip())
    return headers


def walk_warc_records(payload: bytes):
    """The hardened WARC/1.0 record walk shared by every derived-format
    parser (response WARCs here, conversion WETs in sources/wet.py):
    version line → header block → exactly Content-Length payload bytes
    → CRLF CRLF separator, yielding (headers, body) per record in file
    order. Untrusted-input hardening: an absent or negative
    Content-Length would make body_start+length wrap via negative
    slicing (the CRLF-CRLF terminator check can then pass against bytes
    near EOF and pos can go backwards — an unbounded walk on crafted or
    corrupt crawl data). Reject instead of trusting."""
    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos:pos + 5] != b"WARC/":
            raise ValueError(f"expected WARC version line at byte {pos}")
        head_end = payload.index(_CRLF + _CRLF, pos)
        headers = _parse_headers(payload[pos:head_end])
        raw_len = headers.get("content-length")
        if raw_len is None:
            raise ValueError(f"record at byte {pos} missing Content-Length")
        length = int(raw_len)
        if length < 0:
            raise ValueError(
                f"record at byte {pos} has negative Content-Length {length}"
            )
        body_start = head_end + 4
        body = payload[body_start:body_start + length]
        if payload[body_start + length:body_start + length + 4] != _CRLF + _CRLF:
            raise ValueError("record not terminated by CRLF CRLF")
        new_pos = body_start + length + 4
        if new_pos <= pos:
            raise ValueError(f"record walk did not advance at byte {pos}")
        pos = new_pos
        yield headers, body


def parse_warc(payload: bytes) -> list[dict]:
    """Walk a WARC/1.0 file (shared hardened walk). Response records
    get their HTTP envelope parsed (status line, headers, body = html);
    other record types (warcinfo, request, metadata) are skipped.
    Returns [{url, ts_sec, html, lang, http_status}, ...] in file order.
    """
    out: list[dict] = []
    for headers, body in walk_warc_records(payload):
        if headers.get("warc-type") != "response":
            continue
        # embedded HTTP/1.1 response
        http_head_end = body.index(_CRLF + _CRLF)
        http_lines = body[:http_head_end]
        status_line = http_lines.split(_CRLF, 1)[0]
        status = int(status_line.split(b" ")[1])
        http_headers = _parse_headers(http_lines.split(_CRLF, 1)[1])
        html = body[http_head_end + 4:]
        declared = http_headers.get("content-length")
        if declared is not None and int(declared) != len(html):
            raise ValueError("HTTP Content-Length mismatch")
        out.append(dict(
            url=headers["warc-target-uri"],
            ts_sec=_parse_iso(headers["warc-date"]),
            html=html,
            lang=http_headers.get("content-language", "unknown"),
            http_status=status,
            # media type only (parameters like charset stripped): the
            # fetch-gate key a crawl classifier filters on
            mime=http_headers.get("content-type", "").split(";")[0].strip(),
        ))
    return out


# --------------------------------------------------------------------------
# Spark stages: distributed writer + ingestion scan
# --------------------------------------------------------------------------


#: Status-line reasons the mixed-status fixture writer emits.
_REASONS = {200: "OK", 301: "Moved Permanently", 404: "Not Found",
            503: "Service Unavailable"}


def write_warc_dir(pages: DataFrame, out_dir: str, n_files: int = 8,
                   status_col: str | None = None,
                   mime_col: str | None = None) -> int:
    """pages(url, warc_ts, html, lang, doc_id) → `n_files` .warc files
    under out_dir, written DISTRIBUTED (one group per file via
    applyInPandas — the converter-sink shape; no driver collect).
    Record order inside a file is pinned (sorted by url) so the files
    are bit-reproducible. `status_col`/`mime_col` name optional per-row
    HTTP status / Content-Type columns (default: 200 text/html — the
    original writer, byte-identical). Returns the records written."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    # epoch seconds JVM-side: tz-proof hand-off into the python writer
    src = pages.select(
        "url", F.unix_timestamp("warc_ts").alias("ts_sec"), "html", "lang",
        (F.col(status_col) if status_col else F.lit(200)).alias("st_"),
        (F.col(mime_col) if mime_col
         else F.lit("text/html; charset=utf-8")).alias("ct_"),
        F.pmod(F.xxhash64("url"), F.lit(n_files)).alias("file_id"),
    )

    def write_group(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        fid = int(key[0])
        name = f"part-{fid:05d}.warc"
        pdf = pdf.sort_values("url")
        buf = bytearray(_warcinfo(name))
        for r in pdf.itertuples():
            buf += format_response_record(
                r.url, int(r.ts_sec), bytes(r.html), r.lang,
                status=int(r.st_),
                reason=_REASONS.get(int(r.st_), "Unknown"),
                content_type=r.ct_,
            )
        tmp = os.path.join(out_dir, f".{name}.tmp{os.getpid()}")
        with open(tmp, "wb") as fh:
            fh.write(bytes(buf))
        os.replace(tmp, os.path.join(out_dir, name))
        return pd.DataFrame({"file_id": [fid], "n_records": [len(pdf)]})

    written = (
        src.groupBy("file_id")
        .applyInPandas(write_group, schema="file_id int, n_records bigint")
        .agg(F.sum("n_records").alias("n"))
        .collect()[0]["n"]
    )
    return int(written)


def read_warc(spark: SparkSession, path: str,
              files: list[str] | None = None) -> DataFrame:
    """Ingest WARC files into the pages contract: binaryFile scan (one
    row per file — files are the parallelism unit, as in real Common
    Crawl processing where a crawl is ~64k WARC files) → mapInPandas
    record parse. Parse failures surface as a single failed row per
    file (url = file path, http_status = -1), the skip-flag discipline.
    `files` restricts the scan to an explicit list (the incremental
    ingester's pending set); an EMPTY list means "nothing pending" and
    yields zero rows — it must not fall back to the full directory."""
    import pandas as pd

    if files is not None and not files:
        return spark.createDataFrame([], WARC_PAGES_SCHEMA)
    # pathGlobFilter on the directory, not a glob in the path: a glob
    # path makes Spark's FileStreamSink metadata probe log a benign but
    # noisy FileNotFoundException stack trace on every scan
    reader = spark.read.format("binaryFile")
    files_df = (
        reader.load(files) if files is not None
        else reader.option("pathGlobFilter", "*.warc").load(path)
    )

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                try:
                    for rec in parse_warc(bytes(content)):
                        rows.append(dict(
                            url=rec["url"],
                            warc_ts=pd.Timestamp(rec["ts_sec"], unit="s",
                                                 tz="UTC"),
                            html=rec["html"],
                            lang=rec["lang"],
                            http_status=rec["http_status"],
                            mime=rec["mime"],
                            warc_file=fpath,
                        ))
                except Exception:
                    rows.append(dict(
                        url=fpath, warc_ts=pd.Timestamp(0, unit="s", tz="UTC"),
                        html=b"", lang="unknown", http_status=-1,
                        mime=None, warc_file=fpath,
                    ))
            if rows:
                yield pd.DataFrame(rows)

    return files_df.select("path", "content").mapInPandas(
        parse, schema=WARC_PAGES_SCHEMA
    )


# --------------------------------------------------------------------------
# Incremental ingestion (exactly-once per WARC file)
# --------------------------------------------------------------------------

WARC_LINEAGE_SCHEMA = "warc_file string, n_pages bigint, run_id string"


def ingest_warc_incremental(
    spark: SparkSession,
    warc_dir: str,
    pages_out: str,
    lineage_path: str,
    run_id: str = "run-0",
) -> list[str]:
    """Exactly-once incremental WARC→pages conversion. The unit of
    commit is ONE WARC FILE (the converter-resume flavour of the
    lineage discipline in :mod:`mindocr_spark.sources.lineage`):

    1. pending = listed .warc files anti-joined against committed
       lineage (the committed set is tiny — one row per file);
    2. pending files' pages are written partitioned by `warc_file`
       with DYNAMIC partition overwrite — a crash-replayed file
       rewrites its own partition instead of appending duplicates;
    3. one lineage row per newly ingested file is appended AFTER the
       data commit (re-appended rows after a step-3 crash are
       deduplicated by the distinct read in step 1).

    Returns the basenames ingested this run ([] when up to date).
    """
    listed = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.warc"
    ).load(warc_dir).select(
        "path", F.element_at(F.split("path", "/"), -1).alias("warc_file")
    )
    from mindocr_spark.operators.pipeline import _FS

    # fail closed: only an ABSENT lineage means "nothing ingested yet";
    # any other read error propagates rather than re-ingesting everything
    if _FS(spark, lineage_path).exists(lineage_path):
        done = (
            spark.read.schema(WARC_LINEAGE_SCHEMA).parquet(lineage_path)
            .select("warc_file").distinct()
        )
    else:
        done = spark.createDataFrame([], "warc_file string")
    pending = [
        (r["path"], r["warc_file"])
        for r in listed.join(F.broadcast(done), "warc_file", "left_anti")
        .collect()  # bookkeeping-sized relation: one row per file
    ]
    if not pending:
        return []
    pages = read_warc(spark, warc_dir, files=[p for p, _b in pending]).select(
        "url", "warc_ts", "html", "lang", "http_status",
        F.element_at(F.split("warc_file", "/"), -1).alias("warc_file"),
    )
    (
        pages.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("warc_file")
        .parquet(pages_out)
    )
    basenames = sorted(b for _p, b in pending)
    counts = {
        r["warc_file"]: r["n"]
        for r in spark.read.parquet(pages_out)
        .where(F.col("warc_file").isin(basenames))
        .groupBy("warc_file").agg(F.count("*").alias("n")).collect()
    }
    spark.createDataFrame(
        [(b, int(counts.get(b, 0)), run_id) for b in basenames],
        WARC_LINEAGE_SCHEMA,
    ).write.mode("append").parquet(lineage_path)
    return basenames


def synth_warc_dir(spark: SparkSession, sf_dir: str,
                   n_files: int = 8) -> str:
    """Idempotent fixture-WARC synthesis for a testdata sf dir: the
    pages corpus serialized as WARC files under /tmp, content-hash-keyed
    (see sources.content_keyed_fixture_dir)."""
    from mindocr_spark.sources import content_keyed_fixture_dir
    from mindocr_spark.sources import pages as pages_mod
    from mindocr_spark.sources.pages import pages_from_documents

    def build(out_dir: str) -> None:
        pages = pages_from_documents(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
        write_warc_dir(pages, out_dir, n_files=n_files)

    return content_keyed_fixture_dir(
        "mindocr_warc", sf_dir, (__file__, pages_mod.__file__), build
    )


def synth_warc_dir_mixed(spark: SparkSession, sf_dir: str,
                         n_files: int = 8) -> str:
    """Mixed-status fixture WARCs: the pages corpus with a planted
    HTTP-status / Content-Type quota — doc_id mod 8 selects 404 (1),
    301 (2), application/pdf (3), 503 (5), else 200 text/html — so the
    ingest-side fetch gate has every arm to classify, in closed form
    for the SQL oracle."""
    from mindocr_spark.sources import content_keyed_fixture_dir
    from mindocr_spark.sources import pages as pages_mod
    from mindocr_spark.sources.pages import pages_from_documents

    def build(out_dir: str) -> None:
        m = F.pmod(F.col("doc_id"), F.lit(8))
        pages = pages_from_documents(spark, sf_dir).select(
            "*",
            (F.when(m == 1, 404).when(m == 2, 301).when(m == 5, 503)
             .otherwise(200)).alias("status"),
            F.when(m == 3, F.lit("application/pdf"))
            .otherwise(F.lit("text/html; charset=utf-8")).alias("ctype"),
        ).repartition(spark.sparkContext.defaultParallelism)
        write_warc_dir(pages, out_dir, n_files=n_files,
                       status_col="status", mime_col="ctype")

    return content_keyed_fixture_dir(
        "mindocr_warc_mixed", sf_dir, (__file__, pages_mod.__file__), build
    )


def http_gate(pages: DataFrame, ok_statuses: tuple[int, ...] = (200,),
              mime_prefixes: tuple[str, ...] = ("text/html",)) -> DataFrame:
    """The ingest-side fetch gate a crawl classifier runs before
    extraction: flag each ingested record ``fetch_ok`` when its HTTP
    status is in `ok_statuses` AND its media type matches a prefix in
    `mime_prefixes`. Flag-style (no row vanishes — excluded records
    stay countable for the metrics table); one codegen row predicate,
    free on the scan."""
    ok = F.col("http_status").isin(*[int(s) for s in ok_statuses])
    mime_ok = F.lit(False)
    for p in mime_prefixes:
        mime_ok = mime_ok | F.coalesce(
            F.col("mime").startswith(p), F.lit(False)
        )
    return pages.withColumn("fetch_ok", ok & mime_ok)


# --------------------------------------------------------------------------
# Revisit records — archive-level dedup storage (WARC/1.0 §6.7)
# --------------------------------------------------------------------------

REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


def format_revisit_record(url: str, ts_sec: int, digest: str,
                          refers_to_url: str) -> bytes:
    """One WARC/1.0 ``revisit`` record under the identical-payload-
    digest profile: the re-crawl matched an already-archived payload,
    so the archive stores a POINTER (WARC-Payload-Digest +
    WARC-Refers-To-Target-URI) instead of the body — how real web
    archives (and Common Crawl's deduplicated segments) keep N
    observations of one payload at ~zero marginal bytes."""
    import hashlib

    rec_id = hashlib.md5(f"revisit:{url}:{ts_sec}".encode()).hexdigest()
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: revisit\r\n"
        + f"WARC-Target-URI: {url}\r\n".encode()
        + f"WARC-Date: {_iso(ts_sec)}\r\n".encode()
        + f"WARC-Record-ID: <urn:uuid:{rec_id}>\r\n".encode()
        + f"WARC-Profile: {REVISIT_PROFILE}\r\n".encode()
        + f"WARC-Payload-Digest: md5:{digest}\r\n".encode()
        + f"WARC-Refers-To-Target-URI: {refers_to_url}\r\n".encode()
        + b"Content-Length: 0\r\n"
        + _CRLF
    )
    return head + _CRLF + _CRLF


def write_warc_dir_deduped(pages: DataFrame, out_dir: str,
                           n_files: int = 8) -> tuple[int, int]:
    """Digest-deduplicated WARC writer: ONE ``response`` record per
    distinct payload digest — the canonical copy is elected on
    ``(url, ts)`` ascending (deterministic, engine-reproducible), so
    the MOST COMMON archive-dedup case — N re-crawls of the SAME url
    with an identical payload — stores one response and N-1 ~300-byte
    revisits rather than N full responses. Every other observation
    becomes a ``revisit`` record. Returns (n_responses, n_revisits).

    100 TB shape: one md5 per page (codegen), ONE window over the
    digest key to elect canonicals (digest keys are uniform — no
    skew), then the same one-group-per-file applyInPandas sink as
    `write_warc_dir`. Storage drops from Σ payload to Σ distinct
    payload + ~300 bytes per revisit."""
    import pandas as pd

    from pyspark.sql import Window

    os.makedirs(out_dir, exist_ok=True)
    digest = F.md5(F.col("html"))
    w = Window.partitionBy("digest").orderBy("url", "ts_sec")
    src = (
        pages.select(
            "url", F.unix_timestamp("warc_ts").alias("ts_sec"),
            "html", "lang", digest.alias("digest"),
        )
        # rank-1-on-(url, ts) election: same-url re-fetches of one
        # payload yield exactly one response (the earliest), never N
        .withColumn("is_canon", F.row_number().over(w) == 1)
        .withColumn("canon_url", F.min("url").over(
            Window.partitionBy("digest")))
        .withColumn(
            "file_id", F.pmod(F.xxhash64("url"), F.lit(n_files)))
    )

    def write_group(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        fid = int(key[0])
        name = f"part-{fid:05d}.warc"
        pdf = pdf.sort_values(["url", "ts_sec"])
        buf = bytearray(_warcinfo(name))
        n_resp = n_rev = 0
        for r in pdf.itertuples():
            if r.is_canon:
                buf += format_response_record(
                    r.url, int(r.ts_sec), bytes(r.html), r.lang)
                n_resp += 1
            else:
                buf += format_revisit_record(
                    r.url, int(r.ts_sec), r.digest, r.canon_url)
                n_rev += 1
        tmp = os.path.join(out_dir, f".{name}.tmp{os.getpid()}")
        with open(tmp, "wb") as fh:
            fh.write(bytes(buf))
        os.replace(tmp, os.path.join(out_dir, name))
        return pd.DataFrame(
            {"file_id": [fid], "n_resp": [n_resp], "n_rev": [n_rev]})

    agg = (
        src.groupBy("file_id")
        .applyInPandas(
            write_group,
            schema="file_id int, n_resp bigint, n_rev bigint")
        .agg(F.sum("n_resp").alias("r"), F.sum("n_rev").alias("v"))
        .collect()[0]
    )
    # empty input → zero groups → NULL sums
    return int(agg["r"] or 0), int(agg["v"] or 0)


WARC_RECORDS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, lang string, "
    "digest string, is_revisit boolean"
)


def parse_warc_with_revisits(payload: bytes) -> list[dict]:
    """The shared hardened walk, yielding BOTH response records
    (html + computed digest) and revisit records (digest pointer, no
    body). Responses reuse `parse_warc`'s envelope handling."""
    import hashlib

    out: list[dict] = []
    for headers, body in walk_warc_records(payload):
        wtype = headers.get("warc-type")
        if wtype == "response":
            http_head_end = body.index(_CRLF + _CRLF)
            http_headers = _parse_headers(
                body[:http_head_end].split(_CRLF, 1)[1])
            html = body[http_head_end + 4:]
            out.append(dict(
                url=headers["warc-target-uri"],
                ts_sec=_parse_iso(headers["warc-date"]),
                html=html,
                lang=http_headers.get("content-language", "unknown"),
                digest=hashlib.md5(html).hexdigest(),
                is_revisit=False,
            ))
        elif wtype == "revisit":
            raw = headers.get("warc-payload-digest", "")
            if not raw.startswith("md5:"):
                raise ValueError(f"unsupported revisit digest {raw!r}")
            out.append(dict(
                url=headers["warc-target-uri"],
                ts_sec=_parse_iso(headers["warc-date"]),
                html=None,
                lang=None,
                digest=raw[4:],
                is_revisit=True,
            ))
    return out


def read_warc_resolved(spark: SparkSession, path: str) -> DataFrame:
    """Ingest a digest-deduplicated WARC directory and RESOLVE revisit
    records back to full pages: parse every file (binaryFile scan →
    mapInPandas over the hardened walk), then join revisits to the
    canonical responses on payload digest — one shuffle at digest
    cardinality; the canonical side's digest is recomputed from the
    actual bytes at parse time, so a corrupted body cannot satisfy a
    revisit pointer. Returns (url, warc_ts, html, lang) for every
    original observation — the loss-free inverse of
    `write_warc_dir_deduped`."""
    import pandas as pd

    files_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc").load(path)
    )

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for rec in parse_warc_with_revisits(bytes(content)):
                    rows.append(dict(
                        url=rec["url"],
                        warc_ts=pd.Timestamp(rec["ts_sec"], unit="s",
                                             tz="UTC"),
                        html=rec["html"],
                        lang=rec["lang"],
                        digest=rec["digest"],
                        is_revisit=rec["is_revisit"],
                    ))
            if rows:
                yield pd.DataFrame(rows)

    recs = files_df.select("content").mapInPandas(
        parse, schema=WARC_RECORDS_SCHEMA)
    originals = recs.where(~F.col("is_revisit")).select(
        "url", "warc_ts", "html", "lang", "digest")
    bodies = originals.select(
        F.col("digest").alias("b_digest"),
        F.col("html").alias("b_html"),
        F.col("lang").alias("b_lang"),
    ).distinct()
    revisits = (
        recs.where(F.col("is_revisit"))
        .select("url", "warc_ts", "digest")
        .join(bodies, F.col("digest") == F.col("b_digest"))
        .select(
            "url", "warc_ts",
            F.col("b_html").alias("html"),
            F.col("b_lang").alias("lang"),
            "digest",
        )
    )
    return originals.unionByName(revisits).select(
        "url", "warc_ts", "html", "lang")
