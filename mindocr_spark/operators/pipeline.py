"""End-to-end extraction jobs: plan → run → write, with skew handling,
metrics and resume.

The job shape (SURVEY §4): scan → fused narrow extraction → write.
Zero shuffles on the main path. Optional knobs for the 100 TB design
point:

- ``salt_partitions``: repartition by ``xxhash64(url)`` — breaks source
  skew (one giant warc bucket) before the CPU-heavy stage; on a real
  cluster the Iceberg table is already written bucketed by url-hash so
  this shuffle disappears (scan-time bucketing).
- ``size_ordered``: ``repartitionByRange(length(html))`` — co-batches
  similar-sized documents, the analog of the reference's gear batching
  (reference: deploy/py_infer/src/data_process/utils/gear_utils.py:11-35),
  so one multi-MB page doesn't stall an otherwise-tiny Arrow batch.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, functions as F

from mindocr_spark import extract_core as core
from mindocr_spark.operators.stages import extract_stage


def prepare_input(
    pages: DataFrame,
    salt_partitions: int | None = None,
    size_ordered: bool = False,
) -> DataFrame:
    if salt_partitions:
        pages = pages.repartition(salt_partitions, F.xxhash64("url"))
    if size_ordered:
        n = pages.sparkSession.sparkContext.defaultParallelism * 2
        pages = pages.repartitionByRange(n, F.length("html"))
    return pages


def run_extraction(
    pages: DataFrame,
    params: core.ExtractParams = core.DEFAULT_PARAMS,
    salt_partitions: int | None = None,
    size_ordered: bool = False,
) -> DataFrame:
    """The flagship query: extract main content for every page."""
    pages = prepare_input(pages, salt_partitions, size_ordered)
    return extract_stage(pages, params)


def extraction_metrics(result: DataFrame, run_id: str) -> DataFrame:
    """Per-partition metrics — the partial+final aggregation shape of the
    reference's DetMetric/AllReduce (reference:
    mindocr/metrics/det_metrics.py:79-156) and its per-module profiling
    (deploy/py_infer/src/parallel/parallel_pipeline.py:89-104).

    Declarative: one groupBy over spark_partition_id — Catalyst does the
    map-side partial agg; no accumulator plumbing needed.
    """
    return (
        result.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum("total_bytes").alias("bytes_in"),
            F.sum(F.length("extracted_text")).alias("chars_out"),
            F.avg("boilerplate_ratio").alias("boilerplate_ratio"),
            F.sum(F.col("failed").cast("long")).alias("failures"),
            F.sum("n_blocks").alias("blocks"),
        )
        .withColumn("run_id", F.lit(run_id))
    )


def write_results(
    result: DataFrame,
    path: str,
    metrics_path: str | None = None,
    run_id: str = "run-0",
    partition_by: tuple[str, ...] = (),
    metrics_granularity: str = "partition",
) -> None:
    """Sink. On a real cluster: Iceberg write-audit-publish (stage to a
    branch, validate metrics, then fast-forward) — here: parquet with an
    explicit metrics table alongside (same commit discipline, minus the
    catalog).

    metrics_granularity:
    - "partition": metrics re-aggregated from the WRITTEN data (one
      extra scan; per-partition rows — the audit that describes exactly
      what was committed);
    - "global": metrics harvested via ``DataFrame.observe`` DURING the
      write job itself — zero extra passes (the observed plan executes
      exactly once, so the counters are exact); one row with
      partition_id = -1, written as the run-keyed file the WAP sink
      writes (`_append_metrics_row`). At 100 TB the free global row is
      the every-run default and the per-partition audit is the
      deep-inspection mode.
    """
    if metrics_granularity not in ("partition", "global"):
        raise ValueError(
            f"metrics_granularity must be 'partition' or 'global', "
            f"got {metrics_granularity!r}"
        )
    if metrics_path and metrics_granularity == "global":
        result, obs = _observe_metrics(result, run_id)
    w = result.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    if not metrics_path:
        return
    spark = result.sparkSession
    if metrics_granularity == "global":
        _append_metrics_row(spark, _harvest(obs), run_id, metrics_path)
    else:
        # metrics computed on the *written* data so they describe the commit
        written = spark.read.parquet(path)
        extraction_metrics(written, run_id).write.mode("append").parquet(
            metrics_path
        )


def _observe_metrics(result: DataFrame, run_id: str):
    """Attach the extraction-metrics observation (the single source of
    the audited counter list — write_results global mode and the WAP
    sink share it so the two can never drift). A relation WITHOUT the
    extraction columns (a generic or schema-evolved table) gets the
    count-only observation — docs is real, the extraction-specific
    counters are zero — so the WAP protocol serves ANY table, not only
    raw extraction output."""
    from pyspark.sql import Observation

    obs = Observation(f"extract_metrics_{run_id}")
    needed = {"total_bytes", "extracted_text", "boilerplate_ratio",
              "failed", "n_blocks"}
    if needed <= set(result.columns):
        return result.observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum("total_bytes").alias("bytes_in"),
            F.sum(F.length("extracted_text")).alias("chars_out"),
            F.avg("boilerplate_ratio").alias("boilerplate_ratio"),
            F.sum(F.col("failed").cast("long")).alias("failures"),
            F.sum("n_blocks").alias("blocks"),
        ), obs
    z = F.lit(0).cast("long")
    return result.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.max(z).alias("bytes_in"),
        F.max(z).alias("chars_out"),
        F.max(F.lit(0.0)).alias("boilerplate_ratio"),
        F.max(z).alias("failures"),
        F.max(z).alias("blocks"),
    ), obs


def _harvest(obs) -> dict:
    return {k: (0 if v is None else v) for k, v in dict(obs.get).items()}


def _append_metrics_row(spark, g: dict, run_id: str,
                        metrics_path: str) -> None:
    """The one-row audit record of a run, written as the run-keyed file
    ``{metrics_path}/part-run-{run_id}.parquet`` through `_FS`'s
    create-once write: the row is built in memory with pyarrow, in the
    column names and types Spark's own metrics writes use, so no Spark
    job runs. A retry of the same run_id overwrites the same file, so
    the table never holds two rows for one run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    row = pa.table({
        "partition_id": pa.array([-1], pa.int32()),
        "docs": pa.array([int(g["docs"])], pa.int64()),
        "bytes_in": pa.array([int(g["bytes_in"])], pa.int64()),
        "chars_out": pa.array([int(g["chars_out"])], pa.int64()),
        "boilerplate_ratio": pa.array([float(g["boilerplate_ratio"])],
                                      pa.float64()),
        "failures": pa.array([int(g["failures"])], pa.int64()),
        "blocks": pa.array([int(g["blocks"])], pa.int64()),
        "run_id": pa.array([run_id], pa.string()),
    })
    buf = pa.BufferOutputStream()
    pq.write_table(row, buf)
    _FS(spark, metrics_path).write_bytes(
        f"{metrics_path.rstrip('/')}/part-run-{run_id}.parquet",
        buf.getvalue().to_pybytes())


class _FS:
    """Thin wrapper over the Hadoop FileSystem API resolved for a URI —
    the same abstraction spark itself uses for every path, so the WAP
    commit protocol below works verbatim on file://, hdfs:// and
    s3a:// (any scheme the cluster's Hadoop conf knows). Its primitives
    are all object-store-native: create-once small-file write, ranged
    read (a whole small file, or a byte range such as a Parquet
    footer), directory listing (flat or recursive), existence check,
    recursive delete. NO renames anywhere — commit atomicity comes from
    single-file creation (an object-store PUT), not from rename."""

    #: Bytes per py4j reply. py4j base64-encodes a byte[] reply, and one
    #: past its 8 KiB writer buffer is split and stalls about 40 ms
    #: (Nagle plus delayed ACK): on a 4-core host an 8 KB read took
    #: 44 ms, a 6 KB one 1.3 ms. 4096 raw bytes encode to about 5.5 KB.
    CHUNK = 4096

    def __init__(self, spark: "SparkSession", path: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self.fs.create(self._Path(path), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def read_bytes(self, path: str) -> bytes:
        return self.read_range(path, 0, None)

    def read_range(self, path: str, offset: int,
                   length: int | None) -> bytes:
        """`length` bytes from `offset` (to the end of the file when
        None), fetched in replies of at most `CHUNK` bytes."""
        stream = self.fs.open(self._Path(path))
        try:
            if offset:
                stream.seek(offset)
            parts = []
            while length is None or length > 0:
                want = self.CHUNK if length is None else min(self.CHUNK,
                                                             length)
                part = bytes(stream.readNBytes(want))
                parts.append(part)
                if len(part) < want:
                    break
                if length is not None:
                    length -= want
            return b"".join(parts)
        finally:
            stream.close()

    def list_names(self, path: str) -> list[str]:
        p = self._Path(path)
        if not self.fs.exists(p):
            return []
        return [s.getPath().getName() for s in self.fs.listStatus(p)]

    def list_sizes_recursive(self, path: str) -> list[tuple[str, int]]:
        """(path-relative-to-`path`, bytes) for every FILE under `path`,
        any depth — the inventory primitive a Hive-partitioned snapshot
        needs (its data files live under partition dirs). Object-store
        native: one listFiles(recursive) call, a flat-keyed LIST."""
        p = self._Path(path)
        if not self.fs.exists(p):
            return []
        base = self.fs.makeQualified(p).toString().rstrip("/") + "/"
        out = []
        it = self.fs.listFiles(p, True)
        while it.hasNext():
            s = it.next()
            full = s.getPath().toString()
            rel = full[len(base):] if full.startswith(base) else full
            out.append((rel, int(s.getLen())))
        return out

    def exists(self, path: str) -> bool:
        return self.fs.exists(self._Path(path))

    def delete(self, path: str) -> None:
        self.fs.delete(self._Path(path), True)


_MANIFEST_DIR = "_manifests"
_DATA_DIR = "_data"


def _manifest_seq(name: str) -> int | None:
    """manifest-<seq>-<run_id>.json → seq (None if not a manifest)."""
    if not (name.startswith("manifest-") and name.endswith(".json")):
        return None
    try:
        return int(name.split("-")[1])
    except (IndexError, ValueError):
        return None


#: Column types eligible for per-file min/max stats: orderable AND
#: JSON-exact (round-tripping the manifest cannot change a boundary
#: comparison). Floats/timestamps/dates are excluded on purpose —
#: their JSON round-trip / tz semantics are not bit-safe, and the
#: skipping contract must never be approximately right.
_STATS_TYPES = frozenset(
    {"string", "bigint", "int", "smallint", "tinyint", "boolean"})

#: Footer key under which Spark records the schema it wrote.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: Hive partition values spark.read.parquet infers as an integer (int
#: or bigint while the value fits a long) ...
_PART_INT_RE = _re.compile(r"[+-]?\d+")
#: ... and a superset of those it infers as decimal, double, date or
#: timestamp (Java number syntax, ISO dates): such a value costs its
#: column the stats, never a wrong type. Anything else is a string.
_PART_NOT_STRING_RE = _re.compile(
    r"[+-]?(NaN|Infinity|(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?[fFdD]?|0[xX].*)"
    r"|[+-]?\d{4,}-\d\d-\d\d([ T].*)?", _re.S)
_JAVA_SPACE = "".join(map(chr, range(33)))  # what Java's trim() strips


def _data_files(fs: _FS, data_dir: str) -> list[tuple[str, int]]:
    """(relative path, bytes) of every data file of a snapshot, from one
    recursive listing: the ``.parquet`` files spark.read.parquet would
    scan (no segment hidden by a leading ``.`` or ``_``, partition dirs
    excepted)."""
    return [
        (rel, size) for rel, size in fs.list_sizes_recursive(data_dir)
        if rel.endswith(".parquet") and not any(
            seg.startswith(".") or (seg.startswith("_") and "=" not in seg)
            for seg in rel.split("/"))
    ]


def _read_footer(fs: _FS, path: str, size: int):
    """The Parquet footer of one file as pyarrow FileMetaData, from two
    ranged reads: the last 8 bytes (footer length and magic), then the
    footer itself. No row data is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tail = fs.read_range(path, size - 8, 8)
    n = int.from_bytes(tail[:4], "little")
    footer = fs.read_range(path, size - 8 - n, n)
    return pq.read_metadata(pa.BufferReader(b"PAR1" + footer + tail))


def _footer_stats(md) -> dict:
    """{col: [min, max]} over all row groups of one footer, for each
    top-level column whose Spark type (the schema Spark wrote into the
    footer) is in `_STATS_TYPES`. [None, None] when every value is
    NULL; the column is left out when a non-NULL row group carries no
    min/max (parquet-mr drops them for values past about 4 KB)."""
    import json

    from pyspark.sql.types import StructType

    spark_schema = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_schema is None:
        return {}  # not written by Spark: types unknown, no stats
    leaf: dict[str, int | None] = {}
    for i in range(md.num_columns):
        p = md.schema.column(i).path
        leaf[p] = None if p in leaf else i  # an ambiguous path: no stats
    out = {}
    for f in StructType.fromJson(json.loads(spark_schema)).fields:
        i = leaf.get(f.name)
        if i is None or f.dataType.simpleString() not in _STATS_TYPES:
            continue
        lo = hi = None
        for g in range(md.num_row_groups):
            col = md.row_group(g).column(i)
            st = col.statistics
            if st is None:
                break
            if st.has_null_count and st.null_count == col.num_values:
                continue  # all-NULL row group
            if not st.has_min_max:
                break
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        else:
            out[f.name] = [lo, hi]
    return out


def _partition_values(raws: list[str]) -> list | None:
    """One Hive partition column's per-file values (unescaped path
    values), typed the way spark.read.parquet infers the column: ints
    when every non-NULL value is an integer that fits a long, the raw
    strings when any value is a string (a mix widens to string), and
    None (no stats) when Spark would read a decimal, double, date,
    timestamp or an all-NULL column."""
    vals = [None if r == "__HIVE_DEFAULT_PARTITION__" else r for r in raws]
    kinds = set()
    for v in vals:
        if v is None:
            continue
        if _PART_INT_RE.fullmatch(v) and -(1 << 63) <= int(v) < (1 << 63):
            kinds.add("int")
        elif _PART_NOT_STRING_RE.fullmatch(v.strip(_JAVA_SPACE)):
            kinds.add("other")
        else:
            kinds.add("string")
    if kinds == {"int"}:
        return [None if v is None else int(v) for v in vals]
    return vals if "string" in kinds else None


def _unescape_path(s: str) -> str:
    """Spark's unescapePathName: every %XX in a partition dir name."""
    return _re.sub(r"%([0-9A-Fa-f]{2})",
                   lambda m: chr(int(m.group(1), 16)), s)


def _collect_file_stats(fs: _FS, data_dir: str) -> dict:
    """Per-data-file min/max column statistics for the committed
    snapshot — the Iceberg manifest data-skipping payload, recorded at
    commit time: {relative_file: {col: [min, max]}} for every
    stats-eligible column (`_STATS_TYPES`). Files where a column is
    all-NULL record [None, None] (an equality probe can then skip the
    file outright — the probe value is never NULL). A column whose
    footer holds no min/max is left out, and `_stats_keep_file` keeps
    the file for it. Hive partition columns take their one value per
    file from the path.

    Cost: O(files) footer reads in the calling process, no row data and
    no Spark job — one recursive listing, then two ranged `_FS` reads
    per file (the numbers Iceberg reads from the same footers). Keys are
    paths RELATIVE to the data dir, so manifests survive a table move.
    The manifest grows by O(files x stat columns) — the same cardinality
    Iceberg's own manifests carry."""
    out = {rel: _footer_stats(_read_footer(fs, f"{data_dir}/{rel}", size))
           for rel, size in _data_files(fs, data_dir)}
    parts: dict[str, dict[str, str]] = {}
    for rel in out:
        for seg in rel.split("/")[:-1]:
            name, eq, raw = seg.partition("=")
            if eq:
                parts.setdefault(_unescape_path(name), {})[rel] = \
                    _unescape_path(raw)
    for name, raws in parts.items():
        typed = _partition_values(list(raws.values()))
        if typed is not None:
            for rel, v in zip(raws, typed):
                out[rel][name] = [v, v]
    return out


def _stats_keep_file(cols_stats: dict, probes: dict,
                     range_probes: dict | None = None) -> bool:
    """Can a file with these [min,max] ranges contain EVERY equality
    probe value AND overlap every range probe? Missing column stats
    keep the file (skipping must never drop a row it cannot prove
    absent); a type-mismatched probe keeps the file for the same
    reason."""
    for c, v in probes.items():
        rng = cols_stats.get(c)
        if rng is None:
            continue
        lo, hi = rng
        if lo is None:  # all-NULL column: cannot contain a non-NULL v
            return False
        try:
            if not (lo <= v <= hi):
                return False
        except TypeError:
            continue
    for c, (plo, phi) in (range_probes or {}).items():
        rng = cols_stats.get(c)
        if rng is None:
            continue
        lo, hi = rng
        if lo is None:  # all-NULL column: disjoint from any interval
            return False
        try:
            if plo is not None and hi < plo:
                return False
            if phi is not None and lo > phi:
                return False
        except TypeError:
            continue
    return True


def _manifest_name(seq: int, run_id: str) -> str:
    return f"manifest-{seq:010d}-{run_id}.json"


def _write_manifest(fs: _FS, path: str, run_id: str, fields: dict,
                    names: list[str]) -> dict:
    """The single WRITE-side implementation of the manifest protocol:
    seq allocated as max over ALL manifest file `names` (the caller's
    listing of ``_manifests``; valid or torn — so a torn file never
    collides with a retry's commit) + 1, body checksummed with a
    sorted-JSON md5, one create-once file named
    ``manifest-<seq>-<run_id>.json``. Every commit (a WAP publish, a
    compaction, a DedupLog increment or compaction) reaches it through
    `_commit`, so the naming / seq / checksum scheme can never drift
    between writers; `_load_manifests` is the matching read side.
    Returns the body written, md5 included — the same dict
    `_load_manifests` would return for it."""
    import hashlib
    import json

    seq = max((s for s in map(_manifest_seq, names) if s is not None),
              default=0) + 1
    body = {"seq": seq, "run_id": run_id, **fields}
    body["md5"] = hashlib.md5(
        json.dumps(body, sort_keys=True).encode()
    ).hexdigest()
    fs.write_bytes(f"{path}/{_MANIFEST_DIR}/{_manifest_name(seq, run_id)}",
                   json.dumps(body).encode())
    return body


def _load_manifests(fs: _FS, path: str) -> list[dict]:
    """All VALID manifests under `path`, ascending seq. A manifest is
    valid iff it parses as a JSON object and its embedded md5 matches its
    body — a torn create (crash mid-write on a filesystem without atomic
    creates) fails the parse or the checksum and is treated as
    never-committed. A READ error is not a verdict on the file: it
    propagates, so a transient I/O failure can never silently serve an
    older snapshot. Every reader picks from this list through
    `_pick_snapshot`, and every writer hands it to `_commit` as the
    prior window — one load per publish, compaction or read."""
    import hashlib
    import json

    out = []
    mdir = f"{path}/{_MANIFEST_DIR}"
    for name in fs.list_names(mdir):
        if _manifest_seq(name) is None:
            continue
        data = fs.read_bytes(f"{mdir}/{name}")
        try:
            doc = json.loads(data)  # UnicodeDecodeError is a ValueError
        except ValueError:
            continue  # torn or foreign file → not a commit
        if not isinstance(doc, dict):
            continue
        body = {k: v for k, v in doc.items() if k != "md5"}
        digest = hashlib.md5(
            json.dumps(body, sort_keys=True).encode()
        ).hexdigest()
        if digest == doc.get("md5"):
            out.append(doc)
    return sorted(out, key=lambda d: d["seq"])


def _pick_snapshot(manifests: list[dict], seq: int | None,
                   path: str) -> dict:
    """The one snapshot-selection rule over `_load_manifests` output:
    the newest manifest, or the one numbered `seq` (time travel). Raises
    FileNotFoundError when nothing is committed and LookupError naming
    the retained window when `seq` has expired or never existed."""
    if not manifests:
        raise FileNotFoundError(f"no committed WAP snapshot under {path}")
    if seq is None:
        return manifests[-1]
    for m in manifests:
        if m["seq"] == seq:
            return m
    raise LookupError(
        f"no committed snapshot seq={seq} under {path} "
        f"(retained: {[m['seq'] for m in manifests]})"
    )


def _commit(fs: _FS, path: str, run_id: str, fields: dict,
            prior: list[dict], keep: int, data_subdir: str,
            live_dirs_of) -> list[dict]:
    """The one commit-and-expire path: list ``_manifests`` once, write
    the manifest (the commit point) at the seq that listing allocates,
    then sweep once over the newest `keep` of `prior` (the caller's
    loaded manifests) plus the new body, re-reading none. Deleted:
    every dir under ``{path}/{data_subdir}`` that no retained manifest
    names (``live_dirs_of``) and every listed manifest file outside the
    window, torn ones included. Two listings per commit, one per
    directory. Returns the retained manifests."""
    mdir = f"{path}/{_MANIFEST_DIR}"
    names = fs.list_names(mdir)
    retained = (prior + [_write_manifest(fs, path, run_id, fields,
                                         names)])[-keep:]
    live = {d for m in retained for d in live_dirs_of(m)}
    for name in fs.list_names(f"{path}/{data_subdir}"):
        if name not in live:
            fs.delete(f"{path}/{data_subdir}/{name}")
    live_seqs = {m["seq"] for m in retained}
    for name in names:
        s = _manifest_seq(name)
        if s is not None and s not in live_seqs:
            fs.delete(f"{mdir}/{name}")
    return retained


#: Hidden-partitioning spec grammar (the Iceberg transform family):
#: "col" (identity), "bucket(N, col)", "truncate(W, col)",
#: "years(col)" / "months(col)" / "days(col)" / "hours(col)".
_PART_FN_RE = _re.compile(
    r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$")
_PART_TIME_RE = _re.compile(
    r"^\s*(years|months|days|hours)\s*\(\s*(\w+)\s*\)\s*$")
_PART_ID_RE = _re.compile(r"^\s*(\w+)\s*$")

_TIME_FMT = {"years": "yyyy", "months": "yyyy-MM",
             "hours": "yyyy-MM-dd-HH"}


def parse_partition_spec(spec: str) -> dict:
    """One partition-spec entry → {kind, col, param, field}. `field`
    is the PHYSICAL partition column (Iceberg's hidden column): the
    source column itself for identity, a derived name otherwise."""
    m = _PART_FN_RE.match(spec)
    if m:
        kind, param, col = m.group(1), int(m.group(2)), m.group(3)
        if param < 1:
            raise ValueError(f"{kind} needs a positive width: {spec!r}")
        suffix = "bucket" if kind == "bucket" else "trunc"
        return {"kind": kind, "col": col, "param": param,
                "field": f"{col}_{suffix}"}
    m = _PART_TIME_RE.match(spec)
    if m:
        kind, col = m.group(1), m.group(2)
        return {"kind": kind, "col": col, "param": None,
                "field": f"{col}_{kind[:-1]}"}
    m = _PART_ID_RE.match(spec)
    if m:
        col = m.group(1)
        return {"kind": "identity", "col": col, "param": None,
                "field": col}
    raise ValueError(f"unparseable partition spec: {spec!r}")


def _transform_expr(sp: dict, src) -> "F.Column":
    """The transform applied to `src` (a column OR a literal — the
    same expression serves the write-side derived column and the
    read-side pruning predicate, so the two can never disagree).
    bucket() pins xxhash64 (Spark-native; Iceberg proper uses
    murmur3 — the CONTRACT, one pinned hash both sides, is what
    matters); truncate() is string-prefix; time transforms format in
    UTC-naive calendar grain (days yields a DATE so partition-type
    inference round-trips)."""
    kind = sp["kind"]
    if kind == "identity":
        return src
    if kind == "bucket":
        return F.pmod(F.xxhash64(src), F.lit(sp["param"]))
    if kind == "truncate":
        return F.substring(src, 1, sp["param"])
    if kind == "days":
        return F.to_date(src)
    return F.date_format(src, _TIME_FMT[kind])


def read_published_pruned(spark: "SparkSession", path: str,
                          prune: dict | None = None,
                          seq: int | None = None,
                          ranges: dict | None = None,
                          ) -> DataFrame:
    """Predicated read with HIDDEN-PARTITION pruning and per-file
    data skipping. ``prune`` maps DATA columns to EQUALITY values;
    ``ranges`` maps DATA columns to inclusive ``(lo, hi)`` bounds
    (either bound None = open) — the warc_ts time-slice read of the
    north rule. For each probe the reader composes, in order:

    1. partition-transform pruning — equality probes filter the
       PHYSICAL partition column through the recorded transform
       (Catalyst constant-folds the literal); range probes do the
       same for MONOTONE transforms (identity, truncate, time
       grains: lo <= x <= hi implies T(lo) <= T(x) <= T(hi)) and
       correctly skip the non-monotone bucket() transform;
    2. per-file MIN/MAX data skipping (the manifest's `file_stats`,
       recorded at commit): equality probes drop files whose range
       excludes the value, range probes drop files whose range does
       not OVERLAP the bounds;
    3. the exact residual predicate after the schema projection.

    Unknown probe keys raise (a silent superset is never returned).
    This is the Iceberg read semantic: callers predicate on DATA
    columns and never need to know the partition layout."""
    prune = dict(prune or {})
    ranges = dict(ranges or {})
    for c, b in ranges.items():
        if not (isinstance(b, (tuple, list)) and len(b) == 2):
            raise ValueError(
                f"ranges[{c!r}] must be a (lo, hi) pair, got {b!r}")
    # a fully-open (None, None) range constrains nothing — drop it
    # BEFORE stats skipping (an all-NULL file is skippable only when
    # some residual bound also excludes its NULL rows)
    ranges = {c: tuple(b) for c, b in ranges.items()
              if not (b[0] is None and b[1] is None)}
    overlap = set(prune) & set(ranges)
    if overlap:
        raise ValueError(
            f"columns in both prune and ranges: {sorted(overlap)}")
    manifests = _load_manifests(_FS(spark, path), path)
    snap = _pick_snapshot(manifests, seq, path)
    specs = [parse_partition_spec(s)
             for s in (snap.get("partition_by") or [])]
    by_col = {sp["col"]: sp for sp in specs}
    cur_fields = manifests[-1].get("schema")
    snap_fields = snap.get("schema")
    # Field-ID rename resolution: a partition spec records its SOURCE
    # column under the SNAPSHOT-TIME name, while callers predicate in
    # the CURRENT schema. Map both directions by field id so a renamed
    # source keeps BOTH the partition-level prune and the exact filter
    # (previously a rename silently dropped one or the other).
    snap_of_cur: dict[str, str] = {}
    cur_of_snap: dict[str, str] = {}
    if cur_fields and snap_fields:
        by_id = {f["id"]: f["name"] for f in snap_fields}
        for f in cur_fields:
            old = by_id.get(f["id"])
            if old is not None:
                snap_of_cur[f["name"]] = old
                cur_of_snap[old] = f["name"]
    data_root = f"{path}/{_DATA_DIR}/{snap['data_dir']}"
    # DATA SKIPPING (Iceberg min/max file stats): before any scan,
    # drop every data file whose recorded [min, max] range proves the
    # probe absent (equality) or disjoint (range). Probes resolve to
    # snapshot-time column names (the stats were recorded under
    # them). File selection is driver-side over the manifest's stats
    # map — the same metadata-grain work Iceberg's planner does; the
    # scan then reads ONLY the surviving files (basePath keeps Hive
    # partition columns resolvable).
    stats = snap.get("file_stats") or {}
    probes = {snap_of_cur.get(c, c): v for c, v in prune.items()}
    range_probes = {snap_of_cur.get(c, c): b for c, b in ranges.items()}
    if stats:
        keep = [rel for rel, cols in stats.items()
                if _stats_keep_file(cols, probes, range_probes)]
        # Engage the explicit file list only when it prunes a
        # MEANINGFUL fraction: an N-path InMemoryFileIndex costs a
        # per-path driver round where the directory scan is one
        # listing, so "keep 250 of 256" is slower than not skipping
        # at all (measured: +0.2 s per probe at 256 files). When the
        # probe column doesn't correlate with file layout the stats
        # legitimately keep ~everything — fall back to the dir scan
        # and let partition pruning + the residual filter do the work.
        if not keep:
            df = spark.read.parquet(data_root).limit(0)
        elif len(keep) <= 0.75 * len(stats):
            df = spark.read.option("basePath", data_root).parquet(
                *[f"{data_root}/{rel}" for rel in keep])
        else:
            df = spark.read.parquet(data_root)
    else:
        df = spark.read.parquet(data_root)
    resolved: dict[str, dict | None] = {}
    for col, val in prune.items():
        # accept the current name (rename-aware) or the literal name
        sp = by_col.get(snap_of_cur.get(col, col)) or by_col.get(col)
        resolved[col] = sp
        if sp is not None:
            df = df.where(
                F.col(sp["field"]) == _transform_expr(sp, F.lit(val)))
    snap_types = {f["name"]: f["type"] for f in (snap_fields or [])}
    for col, (lo, hi) in ranges.items():
        sp = by_col.get(snap_of_cur.get(col, col)) or by_col.get(col)
        resolved[col] = sp
        # Only a MONOTONE transform maps a source interval into a
        # field interval: identity and the calendar grains always
        # are; truncate() is implemented as substring, which is
        # monotone for STRING sources but compares '10' < '9' for a
        # stringified numeric — so truncate prunes only when the
        # snapshot schema says the source is a string. bucket()
        # (hashing) never range-prunes. Skipped transforms still get
        # stats skipping + the exact residual — correct, just less
        # pruned.
        if sp is None:
            continue
        kind = sp["kind"]
        monotone = (
            kind in ("identity", "days", "months", "hours", "years")
            or (kind == "truncate"
                and snap_types.get(sp["col"]) == "string")
        )
        if monotone:
            fld = F.col(sp["field"])
            if lo is not None:
                df = df.where(fld >= _transform_expr(sp, F.lit(lo)))
            if hi is not None:
                df = df.where(fld <= _transform_expr(sp, F.lit(hi)))
    if cur_fields and snap_fields:
        df = _project_to_schema(df, snap_fields, cur_fields)
    residuals = [(col, "eq", val) for col, val in prune.items()]
    residuals += [(col, "range", b) for col, b in ranges.items()]
    for col, kind, val in residuals:
        cur_name = col if col in df.columns else cur_of_snap.get(col)
        sp = resolved[col]
        if cur_name is not None and cur_name in df.columns:
            c = F.col(cur_name)
            if kind == "eq":
                df = df.where(c == F.lit(val))
            else:
                lo, hi = val
                if lo is not None:
                    df = df.where(c >= F.lit(lo))
                if hi is not None:
                    df = df.where(c <= F.lit(hi))
        elif sp is None:
            # neither a spec source nor a projected column: a typo'd
            # or dropped key. Silently skipping would return the whole
            # table (a superset with no error) — fail loudly instead.
            raise KeyError(
                f"probe key {col!r} matches no partition-spec source "
                f"and no projected column of {path} (snapshot "
                f"seq={snap['seq']})")
        elif sp["kind"] != "identity":
            # transform pruning matched, but the exact source column
            # is gone from the projection: the partition filter alone
            # yields a superset. Refuse rather than silently
            # over-return.
            raise KeyError(
                f"probe key {col!r} resolves to {sp['kind']}() "
                f"partition transform but its source column is not in "
                f"the projected schema of {path} — exact row filter "
                f"impossible")
    return df


def schema_fields_of(df: DataFrame) -> list[dict]:
    """Initial field-ID assignment for a NEW table: sequential ids in
    dataframe order. Ids — not names — are a column's durable identity
    (the Iceberg rule), which is what makes rename/drop/add safe."""
    return [
        {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
        for i, f in enumerate(df.schema.fields)
    ]


def evolve_schema(
    fields: list[dict],
    add: tuple = (),
    rename: dict | None = None,
    drop: tuple = (),
    retype: dict | None = None,
) -> list[dict]:
    """Iceberg-style schema evolution over the manifest's field list:

    - ``rename={"old": "new"}`` keeps the field ID (readers of old
      snapshots keep resolving the column by id, never by name);
    - ``drop=("name", ...)`` removes the field (its id is never
      reused — adds always allocate above the historical max);
    - ``add=(("name", "type"), ...)`` appends fresh-id fields (old
      snapshots surface them as NULL);
    - ``retype={"name": "bigint"}`` widens a type in place (same id —
      the promotion the read-side cast applies to old data).

    Returns a NEW field list; the input is not mutated. Raises on a
    rename/drop/retype of an unknown column or an add of an existing
    name — evolution typos must fail at evolve time, not read time."""
    rename = rename or {}
    retype = retype or {}
    names = {f["name"] for f in fields}
    for src in (*rename, *drop, *retype):
        if src not in names:
            raise KeyError(f"no such column to evolve: {src!r}")
    out = []
    for f in fields:
        if f["name"] in drop:
            continue
        g = dict(f)
        if f["name"] in rename:
            g["name"] = rename[f["name"]]
        if f["name"] in retype:
            g["type"] = retype[f["name"]]
        out.append(g)
    next_id = max((f["id"] for f in fields), default=0) + 1
    for name, typ in add:
        if name in names:
            raise ValueError(f"column already exists: {name!r}")
        out.append({"id": next_id, "name": name, "type": typ})
        next_id += 1
    seen = [f["name"] for f in out]
    if len(seen) != len(set(seen)):
        raise ValueError(f"evolution produced duplicate names: {seen}")
    return out


def current_schema(spark: "SparkSession", path: str) -> list[dict] | None:
    """The CURRENT committed schema of a WAP table (None when the
    table predates schema tracking or nothing is committed)."""
    manifests = _load_manifests(_FS(spark, path), path)
    return manifests[-1].get("schema") if manifests else None


def _project_to_schema(df: DataFrame, snap_fields: list[dict],
                       cur_fields: list[dict]) -> DataFrame:
    """Read-time name mapping: view a snapshot written under
    `snap_fields` through `cur_fields` — match by field ID, so renames
    resolve to the old physical column, added columns surface as
    typed NULLs, dropped columns vanish, and widened types cast. Pure
    projection: no data is rewritten (the Iceberg read path)."""
    by_id = {f["id"]: f for f in snap_fields}
    cols = []
    for f in cur_fields:
        old = by_id.get(f["id"])
        if old is None:
            cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
        else:
            cols.append(F.col(old["name"]).cast(f["type"]).alias(f["name"]))
    return df.select(*cols)


def list_snapshots(spark: "SparkSession", path: str) -> list[dict]:
    """Committed snapshots of a WAP table, ascending seq — each entry is
    the manifest body (seq, run_id, counters, …). Only snapshots whose
    data directories survive GC (`keep_snapshots`) are time-travelable;
    older manifests are swept with their data."""
    return _load_manifests(_FS(spark, path), path)


def resolve_published(spark: "SparkSession", path: str,
                      seq: int | None = None) -> str | None:
    """The committed data directory of a WAP table (None if nothing has
    ever been published). By default readers resolve through the
    highest-seq valid manifest — a publish in flight is invisible until
    its manifest file appears, so there is no window where the table is
    absent (the concurrent-reader hole of a rename-swap). Passing `seq`
    time-travels to that snapshot (it must be within the retained GC
    window)."""
    manifests = _load_manifests(_FS(spark, path), path)
    if not manifests:
        return None
    snap = _pick_snapshot(manifests, seq, path)
    return f"{path}/{_DATA_DIR}/{snap['data_dir']}"


def read_published(spark: "SparkSession", path: str,
                   seq: int | None = None,
                   as_written: bool = False) -> DataFrame:
    """Read a committed snapshot. When the table tracks schemas (every
    write_results_wap since schema fields landed), the read — current
    OR time-traveled — is viewed through the CURRENT schema via
    field-ID name mapping (the Iceberg read semantic): renamed columns
    resolve to old physical names, added columns surface as typed
    NULLs on pre-evolution snapshots, dropped columns vanish.
    ``as_written=True`` bypasses the mapping (snapshot archaeology);
    tables without recorded schemas read as-written always. The mapped
    read is `read_published_pruned` with no probes."""
    if not as_written:
        return read_published_pruned(spark, path, seq=seq)
    snap = _pick_snapshot(_load_manifests(_FS(spark, path), path), seq, path)
    return spark.read.parquet(f"{path}/{_DATA_DIR}/{snap['data_dir']}")


def write_results_wap(
    result: DataFrame,
    path: str,
    metrics_path: str,
    run_id: str = "run-0",
    audit=None,
    keep_snapshots: int = 2,
    partition_by: tuple[str, ...] = (),
    schema_fields: list[dict] | None = None,
) -> bool:
    """Write-audit-publish sink — the Iceberg WAP commit discipline
    (stage to a branch → validate → fast-forward main; SURVEY §1.4/§4)
    as a manifest-pointer protocol with NO renames, so it is
    object-store-safe (commit = the atomic appearance of one small
    immutable file, the same primitive Delta's _delta_log and Iceberg's
    metadata pointer rely on):

    1. WRITE the results to an immutable run-scoped data directory
       ``{path}/_data/{run_id}`` (observe() collects the audit counters
       in the same job — no extra scan);
    2. AUDIT: the `audit(metrics_dict) -> bool` hook inspects the
       counters (default: zero failed documents and ≥1 doc); a failed
       audit writes NO manifest — readers keep resolving the previous
       snapshot, and the staged directory is left for inspection (it is
       garbage-collected by the next successful publish);
    3. COMMIT: write the audit record, one row built in memory, as the
       run-keyed file ``{metrics_path}/part-run-{run_id}.parquet``
       (audit record first — a crash after this point can at worst
       leave a metrics row for an uncommitted run, never committed data
       with no audit trail; a retry overwrites the same file, so a
       run_id never gets two rows). Then read the per-file min/max
       stats from the new files' Parquet footers and create
       ``{path}/_manifests/manifest-<seq>-<run_id>.json`` with an
       embedded md5 self-checksum. Readers (:func:`resolve_published`)
       take the highest-seq manifest whose checksum verifies, so a torn
       manifest write is simply not a commit. The data write is the
       only Spark job of a publish; every other step is metadata work
       in the calling process;
    4. GC: data directories not referenced by the newest
       ``keep_snapshots`` manifests are deleted (the retained tail keeps
       in-flight readers of the previous snapshot alive), as are stale
       manifests beyond the tail.

    Contract: SINGLE WRITER — seq allocation is max-existing+1 with no
    compare-and-swap, so two concurrent writers could both claim a seq
    (a real catalog arbitrates this; one writer per table here).
    Readers are unrestricted and never block. Retrying a run_id is
    idempotent BOTH ways: a run_id that already COMMITTED returns True
    without touching storage (its data dir is live — rewriting it would
    yank bytes out from under readers of the current snapshot, and a
    second manifest would alias the same data_dir); a run_id that
    CRASHED before its manifest appeared left only an orphan stage dir,
    which the retry overwrites and commits under a fresh seq.

    Crash matrix: during stage → orphan data dir, no manifest, readers
    untouched, swept later; during the audit-file write → uncommitted
    run whose torn ``part-run-{run_id}.parquet`` makes a metrics read
    fail loudly (it never miscounts), and the retry replaces the file;
    between the audit file and the manifest → one metrics row for an
    uncommitted run, which the retry overwrites; during manifest create
    → checksum fails, treated as never-committed, seq burned; after
    manifest create → committed. No intermediate state is ever visible
    to a reader.

    Returns True iff published.
    """
    path = path.rstrip("/")
    spark = result.sparkSession
    fs = _FS(spark, path)
    audit = audit or (lambda m: m["failures"] == 0 and m["docs"] > 0)

    # idempotent replay: a run_id with a committed manifest is done —
    # its data dir may be the one readers currently resolve, so the
    # retry must not restage (mode("overwrite") would delete live data)
    committed = _load_manifests(fs, path)
    if any(m["run_id"] == run_id for m in committed):
        return True

    # schema tracking (Iceberg field-id discipline): a NEW table gets
    # sequential ids from the result schema; an EXISTING table carries
    # its current schema forward. A result whose column set silently
    # diverges from the current schema is REJECTED — evolution must be
    # explicit (pass schema_fields=evolve_schema(current, ...)), never
    # an accident of a changed job.
    df_names = sorted(f.name for f in result.schema.fields)
    if schema_fields is None:
        cur_f = committed[-1].get("schema") if committed else None
        if cur_f is not None:
            if sorted(f["name"] for f in cur_f) != df_names:
                raise ValueError(
                    "result schema diverges from the table's current "
                    f"schema ({df_names} vs "
                    f"{sorted(f['name'] for f in cur_f)}); pass "
                    "schema_fields=evolve_schema(current_schema(...), ...)"
                )
            schema_fields = cur_f
        else:
            schema_fields = schema_fields_of(result)
    elif sorted(f["name"] for f in schema_fields) != df_names:
        raise ValueError(
            f"schema_fields names {sorted(f['name'] for f in schema_fields)} "
            f"do not match the result columns {df_names}"
        )

    data_dir = f"{path}/{_DATA_DIR}/{run_id}"
    observed, obs = _observe_metrics(result, run_id)
    staged = observed
    if partition_by:
        # Hive-layout partition dirs inside the immutable run dir: a
        # reader resolving through the manifest gets partition PRUNING
        # for free (the scan's PartitionFilters — plan-asserted in
        # tests), the Iceberg partition-spec analog. Transform specs
        # ("bucket(16, url)", "days(warc_ts)", ...) are HIDDEN
        # partitioning: the derived physical column is added here,
        # recorded in the manifest spec, and dropped again by the
        # schema projection on read — readers predicate on DATA
        # columns via read_published_pruned and never see the layout.
        specs = [parse_partition_spec(s) for s in partition_by]
        for sp in specs:
            if sp["kind"] != "identity":
                staged = staged.withColumn(
                    sp["field"], _transform_expr(sp, F.col(sp["col"])))
        w = staged.write.mode("overwrite").partitionBy(
            *[sp["field"] for sp in specs])
    else:
        w = staged.write.mode("overwrite")
    w.parquet(data_dir)
    g = _harvest(obs)
    if not audit(g):
        return False  # no manifest written; previous snapshot still live

    # audit record BEFORE the commit point, one run-keyed file: the
    # retry of a crash that landed between this write and the manifest
    # create overwrites it, so there is never a duplicate metrics row
    # (consumers count / join metrics by run_id)
    _append_metrics_row(spark, g, run_id, metrics_path)

    # commit + GC (step 4) from the manifests loaded above
    _commit(fs, path, run_id, {
        "data_dir": run_id,
        "partition_by": list(partition_by),
        "schema": schema_fields,
        "counters": {k: (float(v) if k == "boilerplate_ratio" else int(v))
                     for k, v in g.items()},
        # per-file min/max (Iceberg data-skipping stats): consulted by
        # read_published_pruned to drop whole files before the scan
        "file_stats": _collect_file_stats(fs, data_dir),
    }, committed, keep_snapshots, _DATA_DIR, lambda m: [m["data_dir"]])
    return True


def compact_published(
    spark: "SparkSession",
    path: str,
    run_id: str,
    target_bytes: int = 128 << 20,
    keep_snapshots: int = 2,
) -> bool:
    """Execute the compaction the planner prescribes (OPTIMIZE/binPack
    — SURVEY §4's small-file maintenance): inventory the CURRENT
    committed snapshot's files from FS metadata, feed
    `tuning.compaction_plan` (next-fit-decreasing bins at
    `target_bytes`), rewrite the snapshot coalesced to the planned bin
    count, and commit the rewrite as a NEW manifest seq through the
    same manifest-pointer protocol as `write_results_wap` — readers
    keep resolving the old snapshot until the new manifest appears,
    and the previous snapshot stays time-travelable inside the GC
    window (`keep_snapshots`).

    Partitioned snapshots (manifest `partition_by` non-empty) are
    compacted PER PARTITION DIRECTORY: the recursive file inventory
    keys each data file by its Hive partition path, the planner bins
    within each partition, and the rewrite coalesces each partition
    dir independently into the same relative layout — so the pruning
    contract survives compaction and the new manifest carries the
    same `partition_by` spec forward.

    Audit-before-commit: the rewritten data is re-read and its row
    count compared against the source snapshot — a short write (lost
    task, partial directory) writes NO manifest and leaves the
    previous snapshot live. Returns True iff a compaction committed
    (False when the table is already at or below the planned bin
    count — an idempotent no-op, no seq burned).

    100 TB shape: planning runs at file-metadata grain (~10^6 rows
    for a 100 TB table); each rewrite is one coalesce (narrow — no
    shuffle) sized by that partition's plan. Partitions rewrite as
    independent jobs here (driver loop); a real cluster submits them
    concurrently or rewrites only the partitions whose plan shrank —
    both fit the same per-partition-manifest protocol."""
    import os as _os

    from mindocr_spark.tuning import compaction_plan

    fs = _FS(spark, path)
    manifests = _load_manifests(fs, path)
    cur = _pick_snapshot(manifests, None, path)
    if any(m["run_id"] == run_id for m in manifests):
        return True  # idempotent replay of a committed compaction
    partition_by = list(cur.get("partition_by") or [])
    data = f"{path}/{_DATA_DIR}/{cur['data_dir']}"
    # recursive inventory keyed by Hive partition dir ("" = table root)
    inv = [(_os.path.dirname(rel), rel, sz)
           for rel, sz in _data_files(fs, data)]
    if not inv:
        raise FileNotFoundError(f"snapshot {cur['seq']} has no data files")
    files_df = spark.createDataFrame(
        inv, "partition string, file string, bytes long",
    )
    plan = compaction_plan(files_df, target_bytes)
    bins = {
        r["partition"]: r["n_bins"]
        for r in plan.groupBy("partition")
        .agg(F.countDistinct("bin").alias("n_bins")).collect()
    }
    if sum(bins.values()) >= len(inv):
        return False  # nothing to gain — already compact
    src = spark.read.parquet(data)
    n_before = src.count()
    new_dir = f"{path}/{_DATA_DIR}/{run_id}"
    if partition_by:
        # per-partition coalesce into the SAME relative Hive layout —
        # readers' partition pruning keeps working on the new snapshot
        for part_rel, n_b in sorted(bins.items()):
            (
                spark.read.parquet(f"{data}/{part_rel}")
                .coalesce(max(1, int(n_b)))
                .write.mode("overwrite")
                .parquet(f"{new_dir}/{part_rel}")
            )
    else:
        src.coalesce(max(1, sum(bins.values()))).write.mode(
            "overwrite").parquet(new_dir)
    n_after = spark.read.parquet(new_dir).count()
    if n_after != n_before:
        fs.delete(new_dir)  # audit failed: no manifest, old snapshot live
        raise RuntimeError(
            f"compaction audit failed: {n_before} rows -> {n_after}")
    manifest_fields = {
        "data_dir": run_id,
        "partition_by": partition_by,
        "compaction_of": cur["seq"],
        "counters": {"rows": int(n_after), "files_before": len(inv),
                     "files_after": int(sum(bins.values()))},
    }
    if cur.get("schema") is not None:
        manifest_fields["schema"] = cur["schema"]  # spec carries forward
    # data-skipping stats follow the DATA, not the manifest: the
    # rewritten files get fresh min/max ranges (carrying the old map
    # forward would reference deleted files and skip nothing)
    manifest_fields["file_stats"] = _collect_file_stats(fs, new_dir)
    _commit(fs, path, run_id, manifest_fields, manifests, keep_snapshots,
            _DATA_DIR, lambda m: [m["data_dir"]])
    return True
