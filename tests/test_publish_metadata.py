"""A WAP publish from metadata: per-file stats read from Parquet footers
(checked against a Spark min/max scan as the oracle), the run-keyed
audit file, `_FS`'s chunked reads and the Spark jobs one publish runs."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mindocr_spark.corpus import pages_dataframe
from mindocr_spark.operators import pipeline as P


def _scan_stats(spark, data_dir: str) -> dict:
    """The oracle: min/max of every stats-eligible column per input file,
    from a full Spark scan of the snapshot."""
    df = spark.read.parquet(data_dir)
    cols = [f.name for f in df.schema.fields
            if f.dataType.simpleString() in P._STATS_TYPES]
    aggs = [a for c in cols
            for a in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))]
    rows = df.groupBy(F.input_file_name().alias("f")).agg(*aggs).collect()
    prefix = data_dir.rstrip("/").lstrip("/") + "/"
    return {r["f"][r["f"].find(prefix) + len(prefix):]:
            {c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in cols} for r in rows}


def _footer_lacks_min_max(path: str, col: str) -> bool:
    """Whether some non-NULL row group of `col` carries no min/max."""
    md = pq.read_metadata(path)
    i = [md.schema.column(k).path for k in range(md.num_columns)].index(col)
    for g in range(md.num_row_groups):
        c = md.row_group(g).column(i)
        st = c.statistics
        if st is None or (not st.has_min_max
                          and st.null_count != c.num_values):
            return True
    return False


def _publish(spark, tmp_path, df, **kw) -> tuple[str, dict]:
    out = str(tmp_path / "t")
    assert P.write_results_wap(df, out, str(tmp_path / "m"), run_id="r1",
                               **kw)
    return out, P.list_snapshots(spark, out)[-1]


def _assert_stats_match_scan(spark, out: str, snap: dict) -> set:
    """Every footer bound equals the scan's; a column may be absent only
    where the footer holds no min/max. Returns the absent (file, col)."""
    data_dir = P.resolve_published(spark, out)
    oracle = _scan_stats(spark, data_dir)
    got = snap["file_stats"]
    assert got == P._collect_file_stats(P._FS(spark, out), data_dir)
    assert set(got) == set(oracle)
    absent = set()
    for rel, cols in oracle.items():
        assert set(got[rel]) <= set(cols), rel
        for c, bounds in cols.items():
            if c in got[rel]:
                assert got[rel][c] == bounds, (rel, c)
            else:
                assert _footer_lacks_min_max(f"{data_dir}/{rel}", c), (rel, c)
                absent.add((rel, c))
    return absent


def test_footer_stats_equal_scan_unpartitioned(spark, tmp_path):
    res = P.run_extraction(pages_dataframe(spark, 60, seed=13))
    out, snap = _publish(spark, tmp_path,
                         res.repartitionByRange(4, "lang", "url"))
    absent = _assert_stats_match_scan(spark, out, snap)
    assert {c for _rel, c in absent} <= {"extracted_text"}
    assert all("url" in cols and "failed" in cols
               for cols in snap["file_stats"].values())


def test_footer_stats_equal_scan_partitioned(spark, tmp_path):
    """Partition values come from the path, typed as Spark infers them:
    lang and warc_ts_month strings, url_bucket an int."""
    res = P.run_extraction(pages_dataframe(spark, 60, seed=17))
    out, snap = _publish(
        spark, tmp_path, res,
        partition_by=("lang", "bucket(4, url)", "months(warc_ts)"))
    absent = _assert_stats_match_scan(spark, out, snap)
    assert {c for _rel, c in absent} <= {"extracted_text"}
    some = next(iter(snap["file_stats"].values()))
    assert isinstance(some["url_bucket"][0], int)
    assert isinstance(some["warc_ts_month"][0], str)
    assert isinstance(some["lang"][0], str)


def test_footer_stats_all_null_and_oversized_string(spark, tmp_path):
    """An all-NULL column records [None, None]; a string over 8 KB leaves
    its column without footer bounds, and that file is still read."""
    big = "q" * 9000
    df = spark.range(0, 40, 1, 4).select(
        F.col("id").alias("k"),
        F.lit(None).cast("string").alias("note"),
        F.when(F.col("id") == 7, F.lit(big))
        .otherwise(F.format_string("s%02d", "id")).alias("s"),
        (F.col("id") % 3 == 0).alias("flag"),
    )
    out, snap = _publish(spark, tmp_path, df)
    absent = _assert_stats_match_scan(spark, out, snap)
    assert absent and {c for _rel, c in absent} == {"s"}
    assert all(cols["note"] == [None, None]
               for cols in snap["file_stats"].values())

    rows = P.read_published_pruned(spark, out, {"s": big}).collect()
    assert [r["k"] for r in rows] == [7]
    pruned = P.read_published_pruned(spark, out, {"s": "s03"})
    assert [r["k"] for r in pruned.collect()] == [3]
    assert len(pruned.inputFiles()) < len(
        P.read_published(spark, out).inputFiles())


def _metrics_file(metrics: str, run_id: str) -> str:
    return os.path.join(metrics, f"part-run-{run_id}.parquet")


def test_torn_audit_file_fails_loudly_and_retry_replaces_it(
        spark, tmp_path, monkeypatch):
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")

    def _boom(*a, **k):
        raise OSError("simulated crash before manifest create")

    monkeypatch.setattr(P, "_write_manifest", _boom)
    with pytest.raises(OSError):
        P.write_results_wap(
            P.run_extraction(pages_dataframe(spark, 10, seed=3)),
            out, metrics, run_id="r1")
    monkeypatch.undo()
    # the crash is moved into the audit-file write: a torn file
    path = _metrics_file(metrics, "r1")
    with open(path, "rb") as f:
        data = f.read()
    with open(path, "wb") as f:
        f.write(data[: len(data) // 2])
    with pytest.raises(Exception):
        spark.read.parquet(metrics).count()

    assert P.write_results_wap(
        P.run_extraction(pages_dataframe(spark, 10, seed=3)),
        out, metrics, run_id="r1")
    rows = spark.read.parquet(metrics).collect()
    assert [(r["run_id"], r["docs"]) for r in rows] == [("r1", 10)]


def test_audit_file_reads_with_spark_written_rows(spark, tmp_path):
    """A metrics dir holding a row Spark wrote and a run-keyed row reads
    as one table with one schema."""
    metrics = str(tmp_path / "metrics")
    spark.createDataFrame(
        [(-1, 5, 50, 40, 0.5, 0, 9, "old")],
        "partition_id int, docs bigint, bytes_in bigint, chars_out bigint, "
        "boilerplate_ratio double, failures bigint, blocks bigint, "
        "run_id string",
    ).write.mode("append").parquet(metrics)
    spark_schema = spark.read.parquet(metrics).schema
    P._append_metrics_row(
        spark, {"docs": 7, "bytes_in": 70, "chars_out": 60,
                "boilerplate_ratio": 0.25, "failures": 0, "blocks": 11},
        "new", metrics)
    assert spark.read.parquet(_metrics_file(metrics, "new")).schema \
        == spark_schema
    both = spark.read.parquet(metrics)
    assert both.schema == spark_schema
    assert sorted((r["run_id"], r["docs"], r["boilerplate_ratio"])
                  for r in both.collect()) == [("new", 7, 0.25),
                                               ("old", 5, 0.5)]


def test_fs_reads_round_trip_in_chunks(spark, tmp_path):
    fs = P._FS(spark, str(tmp_path))
    for n in (0, 1, 4095, 4096, 4097, 100_000):
        data = os.urandom(n)
        path = str(tmp_path / f"blob-{n}")
        fs.write_bytes(path, data)
        assert fs.read_bytes(path) == data, n
        assert fs.read_range(path, n // 3, n // 2) == \
            data[n // 3: n // 3 + n // 2], n
        assert fs.read_range(path, max(0, n - 8), 8) == data[-8:], n


def test_publish_runs_at_most_two_spark_jobs(spark, tmp_path):
    """Every step of a publish but the data write is metadata work in
    the calling process: no stats scan, no metrics job, no metrics
    lookup."""
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    assert P.write_results_wap(
        P.run_extraction(pages_dataframe(spark, 20, seed=5)), out, metrics,
        run_id="r1", partition_by=("lang",))
    res = P.run_extraction(pages_dataframe(spark, 20, seed=6))
    sc = spark.sparkContext
    sc.setJobGroup("publish-jobs", "one WAP publish")
    try:
        assert P.write_results_wap(res, out, metrics, run_id="r2",
                                   partition_by=("lang",))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("publish-jobs")
    assert 1 <= len(jobs) <= 2, jobs
