"""Spark-side parity + plumbing tests: fused stage ≡ registry plan ≡
in-process spec, failure isolation, metrics aggregation, plan shape."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mindocr_spark.corpus import generate_page, pages_dataframe
from mindocr_spark.extract_core import extract_document
from mindocr_spark.operators.pipeline import extraction_metrics, run_extraction
from mindocr_spark.operators.registry import compose

N = 120


@pytest.fixture(scope="module")
def golden():
    out = {}
    for i in range(N):
        p = generate_page(42, i)
        out[p["url"]] = (p, extract_document(p["html"]))
    return out


def _span_tuples(row) -> list:
    return [
        (s["block_id"], s["node_start"], s["node_end"], s["char_start"],
         s["char_end"], s["src_start"], s["src_end"], s["score"])
        for s in row["spans"]
    ]


def test_fused_byte_identical(spark, golden):
    res = run_extraction(pages_dataframe(spark, N, seed=42)).collect()
    assert len(res) == N
    for r in res:
        _, g = golden[r["url"]]
        assert r["extracted_text"].encode() == g.extracted_text.encode()
        assert r["n_blocks"] == g.n_blocks
        assert r["boilerplate_ratio"] == g.boilerplate_ratio
        assert _span_tuples(r) == g.spans
        assert not r["failed"]


def test_registry_plan_equals_extract_document(golden):
    """The default registry plan, composed in process, is the spec: equal
    to extract_document on every golden page (no JVM needed)."""
    extract = compose()
    for url, (page, g) in golden.items():
        assert extract(page["html"]) == g, url


def test_registry_rejects_bad_plans():
    """A plan must run parse, score, detect, assemble once each, in
    order; an unknown stage name is a KeyError. Both fail when the
    pipeline is built, before any DataFrame exists."""
    from mindocr_spark.operators.registry import build_pipeline

    for plan in (
        ["parse", "detect", "score", "assemble"],
        ["parse", "score", "detect"],
        ["parse", "score", "detect", "assemble", "assemble"],
        [{"parse": {}}, "score", {"assemble": {}}, {"detect": {}}],
    ):
        with pytest.raises(ValueError):
            build_pipeline(plan)
    with pytest.raises(KeyError):
        build_pipeline(["parse", "score", "bogus", "assemble"])


def test_failure_isolation(spark):
    # a None html row must not kill the job; it flows through failed=true
    pdf = pd.DataFrame(
        {
            "url": ["https://ok.example/1", "https://broken.example/2"],
            "warc_ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
            "html": [b"<body><p>The quick brown fox jumps over the lazy dog "
                     b"and runs to the river bank today.</p></body>", None],
            "text": ["", ""],
            "lang": ["en", "en"],
        }
    )
    df = spark.createDataFrame(pdf)
    res = {r["url"]: r for r in run_extraction(df).collect()}
    assert len(res) == 2
    assert not res["https://ok.example/1"]["failed"]
    assert res["https://ok.example/1"]["extracted_text"].startswith("The quick")
    bad = res["https://broken.example/2"]
    assert bad["failed"] and bad["extracted_text"] == ""


def test_metrics_aggregation(spark):
    res = run_extraction(pages_dataframe(spark, 80, seed=42))
    m = extraction_metrics(res, run_id="t").collect()
    assert sum(r["docs"] for r in m) == 80
    assert all(r["failures"] == 0 for r in m)
    total_blocks = sum(r["blocks"] for r in m)
    assert total_blocks >= 80  # every page has ≥1 content block


def test_plan_is_narrow_and_pruned(spark):
    """The production plan must have no shuffle (Exchange) and must not
    read the held-out `text` column past the scan."""
    plan = run_extraction(
        pages_dataframe(spark, 10, seed=42)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_salting_repartitions(spark):
    df = run_extraction(pages_dataframe(spark, 50, seed=42), salt_partitions=7)
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 50


def test_parquet_roundtrip(spark, tmp_path):
    from mindocr_spark.operators.pipeline import write_results

    res_path = str(tmp_path / "results")
    met_path = str(tmp_path / "metrics")
    write_results(
        run_extraction(pages_dataframe(spark, 40, seed=42)),
        res_path, metrics_path=met_path, run_id="r1",
    )
    back = spark.read.parquet(res_path)
    assert back.count() == 40
    met = spark.read.parquet(met_path)
    assert met.agg(F.sum("docs")).collect()[0][0] == 40


def test_registry_param_overrides(spark):
    """The YAML-shaped stage list: dict entries override ExtractParams
    per stage (the reference's {OpName: {params}} contract,
    transforms_factory.py:18-52) — e.g. swapping in the PSE detector."""
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.registry import build_pipeline

    pages = pages_dataframe(spark, 30, seed=42)
    plan = ["parse", "score", {"detect": {"detector": "pse"}}, "assemble"]
    out = {r["url"]: r["extracted_text"] for r in build_pipeline(plan)(pages).collect()}
    base = {r["url"]: r["extracted_text"] for r in build_pipeline()(pages).collect()}
    assert set(out) == set(base)
    # clean synthetic pages: both detectors recover the same content
    assert out == base


def test_adversarial_parity(spark):
    """The fused stage and the composed registry plan each equal
    extract_document byte-for-byte on adversarial tag soup (not just the
    clean corpus): misnesting, raw-text traps, entities, omitted
    </head>, stray '<', empty bodies."""
    frags = [
        b"<html><head><title>t</title><body><p>no head close "
        b"but the content here is long enough to score as a block with "
        b"the and of to in it for was words repeated the and of to.</p>",
        b"<div><p>one</div></p><p>two the and of to in it for was the "
        b"and of to in it for was the and of to in it for was)</p>",
        b"<body><p>3 < 5 &amp; x &#65; &bogus; the and of to in it for "
        b"was the and of to in it for was the and of to in it</p></body>",
        b"<body><script>var x='<p>no</p>';</script><p>" + b"y" * 300 + b"</p>",
        b"<body><nav><a href='/'>only chrome</a></nav></body>",
        b"",
        b"<p>" + "山水风月天地人间".encode() * 30 + b"</p>",
    ]
    rows = [
        (f"u{i}", None, h, "", "en") for i, h in enumerate(frags)
    ]
    from mindocr_spark.corpus import PAGES_SCHEMA_DDL
    from mindocr_spark.operators.pipeline import run_extraction

    pages = spark.createDataFrame(rows, PAGES_SCHEMA_DDL)
    fused = {r["url"]: r for r in run_extraction(pages).collect()}
    assert sorted(fused) == sorted(u for u, *_ in rows)
    extract = compose()
    for u, _, html, _, _ in rows:
        want = extract_document(html)
        got = extract(html)
        assert got.extracted_text.encode() == want.extracted_text.encode(), u
        assert got.spans == want.spans, u
        assert got.boilerplate_ratio == want.boilerplate_ratio, u
        r = fused[u]
        assert r["extracted_text"].encode() == want.extracted_text.encode(), u
        assert _span_tuples(r) == want.spans, u
        assert r["boilerplate_ratio"] == want.boilerplate_ratio, u


def test_write_results_observed_global_metrics(spark, tmp_path):
    """metrics_granularity='global' harvests exact counters from the
    write job itself (DataFrame.observe — zero extra scans) and they
    must equal the per-partition audit's totals."""
    from pyspark.sql import functions as F
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.pipeline import run_extraction, write_results

    pages = pages_dataframe(spark, 40, seed=11)
    res = run_extraction(pages)
    out_g, m_g = str(tmp_path / "out_g"), str(tmp_path / "m_g")
    out_p, m_p = str(tmp_path / "out_p"), str(tmp_path / "m_p")
    write_results(res, out_g, metrics_path=m_g, run_id="rg",
                  metrics_granularity="global")
    write_results(res, out_p, metrics_path=m_p, run_id="rp")
    g = spark.read.parquet(m_g).collect()[0]
    assert g["partition_id"] == -1 and g["run_id"] == "rg"
    totals = (
        spark.read.parquet(m_p)
        .agg(F.sum("docs").alias("docs"), F.sum("bytes_in").alias("bytes_in"),
             F.sum("chars_out").alias("chars_out"),
             F.sum("failures").alias("failures"),
             F.sum("blocks").alias("blocks"))
        .collect()[0]
    )
    for k in ("docs", "bytes_in", "chars_out", "failures", "blocks"):
        assert g[k] == totals[k], k
    # and the written data agrees
    assert g["docs"] == spark.read.parquet(out_g).count()


def test_write_audit_publish(spark, tmp_path):
    """WAP sink (manifest-pointer protocol): a failing audit must leave
    the previous snapshot resolvable and write no manifest and no
    metrics row; a passing one commits a new snapshot with its audit
    record appended BEFORE the commit point."""
    from pyspark.sql import functions as F
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.pipeline import (
        read_published,
        resolve_published,
        run_extraction,
        write_results_wap,
    )

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    assert resolve_published(spark, out) is None
    good = run_extraction(pages_dataframe(spark, 20, seed=3))
    assert write_results_wap(good, out, metrics, run_id="r1")
    assert read_published(spark, out).count() == 20
    assert spark.read.parquet(metrics).count() == 1

    published = write_results_wap(
        run_extraction(pages_dataframe(spark, 6, seed=4)), out, metrics,
        run_id="r2",
        audit=lambda m: m["docs"] >= 10,   # audit: too few docs → reject
    )
    assert not published
    assert read_published(spark, out).count() == 20    # old snapshot live
    assert spark.read.parquet(metrics).count() == 1    # no metrics row
    # rejected staging dir left behind for inspection
    assert (tmp_path / "out" / "_data" / "r2").exists()

    # healthy rerun commits a new snapshot (trailing slash tolerated)
    good2 = run_extraction(pages_dataframe(spark, 30, seed=5))
    assert write_results_wap(good2, out + "/", metrics, run_id="r3")
    assert read_published(spark, out).count() == 30
    assert spark.read.parquet(metrics).count() == 2
    # GC swept the rejected r2 staging dir; r1 retained (keep_snapshots=2)
    assert not (tmp_path / "out" / "_data" / "r2").exists()
    assert (tmp_path / "out" / "_data" / "r1").exists()

    # a third commit rotates r1 out of the retained tail
    assert write_results_wap(
        run_extraction(pages_dataframe(spark, 10, seed=6)), out, metrics,
        run_id="r4")
    assert read_published(spark, out).count() == 10
    assert not (tmp_path / "out" / "_data" / "r1").exists()
    assert (tmp_path / "out" / "_data" / "r3").exists()

    # time travel within the retained window; beyond it → LookupError
    from mindocr_spark.operators.pipeline import list_snapshots

    snaps = list_snapshots(spark, out)
    assert [s["run_id"] for s in snaps] == ["r3", "r4"]
    assert read_published(spark, out, seq=snaps[0]["seq"]).count() == 30
    with pytest.raises(LookupError):
        read_published(spark, out, seq=1)

    # retrying an ALREADY-COMMITTED run_id is a pure no-op: True, no
    # restage (the live data dir must not be rewritten under readers),
    # no second manifest aliasing the same data_dir, no metrics row
    n_metrics = spark.read.parquet(metrics).count()
    assert write_results_wap(
        run_extraction(pages_dataframe(spark, 5, seed=7)), out, metrics,
        run_id="r4")
    assert read_published(spark, out).count() == 10   # r4's original bytes
    assert [s["run_id"] for s in list_snapshots(spark, out)] == ["r3", "r4"]
    assert spark.read.parquet(metrics).count() == n_metrics


def test_wap_metrics_idempotent_across_retry(spark, tmp_path, monkeypatch):
    """Crash between the audit-record append and the manifest create:
    the audit row is already down (the before-commit discipline), so
    the retry must NOT append a second metrics row for the same
    run_id — consumers count/join metrics by run_id."""
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators import pipeline as P

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")

    def _boom(*a, **k):
        raise OSError("simulated crash before manifest create")

    monkeypatch.setattr(P, "_write_manifest", _boom)
    with pytest.raises(OSError):
        P.write_results_wap(
            P.run_extraction(pages_dataframe(spark, 10, seed=3)),
            out, metrics, run_id="r1")
    monkeypatch.undo()

    # nothing committed, but the audit row landed before the crash
    assert P.resolve_published(spark, out) is None
    assert spark.read.parquet(metrics).where("run_id = 'r1'").count() == 1

    # the retry publishes and the metrics sink still holds ONE r1 row
    assert P.write_results_wap(
        P.run_extraction(pages_dataframe(spark, 10, seed=3)),
        out, metrics, run_id="r1")
    assert P.read_published(spark, out).count() == 10
    assert spark.read.parquet(metrics).where("run_id = 'r1'").count() == 1


def test_wap_crash_recovery_no_renames(spark, tmp_path, monkeypatch):
    """Crash matrix of the manifest-pointer commit: a torn manifest
    (bad checksum) is not a commit; an orphan staged dir never becomes
    visible; retrying a crashed run_id commits cleanly. The whole
    protocol does NO python-side renames (object-store-safe), proven by
    poisoning os.rename/os.replace for the duration."""
    import json
    import os
    import shutil
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.pipeline import (
        read_published,
        run_extraction,
        write_results_wap,
    )

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")

    def _no_rename(*a, **k):
        raise AssertionError("WAP commit protocol must not rename")

    monkeypatch.setattr(os, "rename", _no_rename)
    monkeypatch.setattr(os, "replace", _no_rename)
    monkeypatch.setattr(shutil, "move", _no_rename)

    assert write_results_wap(
        run_extraction(pages_dataframe(spark, 20, seed=3)), out, metrics,
        run_id="r1")
    assert read_published(spark, out).count() == 20

    mdir = tmp_path / "out" / "_manifests"
    # crash DURING manifest create: torn file (truncated json) at a
    # higher seq — readers must ignore it and keep resolving r1
    committed = json.loads((mdir / sorted(os.listdir(mdir))[-1]).read_text())
    (mdir / "manifest-0000000099-rX.json").write_text(
        json.dumps({"seq": 99, "run_id": "rX", "data_dir": "rX"})[:40]
    )
    assert read_published(spark, out).count() == 20

    # crash DURING stage: orphan data dir with no manifest → invisible
    (tmp_path / "out" / "_data" / "rY").mkdir(parents=True)
    assert read_published(spark, out).count() == 20

    # retry of the crashed run commits under a seq ABOVE the torn one
    assert write_results_wap(
        run_extraction(pages_dataframe(spark, 30, seed=5)), out, metrics,
        run_id="rX")
    assert read_published(spark, out).count() == 30
    new = json.loads(
        (mdir / sorted(os.listdir(mdir))[-1]).read_text()
    )
    assert new["seq"] > 99 and new["run_id"] == "rX"
    assert new["seq"] > committed["seq"]
    # GC swept the orphan stage dir and the torn manifest
    assert not (tmp_path / "out" / "_data" / "rY").exists()
    assert not (mdir / "manifest-0000000099-rX.json").exists()


def test_load_manifests_fails_closed():
    """Only an unparseable or checksum-failing manifest is skipped as
    never-committed; an I/O error while READING one propagates, so a
    transient failure cannot silently serve an older snapshot. In-memory
    filesystem, no JVM."""
    import json

    from mindocr_spark.operators.pipeline import (
        _load_manifests,
        _write_manifest,
    )

    class MemFS:
        def __init__(self):
            self.files: dict[str, bytes] = {}
            self.broken: set[str] = set()

        def write_bytes(self, path, data):
            self.files[path] = data

        def read_bytes(self, path):
            if path in self.broken:
                raise OSError(f"read failed: {path}")
            return self.files[path]

        def list_names(self, path):
            return sorted(p.rsplit("/", 1)[1] for p in self.files
                          if p.rsplit("/", 1)[0] == path)

    fs = MemFS()
    assert _write_manifest(fs, "t", "r1", {"data_dir": "r1"}, [])["seq"] == 1
    mdir = "t/_manifests"
    torn = json.dumps({"seq": 2, "run_id": "r2", "data_dir": "r2"})[:25]
    fs.write_bytes(f"{mdir}/manifest-0000000002-r2.json", torn.encode())
    fs.write_bytes(f"{mdir}/manifest-0000000003-r3.json", b"\xff\xfe[1]")
    fs.write_bytes(f"{mdir}/manifest-0000000004-r4.json", b"[1, 2]")
    bad_md5 = {"seq": 5, "run_id": "r5", "md5": "0" * 32}
    fs.write_bytes(f"{mdir}/manifest-0000000005-r5.json",
                   json.dumps(bad_md5).encode())
    assert [m["run_id"] for m in _load_manifests(fs, "t")] == ["r1"]

    fs.broken.add(f"{mdir}/manifest-0000000001-r1.json")
    with pytest.raises(OSError):
        _load_manifests(fs, "t")


def test_compaction_executes_plan_and_commits_new_snapshot(spark, tmp_path):
    """compact_published: many small files -> planned bin count, same
    rows, new manifest seq, previous snapshot still time-travelable,
    idempotent replay, and a no-op when already compact."""
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.pipeline import (
        compact_published,
        list_snapshots,
        read_published,
        run_extraction,
        write_results_wap,
    )

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    good = run_extraction(pages_dataframe(spark, 40, seed=5)).repartition(8)
    assert write_results_wap(good, out, metrics, run_id="r1")
    before = {r["url"] for r in read_published(spark, out).collect()}
    snaps0 = list_snapshots(spark, out)

    assert compact_published(spark, out, run_id="c1",
                             target_bytes=1 << 30)
    snaps = list_snapshots(spark, out)
    assert len(snaps) == len(snaps0) + 1
    assert snaps[-1]["compaction_of"] == snaps0[-1]["seq"]
    assert snaps[-1]["counters"]["files_after"] < \
        snaps[-1]["counters"]["files_before"]
    after = {r["url"] for r in read_published(spark, out).collect()}
    assert after == before
    # previous snapshot still resolvable inside the GC window
    old = read_published(spark, out, seq=snaps0[-1]["seq"])
    assert {r["url"] for r in old.collect()} == before
    # idempotent replay
    assert compact_published(spark, out, run_id="c1",
                             target_bytes=1 << 30)
    # already compact -> no-op, no seq burned
    assert not compact_published(spark, out, run_id="c2",
                                 target_bytes=1 << 30)
    assert len(list_snapshots(spark, out)) == len(snaps)


class TestSchemaEvolution:
    """Iceberg-style schema evolution on the manifest protocol:
    field IDs are a column's durable identity; reads — current or
    time-traveled — view every snapshot through the CURRENT schema."""

    def _table(self, spark, tmp_path):
        from mindocr_spark.operators.pipeline import write_results_wap

        out = str(tmp_path / "t")
        metrics = str(tmp_path / "m")
        v1 = spark.createDataFrame(
            [(1, "alpha", 10), (2, "beta", 20)],
            "doc_id bigint, body string, n_chars int",
        )
        assert write_results_wap(v1, out, metrics, run_id="v1",
                                 keep_snapshots=4)
        return out, metrics

    def test_rename_add_drop_widen_roundtrip(self, spark, tmp_path):
        from mindocr_spark.operators.pipeline import (
            current_schema,
            evolve_schema,
            list_snapshots,
            read_published,
            write_results_wap,
        )
        from pyspark.sql import functions as F

        out, metrics = self._table(spark, tmp_path)
        seq1 = list_snapshots(spark, out)[-1]["seq"]
        ev = evolve_schema(
            current_schema(spark, out),
            rename={"body": "content"},
            retype={"n_chars": "bigint"},
            add=(("quality", "double"),),
        )
        v2 = spark.createDataFrame(
            [(3, "gamma", 30, 0.9)],
            "doc_id bigint, content string, n_chars bigint, quality double",
        )
        assert write_results_wap(v2, out, metrics, run_id="v2",
                                 schema_fields=ev, keep_snapshots=4)
        cur = read_published(spark, out)
        assert sorted(cur.columns) == ["content", "doc_id", "n_chars",
                                       "quality"]
        # time travel views the OLD snapshot through the NEW schema:
        # rename resolves by field id, the added column is typed NULL,
        # the int widens to bigint
        old = read_published(spark, out, seq=seq1)
        assert sorted(old.columns) == sorted(cur.columns)
        rows = {r["doc_id"]: r for r in old.collect()}
        assert rows[1]["content"] == "alpha"
        assert rows[1]["quality"] is None
        assert dict(old.dtypes)["n_chars"] == "bigint"
        # as-written bypasses the mapping
        raw = read_published(spark, out, seq=seq1, as_written=True)
        assert sorted(raw.columns) == ["body", "doc_id", "n_chars"]

    def test_drop_vanishes_everywhere(self, spark, tmp_path):
        from mindocr_spark.operators.pipeline import (
            current_schema,
            evolve_schema,
            list_snapshots,
            read_published,
            write_results_wap,
        )

        out, metrics = self._table(spark, tmp_path)
        seq1 = list_snapshots(spark, out)[-1]["seq"]
        ev = evolve_schema(current_schema(spark, out), drop=("n_chars",))
        v2 = spark.createDataFrame(
            [(9, "omega")], "doc_id bigint, body string")
        assert write_results_wap(v2, out, metrics, run_id="v2",
                                 schema_fields=ev, keep_snapshots=4)
        assert sorted(read_published(spark, out).columns) == \
            ["body", "doc_id"]
        assert sorted(read_published(spark, out, seq=seq1).columns) == \
            ["body", "doc_id"]

    def test_silent_divergence_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from mindocr_spark.operators.pipeline import write_results_wap

        out, metrics = self._table(spark, tmp_path)
        drifted = spark.createDataFrame(
            [(5, "x")], "doc_id bigint, renamed_by_accident string")
        with _pytest.raises(ValueError, match="diverges"):
            write_results_wap(drifted, out, metrics, run_id="v2")

    def test_evolve_schema_validation(self):
        from mindocr_spark.operators.pipeline import evolve_schema

        import pytest as _pytest

        fields = [{"id": 1, "name": "a", "type": "string"},
                  {"id": 2, "name": "b", "type": "int"}]
        with _pytest.raises(KeyError):
            evolve_schema(fields, rename={"zz": "y"})
        with _pytest.raises(ValueError):
            evolve_schema(fields, add=(("a", "string"),))
        with _pytest.raises(ValueError):
            evolve_schema(fields, rename={"a": "b"})
        # ids are durable and never reused
        ev = evolve_schema(fields, drop=("b",), add=(("c", "double"),))
        assert [f["id"] for f in ev] == [1, 3]

    def test_partition_spec_change_between_snapshots(self, spark, tmp_path):
        """Partition-spec evolution: each snapshot keeps ITS OWN
        layout (the manifest records it), so a spec change is just a
        new snapshot; the latest one prunes on the new spec and the
        old one stays time-travelable."""
        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            list_snapshots,
            read_published,
            run_extraction,
            write_results_wap,
        )

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(pages_dataframe(spark, 20, seed=3))
        assert write_results_wap(res, out, metrics, run_id="flat",
                                 keep_snapshots=4)
        seq1 = list_snapshots(spark, out)[-1]["seq"]
        assert write_results_wap(res, out, metrics, run_id="parted",
                                 keep_snapshots=4,
                                 partition_by=("lang",))
        snaps = list_snapshots(spark, out)
        assert snaps[-1]["partition_by"] == ["lang"]
        assert snaps[-2]["partition_by"] == []
        df = read_published(spark, out)
        some = df.select("lang").distinct().collect()[0]["lang"]
        plan = (df.where(df["lang"] == some)
                ._jdf.queryExecution().executedPlan().toString())
        assert "PartitionFilters: [isnotnull(lang" in plan
        assert read_published(spark, out, seq=seq1).count() == df.count()

    def test_compaction_carries_schema_forward(self, spark, tmp_path):
        from mindocr_spark.operators.pipeline import (
            compact_published,
            current_schema,
            evolve_schema,
            list_snapshots,
            read_published,
            write_results_wap,
        )

        out, metrics = self._table(spark, tmp_path)
        ev = evolve_schema(current_schema(spark, out),
                           rename={"body": "content"})
        v2 = spark.createDataFrame(
            [(i, f"g{i}", 30 + i) for i in range(12)],
            "doc_id bigint, content string, n_chars int",
        ).repartition(6)
        assert write_results_wap(v2, out, metrics, run_id="v2",
                                 schema_fields=ev, keep_snapshots=4)
        assert compact_published(spark, out, run_id="c1",
                                 target_bytes=1 << 30, keep_snapshots=4)
        assert [f["name"] for f in current_schema(spark, out)] == \
            ["doc_id", "content", "n_chars"]
        assert sorted(read_published(spark, out).columns) == \
            ["content", "doc_id", "n_chars"]


class TestHiddenPartitioning:
    """Iceberg transform specs: the physical partition column is
    derived at write, recorded in the manifest spec, hidden from
    readers by the schema projection, and pruned through the
    transform applied to the reader's DATA-column literal."""

    def _write(self, spark, tmp_path, partition_by):
        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            run_extraction,
            write_results_wap,
        )

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(pages_dataframe(spark, 30, seed=7))
        assert write_results_wap(res, out, metrics, run_id="h1",
                                 partition_by=partition_by)
        return out, res

    def test_bucket_spec_hidden_and_pruned(self, spark, tmp_path):
        import os

        from mindocr_spark.operators.pipeline import (
            read_published,
            read_published_pruned,
            resolve_published,
        )

        out, _ = self._write(spark, tmp_path, ("bucket(8, url)",))
        data = resolve_published(spark, out)
        dirs = [d for d in os.listdir(data)
                if os.path.isdir(os.path.join(data, d))]
        assert dirs and all(d.startswith("url_bucket=") for d in dirs)
        df = read_published(spark, out)
        # the physical column is HIDDEN from readers
        assert "url_bucket" not in df.columns
        some_url = df.select("url").orderBy("url").first()["url"]
        pruned = read_published_pruned(spark, out, {"url": some_url})
        assert "url_bucket" not in pruned.columns
        rows = pruned.collect()
        assert len(rows) == 1 and rows[0]["url"] == some_url
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(url_bucket" in plan

    def test_days_spec_prunes_timestamp_equality(self, spark, tmp_path):
        import os

        from mindocr_spark.operators.pipeline import (
            read_published_pruned,
            resolve_published,
        )

        out, res = self._write(spark, tmp_path, ("days(warc_ts)",))
        data = resolve_published(spark, out)
        assert any(d.startswith("warc_ts_day=")
                   for d in os.listdir(data))
        some_ts = res.select("warc_ts").first()["warc_ts"]
        pruned = read_published_pruned(spark, out, {"warc_ts": some_ts})
        got = pruned.collect()
        assert got and all(r["warc_ts"] == some_ts for r in got)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(warc_ts_day" in plan

    def test_identity_and_transform_compose(self, spark, tmp_path):
        import os

        from mindocr_spark.operators.pipeline import (
            read_published,
            read_published_pruned,
            resolve_published,
        )

        out, _ = self._write(spark, tmp_path,
                             ("lang", "bucket(4, url)"))
        data = resolve_published(spark, out)
        langs = [d for d in os.listdir(data) if d.startswith("lang=")]
        assert langs
        assert any(d.startswith("url_bucket=")
                   for d in os.listdir(os.path.join(data, langs[0])))
        df = read_published(spark, out)
        assert "lang" in df.columns and "url_bucket" not in df.columns
        some = sorted(r["lang"] for r in
                      df.select("lang").distinct().collect())[0]
        pruned = read_published_pruned(spark, out, {"lang": some})
        assert {r["lang"] for r in pruned.collect()} == {some}
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(lang" in plan

    def test_spec_parse_validation(self):
        import pytest as _pytest

        from mindocr_spark.operators.pipeline import parse_partition_spec

        assert parse_partition_spec("bucket(16, url)") == {
            "kind": "bucket", "col": "url", "param": 16,
            "field": "url_bucket"}
        assert parse_partition_spec("days(warc_ts)")["field"] == \
            "warc_ts_day"
        assert parse_partition_spec("lang")["kind"] == "identity"
        with _pytest.raises(ValueError):
            parse_partition_spec("bucket(0, url)")
        with _pytest.raises(ValueError):
            parse_partition_spec("no such(thing)")


def test_compaction_preserves_partition_layout(spark, tmp_path):
    """compact_published on a partition_by snapshot: the recursive
    inventory finds the Hive-nested files, the rewrite compacts each
    partition dir IN PLACE of its relative layout, the new manifest
    carries partition_by forward, and the compacted snapshot still
    partition-prunes."""
    import os

    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.pipeline import (
        compact_published,
        list_snapshots,
        read_published,
        resolve_published,
        run_extraction,
        write_results_wap,
    )

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    good = run_extraction(
        pages_dataframe(spark, 40, seed=9)).repartition(6)
    assert write_results_wap(good, out, metrics, run_id="p1",
                             partition_by=("lang",))
    before = {(r["url"], r["lang"])
              for r in read_published(spark, out).collect()}

    assert compact_published(spark, out, run_id="c1",
                             target_bytes=1 << 30)
    snaps = list_snapshots(spark, out)
    assert snaps[-1]["partition_by"] == ["lang"]
    assert snaps[-1]["counters"]["files_after"] < \
        snaps[-1]["counters"]["files_before"]
    data = resolve_published(spark, out)
    # layout preserved: only lang=... dirs at the table root
    part_dirs = [d for d in os.listdir(data)
                 if os.path.isdir(os.path.join(data, d))]
    assert part_dirs and all(d.startswith("lang=") for d in part_dirs)
    # each partition compacted to its planned single bin
    for d in part_dirs:
        files = [f for f in os.listdir(os.path.join(data, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1
    df = read_published(spark, out)
    assert {(r["url"], r["lang"]) for r in df.collect()} == before
    some = sorted({r["lang"] for r in df.select(
        "lang").distinct().collect()})[0]
    plan = (df.where(df["lang"] == some)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_partitioned_wap_snapshot_prunes_partitions(spark, tmp_path):
    """write_results_wap(partition_by=('lang',)) lays the run dir out
    Hive-style; a reader resolving through the manifest and filtering
    on lang must show partition PRUNING in the scan (PartitionFilters),
    and the manifest records the partition spec."""
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.pipeline import (
        list_snapshots,
        read_published,
        run_extraction,
        write_results_wap,
    )

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    good = run_extraction(pages_dataframe(spark, 30, seed=9))
    assert write_results_wap(good, out, metrics, run_id="p1",
                             partition_by=("lang",))
    assert list_snapshots(spark, out)[-1]["partition_by"] == ["lang"]
    df = read_published(spark, out)
    langs = {r["lang"] for r in df.select("lang").distinct().collect()}
    assert len(langs) >= 2  # corpus spans languages -> real partitions
    some = sorted(langs)[0]
    plan = (df.where(df["lang"] == some)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(lang" in plan
    # and the filtered read returns exactly that partition's rows
    n_all = df.count()
    n_part = df.where(df["lang"] == some).count()
    assert 0 < n_part < n_all


class TestPrunedReadStrictness:
    """read_published_pruned must never silently return a superset:
    unknown prune keys raise, and renamed spec sources keep BOTH the
    partition-level prune and the exact row filter (field-ID
    resolution)."""

    def _publish(self, spark, tmp_path, partition_by=("bucket(8, url)",)):
        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            run_extraction, write_results_wap)

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(pages_dataframe(spark, 30, seed=11))
        assert write_results_wap(res, out, metrics, run_id="v1",
                                 partition_by=partition_by)
        return out

    def test_unknown_prune_key_raises(self, spark, tmp_path):
        import pytest as _pytest

        from mindocr_spark.operators.pipeline import read_published_pruned

        out = self._publish(spark, tmp_path)
        with _pytest.raises(KeyError, match="no partition-spec source"):
            read_published_pruned(spark, out, {"no_such_col": "x"})

    def test_prune_survives_source_rename(self, spark, tmp_path):
        from mindocr_spark.operators.pipeline import (
            current_schema,
            evolve_schema,
            read_published,
            read_published_pruned,
            write_results_wap,
        )

        out = self._publish(spark, tmp_path)
        # rename the spec's SOURCE column; commit an (empty-delta-free)
        # second snapshot under the evolved schema
        ev = evolve_schema(current_schema(spark, out),
                           rename={"url": "page_url"})
        v2 = read_published(spark, out).withColumnRenamed(
            "url", "page_url")
        metrics = str(tmp_path / "m2")
        assert write_results_wap(v2, out, metrics, run_id="v2",
                                 schema_fields=ev,
                                 partition_by=("bucket(8, page_url)",))
        df = read_published(spark, out)
        assert "page_url" in df.columns
        some = df.select("page_url").orderBy("page_url").first()[0]
        # prune the NEW name against the OLD snapshot (seq of v1):
        # field-ID resolution maps page_url -> url for both the
        # partition filter and the exact filter
        from mindocr_spark.operators.pipeline import list_snapshots

        seq_v1 = list_snapshots(spark, out)[0]["seq"]
        pruned = read_published_pruned(
            spark, out, {"page_url": some}, seq=seq_v1)
        rows = pruned.collect()
        assert len(rows) == 1 and rows[0]["page_url"] == some
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(url_bucket" in plan


class TestFileStatsSkipping:
    """Per-file min/max stats in the WAP manifest: reads prove files
    absent BEFORE the scan (Iceberg data skipping), never change the
    rows, and survive compaction (stats follow the data)."""

    def _publish(self, spark, tmp_path, nparts=6):
        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            run_extraction, write_results_wap)

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(
            pages_dataframe(spark, 60, seed=13)
        ).repartitionByRange(nparts, "lang", "url")
        assert write_results_wap(res, out, metrics, run_id="s1")
        return out

    def test_skips_files_rows_identical(self, spark, tmp_path):
        from mindocr_spark.operators.pipeline import (
            list_snapshots, read_published, read_published_pruned)

        out = self._publish(spark, tmp_path)
        snap = list_snapshots(spark, out)[-1]
        assert snap["file_stats"], "stats missing from manifest"
        full = read_published(spark, out)
        langs = sorted(r["lang"] for r in
                       full.select("lang").distinct().collect())
        some = langs[0]
        pruned = read_published_pruned(spark, out, {"lang": some})
        # range layout on lang => most files provably cannot hold it
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        exp = {(r["url"], r["lang"]) for r in
               full.where(full["lang"] == some).collect()}
        assert {(r["url"], r["lang"])
                for r in pruned.collect()} == exp

    def test_probe_absent_everywhere_reads_nothing(self, spark,
                                                   tmp_path):
        from mindocr_spark.operators.pipeline import (
            read_published_pruned)

        out = self._publish(spark, tmp_path)
        pruned = read_published_pruned(spark, out,
                                       {"lang": "zz-not-a-lang"})
        assert pruned.count() == 0

    def test_stats_survive_compaction(self, spark, tmp_path):
        from mindocr_spark.operators.pipeline import (
            compact_published,
            list_snapshots,
            read_published,
            read_published_pruned,
        )

        out = self._publish(spark, tmp_path, nparts=8)
        full_before = {(r["url"], r["lang"]) for r in
                       read_published(spark, out).collect()}
        assert compact_published(spark, out, run_id="c1",
                                 target_bytes=1 << 30)
        snap = list_snapshots(spark, out)[-1]
        assert "compaction_of" in snap
        assert snap["file_stats"], "compaction dropped file stats"
        # stats reference the NEW files only
        import os

        from mindocr_spark.operators.pipeline import resolve_published

        data = resolve_published(spark, out)
        on_disk = set()
        for root, _dirs, files in os.walk(data):
            for f in files:
                if f.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, f), data)
                    on_disk.add(rel)
        assert set(snap["file_stats"]) == on_disk
        some = sorted(l for _u, l in full_before)[0]
        pruned = read_published_pruned(spark, out, {"lang": some})
        assert {(r["url"], r["lang"]) for r in pruned.collect()} == {
            (u, l) for u, l in full_before if l == some}

    def test_hidden_partition_composes_with_stats(self, spark,
                                                  tmp_path):
        """bucket() pruning AND file stats work together: rows exact,
        partition filter still in the plan."""
        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            read_published,
            read_published_pruned,
            run_extraction,
            write_results_wap,
        )

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(pages_dataframe(spark, 30, seed=17))
        assert write_results_wap(res, out, metrics, run_id="h1",
                                 partition_by=("bucket(8, url)",))
        df = read_published(spark, out)
        some = df.select("url").orderBy("url").first()["url"]
        pruned = read_published_pruned(spark, out, {"url": some})
        rows = pruned.collect()
        assert len(rows) == 1 and rows[0]["url"] == some
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(url_bucket" in plan


class TestRangeSkipping:
    """ranges= predicates: file-stats OVERLAP skipping, monotone
    partition-transform pruning, bucket() correctly not range-pruned,
    and strict unknown-key behavior."""

    def test_range_reads_fewer_files_rows_exact(self, spark, tmp_path):
        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            read_published,
            read_published_pruned,
            run_extraction,
            write_results_wap,
        )

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(pages_dataframe(spark, 60, seed=19))
        res = res.withColumn(
            "n_chars", F.length("extracted_text").cast("bigint")
        ).repartitionByRange(6, "n_chars", "url")
        assert write_results_wap(res, out, metrics, run_id="r1")
        full = read_published(spark, out)
        vals = sorted(r["n_chars"] for r in
                      full.select("n_chars").collect())
        lo, hi = vals[5], vals[15]
        pruned = read_published_pruned(
            spark, out, ranges={"n_chars": (lo, hi)})
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        exp = {r["url"] for r in full.collect()
               if lo <= r["n_chars"] <= hi}
        assert {r["url"] for r in pruned.collect()} == exp
        # open bounds
        left = read_published_pruned(
            spark, out, ranges={"n_chars": (None, lo)})
        assert {r["url"] for r in left.collect()} == {
            r["url"] for r in full.collect() if r["n_chars"] <= lo}

    def test_days_transform_range_prunes_partitions(self, spark,
                                                    tmp_path):
        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            read_published,
            read_published_pruned,
            run_extraction,
            write_results_wap,
        )

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(pages_dataframe(spark, 40, seed=23))
        assert write_results_wap(res, out, metrics, run_id="d1",
                                 partition_by=("days(warc_ts)",))
        full = read_published(spark, out)
        ts = sorted(r["warc_ts"] for r in
                    full.select("warc_ts").collect())
        lo, hi = ts[5], ts[20]
        pruned = read_published_pruned(
            spark, out, ranges={"warc_ts": (lo, hi)})
        got = {(r["url"], r["warc_ts"]) for r in pruned.collect()}
        assert got == {(r["url"], r["warc_ts"]) for r in full.collect()
                       if lo <= r["warc_ts"] <= hi}
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(warc_ts_day" in plan

    def test_bucket_not_range_pruned_but_rows_exact(self, spark,
                                                    tmp_path):
        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            read_published,
            read_published_pruned,
            run_extraction,
            write_results_wap,
        )

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(pages_dataframe(spark, 30, seed=29))
        assert write_results_wap(res, out, metrics, run_id="b1",
                                 partition_by=("bucket(4, url)",))
        full = read_published(spark, out)
        urls = sorted(r["url"] for r in full.select("url").collect())
        lo, hi = urls[5], urls[20]
        pruned = read_published_pruned(
            spark, out, ranges={"url": (lo, hi)})
        assert {r["url"] for r in pruned.collect()} == {
            u for u in urls if lo <= u <= hi}

    def test_conflicting_and_unknown_keys_raise(self, spark, tmp_path):
        import pytest as _pytest

        from mindocr_spark.corpus import pages_dataframe
        from mindocr_spark.operators.pipeline import (
            read_published_pruned,
            run_extraction,
            write_results_wap,
        )

        out, metrics = str(tmp_path / "t"), str(tmp_path / "m")
        res = run_extraction(pages_dataframe(spark, 20, seed=31))
        assert write_results_wap(res, out, metrics, run_id="c1")
        with _pytest.raises(ValueError, match="both prune and ranges"):
            read_published_pruned(spark, out, {"url": "x"},
                                  ranges={"url": ("a", "b")})
        with _pytest.raises(KeyError, match="no partition-spec source"):
            read_published_pruned(spark, out,
                                  ranges={"nope": (1, 2)})
