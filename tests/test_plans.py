"""Physical-plan assertions — the scale-discipline lock.

The 100 TB design depends on properties the small-SF result checks can't
see: column pruning at the scan, predicate pushdown into parquet,
broadcast joins for dims, no shuffle on the fused extraction path.
These tests pin them via `.explain("formatted")` so a regression that
silently de-optimizes the plan (e.g. an expression that blocks
pushdown) fails CI, mirroring how the reference pins its executor
topology in config (reference: deploy/py_infer/src/parallel/
parallel_pipeline.py:39-67).
"""

import re

import pytest


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


#: Aggregate grouping keys with an audited bounded domain: `__rg_pid` ≤
#: shuffle partitions (the ranked_global offsets frame), `__ckpt_b` ≤
#: n_checkpoints (heaps_fit).
BOUNDED_GROUPING = {"__rg_pid", "__ckpt_b"}


def _walk(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _bounded(node) -> bool:
    """The recursive cardinality rule of
    test_no_single_partition_window_over_unbounded_relation."""
    name = node.getClass().getSimpleName()
    if name in ("GlobalLimit", "LocalLimit", "LocalRelation",
                "OneRowRelation"):
        return True
    if name == "Generate":
        return False
    ch = node.children()
    if name == "Aggregate":
        ge = node.groupingExpressions()
        if ge.size() == 0:
            return True
        names = set()
        for j in range(ge.size()):
            m = re.match(
                r"^'?([A-Za-z_][A-Za-z0-9_]*)#\d+",
                ge.apply(j).toString())
            names.add(m.group(1) if m else "?")
        if names <= BOUNDED_GROUPING:
            return True
        return ch.size() > 0 and _bounded(ch.apply(0))
    if ch.size() == 0:
        return False  # scans, LogicalRDD, streaming sources
    return all(_bounded(ch.apply(i)) for i in range(ch.size()))


def _unbounded_global_windows(optimized_plan) -> int:
    """Unpartitioned Window nodes whose input is not provably bounded."""
    return sum(
        1 for node in _walk(optimized_plan)
        if node.getClass().getSimpleName() == "Window"
        and node.partitionSpec().size() == 0
        and not _bounded(node.children().apply(0)))


@pytest.fixture(scope="module")
def query_plan_checks(spark, sf):
    """Both registry-wide sweeps from ONE build of every driver-contract
    query: name → (executed plan has BatchEvalPython, unbounded
    single-partition Window count in the optimized plan). Building the
    frames is most of a sweep's cost; only the two results are kept, so
    no more than one frame is alive at a time."""
    import __spark_entry__ as E

    checks = {}
    for name, fn in E.queries().items():
        qe = fn(spark, sf)._jdf.queryExecution()
        checks[name] = ("BatchEvalPython" in qe.executedPlan().toString(),
                        _unbounded_global_windows(qe.optimizedPlan()))
    return checks


def test_extraction_scan_prunes_columns(spark, tmp_path):
    """The pages scan must read exactly (url, warc_ts, html, lang) —
    never `text` (the 100 TB ground-truth column)."""
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.stages import extract_stage

    path = str(tmp_path / "pages")
    pages_dataframe(spark, 50).write.parquet(path)
    plan = _plan(extract_stage(spark.read.parquet(path)))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"url", "warc_ts", "html", "lang"}


def test_extraction_path_has_no_shuffle(spark, tmp_path):
    """Fused extraction is one narrow stage: scan → mapInPandas. Zero
    Exchange operators (SURVEY §4's zero-shuffle main path)."""
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.stages import extract_stage

    path = str(tmp_path / "pages2")
    pages_dataframe(spark, 50).write.parquet(path)
    plan = _plan(extract_stage(spark.read.parquet(path)))
    assert "Exchange" not in plan


def test_registry_pipeline_is_one_python_map(spark, tmp_path):
    """A registry plan with per-stage overrides compiles to the same
    single fused stage: exactly one Python map node, zero Exchange."""
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.registry import build_pipeline

    path = str(tmp_path / "pages3")
    pages_dataframe(spark, 50).write.parquet(path)
    plan = _plan(build_pipeline(
        ["parse", "score", {"detect": {"detector": "pse"}}, "assemble"]
    )(spark.read.parquet(path)))
    python_nodes = re.findall(
        r"\(\d+\) (\w*(?:InPandas|InArrow|EvalPython)\w*)", plan)
    assert python_nodes == ["MapInPandas"], plan
    assert "Exchange" not in plan


def test_q1_filter_pushed_to_parquet(spark, sf):
    import __spark_entry__ as E

    plan = _plan(E.q_agg_partial_final(spark, sf))
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", plan), plan


def test_broadcast_join_strategy(spark, sf):
    import __spark_entry__ as E

    plan = _plan(E.q_broadcast_dict_join(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multi_join_uses_broadcast_for_dims(spark, sf):
    import __spark_entry__ as E

    plan = _plan(E.q_multi_join_revenue(spark, sf))
    # nation + region are broadcast; no cartesian anywhere
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_token_stats_stays_in_codegen(spark, sf):
    """Text-analysis queries must be pure JVM expressions — no python
    workers (BatchEvalPython/ArrowEvalPython) in the plan."""
    import __spark_entry__ as E

    for q in ("token_stats", "quality_scores", "lang_id", "exact_dedup"):
        plan = _plan(E.queries()[q](spark, sf))
        # no BatchEvalPython/ArrowEvalPython: pure JVM expressions
        # (AQE's formatted plan hides WholeStageCodegen spans pre-exec,
        # so absence-of-python is the checkable invariant)
        assert "EvalPython" not in plan, q


def test_minhash_agg_is_partial_final(spark, sf):
    """The signature min-agg must do map-side partial aggregation
    (HashAggregate appears before AND after the exchange)."""
    from mindocr_spark.functions.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    first_ex = plan.find("Exchange")
    assert first_ex > 0
    assert "HashAggregate" in plan[:first_ex]  # partial agg before shuffle


def test_pdf_blocks_path_is_narrow(spark, sf):
    """bytes → blocks (synth + parse) is scan → two mapInPandas stages:
    zero Exchange until the layout regroup."""
    from mindocr_spark.pdf import pdf_blocks, synth_pdf_table

    plan = _plan(pdf_blocks(synth_pdf_table(spark, sf)))
    assert "Exchange" not in plan
    # the documents scan reads only what the writer needs
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}


def test_warc_ingest_is_narrow(spark, tmp_path):
    """WARC scan → parse is narrow; downstream extraction fuses into the
    same stage (no Exchange anywhere before a sink)."""
    from pyspark.sql import functions as F
    from mindocr_spark.operators.pipeline import run_extraction
    from mindocr_spark.sources.warc import read_warc, write_warc_dir

    rows = [(f"https://n.example/{i}", 1704067200 + i,
             b"<html><body>n</body></html>", "en") for i in range(4)]
    pages = spark.createDataFrame(
        rows, "url string, sec bigint, html binary, lang string"
    ).select("url", F.timestamp_seconds("sec").alias("warc_ts"),
             "html", "lang")
    out = str(tmp_path / "warc")
    write_warc_dir(pages, out, n_files=2)
    plan = _plan(run_extraction(read_warc(spark, out)))
    assert "Exchange" not in plan


def test_layout_assemble_single_shuffle_from_blocks(spark, sf):
    """From a materialized blocks table, NMS is a key-partitioned join
    and the assembly is ONE aggregation — no cartesian, no extra
    exchanges beyond the join/agg pair's."""
    from mindocr_spark.operators.layout import assemble_document
    from mindocr_spark.pdf import pdf_blocks, synth_pdf_table

    plan = _plan(assemble_document(pdf_blocks(synth_pdf_table(spark, sf))))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_line_signals_stay_narrow(spark, tmp_path):
    """The row-local repetition signals (dup-line fraction, ellipsis,
    symbol ratio) must fuse into the scan stage — zero Exchange; only
    the top-2-gram share is allowed its one keyed shuffle."""
    from mindocr_spark.functions.text import (
        repetition_line_cols,
        top_2gram_cols,
    )

    path = str(tmp_path / "docs_rep")
    spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id bigint, text string"
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    assert "Exchange" not in _plan(repetition_line_cols(docs))
    # top-2-gram: exactly one shuffle key family — (doc, gram) agg +
    # the per-doc window/join it feeds; no cartesian anywhere
    plan = _plan(top_2gram_cols(docs))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_incremental_dedup_joins_are_keyed(spark, tmp_path):
    """Every cross-corpus join in the incremental flag pass must be an
    equi-join (SortMerge/BroadcastHash on real keys) — a cartesian or
    nested-loop would be corpus-quadratic at 10^12 docs."""
    from mindocr_spark.dedup_state import (
        DedupLog, MinHashParams, cross_corpus_flags, dedup_increment,
    )

    log = DedupLog(spark, str(tmp_path / "state"))
    p = MinHashParams(n_perm=8, bands=2)
    a = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id bigint, text string",
    )
    assert dedup_increment(a, log, "r1", params=p, threshold=0.35)
    b = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta eta iota")],
        "doc_id bigint, text string",
    )
    plan = _plan(cross_corpus_flags(b, log, p, threshold=0.35))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_direction_norm_stays_narrow(spark, tmp_path):
    from mindocr_spark.functions.text import direction_norm_cols

    path = str(tmp_path / "docs_dir")
    spark.createDataFrame(
        [(1, "a b c")], "doc_id bigint, text string"
    ).write.parquet(path)
    assert "Exchange" not in _plan(
        direction_norm_cols(spark.read.parquet(path))
    )


def test_no_per_row_python_across_entire_query_suite(query_plan_checks):
    """Sweeping guarantee over ALL driver-contract queries: no plan
    may contain a per-row Python eval node (BatchEvalPython). Arrow
    batch nodes (ArrowEvalPython / mapInPandas FlatMapsInPandas) are
    the sanctioned Python seams — extraction, NFC normalization,
    multimodal codecs — and stay allowed; row-at-a-time Python in any
    hot path is the one-way door this test keeps shut."""
    offenders = {name: True for name, (per_row, _) in
                 query_plan_checks.items() if per_row}
    assert not offenders, f"per-row Python UDFs in: {sorted(offenders)}"


def test_extract_figures_is_narrow(spark, tmp_path):
    """Image-text pair mining is regex scans + explodes — zero
    Exchange (the extract_links discipline)."""
    from mindocr_spark.functions.figures import extract_figures
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [("https://h.example/", '<img src="/a.jpg" alt="x">')],
        "url string, html string",
    ).withColumn("html", F.col("html").cast("binary"))
    assert "Exchange" not in _plan(extract_figures(pages))


def test_interleaved_media_single_shuffle(spark):
    """Interleaved export pays exactly ONE Exchange — the per-url
    window that re-indexes after the textless-image filter."""
    from mindocr_spark.functions.figures import interleaved_media
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [("https://h.example/", "<p>t</p>")],
        "url string, html string",
    ).withColumn("html", F.col("html").cast("binary"))
    import re

    plan = _plan(interleaved_media(pages))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_gsp_candidate_join_broadcasts(spark):
    """The L3 verification joins raw mid-events against the BROADCAST
    candidate list — never a shuffled join on the tiny side."""
    import datetime as dt

    from mindocr_spark.functions.traffic import gsp_patterns

    ev = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), "a"),
         (1, 2, dt.datetime(2024, 1, 1, 0, 10), "b")],
        "user_id bigint, event_id bigint, ts timestamp_ntz,"
        " event_type string",
    )
    assert "Broadcast" in _plan(gsp_patterns(ev, min_support=1))


def test_ddsketch_bucket_assignment_has_no_join(spark):
    """Bucket assignment is an inlined array filter — the only joins
    in the plan are the broadcast quantile spine and the verification
    order statistic; no shuffled join materializes the ladder."""
    from mindocr_spark.functions.sketches import ddsketch_quantiles

    df = spark.createDataFrame(
        [("g", v) for v in range(1, 50)], "grp string, v long")
    plan = _plan(ddsketch_quantiles(df, "grp", "v"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny quantile spine


def test_no_single_partition_window_over_unbounded_relation(
        query_plan_checks):
    """Sweeping guarantee over ALL driver-contract queries: no
    optimized plan may contain an UNPARTITIONED Window whose input is
    an unbounded relation — Spark executes those by moving every row
    to ONE task (`WindowExec: No Partition Defined`), the silent
    scale-killer this suite exists to keep out. An empty-partitionSpec
    Window is allowed only when its INPUT provably has bounded row
    count, decided by a RECURSIVE cardinality rule — NOT an
    any-descendant scan: the broadcast one-row aggregates hanging off
    nearly every frame via crossJoin must not whitelist the big side.

    - GlobalLimit / LocalLimit / LocalRelation / OneRowRelation →
      bounded (the lm.py/zipf top-k-first pattern);
    - Aggregate → bounded if grouping is EMPTY (one row) or only on
      audited bounded-domain keys (`__rg_pid` ≤ shuffle partitions —
      the ranked_global offsets frame; `__ckpt_b` ≤ n_checkpoints —
      heaps_fit), else bounded iff its child is (|out| ≤ |in|);
    - Join → bounded only if ALL inputs are (a broadcast one-row side
      does NOT bound the other side);
    - Generate (explode) → unbounded (data-dependent fan-out);
    - leaves (scans, LogicalRDD, streaming sources) → unbounded;
    - anything else → bounded iff ALL children are (unary operators
      never grow row count; Union needs every branch bounded).

    Exact global ranks/prefix sums over unbounded relations must go
    through `mindocr_spark.functions.ranking.ranked_global`."""
    offenders = {name: windows for name, (_, windows) in
                 query_plan_checks.items() if windows}
    assert not offenders, (
        f"single-partition Window over unbounded relation in: "
        f"{sorted(offenders)}")


def test_stats_prune_reads_fewer_files(spark):
    """q_stats_prune's probes must scan a strict subset of the
    snapshot's data files — the min/max skipping happens at PLANNING
    time (inputFiles), not as a post-scan filter."""
    import __spark_entry__ as E
    from mindocr_spark.operators.pipeline import read_published

    sf_dir = "/root/testdata/sf0.001"
    df = E.queries()["stats_prune"](spark, sf_dir)
    # recover the fixture table path from the scan's input files
    files = df.inputFiles()
    assert files
    import os

    data_dir = os.path.dirname(files[0]).removeprefix("file:")
    total = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert len(total) > 1
    assert len({os.path.basename(f) for f in files}) < len(total)
