"""Driver-contract guard inside the test suite: a fast subset of the
oracle comparisons (the full set runs via tools/check_oracle.py), plus
contract-shape invariants."""

import duckdb
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

FAST_QUERIES = [
    "extract_fulltext",      # byte-identical extraction
    "agg_partial_final",     # decimal-exact aggregation
    "token_stats",           # text analysis
    "exact_dedup",           # dedup
    "windowed_counts",       # timestamp handling
    "layout_assemble",       # 2-D layout path
    "layout_from_bytes",     # real PDF codec end-to-end
    "multimodal_real_codec", # real BMP/WAV codecs
]


@pytest.fixture(scope="module")
def entrymod():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    return E


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_oracle_parity(spark, sf_dir, entrymod, oracle, name):
    got = _canon(entrymod.queries()[name](spark, sf_dir).toPandas())
    want = _canon(oracle.sql(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    assert got.equals(want)


def test_contract_shape(entrymod):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)           # no orphan oracles
    assert len(oracles) >= 38                # coverage floor
    for name, fn in qs.items():
        assert callable(fn), name


def test_entry_smoke(spark, entrymod):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "extracted_text" in df.columns


def test_extract_cache_weak_on_session(entrymod):
    """A driver that cycles SparkSessions must not leak persisted
    frames: the memo is a WeakKeyDictionary on the session, so a dead
    session's entry (and its persisted DataFrames' last reference)
    is collectable."""
    import gc
    import weakref

    assert isinstance(entrymod._extract_cache, weakref.WeakKeyDictionary)

    class FakeSession:
        pass

    fs = FakeSession()
    entrymod._extract_cache[fs] = {"sf": object()}
    assert fs in entrymod._extract_cache
    del fs
    gc.collect()
    assert all(not isinstance(k, FakeSession)
               for k in list(entrymod._extract_cache.keys()))


def test_first_fifty_queries_span_every_family(entrymod):
    """The driver's hard correctness gate checks the FIRST 50 registry
    entries — they must cover at least one query from every operator
    family so no family ever rides unverified."""
    first50 = list(entrymod.queries())[:50]
    got = set(first50)
    for family, members in entrymod._FAMILIES.items():
        assert got & members, f"family {family} absent from first 50"
    # every family member the table names must actually exist — a
    # typo'd member would silently weaken the anchor guarantee
    allq = set(entrymod.queries())
    for family, members in entrymod._FAMILIES.items():
        assert members <= allq, (family, sorted(members - allq))


def test_gate_rotation_advances_coverage(entrymod):
    """The rotation contract: the head window is the 40-entry rotated
    slice of never-checked queries, one already-checked anchor for each
    family that slice misses, then more never-checked queries — so
    exactly 50 - n_anchors fresh entries when the pool allows, and
    every registry entry earns a driver-checked row within a few
    rounds."""
    import glob
    import hashlib
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    checked: set[str] = set()
    rounds = []
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        with open(p) as f:
            checked |= set(json.load(f))
        rounds.append(int(re.search(r"r(\d+)", os.path.basename(p))[1]))
    if not checked:
        pytest.skip("fresh checkout: no artifacts, no rotation")
    qs = entrymod.queries()
    head = list(qs)[:50]
    pool = sorted(set(qs) - checked,
                  key=lambda n: hashlib.md5(n.encode()).hexdigest())
    start = 40 * (max(rounds) + 1 - 5) % len(pool)
    rotated = {pool[(start + i) % len(pool)]
               for i in range(min(40, len(pool)))}
    n_anchors = sum(
        1 for members in entrymod._FAMILIES.values()
        if not members & rotated and members & checked
    )
    assert n_anchors <= 10  # anchors fit beside the full rotated slice
    fresh = [n for n in head if n not in checked]
    assert len(fresh) == min(50 - n_anchors, len(pool))


def test_fresh_checkout_head_spans_every_family(entrymod, monkeypatch):
    """With no CORRECTNESS_r*.json artifacts the head is one anchor per
    family, then registry order — still every family in the first 50."""
    monkeypatch.setattr(entrymod, "_correctness_artifacts", lambda: [])
    order = list(entrymod.queries())
    first50 = set(order[:50])
    for family, members in entrymod._FAMILIES.items():
        assert first50 & members, f"family {family} absent from first 50"
    n_anchors = len(entrymod._FAMILIES)
    rest = [n for n in entrymod._REGISTRY if n not in order[:n_anchors]]
    assert order[n_anchors:] == rest


def test_registry_integrity(entrymod):
    """One record per builder: every record has an oracle, no name or
    builder is registered twice, and bench.py's exclusions exist."""
    import collections
    import os
    import sys

    reg = entrymod._REGISTRY
    for name, rec in reg.items():
        assert isinstance(rec.oracle, str) and rec.oracle.strip(), name
    with pytest.raises(ValueError, match="registered twice"):
        entrymod.query(next(iter(reg)), oracle="SELECT 1")(lambda s, d: None)
    builders = collections.Counter(rec.builder.__name__
                                   for rec in reg.values())
    assert max(builders.values()) == 1
    defined = {n for n in dir(entrymod) if n.startswith("q_")}
    assert set(builders) == defined
    assert set(entrymod.oracle_sql()) == set(entrymod.queries()) == set(reg)

    sys.path.insert(0, os.path.dirname(os.path.abspath(entrymod.__file__)))
    import bench

    assert set(bench.HEADLINE_EXCLUDED) <= set(reg)
    assert len(set(bench.HEADLINE_EXCLUDED)) == len(bench.HEADLINE_EXCLUDED)


def test_corpus_rollup_subtotals_are_consistent(spark):
    """The ROLLUP grains must agree with each other: per-lang rows sum
    to the grand total, and grouping flags mark exactly the subtotal
    rows (never real NULL keys)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    rows = E.queries()["corpus_rollup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    grand = [r for r in rows if r["lang_total"] == 1]
    assert len(grand) == 1 and grand[0]["source_total"] == 1
    lang_rows = [
        r for r in rows if r["lang_total"] == 0 and r["source_total"] == 1
    ]
    leaf = [r for r in rows if r["source_total"] == 0]
    assert sum(r["n_docs"] for r in lang_rows) == grand[0]["n_docs"]
    assert sum(r["n_tokens"] for r in leaf) == grand[0]["n_tokens"]
    for r in leaf:
        assert r["lang"] is not None and r["source"] is not None
        assert r["mean_tokens"] == r["n_tokens"] / r["n_docs"]


def test_lang_pivot_cross_tab_matches_groupby(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    piv = E.queries()["lang_pivot"](spark, "/root/testdata/sf0.001")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    long = {
        (r["source"], r["lang"]): r["n"]
        for r in docs.groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in piv.collect():
        for lg in ("de", "en", "es", "fr", "zh"):
            assert r[f"n_{lg}"] == long.get((r["source"], lg), 0)
