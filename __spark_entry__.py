"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps one entry per implemented operator family from
SURVEY.md §2 (plus the training-data-pipeline operators: dedup,
similarity search, text analysis, multimodal plumbing) to a
(spark, sf_dir) → DataFrame callable; ``oracle_sql()`` gives the
DuckDB-runnable ANSI-SQL twin of every query.

Each ``q_*`` builder carries its one registry record::

    @query("name", family="dedup", oracle=f\"\"\"SELECT ...\"\"\")
    def q_name(spark, sf_dir): ...

so adding a query is one decorated builder: ``queries()``,
``oracle_sql()``, ``_FAMILIES`` and bench.py's headline suite are all
derived from ``_REGISTRY``. Oracle strings are built at import, so
the SQL fragments they share are defined before the first builder.

Determinism discipline (so value-hashes match across engines):
- counts/ids/ranks cast to bigint on both sides;
- double aggregates go through exact DECIMAL arithmetic, then cast to
  double; per-row double math uses identical IEEE expressions;
- every rounded float is round(x, 6) (or 4 for cosines) on both sides;
- every query ends with a fully deterministic ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mindocr_spark.operators.pipeline import run_extraction
from mindocr_spark.sources.pages import PAGES_TEMPLATE_ANCHOR, pages_from_documents

#: Chars of chrome text the synthesis template adds around the content
#: (header+nav+aside+footer node texts) — used by the boilerplate oracle.
_CHROME_CHARS = 101
_ANCHOR_LEN = len(PAGES_TEMPLATE_ANCHOR)  # 230


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Ship mindocr_spark to python workers via addPyFile.

    mapInPandas/pandas_udf closures reference mindocr_spark by module
    name; workers are separate processes that do NOT inherit the
    driver's sys.path mutations, so a driver running from a foreign cwd
    (without PYTHONPATH) would hit ModuleNotFoundError in every UDF.
    Delegates to session._ship_package: one content-hash-named zip,
    dedupe keyed on applicationId (not id(sc), which can be recycled)."""
    from mindocr_spark.session import _ship_package

    _ship_package(spark)


class _Query(NamedTuple):
    """One registry record: the builder (wrapped so that worker imports
    are shipped before any job), its operator family and its DuckDB
    oracle SQL."""

    builder: Callable[[SparkSession, str], DataFrame]
    family: str | None
    oracle: str


#: name → record, in definition order. ``queries()``, ``oracle_sql()``
#: and ``_FAMILIES`` are all read off it, so adding a query is one
#: decorated builder.
_REGISTRY: dict[str, _Query] = {}


def query(name: str, *, oracle: str, family: str | None = None):
    """Register the decorated ``q_*`` builder as driver query `name`,
    with its DuckDB twin `oracle` and (optionally) its operator
    `family`. The builder is returned unchanged; the registry holds a
    wrapper that guarantees worker-side imports before any job."""

    def register(fn):
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} registered twice")

        def wrapped(spark, sf_dir):
            _ensure_worker_imports(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = _Query(wrapped, family, oracle)
        return fn

    return register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _epoch_sec(ts_col: str):
    """Seconds since epoch for a TIMESTAMP_NTZ column — delegates to
    the library's single source of truth (tz-free in Spark 4, matching
    DuckDB's boundary-count date_diff from a midnight anchor)."""
    from mindocr_spark.functions.traffic import epoch_sec

    return epoch_sec(ts_col)


import weakref

#: session → {sf_dir: persisted extraction}. WEAK on the session: a
#: long-lived driver that cycles SparkSessions must not accumulate
#: persisted DataFrames of dead sessions (the id()-recycling hazard of
#: a plain dict keyed by id(spark), and the leak of one keyed by the
#: object itself). When the session is garbage-collected its cache
#: entry — and with it the persisted frames' only reference — goes too.
_extract_cache: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages(from documents) → fused extraction, with doc_id recovered
    from the url for oracle joins. The documents parquet is a single
    small file (1 input split) — repartition to the session parallelism
    so the CPU-bound extraction stage uses every core. Memoized+persisted
    per (session, sf_dir): four driver queries share this subtree."""
    per_session = _extract_cache.get(spark)
    if per_session is None:
        per_session = _extract_cache[spark] = {}
    if sf_dir in per_session:
        return per_session[sf_dir]
    pages = pages_from_documents(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    res = run_extraction(pages.drop("doc_id")).withColumn(
        "doc_id", F.element_at(F.split("url", "/"), -1).cast("bigint")
    ).persist()
    per_session[sf_dir] = res
    return res


# ==========================================================================
# Oracle SQL fragments: the builders' `oracle=` strings are built at
# import, so everything they share is defined before the first builder
# ==========================================================================


_A = PAGES_TEMPLATE_ANCHOR  # no quotes inside; safe to inline in SQL

from mindocr_spark.sources.pages import (  # noqa: E402
    PAGES_EAST_BUFFER as _EAST_BUFFER,
    PAGES_EAST_TAIL as _EAST_TAIL,
)

#: Shared IVF index build (exact-assign, lloyd_iters=1) ending in
#: assign(neighbor_id, cv, cid) — the DuckDB twin of
#: `similarity.build_ivf_index`. Used by the ann_ivf_topk AND
#: semdedup oracles so the two can never drift from one another.
#: IVF index build AFTER the corpus CTE — parameterized over `e` so the
#: same pinned replay (id-grid seeds, one Lloyd pass, round-9 cosine
#: assignment) serves both the embeddings table and the in-engine
#: text-embed chain (extract_embed_semdedup).
_IVF_TAIL_CTES = """pp AS (
              SELECT least(65536, greatest(1,
                       CAST(ceil(sqrt(COUNT(*))) AS BIGINT))) AS k,
                     greatest(1, COUNT(*) // least(65536, greatest(1,
                       CAST(ceil(sqrt(COUNT(*))) AS BIGINT)))) AS stride
              FROM e),
            cent0 AS (
              SELECT vec_id AS cid, v AS cent FROM e, pp
              WHERE vec_id % stride = 0),
            a0 AS (
              SELECT neighbor_id, cv, cid FROM (
                SELECT e.vec_id AS neighbor_id, e.v AS cv, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         round(list_dot_product(e.v, c.cent)
                               / (sqrt(list_dot_product(e.v, e.v))
                                  * sqrt(list_dot_product(c.cent, c.cent))), 9) DESC,
                         c.cid ASC) AS arank
                FROM e CROSS JOIN cent0 c)
              WHERE arank = 1),
            comp AS (
              SELECT cid, unnest(cv) AS comp,
                     generate_subscripts(cv, 1) AS pos
              FROM a0),
            m AS (
              SELECT cid, pos,
                     round(CAST(SUM(CAST(comp AS DECIMAL(28,9))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE), 6) AS mv
              FROM comp GROUP BY cid, pos),
            cent AS (SELECT cid, list(mv ORDER BY pos) AS cent FROM m GROUP BY cid),
            assign AS (
              SELECT neighbor_id, cv, cid FROM (
                SELECT e.vec_id AS neighbor_id, e.v AS cv, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         round(list_dot_product(e.v, c.cent)
                               / (sqrt(list_dot_product(e.v, e.v))
                                  * sqrt(list_dot_product(c.cent, c.cent))), 9) DESC,
                         c.cid ASC) AS arank
                FROM e CROSS JOIN cent c)
              WHERE arank = 1)"""

_IVF_INDEX_CTES = (
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    "            " + _IVF_TAIL_CTES
)


def _embed_vec_ctes(text_sql: str, dim: int = 64,
                    src: str = "documents", prefix: str = "") -> str:
    """CTE chain ending in ``embv(vec_id, v DOUBLE[])`` — the DuckDB
    twin of :func:`mindocr_spark.functions.embed.text_embed_cols` over
    ``text_sql`` evaluated per `src` row: whitespace tokens → one md5
    per token → ±1 votes from digest bits (the simhash bit-numbering)
    → exact-int sum of squares → one correctly-rounded sqrt+division
    per component, so the doubles are BIT-IDENTICAL to the engine's.
    Blank/cancelled docs yield the zero vector on both sides."""
    if not 1 <= dim <= 64:
        raise ValueError("oracle twin supports dim <= 64")
    hexd = "0123456789abcdef"

    def bit(j: int) -> str:
        p = 16 - j // 4  # 1-based hex char holding bit j (LSB = j 0)
        return (
            f"((strpos('{hexd}', substr(h, {p}, 1)) - 1) >> {j % 4}) & 1"
        )

    votes = ",\n".join(
        f"SUM(CASE WHEN ({bit(j)}) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(dim)
    )
    ssum = " + ".join(f"v{j}*v{j}" for j in range(dim))
    comps = ", ".join(
        f"CAST(v{j} AS DOUBLE) / sqrt(CAST(s AS DOUBLE))"
        for j in range(dim)
    )
    zeros = "[" + ", ".join("CAST(0.0 AS DOUBLE)" for _ in range(dim)) + "]"
    p = prefix
    return f"""
        {p}ebase AS (SELECT doc_id, ({text_sql}) AS etext FROM {src}),
        {p}en AS (
          SELECT doc_id,
                 trim(regexp_replace(coalesce(etext, ''),
                      '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS norm
          FROM {p}ebase),
        {p}et AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w
               FROM {p}en WHERE norm != ''),
        {p}em AS (SELECT doc_id, md5(w) AS h FROM {p}et),
        {p}ev AS (SELECT doc_id, {votes} FROM {p}em GROUP BY doc_id),
        {p}evs AS (SELECT *, {ssum} AS s FROM {p}ev),
        {p}embv AS (
          SELECT doc_id AS vec_id,
                 CASE WHEN s = 0 THEN {zeros} ELSE [{comps}] END AS v
          FROM {p}evs
          UNION ALL
          SELECT doc_id, {zeros} FROM {p}en WHERE norm = '')
    """


#: Edge multiset of the linked corpus family, derived from the
#: untouched documents table by pure doc_id/source arithmetic (the
#: engine extracts the SAME edges from raw HTML — that asymmetry is
#: the oracle's strength). selfe = 8 chrome links (header, 3 nav,
#: 2 aside, 2 footer) + 1 per-row relative ref, all resolving to the
#: page's own domain.
_LINKED_EDGE_CTES = r"""d AS (
              SELECT doc_id, source,
                     source || CAST(doc_id % 13 AS VARCHAR) || '.example'
                       AS src_dom
              FROM documents),
            selfe AS (
              SELECT src_dom AS dst_dom, src_dom
              FROM d CROSS JOIN range(9)),
            mirror AS (
              SELECT 'mirror' || CAST(doc_id % 7 AS VARCHAR) || '.example'
                       AS dst_dom,
                     src_dom
              FROM d),
            archive AS (
              SELECT 'docs.example' AS dst_dom, src_dom FROM d),
            e AS (
              SELECT * FROM selfe
              UNION ALL SELECT * FROM mirror
              UNION ALL SELECT * FROM archive)"""


def _pagerank_oracle(iters: int = 3, damping: str = "0.85") -> str:
    """Unrolled power-iteration twin of `domain_pagerank`: the same
    pinned association order, the same src-sorted left fold
    (list_reduce ↔ F.aggregate; the 0.0 init is a no-op because
    +0.0 + x == x in IEEE for the positive contributions here)."""
    parts = [
        "WITH " + _LINKED_EDGE_CTES,
        """,
            g AS (
              SELECT src_dom, dst_dom, count(*) AS w
              FROM e GROUP BY src_dom, dst_dom),
            nodes AS (
              SELECT src_dom AS dom FROM e
              UNION SELECT dst_dom FROM e),
            params AS (SELECT count(*) AS n FROM nodes),
            out_w AS (SELECT src_dom, sum(w) AS ow FROM g GROUP BY src_dom),
            it0 AS (
              SELECT dom, 1.0 / p.n AS rank
              FROM nodes CROSS JOIN params p)""",
    ]
    for k in range(1, iters + 1):
        parts.append(f""",
            it{k}c AS (
              SELECT g.dst_dom,
                     list(r.rank * (CAST(g.w AS DOUBLE)
                                    / CAST(o.ow AS DOUBLE))
                          ORDER BY g.src_dom) AS cs
              FROM g JOIN out_w o USING (src_dom)
              JOIN it{k - 1} r ON r.dom = g.src_dom
              GROUP BY g.dst_dom),
            it{k} AS (
              SELECT n.dom,
                     (1.0 - {damping}) / p.n
                       + {damping} * COALESCE(
                           list_reduce(c.cs, (a, b) -> a + b), 0.0) AS rank
              FROM nodes n CROSS JOIN params p
              LEFT JOIN it{k}c c ON c.dst_dom = n.dom)""")
    parts.append(f"""
            SELECT dom AS domain, rank FROM it{iters} ORDER BY domain""")
    return "".join(parts)


#: SHARED twin of `_chorded_link_edges`: the linked family's extracted
#: edges plus the blogroll chord family, as one edge relation `alle`
#: (used by the triangle_count and degree_assortativity oracles).
_CHORDED_EDGE_CTES = _LINKED_EDGE_CTES + r""",
            chord AS (
              SELECT source || CAST(doc_id % 13 AS VARCHAR) || '.example'
                       AS src_dom,
                     source || CAST((doc_id + 1) % 13 AS VARCHAR)
                       || '.example' AS dst_dom
              FROM documents
              UNION ALL
              SELECT source || CAST(doc_id % 13 AS VARCHAR) || '.example',
                     source || CAST((doc_id + 2) % 13 AS VARCHAR)
                       || '.example'
              FROM documents),
            alle AS (
              SELECT src_dom, dst_dom FROM e
              UNION ALL SELECT src_dom, dst_dom FROM chord)"""


def _lpa_cte_chain(iters: int, strip_max_degree: int | None = None) -> str:
    """Shared unrolled LPA superstep chain (twin of
    `links._lpa_labels`): WITH-clause body ending at `l{iters}` —
    `iters` supersteps, each one neighbor-label count + min-tie top-1
    over the symmetric simple graph. All-integer votes — no float
    discipline needed. With `strip_max_degree`, super-hub vertices
    are removed first (twin of `links.strip_hubs`). Both the
    label_propagation and the modularity oracles append their own
    final SELECT."""
    strip = ""
    sp_src = "sp0"
    if strip_max_degree is not None:
        strip = f""",
            deg0 AS (
              SELECT v, count(*) AS d FROM (
                SELECT a AS v FROM sp0
                UNION ALL SELECT b FROM sp0) GROUP BY v),
            keep AS (SELECT v FROM deg0 WHERE d <= {strip_max_degree})"""
        sp_src = """(SELECT sp0.a, sp0.b FROM sp0
                     JOIN keep ka ON sp0.a = ka.v
                     JOIN keep kb ON sp0.b = kb.v)"""
    parts = [
        "WITH " + _CHORDED_EDGE_CTES,
        f""",
            sp0 AS (
              SELECT DISTINCT least(src_dom, dst_dom) AS a,
                     greatest(src_dom, dst_dom) AS b
              FROM alle WHERE src_dom <> dst_dom){strip},
            sp AS (SELECT a, b FROM {sp_src}),
            sym AS (SELECT a, b FROM sp UNION ALL SELECT b, a FROM sp),
            l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM sym)""",
    ]
    for r in range(1, iters + 1):
        parts.append(f""",
            v{r} AS (
              SELECT s.a AS v, l.lbl, count(*) AS c
              FROM sym s JOIN l{r - 1} l ON s.b = l.v
              GROUP BY s.a, l.lbl),
            l{r} AS (
              SELECT v, lbl FROM (
                SELECT v, lbl, row_number() OVER (
                  PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
                FROM v{r}) WHERE rn = 1)""")
    return "".join(parts)


def _label_propagation_oracle(iters: int = 3) -> str:
    """Final vertex-grain select over the shared LPA chain."""
    return _lpa_cte_chain(iters) + f"""
            SELECT v AS domain, lbl AS label,
                   CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT)
                     AS community_size
            FROM l{iters} ORDER BY domain"""


def _profile_drift_oracle() -> str:
    """Twin of `tuning.profile_drift` over the q_profile_drift
    fixture, arms rendered from the SAME `_PROFILE_STRING_COLS` /
    `_PROFILE_NUMERIC_COLS` constants: one aggregate row per snapshot,
    unpivoted to (column, metric, value) long form, full-joined at
    metric grain, each metric ONE IEEE division of exact BIGINTs."""
    scols, ncols = _PROFILE_STRING_COLS, _PROFILE_NUMERIC_COLS

    def aggs() -> str:
        parts = ["CAST(count(*) AS BIGINT) AS n"]
        for c in scols + ncols:
            parts.append(
                f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS null_{c}"
            )
            parts.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS d_{c}")
        for c in scols:
            parts.append(
                f"CAST(sum(CAST(length({c}) AS BIGINT)) AS BIGINT)"
                f" AS len_{c}"
            )
        for c in ncols:
            parts.append(f"CAST(min({c}) AS BIGINT) AS min_{c}")
            parts.append(f"CAST(max({c}) AS BIGINT) AS max_{c}")
            parts.append(f"CAST(sum({c}) AS BIGINT) AS sum_{c}")
        return ",\n                     ".join(parts)

    def arms(alias: str) -> str:
        out = []
        for c in scols + ncols:
            out.append(
                f"SELECT '{c}' AS col, 'null_rate' AS metric,"
                f" CAST(null_{c} AS DOUBLE) / CAST(n AS DOUBLE)"
                f" AS value FROM {alias}"
            )
            out.append(
                f"SELECT '{c}', 'distinct_count',"
                f" CAST(d_{c} AS DOUBLE) FROM {alias}"
            )
        for c in scols:
            out.append(
                f"SELECT '{c}', 'avg_len', CASE WHEN n - null_{c} <> 0"
                f" THEN CAST(len_{c} AS DOUBLE)"
                f" / CAST(n - null_{c} AS DOUBLE) END FROM {alias}"
            )
        for c in ncols:
            out.append(f"SELECT '{c}', 'min', CAST(min_{c} AS DOUBLE)"
                       f" FROM {alias}")
            out.append(f"SELECT '{c}', 'max', CAST(max_{c} AS DOUBLE)"
                       f" FROM {alias}")
            out.append(
                f"SELECT '{c}', 'mean', CASE WHEN n - null_{c} <> 0"
                f" THEN CAST(sum_{c} AS DOUBLE)"
                f" / CAST(n - null_{c} AS DOUBLE) END FROM {alias}"
            )
        return "\n              UNION ALL ".join(out)

    return f"""
            WITH oldt AS (
              SELECT * FROM documents WHERE doc_id % 11 <> 0),
            newt AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN text || repeat(' pad', 150)
                          ELSE text END AS text,
                     CASE WHEN doc_id % 17 <> 0 THEN lang END AS lang,
                     source, n_chars
              FROM documents),
            po AS (SELECT {aggs()} FROM oldt),
            pn AS (SELECT {aggs()} FROM newt),
            lo AS ({arms("po")}),
            ln AS ({arms("pn")}),
            j AS (
              SELECT col, metric,
                     lo.value AS old_value, ln.value AS new_value
              FROM lo FULL JOIN ln USING (col, metric))
            SELECT col AS "column", metric, old_value, new_value,
                   abs(new_value - old_value) AS abs_delta,
                   CASE WHEN old_value IS NULL OR new_value IS NULL
                        THEN (old_value IS NOT NULL
                              OR new_value IS NOT NULL)
                        WHEN old_value = CAST(0.0 AS DOUBLE)
                        THEN new_value <> CAST(0.0 AS DOUBLE)
                        ELSE abs(new_value - old_value)
                             / abs(old_value) > CAST(0.10 AS DOUBLE)
                   END AS drifted
            FROM j ORDER BY "column", metric"""


def _cms_oracle(depth: int = 4, width: int = 1024) -> str:
    """Twin of `sketches.cms_counts` over the corpus token stream,
    probe list and hash arms rendered from the same `_CMS_PROBES`
    constant and the shared `r:`-salted 32-bit md5-prefix idiom."""
    probes_values = ", ".join(f"('{p}')" for p in _CMS_PROBES)
    probes_in = ", ".join(f"'{p}'" for p in _CMS_PROBES)

    def h(r, expr):
        return (
            f"('0x' || substr(md5('{r}:' || {expr}), 1, 8))::BIGINT"
            f" % {width}"
        )

    pos_arms = "\n              UNION ALL ".join(
        f"SELECT {r} AS r, {h(r, 'v')} AS pos FROM tok"
        for r in range(depth)
    )
    ppos_arms = "\n              UNION ALL ".join(
        f"SELECT v, {r} AS r, {h(r, 'v')} AS pos FROM probes"
        for r in range(depth)
    )
    return f"""
            WITH t AS (
              SELECT trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            tok AS (
              SELECT unnest(string_split(norm, ' ')) AS v
              FROM t WHERE norm <> ''),
            pos AS ({pos_arms}),
            counters AS (
              SELECT r, pos, CAST(count(*) AS BIGINT) AS c
              FROM pos GROUP BY r, pos),
            probes(v) AS (VALUES {probes_values}),
            ppos AS ({ppos_arms}),
            est AS (
              SELECT p.v,
                     CAST(min(COALESCE(c.c, 0)) AS BIGINT)
                       AS cms_estimate
              FROM ppos p LEFT JOIN counters c USING (r, pos)
              GROUP BY p.v),
            ex AS (
              SELECT v, CAST(count(*) AS BIGINT) AS exact_count
              FROM tok WHERE v IN ({probes_in}) GROUP BY v)
            SELECT est.v AS probe,
                   COALESCE(ex.exact_count, CAST(0 AS BIGINT))
                     AS exact_count,
                   est.cms_estimate,
                   est.cms_estimate
                     - COALESCE(ex.exact_count, CAST(0 AS BIGINT))
                     AS overestimate
            FROM est LEFT JOIN ex ON est.v = ex.v
            ORDER BY probe"""


def _qc_base_ctes() -> str:
    """SHARED hashed-linear classifier scoring chain (twin of
    `classifier.quality_classifier_score`), weights rendered from the
    engine's own `hashed_weights()` so the two sides cannot drift:
    WITH-clause body ending at `sums` + `base`. Used by the
    quality_classifier, quantile_gate, and calibration_ece oracles."""
    return r"""w(bucket, w) AS (VALUES __W__),
            t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents),
            tok0 AS (
              SELECT doc_id, unnest(string_split(norm,' ')) AS tok
              FROM t WHERE norm <> ''),
            toks AS (
              SELECT doc_id, substr(md5(tok), 1, 2) AS bucket FROM tok0),
            sums AS (
              SELECT doc_id, SUM(CAST(w AS DECIMAL(28,9))) AS logit
              FROM toks JOIN w USING (bucket) GROUP BY doc_id),
            base AS (
              SELECT doc_id,
                     CAST(CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS INT)
                       AS n_tokens
              FROM t)""".replace(
        "__W__",
        ", ".join(
            "('%s', CAST('%s' AS DECIMAL(10,3)))" % (b, wt)
            for b, wt in _hashed_weights()
        ),
    )


def _qc_scored_ctes() -> str:
    """`_qc_base_ctes` extended with the per-doc `scored` relation."""
    return _qc_base_ctes() + r""",
            scored AS (
              SELECT b.doc_id,
                     CASE WHEN b.n_tokens > 0
                          THEN CAST(s.logit AS DOUBLE)
                               / CAST(b.n_tokens AS DOUBLE)
                     END AS score
              FROM base b LEFT JOIN sums s USING (doc_id))"""


def _modularity_oracle(
    iters: int = 3, strip_max_degree: int | None = None
) -> str:
    """Unrolled twin of `links.community_modularity` (over the
    hub-stripped graph when `strip_max_degree` is set): the shared LPA
    chain, then exact BIGINT degree / size / intra-edge aggregates and
    ONE IEEE division (4·m·L_c − D_c²) / (4·m²) per community row —
    bit-identical, no rounding."""
    return _lpa_cte_chain(iters, strip_max_degree) + f""",
            deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
                    FROM sym GROUP BY a),
            pc AS (
              SELECT l.lbl, CAST(count(*) AS BIGINT) AS size,
                     CAST(sum(deg.d) AS BIGINT) AS degree_sum
              FROM deg JOIN l{iters} l ON deg.v = l.v
              GROUP BY l.lbl),
            intra AS (
              SELECT la.lbl,
                     CAST(count(*) AS BIGINT) AS intra_edges
              FROM sp
              JOIN l{iters} la ON sp.a = la.v
              JOIN l{iters} lb ON sp.b = lb.v
              WHERE la.lbl = lb.lbl
              GROUP BY la.lbl),
            comm AS (
              SELECT pc.lbl, pc.size, pc.degree_sum,
                     COALESCE(intra.intra_edges,
                              CAST(0 AS BIGINT)) AS intra_edges,
                     CAST(sum(pc.degree_sum) OVER () // 2 AS BIGINT)
                       AS m
              FROM pc LEFT JOIN intra ON pc.lbl = intra.lbl)
            SELECT lbl AS label, size, degree_sum, intra_edges,
                   CAST(4 * m * intra_edges
                        - degree_sum * degree_sum AS DOUBLE)
                     / CAST(4 * m * m AS DOUBLE) AS q_contrib
            FROM comm ORDER BY label"""


def _kcore_oracle(k: int = 7, rounds: int = 4) -> str:
    """Unrolled twin of `links.domain_kcore`: `rounds` peel passes,
    each one degree count over the alive-filtered symmetric simple
    graph, then the final-core degree. All-integer — no float
    discipline needed."""
    parts = [
        "WITH " + _LINKED_EDGE_CTES,
        """,
            sp AS (
              SELECT DISTINCT src_dom AS a, dst_dom AS b
              FROM e WHERE src_dom != dst_dom),
            sym AS (SELECT a, b FROM sp UNION SELECT b, a FROM sp),
            a0 AS (SELECT DISTINCT a AS dom FROM sym)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
            d{r} AS (
              SELECT a AS dom, count(*) AS c FROM sym
              WHERE a IN (SELECT dom FROM a{r - 1})
                AND b IN (SELECT dom FROM a{r - 1})
              GROUP BY a),
            a{r} AS (SELECT dom FROM d{r} WHERE c >= {k})""")
    parts.append(f"""
            , cd AS (
              SELECT a AS dom, CAST(count(*) AS BIGINT) AS core_degree
              FROM sym
              WHERE a IN (SELECT dom FROM a{rounds})
                AND b IN (SELECT dom FROM a{rounds})
              GROUP BY a)
            SELECT n.dom AS domain,
                   n.dom IN (SELECT dom FROM a{rounds}) AS in_core,
                   cd.core_degree
            FROM a0 n LEFT JOIN cd ON cd.dom = n.dom
            ORDER BY domain""")
    return "".join(parts)


#: the exact whitelist q_trustrank/q_spam_mass pass to the engine —
#: the oracle must share the LITERAL list, not a pattern: a LIKE test
#: would silently diverge the moment a corpus domain matches the
#: pattern without being a seed (or a seed drops out of the graph)
_TRUST_SEEDS = tuple(f"mirror{k}.example" for k in range(7))


def _seed_sql_parts(seeds: tuple[str, ...]) -> tuple[str, str]:
    """(IN-list predicate operand, VALUES rows) for the seed list."""
    in_list = ", ".join(f"'{s}'" for s in seeds)
    values = ", ".join(f"('{s}')" for s in seeds)
    return in_list, values


def _trustrank_oracle(iters: int = 3, damping: str = "0.85",
                      seeds: tuple[str, ...] = _TRUST_SEEDS) -> str:
    """Unrolled twin of `links.domain_trustrank`: the PageRank fold
    with a seed-concentrated teleport vector. Seed membership is the
    exact literal whitelist (IN list) and the node set unions the
    seeds — mirroring the engine's nodes∪seeds, so offline whitelist
    entries keep teleport mass in BOTH engines. Every literal passes
    through CAST(... AS DOUBLE) BEFORE arithmetic so the constant
    folding is IEEE (DuckDB decimal 1.0-0.85 is exact 0.15, which is
    one ulp away from IEEE 1.0-0.85 — the signed-zero lesson's
    cousin)."""
    n_seed = len(seeds)
    in_list, seed_values = _seed_sql_parts(seeds)
    t0 = f"(CAST(1 AS DOUBLE) / CAST({n_seed} AS DOUBLE))"
    base = (f"((CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) "
            f"* {t0})")
    parts = [
        "WITH " + _LINKED_EDGE_CTES,
        f""",
            g AS (
              SELECT src_dom, dst_dom, count(*) AS w
              FROM e GROUP BY src_dom, dst_dom),
            seeds(dom) AS (VALUES {seed_values}),
            nodes AS (
              SELECT src_dom AS dom FROM e
              UNION SELECT dst_dom FROM e
              UNION SELECT dom FROM seeds),
            out_w AS (SELECT src_dom, sum(w) AS ow FROM g GROUP BY src_dom),
            it0 AS (
              SELECT dom,
                     CASE WHEN dom IN ({in_list})
                          THEN {t0} ELSE CAST(0 AS DOUBLE) END AS rank
              FROM nodes)""",
    ]
    for k in range(1, iters + 1):
        parts.append(f""",
            it{k}c AS (
              SELECT g.dst_dom,
                     list(r.rank * (CAST(g.w AS DOUBLE)
                                    / CAST(o.ow AS DOUBLE))
                          ORDER BY g.src_dom) AS cs
              FROM g JOIN out_w o USING (src_dom)
              JOIN it{k - 1} r ON r.dom = g.src_dom
              GROUP BY g.dst_dom),
            it{k} AS (
              SELECT n.dom,
                     CASE WHEN n.dom IN ({in_list})
                          THEN {base} ELSE CAST(0 AS DOUBLE) END
                       + CAST({damping} AS DOUBLE) * COALESCE(
                           list_reduce(c.cs, (a, b) -> a + b),
                           CAST(0 AS DOUBLE)) AS rank
              FROM nodes n
              LEFT JOIN it{k}c c ON c.dst_dom = n.dom)""")
    parts.append(f"""
            SELECT dom AS domain, rank AS trust
            FROM it{iters} ORDER BY domain""")
    return "".join(parts)


def _spam_mass_oracle(iters: int = 3, damping: str = "0.85",
                      seeds: tuple[str, ...] = _TRUST_SEEDS) -> str:
    """Composite twin of `links.spam_mass` over the two unrolled
    chains: PageRank iterates (pr*) and TrustRank iterates (tr*) share
    one set of graph CTEs, then both vectors L1-normalize through
    DECIMAL(38,9) sums of 9-dp quantized values and the relative mass
    is one rounded IEEE expression. The chains use the engine's OWN
    node sets — PageRank over graph nodes, TrustRank over
    graph ∪ literal seed whitelist — so offline seeds keep teleport
    mass in the t̂ normalizer and drop out only at the final inner
    join, exactly like `spam_mass(ranks, trust)`."""
    n_seed = len(seeds)
    in_list, seed_values = _seed_sql_parts(seeds)
    t0 = f"(CAST(1 AS DOUBLE) / CAST({n_seed} AS DOUBLE))"
    tbase = (f"((CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) "
             f"* {t0})")
    parts = [
        "WITH " + _LINKED_EDGE_CTES,
        f""",
            g AS (
              SELECT src_dom, dst_dom, count(*) AS w
              FROM e GROUP BY src_dom, dst_dom),
            seeds(dom) AS (VALUES {seed_values}),
            nodes AS (
              SELECT src_dom AS dom FROM e
              UNION SELECT dst_dom FROM e),
            tnodes AS (
              SELECT dom FROM nodes
              UNION SELECT dom FROM seeds),
            params AS (SELECT count(*) AS n FROM nodes),
            out_w AS (SELECT src_dom, sum(w) AS ow FROM g GROUP BY src_dom),
            pr0 AS (
              SELECT dom, 1.0 / p.n AS rank
              FROM nodes CROSS JOIN params p),
            tr0 AS (
              SELECT dom,
                     CASE WHEN dom IN ({in_list})
                          THEN {t0} ELSE CAST(0 AS DOUBLE) END AS rank
              FROM tnodes)""",
    ]
    for k in range(1, iters + 1):
        parts.append(f""",
            pr{k}c AS (
              SELECT g.dst_dom,
                     list(r.rank * (CAST(g.w AS DOUBLE)
                                    / CAST(o.ow AS DOUBLE))
                          ORDER BY g.src_dom) AS cs
              FROM g JOIN out_w o USING (src_dom)
              JOIN pr{k - 1} r ON r.dom = g.src_dom
              GROUP BY g.dst_dom),
            pr{k} AS (
              SELECT n.dom,
                     (1.0 - {damping}) / p.n
                       + {damping} * COALESCE(
                           list_reduce(c.cs, (a, b) -> a + b), 0.0) AS rank
              FROM nodes n CROSS JOIN params p
              LEFT JOIN pr{k}c c ON c.dst_dom = n.dom),
            tr{k}c AS (
              SELECT g.dst_dom,
                     list(r.rank * (CAST(g.w AS DOUBLE)
                                    / CAST(o.ow AS DOUBLE))
                          ORDER BY g.src_dom) AS cs
              FROM g JOIN out_w o USING (src_dom)
              JOIN tr{k - 1} r ON r.dom = g.src_dom
              GROUP BY g.dst_dom),
            tr{k} AS (
              SELECT n.dom,
                     CASE WHEN n.dom IN ({in_list})
                          THEN {tbase} ELSE CAST(0 AS DOUBLE) END
                       + CAST({damping} AS DOUBLE) * COALESCE(
                           list_reduce(c.cs, (a, b) -> a + b),
                           CAST(0 AS DOUBLE)) AS rank
              FROM tnodes n
              LEFT JOIN tr{k}c c ON c.dst_dom = n.dom)""")
    parts.append(f""",
            prq AS (
              SELECT dom,
                     CAST(round(rank, 9) AS DECIMAL(38,9)) AS v
              FROM pr{iters}),
            trq AS (
              SELECT dom,
                     CAST(round(rank, 9) AS DECIMAL(38,9)) AS v
              FROM tr{iters}),
            pnorm AS (
              SELECT dom,
                     CAST(v AS DOUBLE)
                       / CAST(sum(v) OVER () AS DOUBLE) AS p_hat
              FROM prq),
            tnorm AS (
              SELECT dom,
                     CAST(v AS DOUBLE)
                       / CAST(sum(v) OVER () AS DOUBLE) AS t_hat
              FROM trq)
            SELECT p.dom AS domain,
                   CASE WHEN p.p_hat > 0
                        THEN round((p.p_hat - t.t_hat) / p.p_hat, 9)
                               + CAST(0 AS DOUBLE)
                        ELSE NULL END AS spam_mass
            FROM pnorm p JOIN tnorm t ON t.dom = p.dom
            ORDER BY domain""")
    return "".join(parts)


def _hits_oracle(iters: int = 3) -> str:
    """Unrolled alternating half-step twin of `links.domain_hits`:
    round(w·val, 9) → DECIMAL(38,9) sums over MEAN-1 internals
    (scale-free quantization — see links._hits_half) → one IEEE
    division by the exact DECIMAL normalizer, ×N; final /N restores
    the L1 output contract."""

    def half(out: str, k: int, src_key: str, dst_key: str,
             prev: str) -> str:
        return f""",
            {out}{k}u AS (
              SELECT g.{src_key} AS dom,
                     sum(CAST(round(CAST(g.w AS DOUBLE) * r.val, 9)
                         AS DECIMAL(38,9))) AS u
              FROM g JOIN {prev} r ON r.dom = g.{dst_key}
              GROUP BY g.{src_key}),
            {out}{k} AS (
              SELECT n.dom,
                     (CAST(coalesce(u.u, 0) AS DOUBLE)
                       / CAST(sum(u.u) OVER () AS DOUBLE))
                       * CAST(count(*) OVER () AS DOUBLE) AS val
              FROM nodes n
              LEFT JOIN {out}{k}u u ON u.dom = n.dom)"""

    parts = [
        "WITH " + _LINKED_EDGE_CTES,
        """,
            g AS (
              SELECT src_dom, dst_dom, count(*) AS w
              FROM e GROUP BY src_dom, dst_dom),
            nodes AS (
              SELECT src_dom AS dom FROM e
              UNION SELECT dst_dom FROM e),
            a0 AS (
              SELECT dom, CAST(1.0 AS DOUBLE) AS val FROM nodes)""",
    ]
    for k in range(1, iters + 1):
        parts.append(half("h", k, "src_dom", "dst_dom", f"a{k - 1}"))
        parts.append(half("a", k, "dst_dom", "src_dom", f"h{k}"))
    parts.append(f"""
            SELECT h.dom AS domain,
                   h.val / CAST(count(*) OVER () AS DOUBLE) AS hub,
                   a.val / CAST(count(*) OVER () AS DOUBLE) AS authority
            FROM h{iters} h JOIN a{iters} a ON a.dom = h.dom
            ORDER BY domain""")
    return "".join(parts)


def _md5_sig_ctes(rel: str, tag: str = "") -> str:
    """CTE chain producing sig{tag}(doc_id, perm, minh) and
    banded{tag}(doc_id, band, bucket) — the engine-portable md5 MinHash
    family (n_perm=32, 8 bands of 4 rows) over relation `rel`(doc_id,
    text). Requires a `perms` CTE in scope. Shared by the minhash
    oracles and the incremental_dedup oracle (which instantiates it
    once per sub-corpus)."""
    return rf"""w{tag} AS (
              SELECT doc_id, unnest(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ')) AS word,
                     generate_subscripts(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '), 1) AS pos
              FROM {rel}),
            sh0{tag} AS (
              SELECT doc_id,
                     word || ' ' || lead(word,1) OVER (PARTITION BY doc_id ORDER BY pos)
                          || ' ' || lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
                     lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
              FROM w{tag}),
            sh{tag} AS (SELECT DISTINCT doc_id, shingle FROM sh0{tag} WHERE l2 IS NOT NULL),
            sig{tag} AS (
              SELECT doc_id, perm,
                     min(md5(shingle || ':' || CAST(perm AS VARCHAR))) AS minh
              FROM sh{tag} CROSS JOIN perms GROUP BY doc_id, perm),
            banded{tag} AS (
              SELECT doc_id, CAST(perm // 4 AS INT) AS band,
                     md5(array_to_string(list(minh ORDER BY minh), ',')) AS bucket
              FROM sig{tag} GROUP BY doc_id, band)"""


#: md5 MinHash+LSH CTE chain ending in est(id_a, id_b, n_match) — shared
#: by the minhash_lsh_md5 oracle (full estimate columns) and the
#: minhash_lsh oracle (pair list only: the xxhash64 scale path finds the
#: same pair set, which is what makes it cross-engine checkable).
_MINHASH_MD5_CTES = (
    "perms AS (SELECT CAST(range AS INT) AS perm FROM range(32)),\n            "
    + _md5_sig_ctes("documents")
    + r""",
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM banded x JOIN banded y USING (band, bucket)
              WHERE x.doc_id < y.doc_id),
            est AS (
              SELECT id_a, id_b,
                     SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS n_match
              FROM cand
              JOIN sig a ON a.doc_id = id_a
              JOIN sig b ON b.doc_id = id_b AND b.perm = a.perm
              GROUP BY id_a, id_b)"""
)

#: The fingerprint normalization of functions.text.fingerprint_md5,
#: DuckDB-side (also inlined in the exact_dedup / curate oracles).
_FP_SQL = (
    r"md5(lower(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))))"
)


def _simhash_hex_ctes() -> str:
    """CTE chain ending in s(doc_id, h): the md5 simhash hex per doc —
    per-token md5 bit votes folded into a hex string with pure
    integer/char arithmetic (no 64-bit value ever materialized —
    signed-overflow-safe in any engine). Shared by the signature oracle
    (q_simhash_md5) and the near-dup pairs oracle (q_simhash_neardup)."""
    hexd = "0123456789abcdef"

    def bit(j: int) -> str:
        p = 16 - j // 4  # 1-based hex char holding bit j (LSB = j 0)
        return (
            f"((strpos('{hexd}', substr(h, {p}, 1)) - 1) >> {j % 4}) & 1"
        )

    votes = ",\n".join(
        f"SUM(CASE WHEN ({bit(j)}) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    nibbles = []
    for p in range(1, 17):  # output chars, MSB first
        base = 4 * (16 - p)
        digit = " + ".join(
            f"(CASE WHEN v{base + k} > 0 THEN {1 << k} ELSE 0 END)"
            for k in range(4)
        )
        nibbles.append(f"substr('{hexd}', 1 + ({digit}), 1)")
    assemble = " || ".join(nibbles)
    # blank-doc guard: DuckDB string_split('', ' ') yields [''] (one empty
    # token) while Spark's tokens_col yields [] and the fold emits all-zero
    # hex — route empty/whitespace-only docs around the vote CTE entirely
    return f"""
        n AS (
          SELECT doc_id,
                 trim(regexp_replace(coalesce(text, ''),
                      '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS norm
          FROM documents),
        t AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w
              FROM n WHERE norm != ''),
        m AS (SELECT doc_id, md5(w) AS h FROM t),
        v AS (SELECT doc_id, {votes} FROM m GROUP BY doc_id),
        s AS (
          SELECT doc_id, {assemble} AS h FROM v
          UNION ALL
          SELECT doc_id, '0000000000000000' AS h FROM n WHERE norm = '')
    """


def _cdc_oracle(k: int = 8, nibbles: int = 1) -> str:
    """DuckDB twin of `cdc_chunks`: the SAME Horner rolling-hash
    arithmetic (base/mod from the engine's own constants — the two
    sides cannot drift), evaluated per candidate position through a
    list_filter lambda; every intermediate fits int64 in both engines
    so boundary sets are exactly equal. O(n·k) in the oracle is fine —
    the ENGINE is the side that must be O(n) vectorized."""
    from mindocr_spark.functions.text import CDC_BASE, CDC_MOD

    h = "CAST(0 AS BIGINT)"  # BIGINT seed keeps every product 64-bit
    for j in range(k):
        h = (f"(({h}) * {CDC_BASE} "
             f"+ ord(substr(text, CAST(i + {j} AS INT), 1))) % {CDC_MOD}")
    mod = 16 ** nibbles
    return f"""
            WITH d AS (
              SELECT doc_id, text, length(text) AS n
              FROM documents WHERE text IS NOT NULL),
            b AS (
              SELECT doc_id, text, n,
                     CASE WHEN n - {k - 1} >= 2 THEN list_filter(
                            range(2, n - {k - 1} + 1),
                            i -> ({h}) % {mod} = 0)
                          ELSE CAST([] AS BIGINT[]) END AS bs
              FROM d),
            z AS (
              SELECT doc_id, text,
                     unnest(list_zip(list_concat([1], bs),
                                     list_concat(bs, [n + 1]),
                                     range(1, len(bs) + 2))) AS u
              FROM b)
            SELECT doc_id, CAST(u[3] - 1 AS INT) AS chunk_idx,
                   CAST(u[1] AS INT) AS chunk_start,
                   CAST(u[2] - u[1] AS INT) AS chunk_len,
                   md5(substr(text, CAST(u[1] AS INT),
                              CAST(u[2] - u[1] AS INT))) AS chunk_md5
            FROM z ORDER BY doc_id, chunk_idx
        """


def _embedding_neardup_oracle(threshold: float = 0.4, n_bits: int = 8,
                              n_tables: int = 2, dim: int = 64) -> str:
    """BLOCKED exact oracle for q_embedding_neardup: replay the SAME
    pinned-hyperplane bucketing and single-bit-flip probe set the
    production plan uses (planes rendered as literals from
    similarity._planes — the _lsh_ann_oracle discipline; sign margins
    on this data ≫ float association noise), then exact round-4 cosine
    verification INSIDE the candidate set. O(candidates), never O(n²),
    so the oracle stays feasible at the sf1/sf10 rehearsal tiers."""
    from mindocr_spark.functions.similarity import _planes

    def plane_lit(p):
        return "[" + ",".join(repr(x) for x in p) + "]::DOUBLE[]"

    def bucket_expr(vcol, t):
        terms = [
            f"(CASE WHEN list_dot_product({vcol}, {plane_lit(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(_planes(dim, n_bits, t))
        ]
        return "(" + " + ".join(terms) + ")"

    corpus_parts = [
        f"SELECT vec_id AS id, v, {t} AS tbl, "
        f"{bucket_expr('v', t)} AS bucket FROM e"
        for t in range(n_tables)
    ]
    probe_parts = []
    for t in range(n_tables):
        probes = ["bucket"] + [f"xor(bucket, {1 << i})"
                               for i in range(n_bits)]
        probe_parts.append(
            f"SELECT id, v, tbl, unnest([{', '.join(probes)}]) AS pbucket "
            f"FROM cb WHERE tbl = {t}"
        )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cb AS ({' UNION ALL '.join(corpus_parts)}),
        probes AS ({' UNION ALL '.join(probe_parts)}),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 a.v AS va, b.v AS vb
          FROM probes a JOIN cb b
            ON a.tbl = b.tbl AND a.pbucket = b.bucket
          WHERE a.id < b.id)
        SELECT id_a, id_b,
               round(list_dot_product(va, vb)
                     / (sqrt(list_dot_product(va, va))
                        * sqrt(list_dot_product(vb, vb))), 4) AS cos_sim
        FROM cand
        WHERE round(list_dot_product(va, vb)
                    / (sqrt(list_dot_product(va, va))
                       * sqrt(list_dot_product(vb, vb))), 4)
              >= {threshold}
        ORDER BY id_a, id_b
    """


def _dense_maxp_rank_ctes(
    k: int = 5, cdc_k: int = 8, cdc_nibbles: int = 2,
    src_body: str = ("SELECT doc_id, text FROM documents "
                     "WHERE text IS NOT NULL"),
    queries_body: str = ("SELECT doc_id, text FROM documents "
                         "WHERE doc_id < 3"),
) -> str:
    """CTE chain (no leading WITH) replaying the dense-MaxP retriever
    over an arbitrary (doc_id, text) corpus/query pair, ending in
    ``r(query_id, doc_id, max_sim, rank)``: Horner chunk boundaries
    (the cdc_chunks arithmetic), passage slices, the bit-identical
    embed chain for passages (synthetic doc*1e6+idx keys, valid at
    oracle-tier id ranges) AND queries, zero-norm exclusion, round-4
    max-passage cosine, rank tie-break. Shared by the contract oracle
    and the maxp_quality recall oracle so the two replays can never
    drift."""
    from mindocr_spark.functions.text import CDC_BASE, CDC_MOD

    h = "CAST(0 AS BIGINT)"
    for j in range(cdc_k):
        h = (f"(({h}) * {CDC_BASE} "
             f"+ ord(substr(text, CAST(i + {j} AS INT), 1))) % {CDC_MOD}")
    mod = 16 ** cdc_nibbles
    cos = ("round(list_dot_product(q.v, p.v) "
           "/ (sqrt(list_dot_product(q.v, q.v)) "
           "* sqrt(list_dot_product(p.v, p.v))), 4)")
    return f"""src AS (
          SELECT doc_id, text, length(text) AS n
          FROM ({src_body})),
        b AS (
          SELECT doc_id, text, n,
                 CASE WHEN n - {cdc_k - 1} >= 2 THEN list_filter(
                        range(2, n - {cdc_k - 1} + 1),
                        i -> ({h}) % {mod} = 0)
                      ELSE CAST([] AS BIGINT[]) END AS bs
          FROM src),
        z AS (
          SELECT doc_id, text,
                 unnest(list_zip(list_concat([1], bs),
                                 list_concat(bs, [n + 1]),
                                 range(1, len(bs) + 2))) AS u
          FROM b),
        ch AS (
          SELECT doc_id * 1000000 + (u[3] - 1) AS doc_id,
                 substr(text, CAST(u[1] AS INT),
                        CAST(u[2] - u[1] AS INT)) AS ctext
          FROM z),
        {_embed_vec_ctes("ctext", src="ch", prefix="p")},
        {_embed_vec_ctes("text", src=f"({queries_body})", prefix="q")},
        pv AS (SELECT vec_id // 1000000 AS doc_id, v FROM pembv
               WHERE list_dot_product(v, v) > 0),
        qv AS (SELECT vec_id AS query_id, v FROM qembv
               WHERE list_dot_product(v, v) > 0),
        cells AS (
          SELECT q.query_id, p.doc_id, max({cos}) AS max_sim
          FROM qv q JOIN pv p ON q.query_id != p.doc_id
          GROUP BY q.query_id, p.doc_id),
        r AS (
          SELECT query_id, doc_id, max_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY max_sim DESC, doc_id ASC) AS BIGINT)
                   AS rank
          FROM cells)"""


def _dense_maxp_oracle(k: int = 5, cdc_k: int = 8,
                       cdc_nibbles: int = 2) -> str:
    """DuckDB twin of q_dense_maxp_topk (see _dense_maxp_rank_ctes)."""
    return f"""
        WITH {_dense_maxp_rank_ctes(k, cdc_k, cdc_nibbles)}
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(doc_id AS BIGINT) AS doc_id, max_sim, rank
        FROM r WHERE rank <= {k} ORDER BY query_id, rank
    """


#: Planted graded-prefix fixture, shared by both maxp_quality arms:
#: md5-sampled base docs >= 200 chars + 3 token-prefix variants per
#: doc (fractions 3/6..5/6, floor 5 tokens), variant v of doc d keyed
#: d + v*10^6 (the lsh_quality provenance-by-arithmetic device).
_MAXP_QUALITY_CORPUS_CTES = """mqbase AS (
          SELECT doc_id, text FROM documents
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
            AND length(text) >= 200
            AND doc_id >= 0 AND doc_id < 1000000),
        mqtk AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(text,
                   '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ') AS toks
          FROM mqbase),
        mqvar AS (
          SELECT doc_id + v * 1000000 AS doc_id,
                 array_to_string(
                   toks[1:greatest(5, (len(toks) * (v + 2)) // 6)],
                   ' ') AS text
          FROM mqtk CROSS JOIN (VALUES (1), (2), (3)) AS vs(v)),
        mqcorpus AS (
          SELECT * FROM mqbase UNION ALL SELECT * FROM mqvar)"""


def _maxp_quality_oracle(k: int = 5) -> str:
    """DuckDB twin of q_maxp_quality: the planted corpus, the FULL
    dense-MaxP rank replay over it, the whole-doc brute-force cosine
    replay, and the recall@k aggregation against the arithmetic
    relevance set."""
    cos = ("round(list_dot_product(q.v, c.v) "
           "/ (sqrt(list_dot_product(q.v, q.v)) "
           "* sqrt(list_dot_product(c.v, c.v))), 4)")
    return f"""
        WITH {_MAXP_QUALITY_CORPUS_CTES},
        {_dense_maxp_rank_ctes(
            k,
            src_body="SELECT doc_id, text FROM mqcorpus",
            queries_body="SELECT doc_id, text FROM mqbase")},
        {_embed_vec_ctes("text", src="mqcorpus", prefix="w")},
        wv AS (SELECT vec_id, v FROM wembv
               WHERE list_dot_product(v, v) > 0),
        wq AS (SELECT vec_id AS query_id, v FROM wv
               WHERE vec_id < 1000000),
        wcells AS (
          SELECT q.query_id, c.vec_id AS doc_id, {cos} AS cos_sim
          FROM wq q JOIN wv c ON q.query_id != c.vec_id),
        wr AS (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, doc_id ASC) AS rank
          FROM wcells),
        hits AS (
          SELECT query_id, doc_id, 'maxp' AS method
          FROM r WHERE rank <= {k} AND doc_id % 1000000 = query_id
          UNION ALL
          SELECT query_id, doc_id, 'whole_doc' AS method
          FROM wr WHERE rank <= {k} AND doc_id % 1000000 = query_id),
        grid AS (
          SELECT doc_id AS query_id, method
          FROM mqbase CROSS JOIN (VALUES ('maxp'), ('whole_doc'))
            AS ms(method)),
        counts AS (
          SELECT query_id, method, COUNT(*) AS n_caught
          FROM hits GROUP BY query_id, method)
        SELECT CAST(g.query_id AS BIGINT) AS query_id,
               g.method AS method,
               CAST(coalesce(c.n_caught, 0) AS BIGINT) AS n_caught,
               round(CAST(coalesce(c.n_caught, 0) AS DOUBLE) / 3.0, 6)
                 AS recall
        FROM grid g LEFT JOIN counts c
          ON g.query_id = c.query_id AND g.method = c.method
        ORDER BY 1, 2
    """


def _simhash_md5_oracle() -> str:
    return f"""
        WITH {_simhash_hex_ctes()}
        SELECT doc_id, h AS simhash_hex FROM s ORDER BY doc_id
    """


def _simhash_pairs_oracle(max_hamming: int = 8) -> str:
    """Oracle for q_simhash_neardup: candidates via the SAME hex-span
    equi-joins the Spark plan uses (pigeonhole ⇒ exact recall, so this
    equals all-pairs), hamming via per-nibble xor popcounts."""
    from mindocr_spark.functions.dedup import _hex_spans

    hexd = "0123456789abcdef"
    n_chunks = max(2, min(max_hamming + 1, 16))
    cand = "\n              UNION ALL\n              ".join(
        f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s a JOIN s b "
        f"ON substr(a.h, {st}, {ln}) = substr(b.h, {st}, {ln}) "
        f"AND a.doc_id < b.doc_id"
        for st, ln in _hex_spans(n_chunks)
    )
    ham = " + ".join(
        f"bit_count(xor(strpos('{hexd}', substr(ha, {p}, 1)) - 1, "
        f"strpos('{hexd}', substr(hb, {p}, 1)) - 1))"
        for p in range(1, 17)
    )
    return f"""
        WITH {_simhash_hex_ctes()},
        cand AS (
          SELECT DISTINCT id_a, id_b FROM (
              {cand}
          )),
        scored AS (
          SELECT id_a, id_b, CAST({ham} AS BIGINT) AS hamming
          FROM (SELECT c.id_a, c.id_b, a.h AS ha, b.h AS hb
                FROM cand c
                JOIN s a ON a.doc_id = c.id_a
                JOIN s b ON b.doc_id = c.id_b))
        SELECT id_a, id_b, hamming FROM scored
        WHERE hamming <= {max_hamming}
        ORDER BY id_a, id_b
    """


def _lsh_ann_oracle() -> str:
    """DuckDB oracle for q_ann_lsh_topk, generated from the SAME pinned
    hyperplanes the Spark path uses (mindocr_spark.functions.similarity
    ._planes). Feasible because sign decisions have huge margins
    (min |dot| ≈ 5e-5 on this data ≫ float association noise)."""
    from mindocr_spark.functions.similarity import _planes

    n_bits, n_tables, dim = 8, 3, 64

    def plane_lit(p):
        return "[" + ",".join(repr(x) for x in p) + "]::DOUBLE[]"

    def bucket_expr(vcol, t):
        terms = [
            f"(CASE WHEN list_dot_product({vcol}, {plane_lit(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(_planes(dim, n_bits, t))
        ]
        return "(" + " + ".join(terms) + ")"

    corpus_parts = [
        f"SELECT vec_id AS neighbor_id, v AS cv, {t} AS tbl, "
        f"{bucket_expr('v', t)} AS bucket FROM e"
        for t in range(n_tables)
    ]
    probe_parts = []
    for t in range(n_tables):
        probes = [f"qb{t}"] + [f"xor(qb{t}, {1 << i})" for i in range(n_bits)]
        probe_parts.append(
            f"SELECT query_id, qv, {t} AS tbl, "
            f"unnest([{', '.join(probes)}]) AS bucket FROM qb"
        )
    qb_cols = ", ".join(
        f"{bucket_expr('qv', t)} AS qb{t}" for t in range(n_tables)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cb AS ({' UNION ALL '.join(corpus_parts)}),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        qb AS (SELECT query_id, qv, {qb_cols} FROM q),
        probes AS ({' UNION ALL '.join(probe_parts)}),
        scored AS (
          SELECT DISTINCT query_id, neighbor_id,
                 round(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 4) AS cos_sim
          FROM probes JOIN cb USING (tbl, bucket)
          WHERE query_id != neighbor_id),
        r AS (
          SELECT query_id, neighbor_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
          FROM scored)
        SELECT * FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """


#: Shared CTE prefix for the two URL oracles — ONE copy of the corpus
#: construction + canonicalization chain (mirrors _built_url_corpus and
#: mindocr_spark/functions/urls.py); regex placeholders are bound by
#: _bind_url_patterns so the two oracles can never drift apart.
_URL_ORACLE_CTE = """
            built AS (
              SELECT doc_id, text,
                     'site' || CAST((doc_id // 5) % 7 AS VARCHAR) ||
                       CASE WHEN (doc_id // 5) % 3 = 0 THEN '.co.uk'
                            ELSE '.example.com' END AS dom,
                     doc_id // 5 AS pid, doc_id % 5 AS v
              FROM documents),
            urls AS (
              SELECT doc_id, text,
                CASE v
                  WHEN 0 THEN 'https://WWW.' || dom || ':443/p/' || CAST(pid AS VARCHAR) || '/?utm_source=feed&b=2&a=1#top'
                  WHEN 1 THEN 'http://' || dom || '/p/' || CAST(pid AS VARCHAR) || '?a=1&b=2'
                  WHEN 2 THEN 'https://' || dom || '/p/' || CAST(pid AS VARCHAR) || '?b=2&a=1&gclid=xyz'
                  WHEN 3 THEN 'https://m.' || dom || '/p/' || CAST(pid AS VARCHAR)
                  ELSE 'http://10.0.' || CAST(pid % 250 AS VARCHAR) || '.17/p/' || CAST(pid AS VARCHAR)
                END AS url
              FROM built),
            parts AS (
              SELECT doc_id, text, url,
                regexp_replace(regexp_replace(
                  lower(regexp_extract(url, '__HOST__', 1)),
                  '^www\\.', ''), ':(80|443)$', '') AS host,
                regexp_replace(regexp_extract(url, '__PATH__', 1),
                               '/$', '') AS path,
                regexp_extract(url, '__QUERY__', 1) AS q
              FROM urls),
            canon0 AS (
              SELECT *, array_to_string(list_sort(list_filter(
                string_split(q, '&'),
                x -> x <> '' AND NOT regexp_matches(x, '__TRACK__'))),
                '&') AS kept
              FROM parts),
            canon AS (
              SELECT doc_id, text, url, host,
                CASE WHEN regexp_matches(host, '__IP__') THEN host
                     WHEN regexp_extract(host, '__CC__', 1) <> ''
                       THEN regexp_extract(host, '__CC__', 1)
                     WHEN regexp_extract(host, '__DOM2__', 1) <> ''
                       THEN regexp_extract(host, '__DOM2__', 1)
                     ELSE host END AS registered_domain,
                CASE WHEN host = '' THEN url
                     ELSE host || path ||
                       CASE WHEN kept <> '' THEN '?' || kept
                            ELSE '' END END AS canonical_url
              FROM canon0)"""


def _bind_url_patterns(sql: str) -> str:
    from mindocr_spark.functions import urls as _u

    return (
        sql
        .replace("__HOST__", _u.URL_HOST_RE)
        .replace("__PATH__", _u.URL_PATH_RE)
        .replace("__QUERY__", _u.URL_QUERY_RE)
        .replace("__TRACK__", _u.TRACKING_PARAM_RE)
        .replace("__IP__", _u.IPV4_HOST_RE)
        .replace("__CC__", _u.REGDOM_CC_RE)
        .replace("__DOM2__", _u.REGDOM_RE)
    )


def _strata_sql_cases(t8) -> str:
    """WHEN/ELSE arms of the stratified_sample oracle's CASE, built
    from the same fraction dict and threshold helper the Spark
    expression uses."""
    h = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"

    def arm(fr):
        t = t8(fr)
        return "TRUE" if t is None else f"{h} < '{t}'"

    whens = " ".join(
        "WHEN lang = '%s' THEN %s" % (v.replace("'", "''"), arm(fr))
        for v, fr in _STRATA_FRACTIONS.items()
    )
    return f"{whens} ELSE {arm(_STRATA_DEFAULT)}"


#: Shared BM25 oracle chain (qt → … → rk with rank over the full
#: candidate set) — rendered ONCE so `bm25_topk` and `retrieval_eval`
#: verify against the IDENTICAL scoring SQL (zero drift possible).
def _bm25_oracle_ctes() -> str:
    s = r"""qt(query_id, term) AS (VALUES __QT__),
            t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            dls AS (
              SELECT doc_id, norm,
                     CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS dl
              FROM t),
            stats AS (
              SELECT count(*) AS n_docs,
                     round(CAST(sum(dl) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE), 9) AS avgdl
              FROM dls),
            base AS (
              SELECT doc_id, dl, unnest(string_split(norm,' ')) AS term
              FROM dls WHERE norm <> ''),
            tf AS (
              SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
              FROM base JOIN (SELECT DISTINCT term FROM qt) USING (term)
              GROUP BY term, doc_id),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            scored AS (
              SELECT q.query_id, tf.doc_id,
                     CAST(round(
                       round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                                / (CAST(df AS DOUBLE) + 0.5) + 1.0), 9)
                       * round((CAST(tf AS DOUBLE) * __K1P1__)
                               / (CAST(tf AS DOUBLE)
                                  + __K1__ * (__OMB__ + __B__
                                      * (CAST(dl AS DOUBLE) / avgdl))), 9)
                     , 9) AS DECIMAL(28,9)) AS tscore
              FROM tf JOIN dft USING (term) CROSS JOIN stats
              JOIN qt q USING (term)),
            pd AS (
              SELECT query_id, doc_id, count(*) AS n_terms_hit,
                     SUM(tscore) AS score
              FROM scored GROUP BY query_id, doc_id),
            rk AS (
              SELECT query_id, doc_id, n_terms_hit, score,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank
              FROM pd)"""
    return (
        s.replace("__QT__", ", ".join(
            "(%d, '%s')" % (qid, t.replace("'", "''"))
            for qid, t in sorted(
                {(int(q), t) for q, ts in _BM25_QUERIES.items() for t in ts}
            )
        ))
        .replace("__K1P1__", repr(_BM25_K1 + 1.0))
        .replace("__K1__", repr(_BM25_K1))
        .replace("__OMB__", repr(1.0 - _BM25_B))
        .replace("__B__", repr(_BM25_B))
    )

def _bm25_prf_oracle() -> str:
    """Twin of q_bm25_prf_topk: the SHARED _bm25_oracle_ctes first
    pass (rk), then the RM3 chain — score-weighted feedback model,
    top-8 expansion, exact-DECIMAL lambda=0.6 interpolation, and the
    weighted second-pass rescore with the same idf/tfn quantization
    and constant substitution discipline."""
    s = r""",
            fbd AS (
              SELECT query_id, doc_id, CAST(score AS DOUBLE) AS dscore
              FROM rk WHERE rank <= 3),
            fbpost AS (
              SELECT b.doc_id, b.term, count(*) AS tf, max(b.dl) AS dl
              FROM base b
              JOIN (SELECT DISTINCT doc_id FROM fbd) USING (doc_id)
              GROUP BY b.doc_id, b.term),
            fcontrib AS (
              SELECT f.query_id, p.term,
                     round(f.dscore * (CAST(p.tf AS DOUBLE)
                           / CAST(p.dl AS DOUBLE)), 9) AS c
              FROM fbpost p JOIN fbd f USING (doc_id)),
            wfb AS (
              SELECT query_id, term,
                     SUM(CAST(c AS DECIMAL(28,9))) AS w_fb_d
              FROM fcontrib GROUP BY query_id, term),
            expq AS (
              SELECT query_id, term, w_fb_d FROM (
                SELECT query_id, term, w_fb_d,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY w_fb_d DESC, term ASC) AS erank
                FROM wfb) WHERE erank <= 8),
            expn AS (
              SELECT query_id, term,
                     CAST(round(CAST(w_fb_d AS DOUBLE)
                          / CAST(SUM(w_fb_d) OVER
                                 (PARTITION BY query_id) AS DOUBLE),
                          9) AS DECIMAL(28,9)) AS p_fb
              FROM expq),
            nqr AS (
              SELECT query_id, count(*) AS nq FROM qt
              GROUP BY query_id),
            origp AS (
              SELECT qt.query_id, qt.term,
                     CAST(round(CAST(1.0 AS DOUBLE)
                          / CAST(nq AS DOUBLE), 9)
                          AS DECIMAL(28,9)) AS p_orig
              FROM qt JOIN nqr USING (query_id)),
            joint AS (
              SELECT coalesce(o.query_id, e.query_id) AS query_id,
                     coalesce(o.term, e.term) AS term,
                     CAST(CAST(0.60 AS DECIMAL(3,2))
                            * coalesce(o.p_orig,
                                       CAST(0 AS DECIMAL(28,9)))
                          + CAST(0.40 AS DECIMAL(3,2))
                            * coalesce(e.p_fb,
                                       CAST(0 AS DECIMAL(28,9)))
                          AS DECIMAL(28,11)) AS weight
              FROM origp o FULL JOIN expn e
                ON o.query_id = e.query_id AND o.term = e.term),
            tf2 AS (
              SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
              FROM base
              JOIN (SELECT DISTINCT term FROM joint) USING (term)
              GROUP BY term, doc_id),
            df2 AS (
              SELECT term, count(*) AS df FROM tf2 GROUP BY term),
            scored2 AS (
              SELECT j.query_id, tf2.doc_id,
                     CAST(round(CAST(j.weight AS DOUBLE)
                       * round(
                         round(ln((CAST(n_docs AS DOUBLE)
                                   - CAST(df AS DOUBLE) + 0.5)
                                  / (CAST(df AS DOUBLE) + 0.5)
                                  + 1.0), 9)
                         * round((CAST(tf AS DOUBLE) * __K1P1__)
                                 / (CAST(tf AS DOUBLE)
                                    + __K1__ * (__OMB__ + __B__
                                        * (CAST(dl AS DOUBLE)
                                           / avgdl))), 9)
                       , 9), 9) AS DECIMAL(28,9)) AS ts
              FROM tf2 JOIN df2 USING (term) CROSS JOIN stats
              JOIN joint j USING (term)),
            pd2 AS (
              SELECT query_id, doc_id, count(*) AS n_terms_hit,
                     SUM(ts) AS score
              FROM scored2 GROUP BY query_id, doc_id),
            rk2 AS (
              SELECT query_id, doc_id, n_terms_hit, score,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank
              FROM pd2)
            SELECT query_id, doc_id,
                   CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
                   CAST(score AS DOUBLE) AS score,
                   CAST(rank AS BIGINT) AS rank
            FROM rk2 WHERE rank <= __K__
            ORDER BY query_id, rank"""
    s = (
        s.replace("__K1P1__", repr(_BM25_K1 + 1.0))
        .replace("__K1__", repr(_BM25_K1))
        .replace("__OMB__", repr(1.0 - _BM25_B))
        .replace("__B__", repr(_BM25_B))
        .replace("__K__", str(_BM25_K))
    )
    return "WITH " + _bm25_oracle_ctes() + s


def _vsm_oracle_ctes() -> str:
    """VSM arm CTEs, composed AFTER _bm25_oracle_ctes (reuses its
    t/dls/stats/base/qt): full postings → full df → 9dp-quantized
    DECIMAL contribs → doc norms → query dot → cosine → rank."""
    return r"""pfull AS (
              SELECT term, doc_id, count(*) AS tf
              FROM base GROUP BY term, doc_id),
            dffull AS (
              SELECT term, count(*) AS df FROM pfull GROUP BY term),
            contrib AS (
              SELECT term, doc_id,
                     CAST(round(CAST(tf AS DOUBLE)
                                * round(ln(CAST(n_docs AS DOUBLE)
                                           / CAST(df AS DOUBLE)), 9),
                                9) AS DECIMAL(28,9)) AS c
              FROM pfull JOIN dffull USING (term) CROSS JOIN stats),
            vnorms AS (
              SELECT * FROM (
                SELECT doc_id,
                       SUM(CAST(round(CAST(c AS DOUBLE)
                                      * CAST(c AS DOUBLE), 9)
                                AS DECIMAL(28,9))) AS n2
                FROM contrib GROUP BY doc_id)
              WHERE n2 > 0),
            vdot AS (
              SELECT query_id, doc_id, count(*) AS n_terms_hit,
                     SUM(c) AS dot
              FROM contrib JOIN qt USING (term)
              GROUP BY query_id, doc_id),
            vnq AS (
              SELECT query_id, count(*) AS nq FROM qt GROUP BY query_id),
            vscored AS (
              SELECT query_id, doc_id, n_terms_hit,
                     round(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(n2 AS DOUBLE))
                              * sqrt(CAST(nq AS DOUBLE))), 9) AS score
              FROM vdot JOIN vnorms USING (doc_id)
              JOIN vnq USING (query_id)),
            vrk AS (
              SELECT query_id, doc_id, n_terms_hit, score,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank
              FROM vscored)"""


def _rrf_fusion_oracle(c: int = 60) -> str:
    """Twin of q_rrf_fusion: both arm chains re-rendered, weights from
    the SAME search.rrf_weights exact-decimal rendering."""
    from mindocr_spark.functions.search import rrf_weights

    wts = ", ".join(
        f"({r}, CAST('{s}' AS DECIMAL(20,12)))"
        for r, s in rrf_weights(c, _BM25_K)
    )
    return f"""
        WITH {_bm25_oracle_ctes()},
        {_vsm_oracle_ctes()},
        arms AS (
          SELECT 'bm25' AS arm, query_id, doc_id, rank
          FROM rk WHERE rank <= {_BM25_K}
          UNION ALL
          SELECT 'vsm', query_id, doc_id, rank
          FROM vrk WHERE rank <= {_BM25_K}),
        wts(rank, w) AS (VALUES {wts}),
        f AS (
          SELECT query_id, doc_id,
                 CAST(count(*) AS BIGINT) AS n_arms,
                 SUM(w) AS rrf_score,
                 CAST(max(CASE WHEN arm = 'bm25' THEN rank END)
                      AS BIGINT) AS bm25_rank,
                 CAST(max(CASE WHEN arm = 'vsm' THEN rank END)
                      AS BIGINT) AS vsm_rank
          FROM arms JOIN wts USING (rank)
          GROUP BY query_id, doc_id)
        SELECT query_id, doc_id, n_arms, bm25_rank, vsm_rank,
               CAST(rrf_score AS DOUBLE) AS rrf_score,
               CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY rrf_score DESC, doc_id ASC)
                    AS BIGINT) AS fused_rank
        FROM f ORDER BY query_id, fused_rank"""


import re as _re

from mindocr_spark.functions import text as _text_pii  # noqa: E402
from mindocr_spark.functions import urls as _urls_mod  # noqa: E402
from mindocr_spark.functions.stats import (  # noqa: E402
    BENFORD_P as _BENF,
    CHI2_CRIT_8DF as _chi2_crit,
)
from mindocr_spark.functions.structured import (  # noqa: E402
    TEMPLATE_TAG_RE as _TPL_TAG_RE,
)
from mindocr_spark.functions.text import (  # noqa: E402
    BPE_PRETOKEN_RE as _BPE_PRETOKEN_RE,
    CODE_FENCE_RE as _CODE_FENCE_RE,
    CODE_SYMBOL_RE as _CODE_SYMBOL_RE,
    DEHYPHEN_RE as _DEHYPHEN_RE,
    SCRIPT_CLASSES as _SCRIPT_CLASSES,
    SENTENCE_RE as _SENTENCE_RE,
    STOPWORD_PROFILES as _STOPWORD_PROFILES,
    INDENT_LINE_RE as _INDENT_LINE_RE,
    LATEX_RE as _LATEX_RE,
    LICENSE_CLASSES as _LICENSE_CLASSES,
    PERMISSIVE_LICENSES as _PERMISSIVE_LICENSES,
    blockword_pattern as _blockword_pattern,
    hash_sample_threshold as _hash_thresh,
)
from mindocr_spark.sources.pages import (  # noqa: E402
    CHROME_AFTER_TITLE as _CH_MID,
    CHROME_TAIL as _CH_TAIL,
    SNAPSHOT_UPDATE_NODE as _UPD,
    TEMPLATE_VARIANTS as _TPL_V,
    pages_html_sql_expr as _html_expr,
)

_chrome_anchors = _re.findall(
    r'<a href="[^"]*">([^<]*)</a>', _CH_MID + _CH_TAIL
)
_n_anch = len(_chrome_anchors)
_anch_chars = sum(len(a) for a in _chrome_anchors)
_URL_SQL = "'https://docs.example/' || source || '/' || CAST(doc_id AS VARCHAR)"
# template_cluster: the variant CASE + tag regex from the SAME
# constants the Spark family/function compile
_tpl_case = (
    f"CASE WHEN doc_id % 4 = 1 THEN '{_TPL_V[1]}' "
    f"WHEN doc_id % 4 = 2 THEN '{_TPL_V[2]}' "
    f"WHEN doc_id % 4 = 3 THEN '{_TPL_V[3]}' ELSE '' END"
)
# script-mix: per-script count expressions from the SAME literal
# char-class constants the engine compiles (dialect agreement is
# part of the check)
_script_counts = ",\n                   ".join(
    f"CAST(len(regexp_extract_all(text, '{cls}')) AS INT) AS n_{name}"
    for name, cls in _SCRIPT_CLASSES
)
_script_sum = " + ".join(f"n_{name}" for name, _ in _SCRIPT_CLASSES)
_script_label = " ".join(
    f"WHEN n_{name} = best THEN '{name}'"
    for name, _ in _SCRIPT_CLASSES
)
# benford: the SAME 17-digit p literals + χ² fence the Spark side
# compiles (single source in functions/stats.py)
_benford_arr = ", ".join(
    f"CAST({_BENF[_d]!r} AS DOUBLE)" for _d in range(1, 10)
)


# ==========================================================================
# Extraction family (SURVEY §2.1/2.7/2.8/2.9 — the det→rec→layout core)
# ==========================================================================


@query("extract_fulltext", family="extraction", oracle=f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id, {_URL_SQL} AS url,
                   '{_A}' || chr(10) || text AS extracted_text,
                   CAST(1 AS BIGINT) AS n_blocks
            FROM documents ORDER BY doc_id
        """)
def q_extract_fulltext(spark, sf_dir):
    """Flagship: byte-identical main-content extraction per url."""
    return _extract(spark, sf_dir).select(
        "doc_id", "url", "extracted_text",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
    ).orderBy("doc_id")


@query("extract_spans", family="extraction", oracle=f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(1 AS BIGINT) AS n_spans,
                   CAST(0 AS BIGINT) AS char_start,
                   CAST({_ANCHOR_LEN} + 1 + length(text) AS BIGINT) AS char_end
            FROM documents ORDER BY doc_id
        """)
def q_extract_spans(spark, sf_dir):
    """Span provenance (the polys/shape_list contract)."""
    res = _extract(spark, sf_dir)
    s = F.element_at("spans", 1)
    return res.select(
        "doc_id",
        F.size("spans").cast("bigint").alias("n_spans"),
        s.getField("char_start").cast("bigint").alias("char_start"),
        s.getField("char_end").cast("bigint").alias("char_end"),
    ).orderBy("doc_id")


@query("extract_boilerplate", family="extraction", oracle=f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   round_even(1.0 - CAST({_ANCHOR_LEN} + 1 + length(text) AS DOUBLE)
                             / CAST({_ANCHOR_LEN} + {_CHROME_CHARS} + length(text) AS DOUBLE),
                         6) AS boilerplate_ratio
            FROM documents ORDER BY doc_id
        """)
def q_extract_boilerplate(spark, sf_dir):
    """Boilerplate ratio per doc (DBPostprocess score bookkeeping)."""
    return _extract(spark, sf_dir).select("doc_id", "boilerplate_ratio").orderBy(
        "doc_id"
    )


@query("warc_extract", family="formats", oracle=f"""
            SELECT {_URL_SQL} AS url,
                   CAST(1704067200 + doc_id AS BIGINT) AS warc_sec,
                   '{_A}' || chr(10) || text AS extracted_text,
                   CAST(1 AS BIGINT) AS n_blocks
            FROM documents ORDER BY url
        """)
def q_warc_extract(spark, sf_dir):
    """External-format ingestion end-to-end: the corpus serialized as
    real WARC/1.0 files (distributed writer), ingested back through the
    byte-level WARC/HTTP parser (binaryFile scan → mapInPandas), then
    run through the FULL extraction pipeline — the dataset-converter
    capability (reference: tools/dataset_converters/convert.py:32-54)
    verified against the same byte-identical oracle as the direct path.
    warc_sec additionally proves WARC-Date round-trips exactly."""
    from mindocr_spark.sources.warc import read_warc, synth_warc_dir

    pages = read_warc(spark, synth_warc_dir(spark, sf_dir))
    return run_extraction(pages).select(
        "url",
        F.unix_timestamp("warc_ts").alias("warc_sec"),
        "extracted_text",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
    ).orderBy("url")


def _warc_revisit_oracle() -> str:
    from mindocr_spark.sources.pages import PAGES_TEMPLATE_ANCHOR

    return f"""
        SELECT 'https://docs.example/' || d.source || '/'
                 || CAST(d.doc_id AS VARCHAR) AS url,
               '{PAGES_TEMPLATE_ANCHOR}' || chr(10) || b.text
                 AS extracted_text
        FROM documents d
        JOIN documents b
          ON b.doc_id = d.doc_id
               - (CASE WHEN d.doc_id % 4 = 3 THEN 1 ELSE 0 END)
        ORDER BY url"""


@query("warc_revisit_roundtrip", family="formats",
       oracle=_warc_revisit_oracle())
def q_warc_revisit_roundtrip(spark, sf_dir):
    """Archive-level dedup storage end-to-end: pages with planted
    byte-identical mirrors (doc_id%4==3 carries doc_id−1's exact html)
    serialized through the digest-deduplicated WARC writer — ONE
    response record per distinct payload, WARC/1.0 `revisit` pointer
    records for the mirrors — then ingested back with revisit
    RESOLUTION (digest join to the canonical bodies) and run through
    full extraction. The oracle states every page's extracted text from
    the base document's text: only a correct dedup-write + resolve
    round trip can reproduce it."""
    from mindocr_spark.sources import content_keyed_fixture_dir
    from mindocr_spark.sources import pages as pages_mod
    from mindocr_spark.sources import warc as warc_mod
    from mindocr_spark.sources.pages import pages_from_documents
    from mindocr_spark.sources.warc import (
        read_warc_resolved,
        write_warc_dir_deduped,
    )

    def build(out_dir: str) -> None:
        pages = pages_from_documents(spark, sf_dir)
        base_id = F.col("doc_id") - F.when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 3, 1).otherwise(0)
        own = pages.select("doc_id", "url", "warc_ts").withColumn(
            "b_id", base_id)
        content = pages.select(
            F.col("doc_id").alias("b_id"),
            F.col("html").alias("html"),
            F.col("lang").alias("lang"),
        )
        planted = own.join(content, "b_id").select(
            "url", "warc_ts", "html", "lang")
        write_warc_dir_deduped(planted, out_dir)

    out_dir = content_keyed_fixture_dir(
        "mindocr_warc_dedup", sf_dir,
        # warc_mod carries the dedup writer + revisit formatter whose
        # bytes ARE the fixture — editing them must invalidate the cache
        (__file__, pages_mod.__file__, warc_mod.__file__),
        build,
    )
    resolved = read_warc_resolved(spark, out_dir)
    return run_extraction(resolved).select(
        "url", "extracted_text"
    ).orderBy("url")


@query("jsonl_extract", family="formats", oracle=f"""
            SELECT {_URL_SQL} AS url,
                   CAST(1704067200 + doc_id AS BIGINT) AS warc_sec,
                   '{_A}' || chr(10) || text AS extracted_text,
                   CAST(1 AS BIGINT) AS n_blocks
            FROM documents ORDER BY url
        """)
def q_jsonl_extract(spark, sf_dir):
    """External-format ingestion #2: JSON-lines crawl dump (base64
    payloads, epoch-second timestamps, all-JVM to_json/from_json path —
    zero Python in the ingest) → full extraction, same byte-identical
    oracle as the WARC and direct paths (the reference's 8-converter
    family, tools/dataset_converters/convert.py:32-54)."""
    from mindocr_spark.sources.jsonl import read_jsonl_pages, synth_jsonl_dir

    pages = read_jsonl_pages(spark, synth_jsonl_dir(spark, sf_dir))
    return run_extraction(pages).select(
        "url",
        F.unix_timestamp("warc_ts").alias("warc_sec"),
        "extracted_text",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
    ).orderBy("url")


@query("wet_export", family="formats", oracle=f"""
            SELECT {_URL_SQL} AS url,
                   CAST(1704067200 + doc_id AS BIGINT) AS warc_sec,
                   '{_A}' || chr(10) || text AS text
            FROM documents ORDER BY url
        """)
def q_wet_export(spark, sf_dir):
    """Derived-format EXPORT end-to-end: the real extraction output
    serialized as Common-Crawl-style WET files (WARC/1.0 conversion
    records, distributed one-group-per-file writer), then ingested back
    through the byte-level parser over the shared hardened record walk
    — extracted text and timestamps must survive byte-identical,
    checked against the same closed-form oracle as the direct
    extraction path."""
    from mindocr_spark.sources.wet import read_wet, synth_wet_dir

    docs = read_wet(spark, synth_wet_dir(spark, sf_dir))
    return docs.select(
        "url",
        F.unix_timestamp("warc_ts").alias("warc_sec"),
        "text",
    ).orderBy("url")


@query("wat_export", family="formats", oracle=f"""
            WITH h AS (
              SELECT doc_id, {_URL_SQL} AS url, {_html_expr()} AS html
              FROM documents)
            SELECT url,
                   CAST(1704067200 + doc_id AS BIGINT) AS warc_sec,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   md5(html) AS digest,
                   CAST(strlen(html) AS BIGINT) AS length,
                   CAST(8 AS INT) AS n_anchors
            FROM h ORDER BY url
        """)
def q_wat_export(spark, sf_dir):
    """Derived-format export #2 — WAT metadata records (the third
    member of the WARC/WET/WAT triple): per-capture title / digest /
    length / anchor count computed JVM-side (page bytes never reach
    the Python writer), serialized as JSON metadata records, ingested
    back through the shared hardened walk. The oracle rebuilds the
    digest and length from the page template's SQL expression and
    states title/anchor count in closed form."""
    from mindocr_spark.sources.wat import read_wat, synth_wat_dir

    return read_wat(spark, synth_wat_dir(spark, sf_dir)).select(
        "url",
        F.unix_timestamp("warc_ts").alias("warc_sec"),
        "title", "digest", "length", "n_anchors",
    ).orderBy("url")


@query("http_gate", family="formats", oracle=f"""
            WITH d AS (
              SELECT doc_id, source, CAST(doc_id % 8 AS INT) AS m
              FROM documents)
            SELECT 'https://docs.example/' || source || '/'
                     || CAST(doc_id AS VARCHAR) AS url,
                   CASE m WHEN 1 THEN 404 WHEN 2 THEN 301
                        WHEN 5 THEN 503 ELSE 200 END AS http_status,
                   CASE WHEN m = 3 THEN 'application/pdf'
                        ELSE 'text/html' END AS mime,
                   m NOT IN (1, 2, 3, 5) AS fetch_ok
            FROM d ORDER BY url
        """)
def q_http_gate(spark, sf_dir):
    """Ingest-side fetch gating end-to-end: the corpus serialized with
    a planted HTTP-status / Content-Type quota (404 / 301 / 503 /
    application/pdf arms), ingested through the byte-level WARC parser
    — which must recover status AND media type from the embedded HTTP
    envelope — then classified by the fetch gate (2xx AND text/html).
    Flag-style: excluded records stay countable. The oracle states
    every verdict from doc_id arithmetic."""
    from mindocr_spark.sources.warc import (
        http_gate, read_warc, synth_warc_dir_mixed,
    )

    pages = read_warc(spark, synth_warc_dir_mixed(spark, sf_dir))
    return http_gate(pages).select(
        "url", "http_status", "mime", "fetch_ok"
    ).orderBy("url")


@query("extract_east", family="extraction", oracle=f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id, {_URL_SQL} AS url,
                   '{_A}' || chr(10) || text || chr(10) || '{_EAST_BUFFER}'
                     || chr(10) || '{_EAST_TAIL}' AS extracted_text,
                   CAST(1 AS BIGINT) AS n_blocks
            FROM documents ORDER BY doc_id
        """)
def q_extract_east(spark, sf_dir):
    """Third detector family end-to-end: the EAST-style proposal +
    locality-aware-merge detector (extract_core.detect_blocks_east,
    reference: mindocr/postprocess/det_east_postprocess.py:13-150)
    behind the same registry and pipeline — run on the EAST-DIVERGENT
    corpus family (pages_from_documents_east), where EAST's regressed
    geometry claims a sub-binarization boundary node the DB run
    detector provably excludes. The oracle reconstructs EAST's OWN
    output (… + buffer + tail), not DB's (… + buffer), so this row
    exercises the detector's divergent behaviour; the db≠east
    divergence itself is pinned by tests/test_extract_core.py."""
    from mindocr_spark import extract_core as core
    from mindocr_spark.sources.pages import pages_from_documents_east

    pages = pages_from_documents_east(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    res = run_extraction(
        pages.drop("doc_id"), core.ExtractParams(detector="east")
    ).withColumn(
        "doc_id", F.element_at(F.split("url", "/"), -1).cast("bigint")
    )
    return res.select(
        "doc_id", "url", "extracted_text",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
    ).orderBy("doc_id")


@query("extract_metrics_by_lang", oracle=f"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM({_ANCHOR_LEN} + 1 + length(text)) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang ORDER BY lang
        """)
def q_extract_metrics_by_lang(spark, sf_dir):
    """Per-stage metrics aggregation (DetMetric/AllReduce shape)."""
    return (
        _extract(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("extracted_text")).alias("sum_chars"),
        )
        .orderBy("lang")
    )


# ==========================================================================
# Relational operator inventory (SURVEY §2.2-2.6)
# ==========================================================================


@query("agg_partial_final", family="joins_agg", oracle="""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order,
                   round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS avg_qty
            FROM lineitem WHERE epoch(l_shipdate) <= 904694400
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """)
def q_agg_partial_final(spark, sf_dir):
    """TPC-H Q1 shape: filter → partial+final agg (the AllReduce analog).
    DECIMAL-exact sums so the value-hash matches the oracle bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    # NTZ-literal comparison: tz-independent AND parquet-pushable (an
    # expression like timestampdiff(...) <= N would disable pushdown)
    return (
        li.where(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ'1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,6)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .withColumn(
            "avg_qty",
            F.round(F.col("sum_qty") / F.col("count_order").cast("double"), 6),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("fanout_regroup", family="joins_agg", oracle="""
            SELECT o_orderkey, COUNT(*) AS n_lines,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey % 20 = 0
            GROUP BY o_orderkey ORDER BY o_orderkey
        """)
def q_fanout_regroup(spark, sf_dir):
    """The det→rec fan-out/fan-in shape: per-document regions → regroup
    by key (reference: predict_system.py:77-109 / collect_node.py:72-99),
    as orders⋈lineitem regrouped per order."""
    o = _t(spark, sf_dir, "orders").where(F.pmod("o_orderkey", F.lit(20)) == 0)
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sum_qty"),
        )
        .orderBy("o_orderkey")
    )


@query("reading_order", oracle="""
            SELECT l_orderkey, l_linenumber, rn FROM (
              SELECT l_orderkey, l_linenumber,
                     CAST(row_number() OVER (PARTITION BY l_orderkey
                          ORDER BY l_shipdate, l_linenumber) AS BIGINT) AS rn
              FROM lineitem WHERE l_orderkey % 10 = 0
            ) WHERE rn <= 3 ORDER BY l_orderkey, rn
        """)
def q_reading_order(spark, sf_dir):
    """sorted_boxes reading-order sort (reference:
    tools/infer/text/utils.py:88-96) as a per-key ordered window."""
    li = _t(spark, sf_dir, "lineitem").where(F.pmod("l_orderkey", F.lit(10)) == 0)
    w = Window.partitionBy("l_orderkey").orderBy("l_shipdate", "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select("l_orderkey", "l_linenumber", "rn")
        .orderBy("l_orderkey", "rn")
    )


@query("topk_per_group", family="joins_agg", oracle="""
            SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rk FROM (
              SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                     CAST(row_number() OVER (PARTITION BY l_suppkey
                          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
                          AS BIGINT) AS rk
              FROM lineitem WHERE l_suppkey % 5 = 0
            ) WHERE rk <= 2 ORDER BY l_suppkey, rk, l_orderkey
        """)
def q_topk_per_group(spark, sf_dir):
    """max_candidates per-group top-k cap (reference:
    det_db_postprocess.py:45,95)."""
    li = _t(spark, sf_dir, "lineitem").where(F.pmod("l_suppkey", F.lit(5)) == 0)
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 2)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rk")
        .orderBy("l_suppkey", "rk", "l_orderkey")
    )


@query("multi_join_revenue", family="joins_agg", oracle="""
            SELECT r_name, n_name,
                   CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name
        """)
def q_multi_join_revenue(spark, sf_dir):
    """Multi-way join with broadcast dims (Catalyst join planning)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.sum(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .cast("decimal(18,6)")
    ).cast("double")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(rev.alias("revenue"), F.count("*").alias("n_items"))
        .orderBy("r_name", "n_name")
    )


@query("broadcast_dict_join", family="joins_agg", oracle="""
            SELECT p_brand, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY p_brand
        """)
def q_broadcast_dict_join(spark, sf_dir):
    """Broadcast small-dim lookup (the char-dict broadcast analog,
    SURVEY §1.4)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


@query("union_sources", family="joins_agg", oracle="""
            SELECT nationkey, origin, COUNT(*) AS n FROM (
              SELECT c_nationkey AS nationkey, 'customer' AS origin FROM customer
              UNION ALL
              SELECT s_nationkey AS nationkey, 'supplier' AS origin FROM supplier
            ) GROUP BY nationkey, origin ORDER BY nationkey, origin
        """)
def q_union_sources(spark, sf_dir):
    """Multi-source union (LMDB dir-list concat analog, reference:
    rec_lmdb_dataset.py:121-133)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("origin")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("origin")
    )
    return (
        c.unionByName(s)
        .groupBy("nationkey", "origin")
        .agg(F.count("*").alias("n"))
        .orderBy("nationkey", "origin")
    )


@query("except_keys", family="joins_agg", oracle="""
            SELECT nationkey FROM (
              SELECT DISTINCT c_nationkey AS nationkey FROM customer
              EXCEPT
              SELECT DISTINCT s_nationkey AS nationkey FROM supplier
            ) ORDER BY nationkey
        """)
def q_except_keys(spark, sf_dir):
    """Key-set difference (golden-eval key equality check analog,
    reference: eval_pipeline.py:104-107)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.distinct().exceptAll(s.distinct()).orderBy("nationkey")


@query("interval_overlap", family="joins_agg", oracle="""
            SELECT a.user_id AS user_id, COUNT(*) AS n_pairs
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND abs(epoch(date_trunc('second', a.ts))
                     - epoch(date_trunc('second', b.ts))) <= 300
            GROUP BY a.user_id ORDER BY user_id
        """)
def q_interval_overlap(spark, sf_dir):
    """Range/theta join: event pairs of one user within 300 s (the
    interval-overlap core of IoU matching, reference:
    det_metrics.py:28-76, in 1-D)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", _epoch_sec("ts").alias("sec")
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.abs(F.col("a.sec") - F.col("b.sec")) <= 300),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


@query("funnel_stages", oracle="""
            WITH t1 AS (
              SELECT user_id,
                     min(ts) FILTER (WHERE event_type = 'view') AS t1,
                     COUNT(*) AS n_events
              FROM events GROUP BY user_id),
            t2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN t1 ON e.user_id = t1.user_id
              WHERE e.event_type = 'click'
                AND t1.t1 IS NOT NULL AND e.ts > t1.t1
              GROUP BY e.user_id),
            t3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN t2 ON e.user_id = t2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > t2.t2
              GROUP BY e.user_id)
            SELECT t1.user_id,
                   CAST(t1.n_events AS BIGINT) AS n_events,
                   CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                             WHEN t2.t2 IS NOT NULL THEN 2
                             WHEN t1.t1 IS NOT NULL THEN 1
                             ELSE 0 END AS BIGINT) AS funnel_stage
            FROM t1
            LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t1.user_id = t3.user_id
            ORDER BY t1.user_id
        """)
def q_funnel_stages(spark, sf_dir):
    """Ordered-sequence (funnel) analytics: per user, the deepest
    view → click → purchase stage reached with STRICT temporal order
    (a click before the first view doesn't count — the property a
    naive per-type EXISTS gets wrong). Three chained same-key window
    minima — consecutive windows on one partition key reuse a single
    exchange, then the same-key groupBy collapses to user grain: ONE
    shuffle end-to-end at any corpus size. Timestamps stay internal
    (comparisons only — no tz-sensitive output columns)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    d1 = e.select("user_id", "event_type", "ts", t1.alias("t1"))
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    d2 = d1.select("user_id", "event_type", "ts", "t1", t2.alias("t2"))
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    d3 = d2.select("user_id", "t1", "t2", t3.alias("t3"))
    agg = d3.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("t1").alias("_t1"),
        F.min("t2").alias("_t2"),
        F.min("t3").alias("_t3"),
    )
    return agg.select(
        "user_id",
        "n_events",
        F.when(F.col("_t3").isNotNull(), F.lit(3))
        .when(F.col("_t2").isNotNull(), F.lit(2))
        .when(F.col("_t1").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("funnel_stage"),
    ).orderBy("user_id")


@query("sessionize", family="joins_agg", oracle="""
            WITH x AS (
              SELECT user_id,
                     CASE WHEN epoch(date_trunc('second', ts))
                               - lag(epoch(date_trunc('second', ts))) OVER (
                              PARTITION BY user_id ORDER BY ts, event_id) > 1800
                          THEN 1 ELSE 0 END AS f
              FROM events)
            SELECT user_id, CAST(SUM(f) + 1 AS BIGINT) AS n_sessions
            FROM x GROUP BY user_id ORDER BY user_id
        """)
def q_sessionize(spark, sf_dir):
    """Stateful sessionization (gap > 30 min) — the batch twin of
    streaming session windows (SURVEY §2.11)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = _epoch_sec("ts")
    flag = (sec - F.lag(sec).over(w) > 1800).cast("int")
    return (
        e.withColumn("f", F.coalesce(flag, F.lit(0)))
        .groupBy("user_id")
        .agg((F.sum("f") + 1).cast("bigint").alias("n_sessions"))
        .orderBy("user_id")
    )


@query("json_extract", oracle="""
            SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   COUNT(*) AS n,
                   CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1 ORDER BY k
        """)
def q_json_extract(spark, sf_dir):
    """JSON annotation parse (DetLabelEncode analog, reference:
    det_transforms.py:30-88)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("sum_value"),
        )
        .orderBy("k")
    )


@query("windowed_counts", family="streaming", oracle="""
            SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
                   COUNT(*) AS n_events,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1 ORDER BY hour_bucket
        """)
def q_windowed_counts(spark, sf_dir):
    """Tumbling-window counts (streaming windowed agg, batch twin)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("hour_bucket", (_epoch_sec("ts") / F.lit(3600)).cast("bigint"))
        .groupBy("hour_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour_bucket")
    )


@query("skew_salted_agg", family="joins_agg", oracle="""
            SELECT l_returnflag, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """)
def q_skew_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation over a hot low-cardinality key —
    identical result to the direct groupBy, skew-proof plan (north-rule
    salting discipline; reference's per-doc fan-out precedent
    rec_pre_node.py:51-72)."""
    li = _t(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("pq"),
        )
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("pq").cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# ==========================================================================
# Text analysis (training-data pipeline ops)
# ==========================================================================


@query("token_stats", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents)
            SELECT doc_id,
                   CAST(CASE WHEN norm = '' THEN 0
                        ELSE len(string_split(norm,' ')) END AS INT) AS n_tokens,
                   CAST(CASE WHEN norm = '' THEN 0
                        ELSE len(list_distinct(string_split(norm,' '))) END AS INT) AS n_distinct_tokens,
                   CAST(length(norm) AS INT) AS n_chars_norm
            FROM t ORDER BY doc_id
        """)
def q_token_stats(spark, sf_dir):
    from mindocr_spark.functions.text import token_stats

    return token_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@query("quality_scores", family="text_quality", oracle=r"""
            WITH q AS (
              SELECT doc_id,
                     CASE WHEN trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '))
                     END AS nt,
                     len(regexp_extract_all(text, '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b')) AS sh,
                     len(regexp_extract_all(text, '[.,;:!?]')) AS np,
                     len(regexp_extract_all(text, '[A-Z]')) AS nu,
                     length(replace(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ','')) AS nc
              FROM documents)
            SELECT doc_id, CAST(nt AS INT) AS n_tokens, CAST(sh AS INT) AS stop_hits,
                   CAST(np AS INT) AS n_punct, CAST(nu AS INT) AS n_upper,
                   round(CAST(nc AS DOUBLE)/CAST(nullif(nt, 0) AS DOUBLE), 6) AS avg_token_len,
                   round(CAST(sh AS DOUBLE)/CAST(nullif(nt, 0) AS DOUBLE), 6) AS stop_ratio
            FROM q ORDER BY doc_id
        """)
def q_quality_scores(spark, sf_dir):
    from mindocr_spark.functions.text import quality_cols

    return quality_cols(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@query("pii_redact", family="curation", oracle=(
            """
            WITH built AS (
              SELECT doc_id,
                     concat_ws('', text,
                       ' contact user', CAST(doc_id AS VARCHAR),
                       '@example.com now',
                       CASE WHEN doc_id % 2 = 0
                            THEN ' server 10.0.' ||
                                 CAST(doc_id % 250 AS VARCHAR) || '.17 up'
                       END,
                       CASE WHEN doc_id % 5 = 0
                            THEN ' call +44 20 7946 0958 today'
                       END) AS text
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '__EMAIL__', '<EMAIL>', 'g'),
                     '__IP__', '<IP>', 'g'),
                     '__PHONE__', '<PHONE>', 'g') AS text,
                   CAST(len(regexp_extract_all(text, '__EMAIL__')) AS INT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(text, '__IP__')) AS INT)
                     AS n_ips,
                   CAST(len(regexp_extract_all(text, '__PHONE__')) AS INT)
                     AS n_phones
            FROM built ORDER BY doc_id
            """
            .replace("__EMAIL__", _text_pii.__dict__["_EMAIL_RE"])
            .replace("__IP__", _text_pii.__dict__["_IPV4_RE"])
            .replace("__PHONE__", _text_pii.__dict__["_PHONE_RE"])
        ))
def q_pii_redact(spark, sf_dir):
    """PII scrubbing (emails / IPv4 / +CC phones → sentinel tokens with
    exact pre-redaction counts). The word-soup documents carry no PII,
    so the corpus is built IN-QUERY: every doc gains a doc_id-derived
    email, every second doc an IP, every fifth a phone number — the
    oracle rebuilds the same corpus and applies the same patterns with
    RE2, pinning the Java-regex/RE2 dialect agreement."""
    from mindocr_spark.functions.text import redact_pii_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    built = docs.select(
        "doc_id",
        F.concat_ws(
            "",
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" server 10.0."),
                    (F.col("doc_id") % 250).cast("string"),
                    F.lit(".17 up"),
                ),
            ),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" call +44 20 7946 0958 today")),
        ).alias("text"),
    )
    return redact_pii_cols(built).select(
        "doc_id", "text", "n_emails", "n_ips", "n_phones"
    ).orderBy("doc_id")


#: Decomposed-Unicode suffixes for the NFC corpus (combining marks that
#: NFC composes): e+U+0301 → é, A+U+030A → Å, o+U+0308 → ö. The third
#: case is ALREADY composed (must pass through unchanged) and the
#: fourth adds nothing.
_NFC_SUFFIXES = (
    " cafe\u0301 menu",               # e + U+0301 -> \u00e9 under NFC
    " A\u030angstro\u0308m units",    # A + U+030A, o + U+0308
    " caf\u00e9 composed",            # already-composed: must not change
    "",
)


# the suffix literals are injected from the SAME Python
# constants the Spark query uses, so the two corpora can never
# drift; nfc_normalize is utf8proc's NFC, unicodedata's twin
@query("nfc_normalize", oracle=f"""
            WITH built AS (
              SELECT doc_id,
                     text || CASE CAST(doc_id % 4 AS INT)
                       WHEN 0 THEN '{_NFC_SUFFIXES[0]}'
                       WHEN 1 THEN '{_NFC_SUFFIXES[1]}'
                       WHEN 2 THEN '{_NFC_SUFFIXES[2]}'
                       ELSE '' END AS text
              FROM documents)
            SELECT doc_id,
                   nfc_normalize(text) AS text,
                   (nfc_normalize(text) <> text) AS was_normalized,
                   CAST(length(nfc_normalize(text)) AS INT)
                     AS n_chars
            FROM built ORDER BY doc_id
        """)
def q_nfc_normalize(spark, sf_dir):
    """Unicode NFC canonicalization (the C4/CCNet text-fixing stage).
    The word-soup documents are pure ASCII, so decomposed sequences
    are planted IN-QUERY: doc_id%4 selects a suffix with combining
    marks (composed by NFC), an already-composed é (unchanged), or
    nothing. The oracle rebuilds the same corpus and applies DuckDB's
    utf8proc nfc_normalize — exact because both engines implement the
    same Unicode normalization spec (pinned by a unit test comparing
    the two on adversarial sequences)."""
    from mindocr_spark.functions.text import unicode_normalize_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _NFC_SUFFIXES]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    built = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return unicode_normalize_cols(built).select(
        "doc_id", "text", "was_normalized",
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


#: Mojibake corpus constants. The broken form IS the fixed form's
#: UTF-8 bytes reinterpreted as Latin-1 — computed, not hand-typed, so
#: the pair can never drift. Every accent is chosen so its UTF-8
#: continuation byte lands in A0–BF (printable Latin-1), keeping the
#: broken literal embeddable in the SQL oracle verbatim.
_MOJI_FIXED_SUFFIX = " café résumé naïve señor"
_MOJI_BROKEN_SUFFIX = _MOJI_FIXED_SUFFIX.encode("utf-8").decode("latin-1")
#: CJK tail for the detected-but-unrepairable arm: not representable in
#: Latin-1, so the guarded rewrite must refuse to touch the doc.
_MOJI_CJK_TAIL = " 汉"


# closed-form mojibake verdicts: the broken/fixed suffix pair
# is injected from the SAME Python constants the Spark query
# plants, so the corpora can never drift; m=0 repairs to the
# fixed form, m=4 (native accents) and m=7 (CJK blocks the
# Latin-1 reinterpretation) keep their bytes
@query("mojibake_repair", oracle=f"""
            WITH d AS (
              SELECT doc_id, text, CAST(doc_id % 9 AS INT) AS m
              FROM documents),
            b AS (
              SELECT doc_id,
                     CASE WHEN m IN (0, 4) THEN text || '{_MOJI_FIXED_SUFFIX}'
                          WHEN m = 7
                            THEN text || '{_MOJI_BROKEN_SUFFIX}{_MOJI_CJK_TAIL}'
                          ELSE text END AS text,
                     m IN (0, 7) AS moji_detected,
                     m = 0 AS moji_fixed
              FROM d)
            SELECT doc_id, text, moji_detected, moji_fixed,
                   CAST(length(text) AS INT) AS n_chars
            FROM b ORDER BY doc_id
        """)
def q_mojibake_repair(spark, sf_dir):
    """Mojibake detect + guarded repair (the encoding-fixing curation
    stage). The word-soup documents are pure ASCII, so the fault is
    planted IN-QUERY by doc_id%9: a UTF-8-as-Latin-1 double-encoded
    suffix (must be repaired to the true glyphs), the same suffix in
    NATIVE form (accented chars that must NOT trip the detector), and
    a broken suffix plus a CJK char (detected, but the Latin-1
    reinterpretation doesn't exist — the guard must refuse). The
    oracle states each arm's verdict in closed form from the shared
    suffix constants, so detection, the safety guard, AND the
    byte-level rewrite must all agree."""
    from mindocr_spark.functions.text import mojibake_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.pmod(F.col("doc_id"), F.lit(9))
    suffix = (
        F.when(m == 0, F.lit(_MOJI_BROKEN_SUFFIX))
        .when(m == 4, F.lit(_MOJI_FIXED_SUFFIX))
        .when(m == 7, F.lit(_MOJI_BROKEN_SUFFIX + _MOJI_CJK_TAIL))
        .otherwise(F.lit(""))
    )
    built = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return mojibake_cols(built).select(
        "doc_id", "text", "moji_detected", "moji_fixed",
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


#: Dehyphenation corpus arms (shared with the SQL oracle verbatim —
#: they contain real newlines): a lowercase wrap that MUST be joined,
#: a compound/acronym wrap that must keep its hyphen, and an
#: extractor-spaces variant exercising the optional-space regex arms.
_HYPH_JOIN_ARM = "\nthis exam-\nple shows hyphena-\ntion artifacts"
_HYPH_KEEP_ARM = "\nsee the Well-\nKnown ISO-\n9001 standard"
_HYPH_SPACE_ARM = "\na trailing- \n space case"


# arm constants contain REAL newlines (legal inside SQL string
# literals); the two regexes are the engine's shared constants,
# backreferences in RE2 replacement syntax
@query("dehyphenate", oracle=rf"""
            WITH built AS (
              SELECT doc_id,
                     text || CASE doc_id % 6
                             WHEN 1 THEN '{_HYPH_JOIN_ARM}'
                             WHEN 3 THEN '{_HYPH_KEEP_ARM}'
                             WHEN 5 THEN '{_HYPH_SPACE_ARM}'
                             ELSE '' END AS text
              FROM documents),
            fixed AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '{_DEHYPHEN_RE}')) AS INT)
                       AS n_dehyphenated,
                     regexp_replace(
                       regexp_replace(text, '{_DEHYPHEN_RE}', '\1\2', 'g'),
                       '([A-Za-z0-9])- ?\n ?([A-Za-z0-9])', '\1-\2', 'g') AS text
              FROM built)
            SELECT doc_id, text, n_dehyphenated,
                   CAST(length(text) AS INT) AS n_chars
            FROM fixed ORDER BY doc_id
        """)
def q_dehyphenate(spark, sf_dir):
    """PDF line-wrap de-hyphenation (the print-artifact repair that
    must run before tokenization/dedup or every wrapped word becomes
    two garbage tokens). The word-soup corpus has no line wraps, so
    the three artifact arms are planted IN-QUERY by doc_id%6: a
    lowercase wrap (joined), a compound/acronym wrap (hyphen KEPT,
    newline collapsed), and a wrap with extractor spaces around the
    break. The oracle rebuilds the corpus from the same arm constants
    and applies the same two regexes under RE2 — repair count and
    rewritten text must both agree."""
    from mindocr_spark.functions.text import dehyphenate_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.pmod(F.col("doc_id"), F.lit(6))
    suffix = (
        F.when(m == 1, F.lit(_HYPH_JOIN_ARM))
        .when(m == 3, F.lit(_HYPH_KEEP_ARM))
        .when(m == 5, F.lit(_HYPH_SPACE_ARM))
        .otherwise(F.lit(""))
    )
    built = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return dehyphenate_cols(built).select(
        "doc_id", "text", "n_dehyphenated",
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


#: Script-mix injection snippets (shared with the SQL oracle): one
#: word per non-Latin script, repeated doc_id-many times so the
#: dominant script genuinely flips on long-repeat docs.
_SCRIPT_ARMS = {
    "cyrillic": " данные сеть",
    "cjk": " 中文網頁データ",
    "arabic": " مرحبا بالعالم",
    "greek": " αβγ δέλτα",
}


@query("script_mix", family="text_quality", oracle=f"""
            WITH built AS (
              SELECT doc_id,
                     text || coalesce(repeat(
                       CASE doc_id % 5
                       WHEN 1 THEN '{_SCRIPT_ARMS["cyrillic"]}'
                       WHEN 2 THEN '{_SCRIPT_ARMS["cjk"]}'
                       WHEN 3 THEN '{_SCRIPT_ARMS["arabic"]}'
                       WHEN 4 THEN '{_SCRIPT_ARMS["greek"]}'
                       END,
                       CAST(doc_id % 37 AS INT)), '') AS text
              FROM documents),
            c AS (
              SELECT doc_id,
                   {_script_counts}
              FROM built),
            t AS (
              SELECT *,
                     CAST({_script_sum} AS INT) AS n_scripted,
                     greatest({", ".join("n_" + n for n, _ in _SCRIPT_CLASSES)}) AS best
              FROM c)
            SELECT doc_id,
                   {", ".join("n_" + n for n, _ in _SCRIPT_CLASSES)},
                   n_scripted,
                   CASE WHEN n_scripted = 0 THEN 'none'
                        {_script_label}
                        END AS main_script,
                   CASE WHEN n_scripted = 0 THEN NULL
                        ELSE round(CAST(best AS DOUBLE)
                                   / CAST(n_scripted AS DOUBLE), 6)
                        END AS main_share
            FROM t ORDER BY doc_id
        """)
def q_script_mix(spark, sf_dir):
    """Unicode script-composition histogram (the CCNet multilingual
    curation signal): per-script char counts, dominant script, and its
    share. The ASCII word-soup is Latin-only, so non-Latin content is
    planted IN-QUERY by doc_id%5 — each arm's snippet repeated
    (doc_id%37) times, so the dominant script flips from latin to the
    injected script exactly where the repeated count overtakes the
    doc's Latin letters (both engines recount with the SAME literal
    char-class regexes; the flip point is part of the check, not an
    assumption)."""
    from mindocr_spark.functions.text import script_mix_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    m = F.pmod(did, F.lit(5))
    reps = F.pmod(did, F.lit(37)).cast("int")
    arm = (
        F.when(m == 1, F.lit(_SCRIPT_ARMS["cyrillic"]))
        .when(m == 2, F.lit(_SCRIPT_ARMS["cjk"]))
        .when(m == 3, F.lit(_SCRIPT_ARMS["arabic"]))
        .when(m == 4, F.lit(_SCRIPT_ARMS["greek"]))
    )
    built = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.coalesce(F.repeat(arm, reps), F.lit("")),
        ).alias("text"),
    )
    return script_mix_cols(built).orderBy("doc_id")


@query("lexical_diversity", family="text_quality", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents),
            s AS (
              SELECT doc_id,
                     CASE WHEN norm = '' THEN 0
                          ELSE CAST(len(string_split(norm, ' ')) AS INT)
                     END AS n_tokens,
                     CASE WHEN norm = '' THEN 0
                          ELSE CAST(len(list_distinct(
                                 string_split(norm, ' '))) AS INT)
                     END AS n_types
              FROM t)
            SELECT doc_id, n_tokens, n_types,
                   CASE WHEN n_tokens > 0
                        THEN CAST(n_types AS DOUBLE)
                             / CAST(n_tokens AS DOUBLE)
                   END AS ttr
            FROM s ORDER BY doc_id
        """)
def q_lexical_diversity(spark, sf_dir):
    """Lexical diversity (the Gopher unique-words gate family):
    type-token ratio from exact distinct/total token counts + one IEEE
    division — pure codegen on the scan, engine-identical."""
    from mindocr_spark.functions.text import lexical_diversity_cols

    return lexical_diversity_cols(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


@query("readability", family="text_quality", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(coalesce(text, ''),
                          '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            s AS (
              SELECT doc_id,
                     CASE WHEN norm = '' THEN 0
                          ELSE CAST(len(string_split(norm, ' ')) AS INT)
                     END AS n_tokens,
                     CAST(len(regexp_extract_all(norm, '[.!?]+')) AS INT)
                       AS n_term_runs,
                     CAST(len(regexp_extract_all(lower(norm), '[aeiouy]+'))
                       AS INT) AS n_syllables
              FROM t),
            r AS (
              SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens > 0
                          THEN greatest(1, n_term_runs)
                          ELSE n_term_runs END AS n_sentences,
                     n_syllables
              FROM s),
            d AS (
              SELECT doc_id, n_tokens, n_sentences, n_syllables,
                     CAST(n_tokens AS DOUBLE)
                       / CAST(n_sentences AS DOUBLE) AS wps,
                     CAST(n_syllables AS DOUBLE)
                       / CAST(n_tokens AS DOUBLE) AS spw
              FROM r)
            SELECT doc_id, n_tokens, n_sentences, n_syllables,
                   CASE WHEN n_tokens > 0 THEN
                     round(CAST(206.835 AS DOUBLE)
                           - CAST(1.015 AS DOUBLE) * wps
                           - CAST(84.6 AS DOUBLE) * spw, 6) + 0.0
                   END AS flesch,
                   CASE WHEN n_tokens > 0 THEN
                     round(CAST(0.39 AS DOUBLE) * wps
                           + CAST(11.8 AS DOUBLE) * spw
                           - CAST(15.59 AS DOUBLE), 6) + 0.0
                   END AS fk_grade
            FROM d ORDER BY doc_id
        """)
def q_readability(spark, sf_dir):
    """Readability gating (the textbook-tier curation signal): Flesch
    reading ease + FK grade from exact counts (words / terminator-run
    sentences / vowel-group syllables) — two IEEE divisions in pinned
    association order, rounded at 6, engine-identical."""
    from mindocr_spark.functions.text import readability_cols

    return readability_cols(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


@query("cdc_chunks", family="text_quality", oracle=_cdc_oracle())
def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (long-doc training prep / retrieval
    chunking): boundaries where a k-gram's ROLLING polynomial hash
    (Horner base 257 mod 2^31-1 — one vectorized Arrow fold, no
    digest per position) is ≡ 0 mod 16^nibbles, chunks tiling each
    document exactly; tiling + per-chunk md5 stay JVM-side, zero
    shuffles. nibbles=1 here so the test corpus yields multi-chunk
    docs (~16-char expected chunks; the production default is 2 →
    ~256). The oracle runs the SAME Horner arithmetic through DuckDB
    list_filter — the boundary rule, the tiling arithmetic, AND the
    per-chunk digests must all agree."""
    from mindocr_spark.functions.text import cdc_chunks

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_chunks(docs, k=8, nibbles=1).orderBy(
        "doc_id", "chunk_idx"
    )


def _built_url_corpus(spark, sf_dir):
    """Shared URL-variant corpus for the url_* queries: every 5
    consecutive doc_ids are the SAME page (pid = doc_id div 5) spelled
    5 ways — www+default-port+tracking-params+fragment, plain http,
    reordered params + click id, an m. subdomain (NOT a duplicate),
    and an IPv4 host. A third of the pids live under a co.uk
    registrable domain to exercise the public-suffix rule."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pid = F.expr("doc_id div 5")
    v = F.col("doc_id") % 5
    dom = F.concat(
        F.lit("site"), (pid % 7).cast("string"),
        F.when(pid % 3 == 0, F.lit(".co.uk"))
        .otherwise(F.lit(".example.com")),
    )
    p = pid.cast("string")
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://WWW."), dom, F.lit(":443/p/"), p,
            F.lit("/?utm_source=feed&b=2&a=1#top")))
        .when(v == 1, F.concat(
            F.lit("http://"), dom, F.lit("/p/"), p, F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(
            F.lit("https://"), dom, F.lit("/p/"), p,
            F.lit("?b=2&a=1&gclid=xyz")))
        .when(v == 3, F.concat(
            F.lit("https://m."), dom, F.lit("/p/"), p))
        .otherwise(F.concat(
            F.lit("http://10.0."), (pid % 250).cast("string"),
            F.lit(".17/p/"), p))
    )
    return docs.select("doc_id", "text", url.alias("url"))


# thresholds rendered from the SAME hash_sample_threshold
# helper the Spark CASE compiles from (cumulative cutoffs)
@query("grouped_split", oracle=_bind_url_patterns(f"""
            WITH {_URL_ORACLE_CTE}
            SELECT doc_id, url, registered_domain,
                   CASE WHEN substr(md5(registered_domain), 1, 8)
                             < '{_hash_thresh(0.8)}' THEN 'train'
                        WHEN substr(md5(registered_domain), 1, 8)
                             < '{_hash_thresh(0.9)}' THEN 'val'
                        ELSE 'test' END AS split
            FROM canon ORDER BY doc_id
        """))
def q_grouped_split(spark, sf_dir):
    """Leakage-safe train/val/test split at REGISTERED-DOMAIN grain
    (page-grain splits leak: a site's near-duplicate pages straddle
    train and eval). Runs over the shared URL-variant corpus so the
    grouping is exercised against www/m./IP spellings and the co.uk
    public-suffix rule; assignment is md5(domain)-prefix thresholding
    against cumulative cutoffs from the SAME hash_sample_threshold
    helper the oracle renders — deterministic, RNG-free, one codegen
    CASE. The leakage property (one domain → one split) is pinned by
    pytest."""
    from mindocr_spark.functions.text import grouped_split
    from mindocr_spark.functions.urls import url_cols

    pages = url_cols(_built_url_corpus(spark, sf_dir)).select(
        "doc_id", "url", "registered_domain"
    )
    return grouped_split(
        pages, "registered_domain",
        splits=(("train", 0.8), ("val", 0.1), ("test", 0.1)),
    ).orderBy("doc_id")


# identical top-K total order (cnt DESC, token ASC — token is
# unique so the order is total) + FILTER'd left-join counts
@query("oov_rate", family="tokenizers", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            tok AS (
              SELECT doc_id, unnest(string_split(norm, ' ')) AS token
              FROM t WHERE norm <> ''),
            vocab AS (
              SELECT token FROM (
                SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
                ORDER BY cnt DESC, token ASC LIMIT 100)),
            pd AS (
              SELECT k.doc_id, COUNT(*) AS n_tokens,
                     COUNT(*) FILTER (WHERE v.token IS NULL) AS n_oov
              FROM tok k LEFT JOIN vocab v ON k.token = v.token
              GROUP BY k.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
                   CASE WHEN coalesce(n_tokens, 0) = 0 THEN NULL
                        ELSE round(CAST(n_oov AS DOUBLE)
                                   / CAST(n_tokens AS DOUBLE), 6)
                        END AS oov_rate
            FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
            ORDER BY d.doc_id
        """)
def q_oov_rate(spark, sf_dir):
    """Tokenizer-coverage audit: the corpus's top-100 tokens by
    frequency (ties token-ascending) play the vocabulary; every doc
    reports token count, OOV count, and OOV rate. Vocabulary = one
    groupBy + TopK (TakeOrderedAndProject, no global sort); the
    per-doc pass joins exploded tokens against the BROADCAST
    vocabulary. The oracle restates the identical top-K (same total
    order) and the FILTER'd left-join count."""
    from mindocr_spark.functions.text import oov_cols

    return oov_cols(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        vocab_size=100,
    ).orderBy("doc_id")


# URL corpus + canonicalization: every regex below is injected
# from the mindocr_spark.functions.urls constants the Spark
# expressions compile, so the dialects cannot drift
@query("url_canonicalize", oracle=_bind_url_patterns(f"""
            WITH {_URL_ORACLE_CTE},
            reps AS (
              SELECT canonical_url, COUNT(*) AS url_cluster_size,
                     min(url) AS url_rep
              FROM canon GROUP BY canonical_url)
            SELECT doc_id, url, host, registered_domain, canonical_url,
                   url_cluster_size, url_rep,
                   (url <> url_rep) AS is_url_dup
            FROM canon JOIN reps USING (canonical_url)
            ORDER BY doc_id
        """))
def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization + URL-level dedup (the layer a web corpus
    applies BEFORE content hashing: Common Crawl's index is keyed by
    canonical URL). Three of each page's five spellings must collapse
    onto one canonical key (cluster of 3, lexicographic-min rep); the
    m. subdomain and IP spellings stay singletons. All shared-constant
    regex expressions — the oracle injects the same patterns."""
    from mindocr_spark.functions.urls import url_dedup_flags

    return url_dedup_flags(_built_url_corpus(spark, sf_dir)).select(
        "doc_id", "url", "host", "registered_domain", "canonical_url",
        "url_cluster_size", "url_rep", "is_url_dup",
    ).orderBy("doc_id")


@query("domain_stats", oracle=_bind_url_patterns(f"""
            WITH {_URL_ORACLE_CTE}
            SELECT registered_domain,
                   COUNT(*) AS n_pages,
                   COUNT(DISTINCT canonical_url) AS n_canonical,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars,
                   round(CAST(SUM(length(text)) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS mean_chars
            FROM canon GROUP BY registered_domain
            ORDER BY registered_domain
        """))
def q_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus statistics (page counts, distinct
    canonical URLs, total/mean extracted chars) — the aggregation
    behind per-domain caps (C4's ≤N pages/domain) and blocklist
    decisions. One map-side-combinable groupBy on the domain key; the
    mean is a single IEEE division of two exact integer aggregates
    (then round 6), identical on both engines."""
    from mindocr_spark.functions.urls import domain_stats

    return domain_stats(_built_url_corpus(spark, sf_dir)).orderBy(
        "registered_domain"
    )


@query("domain_cap", family="curation", oracle=_bind_url_patterns(f"""
            WITH {_URL_ORACLE_CTE},
            ranked AS (
              SELECT doc_id, url, registered_domain,
                     row_number() OVER (PARTITION BY registered_domain
                                        ORDER BY url) AS domain_rank
              FROM canon)
            SELECT doc_id, url, registered_domain,
                   CAST(domain_rank AS INT) AS domain_rank
            FROM ranked WHERE domain_rank <= 3
            ORDER BY doc_id
        """))
def q_domain_cap(spark, sf_dir):
    """Per-domain page cap (C4's ≤N pages/domain anti-spam gate) over
    the shared URL-variant corpus: the `max_pages`
    lexicographically-smallest urls per registered domain survive,
    computed with the salted two-phase top-N (phase 1 ranks within
    (domain, url-hash salt) so a spam farm splits across tasks; phase
    2 re-ranks the bounded survivor set). The oracle is a single
    row_number over the domain — same selection, different physical
    strategy, which is exactly what the cross-engine check pins."""
    from mindocr_spark.functions.urls import domain_cap

    return domain_cap(
        _built_url_corpus(spark, sf_dir), max_pages=3,
    ).select(
        "doc_id", "url", "registered_domain", "domain_rank"
    ).orderBy("doc_id")


#: Blocklist for the blocklist_filter query — one high-volume
#: registrable domain and one ccTLD domain from the URL-variant corpus.
_BLOCKED_DOMAINS = ("example.com", "site1.co.uk")


# IN-list built by explicit join (a tuple repr would render a
# trailing comma for 1-element lists and break the SQL)
@query("blocklist_filter", family="curation", oracle=_bind_url_patterns(f"""
            WITH {_URL_ORACLE_CTE}
            SELECT doc_id, url FROM canon
            WHERE host NOT IN ({", ".join("'%s'" % d for d in _BLOCKED_DOMAINS)})
              AND registered_domain NOT IN ({", ".join("'%s'" % d for d in _BLOCKED_DOMAINS)})
            ORDER BY doc_id
        """))
def q_blocklist_filter(spark, sf_dir):
    """Domain-blocklist gate: broadcast LEFT ANTI joins of the page
    scan against a small blocked-domains relation, matching at exact
    normalized host AND at the registered domain (a domain-level entry
    like `example.com` blocks every subdomain under it; a
    hostname-level entry blocks that host exactly). The plan never
    shuffles the big side — the textbook broadcast case for a
    10^5-row list against a 10^12-page table. Oracle: NOT IN at both
    granularities over the same shared expressions."""
    from mindocr_spark.functions.urls import apply_blocklist

    blocked = spark.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "registered_domain string"
    )
    return apply_blocklist(
        _built_url_corpus(spark, sf_dir), blocked
    ).select("doc_id", "url").orderBy("doc_id")


@query("lang_id", family="text_quality", oracle=r"""
            WITH c AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(text), '[一-鿿]')) AS cjk,
                     len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it|for|was)\b')) AS en,
                     len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit|von|zu)\b')) AS de,
                     len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|y|de|que|en|un|una|por)\b')) AS es
              FROM documents)
            SELECT doc_id,
                   CASE WHEN cjk > 0 THEN 'zh'
                        WHEN greatest(en, de, es) = 0 THEN 'unknown'
                        WHEN en = greatest(en, de, es) THEN 'en'
                        WHEN de = greatest(en, de, es) THEN 'de'
                        ELSE 'es' END AS pred_lang
            FROM c ORDER BY doc_id
        """)
def q_lang_id(spark, sf_dir):
    from mindocr_spark.functions.text import lang_id_col

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", lang_id_col(F.lower(F.col("text"))).alias("pred_lang"))
        .orderBy("doc_id")
    )


#: lang_verify corpus device: per-language stopword tails (exactly the
#: STOPWORD_PROFILES word lists, space-joined) appended to each doc so
#: the declared tag has real function-word evidence; the rotation maps
#: each language to the WRONG tail planted on %9 docs.
_LV_TAILS = (
    ("de", "der die und nicht das ist"),
    ("en", "and of to is was for"),
    ("es", "el los que una con para de"),
    ("fr", "le et les des dans pour de"),
    ("zh", "的 了 是 我 不 在"),
)
_LV_ROT = (("de", "en"), ("en", "es"), ("es", "fr"), ("fr", "zh"),
           ("zh", "de"))


def _chain_case(src, pairs):
    """Chained WHEN over literal (key, value) pairs (NULL on no match)."""
    expr = None
    for k, v in pairs:
        expr = (F.when(src == k, F.lit(v)) if expr is None
                else expr.when(src == k, F.lit(v)))
    return expr


# token_fertility: same planted corpus + BPE pricing fold +
# per-lang integer sums and IEEE ratios in SQL
@query("token_fertility", family="tokenizers", oracle=r"""
            WITH built AS (
              SELECT coalesce(lang, 'und') AS lang,
                     text
                     || CASE WHEN doc_id % 6 = 0 THEN ' 12345 987'
                             ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN ' declarativepipelinesupremacy'
                             ELSE '' END AS text
              FROM documents),
            u AS (
              SELECT lang,
                     CAST(length(trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS BIGINT) AS nc,
                     regexp_extract_all(text, '__BPE_RE__') AS units
              FROM built),
            per AS (
              SELECT lang, nc,
                     CAST(len(list_filter(units,
                          x -> regexp_matches(x, '^[A-Za-z]')))
                       AS BIGINT) AS n_words,
                     CAST(COALESCE(list_aggregate(list_transform(units,
                          x -> CASE
                               WHEN regexp_matches(x, '^[A-Za-z]')
                                 THEN CAST(ceil(length(x) / 4) AS BIGINT)
                               WHEN regexp_matches(x, '^[0-9]')
                                 THEN CAST(length(x) AS BIGINT)
                               ELSE 1 END), 'sum'), 0) AS BIGINT)
                       AS n_bpe
              FROM u),
            agg AS (
              SELECT lang,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_words) AS BIGINT) AS n_words,
                     CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
                     CAST(sum(nc) AS BIGINT) AS n_chars
              FROM per GROUP BY lang)
            SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
                   round(CAST(n_bpe_tokens AS DOUBLE)
                         / CAST(nullif(n_words, 0) AS DOUBLE), 6)
                     AS fertility,
                   round(CAST(n_chars AS DOUBLE)
                         / CAST(nullif(n_bpe_tokens, 0) AS DOUBLE), 6)
                     AS chars_per_token
            FROM agg ORDER BY lang
        """.replace("__BPE_RE__", _BPE_PRETOKEN_RE.replace("'", "''")))
def q_token_fertility(spark, sf_dir):
    """Per-language tokenizer-fertility dataset-card table: digit
    chatter is planted on %6 docs (digits price per char — fertility
    rises) and a long agglutinative token on %11 docs (ceil(len/4)
    pricing) so the per-stratum ratios take distinct non-trivial
    values the oracle reproduces from exact integer sums."""
    from mindocr_spark.functions.text import token_fertility

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    did = F.col("doc_id")
    built = d.select(
        "lang",
        F.concat(
            F.col("text"),
            F.when(did % 6 == 0, F.lit(" 12345 987")).otherwise(F.lit("")),
            F.when(
                did % 11 == 0, F.lit(" declarativepipelinesupremacy")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return token_fertility(built).orderBy("lang")


# url_templates: same URL construction + digit generalization
# + (domain, template) rollup in SQL
@query("url_templates", oracle=r"""
            WITH u AS (
              SELECT source,
                     CASE WHEN doc_id % 5 = 0 THEN
                            'https://' || source || '.example/cal/2024/'
                            || CAST(doc_id % 12 + 1 AS VARCHAR) || '/'
                            || CAST(doc_id % 28 + 1 AS VARCHAR)
                            || '/event'
                          WHEN doc_id % 7 = 0 THEN
                            'https://' || source
                            || '.example/about/team'
                          ELSE 'https://' || source || '.example/blog/'
                            || CAST(doc_id % 199 AS VARCHAR)
                     END AS url
              FROM documents),
            p AS (
              SELECT source || '.example' AS registered_domain,
                     regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)',
                       1) AS path
              FROM u),
            t AS (
              SELECT registered_domain,
                     regexp_replace(path, '[0-9]+', 'N', 'g')
                       AS path_template,
                     path
              FROM p)
            SELECT registered_domain, path_template,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT path) AS BIGINT)
                     AS n_distinct_paths
            FROM t GROUP BY registered_domain, path_template
            ORDER BY registered_domain, path_template
        """)
def q_url_templates(spark, sf_dir):
    """Crawl-trap detection by URL path template: a calendar trap
    family (%5 docs, two digit segments), a static page (%7), and a
    blog family whose ids collide mod 199 (so n_urls > n_distinct
    paths — revisits of one URL vs distinct URLs under one template
    are different numbers and both are checked). The oracle rebuilds
    the URLs and the digit-generalization rule in SQL."""
    from mindocr_spark.functions.urls import url_template_stats

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pre = F.concat(F.lit("https://"), F.col("source"), F.lit(".example"))
    url = (
        F.when(
            did % 5 == 0,
            F.concat(
                pre, F.lit("/cal/2024/"),
                (F.pmod(did, F.lit(12)) + 1).cast("string"),
                F.lit("/"),
                (F.pmod(did, F.lit(28)) + 1).cast("string"),
                F.lit("/event"),
            ),
        )
        .when(did % 7 == 0, F.concat(pre, F.lit("/about/team")))
        .otherwise(
            F.concat(
                pre, F.lit("/blog/"),
                F.pmod(did, F.lit(199)).cast("string"),
            )
        )
    )
    return url_template_stats(d.select(url.alias("url"))).orderBy(
        "registered_domain", "path_template"
    )


# lang_verify: profiles / tails / rotation rendered from the
# SAME constants the Spark query compiles (_LV_TAILS, _LV_ROT,
# functions.text.STOPWORD_PROFILES) — corpus and tally drift
# is impossible by construction
@query("lang_verify", family="text_quality", oracle="""
            WITH prof(profile_lang, word) AS (VALUES __PROF__),
            tails(lang, tail) AS (VALUES __TAILS__),
            rot(lang, rlang) AS (VALUES __ROT__),
            built AS (
              -- LEFT joins + concat_ws: a doc whose lang is NULL or
              -- outside the profile set keeps its bare text (the
              -- Spark builder's NULL tail is skipped by concat_ws)
              SELECT d.doc_id, d.lang,
                     CASE WHEN d.doc_id % 11 = 0 THEN d.text
                          ELSE concat_ws(' ', d.text, tl.tail,
                                         tl.tail, tl.tail)
                     END AS text
              FROM documents d
              LEFT JOIN rot r ON r.lang = d.lang
              LEFT JOIN tails tl ON tl.lang =
                CASE WHEN d.doc_id % 9 = 0 THEN r.rlang ELSE d.lang END),
            tok AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS word
              FROM built),
            hits AS (
              SELECT doc_id, profile_lang, count(*) AS cnt
              FROM tok JOIN prof USING (word)
              GROUP BY doc_id, profile_lang),
            best AS (
              SELECT doc_id, min({'nc': -cnt, 'pl': profile_lang}) AS b
              FROM hits GROUP BY doc_id)
            SELECT d.doc_id, d.lang,
                   struct_extract(b.b, 'pl') AS profile_lang,
                   CAST(coalesce(-struct_extract(b.b, 'nc'), 0) AS BIGINT)
                     AS profile_hits,
                   CAST(struct_extract(b.b, 'pl') = d.lang AS BIGINT)
                     AS lang_match
            FROM built d LEFT JOIN best b USING (doc_id)
            ORDER BY doc_id
        """.replace("__PROF__", ", ".join(
            f"('{lg}', '{w}')"
            for lg, ws in _STOPWORD_PROFILES for w in ws
        )).replace("__TAILS__", ", ".join(
            f"('{lg}', '{tl}')" for lg, tl in _LV_TAILS
        )).replace("__ROT__", ", ".join(
            f"('{lg}', '{rl}')" for lg, rl in _LV_ROT
        )))
def q_lang_verify(spark, sf_dir):
    """Declared-language audit: stopword-profile hit counts vs the
    `lang` column (upstream lang tags come from HTTP headers and
    <html lang>, which lie). The word-soup corpus has no function
    words, so the query plants them: every doc gets its declared
    language's stopword tail ×3 — except %9 docs get the ROTATED
    (wrong) language's tail (planted mislabels the audit must catch)
    and %11 docs get no tail at all (zero evidence → NULL verdict,
    never a guess). The es/fr profiles share the genuine stopword
    'de', so fr-tailed docs credit BOTH profiles and the argmax +
    language-ascending tie rule is exercised. The oracle rebuilds the
    same corpus and tally from VALUES relations."""
    from mindocr_spark.functions.text import lang_verify_cols

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    lang = F.col("lang")
    tail_decl = _chain_case(lang, _LV_TAILS)
    tail_rot = _chain_case(_chain_case(lang, _LV_ROT), _LV_TAILS)
    tail = F.when(F.col("doc_id") % 9 == 0, tail_rot).otherwise(tail_decl)
    built = d.select(
        "doc_id", "lang",
        F.when(F.col("doc_id") % 11 == 0, F.col("text")).otherwise(
            F.concat_ws(" ", F.col("text"), tail, tail, tail)
        ).alias("text"),
    )
    # BIGINT verdict (1/0/NULL): a nullable BOOLEAN stringifies as
    # None vs nan across the engines' pandas bridges; ints don't
    return lang_verify_cols(built).withColumn(
        "lang_match", F.col("lang_match").cast("bigint")
    ).orderBy("doc_id")


@query("rec_metrics_pairs", oracle="""
            SELECT a.doc_id AS doc_id,
                   CAST(levenshtein(substr(a.text,1,40), substr(b.text,1,40)) AS BIGINT) AS lev,
                   CAST(CASE WHEN substr(a.text,1,40) = substr(b.text,1,40) THEN 1 ELSE 0 END AS BIGINT) AS exact,
                   round(1.0 - CAST(levenshtein(substr(a.text,1,40), substr(b.text,1,40)) AS DOUBLE)
                         / CAST(greatest(length(substr(a.text,1,40)), length(substr(b.text,1,40)), 1) AS DOUBLE),
                         6) AS norm_ed
            FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            ORDER BY doc_id
        """)
def q_rec_metrics_pairs(spark, sf_dir):
    """RecMetric: exact match + normalized Levenshtein over pred/label
    pairs (reference: mindocr/metrics/rec_metrics.py:11-152)."""
    from mindocr_spark.functions.text import rec_metrics

    d = _t(spark, sf_dir, "documents")
    a = d.select("doc_id", F.substring("text", 1, 40).alias("pred"))
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.substring("text", 1, 40).alias("label")
    )
    pairs = a.join(b, "doc_id")
    return (
        rec_metrics(pairs)
        .select(
            "doc_id",
            F.col("lev").cast("bigint").alias("lev"),
            F.col("exact").cast("bigint").alias("exact"),
            "norm_ed",
        )
        .orderBy("doc_id")
    )


@query("rolling_fingerprint", oracle="""
            WITH pos AS (
              SELECT doc_id, lower(text) AS t,
                     unnest(generate_series(1, greatest(length(text)-7, 0))) AS i
              FROM documents),
            g AS (SELECT doc_id, md5(substr(t, i, 8)) AS fp FROM pos)
            SELECT doc_id, COUNT(*) AS n_fp, min(fp) AS min_fp
            FROM g WHERE substr(fp,1,1) = '0'
            GROUP BY doc_id ORDER BY doc_id
        """)
def q_rolling_fingerprint(spark, sf_dir):
    """Winnowing-style content-defined fingerprint sample: md5 variant
    (engine-portable twin of functions.text.rolling_fingerprints)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.lower(F.col("text"))
    grams = (
        d.select("doc_id", norm.alias("_t"))
        # short-text guard: Spark's sequence(1, 0) is DESCENDING [1, 0]
        .where(F.length("_t") >= 8)
        .select(
            "doc_id", "_t",
            F.explode(F.sequence(F.lit(1), F.length("_t") - 7)).alias("i"),
        )
        .select("doc_id", F.md5(F.substring("_t", F.col("i"), 8).cast("binary")).alias("fp"))
    )
    return (
        grams.where(F.substring("fp", 1, 1) == "0")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_fp"), F.min("fp").alias("min_fp"))
        .orderBy("doc_id")
    )


# ==========================================================================
# Deduplication
# ==========================================================================


@query("exact_dedup", family="dedup", oracle=r"""
            WITH f AS (
              SELECT doc_id,
                     md5(lower(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')))) AS fingerprint
              FROM documents)
            SELECT doc_id, fingerprint,
                   COUNT(*) OVER (PARTITION BY fingerprint) AS cluster_size,
                   CAST(min(doc_id) OVER (PARTITION BY fingerprint) AS BIGINT) AS cluster_rep,
                   COUNT(*) OVER (PARTITION BY fingerprint) > 1 AS is_dup
            FROM f ORDER BY doc_id
        """)
def q_exact_dedup(spark, sf_dir):
    from mindocr_spark.functions.dedup import exact_dup_clusters

    return exact_dup_clusters(_t(spark, sf_dir, "documents")).orderBy("doc_id")


#: Shared boilerplate block for the paragraph-dedup corpus — ≥ 30 chars
#: so it participates in dedup; injected on every third doc so it has a
#: viral (many-occurrence) profile distinct from the pairwise
#: predecessor-text repeats.
_PARA_BOILERPLATE = ("subscribe to our newsletter for updates and "
                     "follow us on social media channels")


@query("paragraph_dedup", family="dedup", oracle=f"""
            WITH prev AS (
              SELECT doc_id + 1 AS doc_id, text AS prev_text
              FROM documents),
            built AS (
              SELECT d.doc_id,
                     concat_ws(chr(10), d.text, p.prev_text,
                               CASE WHEN d.doc_id % 3 = 0
                                    THEN '{_PARA_BOILERPLATE}' END) AS text
              FROM documents d LEFT JOIN prev p USING (doc_id)),
            lists AS (
              SELECT doc_id, string_split(text, chr(10)) AS ps FROM built),
            paras AS (
              SELECT doc_id,
                     CAST(generate_subscripts(ps, 1) - 1 AS BIGINT) AS ord,
                     unnest(ps) AS para
              FROM lists),
            keyed AS (
              SELECT doc_id, ord, para, md5(para) AS ph,
                     {{'i': doc_id, 'o': ord}} AS occ
              FROM paras),
            firsts AS (
              SELECT ph, min(occ) AS first_occ FROM keyed
              WHERE length(para) >= 30 GROUP BY ph),
            kept AS (
              SELECT k.doc_id, k.ord, k.para
              FROM keyed k LEFT JOIN firsts f USING (ph)
              WHERE length(k.para) < 30 OR k.occ = f.first_occ)
            SELECT b.doc_id,
                   coalesce(s.text, '') AS text
            FROM built b LEFT JOIN (
              SELECT doc_id, string_agg(para, chr(10) ORDER BY ord) AS text
              FROM kept GROUP BY doc_id) s USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_paragraph_dedup(spark, sf_dir):
    """Corpus-level exact paragraph dedup (the CCNet/C4 line-dedup
    family). Paragraph-structured docs are built IN-QUERY from the
    documents table — each doc = its own text ⊕ its predecessor's text
    ⊕ a shared boilerplate block on every third doc — so repeated
    paragraphs occur both pairwise (every predecessor text repeats
    once) and virally (the boilerplate repeats across a third of the
    corpus), and the first-occurrence-wins (min (id, ord)) rule is
    exercised across docs. The oracle rebuilds the same corpus and the
    same rule in SQL. reference: collect_node.py:72-99 (drop
    already-collected crops of a doc instead of re-emitting)."""
    from mindocr_spark.functions.dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prev = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("prev_text"),
    )
    built = docs.join(prev, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.col("prev_text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_PARA_BOILERPLATE)),
        ).alias("text"),
    )
    return paragraph_dedup(built, min_para_chars=30).orderBy("doc_id")


#: span_dedup's viral three-sentence block — planted on every third doc
#: so the C4 span rule has a many-occurrence family (first doc keeps
#: it, every other loses exactly those three sentences).
_SPAN_VIRAL = ("Alpha beta gamma. Delta epsilon zeta! Eta theta iota.")


# span_dedup: sentence tiling (the sentence_split device), span
# hashing with the same U+001F joiner, first-occurrence rule,
# covered-sentence removal — all recomputed in SQL
@query("span_dedup", family="dedup", oracle=r"""
            WITH base AS (
              SELECT doc_id, text, length(text) // 4 AS q
              FROM documents),
            parts AS (
              SELECT doc_id,
                     substr(text, 1, q) || '. '
                       || substr(text, q + 1, q) || '! '
                       || substr(text, 2 * q + 1, q) || '? '
                       || substr(text, 3 * q + 1, length(text) - 3 * q)
                       || '.' AS core,
                     substr(text, 1, q) || '. '
                       || substr(text, q + 1, q) || '! '
                       || substr(text, 2 * q + 1, q) || '?' AS head3
              FROM base),
            built AS (
              SELECT p.doc_id,
                     concat_ws(' ', p.core,
                       CASE WHEN p.doc_id % 4 = 1 THEN pr.head3 END,
                       CASE WHEN p.doc_id % 3 = 0 THEN '__VIRAL__' END)
                       AS text
              FROM parts p LEFT JOIN (
                SELECT doc_id + 1 AS doc_id, head3 FROM parts) pr
                USING (doc_id)),
            segs AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(text, '__PAT__', 1)) AS raw,
                     generate_subscripts(
                       regexp_extract_all(text, '__PAT__', 1), 1) AS si
              FROM built),
            snt AS (
              SELECT doc_id, si,
                     regexp_replace(raw,
                       '^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$',
                       '', 'g') AS sentence
              FROM segs),
            ranked AS (
              SELECT doc_id,
                     row_number() OVER (
                       PARTITION BY doc_id ORDER BY si) AS rn,
                     sentence
              FROM snt WHERE sentence <> ''),
            spans AS (
              SELECT doc_id, rn,
                     md5(sentence || chr(31)
                         || lead(sentence, 1) OVER w || chr(31)
                         || lead(sentence, 2) OVER w) AS sh,
                     lead(sentence, 2) OVER w IS NOT NULL AS isfull,
                     {'i': doc_id, 'o': rn} AS occ
              FROM ranked WINDOW w AS (
                PARTITION BY doc_id ORDER BY rn)),
            fullspans AS (
              SELECT doc_id, rn, sh, occ FROM spans WHERE isfull),
            firsts AS (
              SELECT sh, min(occ) AS first_occ
              FROM fullspans GROUP BY sh),
            dups AS (
              SELECT o.doc_id, o.rn
              FROM fullspans o JOIN firsts f USING (sh)
              WHERE o.occ <> f.first_occ),
            covered AS (
              SELECT DISTINCT doc_id, rn FROM (
                SELECT doc_id,
                       unnest(generate_series(rn, rn + 2)) AS rn
                FROM dups)),
            kept AS (
              SELECT r.doc_id, r.rn, r.sentence
              FROM ranked r ANTI JOIN covered c
                ON r.doc_id = c.doc_id AND r.rn = c.rn),
            tot AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents
              FROM ranked GROUP BY doc_id),
            reb AS (
              SELECT doc_id,
                     string_agg(sentence, ' ' ORDER BY rn) AS text,
                     count(*) AS kept_n
              FROM kept GROUP BY doc_id)
            SELECT b.doc_id,
                   coalesce(r.text, '') AS text,
                   CAST(coalesce(t.n_sents, 0) AS BIGINT) AS n_sents,
                   CAST(coalesce(t.n_sents, 0) - coalesce(r.kept_n, 0)
                        AS BIGINT) AS n_removed
            FROM built b
            LEFT JOIN tot t USING (doc_id)
            LEFT JOIN reb r USING (doc_id)
            ORDER BY b.doc_id
        """.replace("__PAT__", _SENTENCE_RE).replace(
            "__VIRAL__", _SPAN_VIRAL))
def q_span_dedup(spark, sf_dir):
    """C4's three-sentence-span dedup over a sentence-tiled corpus:
    each doc's quarters become four terminated sentences; %4==1 docs
    additionally quote the FIRST THREE sentences of their predecessor
    (a pairwise duplicated span — the quoting doc must lose it, the
    quoted doc must keep it), and %3==0 docs append the shared viral
    block (kept only in the min-id doc). The oracle rebuilds corpus,
    segmentation, span hashing, first-occurrence rule, and the
    covered-sentence removal in SQL."""
    from mindocr_spark.functions.dedup import span_dedup

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("q", F.expr("length(text) div 4"))
    )
    base = d.select(
        "doc_id",
        F.concat(
            F.expr("substr(text, 1, q)"), F.lit(". "),
            F.expr("substr(text, q + 1, q)"), F.lit("! "),
            F.expr("substr(text, 2 * q + 1, q)"), F.lit("? "),
            F.expr("substr(text, 3 * q + 1, length(text) - 3 * q)"),
            F.lit("."),
        ).alias("core"),
        F.concat(
            F.expr("substr(text, 1, q)"), F.lit(". "),
            F.expr("substr(text, q + 1, q)"), F.lit("! "),
            F.expr("substr(text, 2 * q + 1, q)"), F.lit("?"),
        ).alias("head3"),
    )
    prev = base.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("head3").alias("prev_head"),
    )
    built = base.join(prev, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("core"),
            F.when(F.col("doc_id") % 4 == 1, F.col("prev_head")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_SPAN_VIRAL)),
        ).alias("text"),
    )
    return span_dedup(built, n=3).orderBy("doc_id")


# paragraph corpus + in-doc repeats; the rule narrows to
# first-occurrence-per-(doc, line)
@query("within_doc_dedup", family="dedup", oracle=f"""
            WITH prev AS (
              SELECT doc_id + 1 AS doc_id, text AS prev_text
              FROM documents),
            built AS (
              SELECT d.doc_id,
                     concat_ws(chr(10), d.text, p.prev_text,
                               CASE WHEN d.doc_id % 3 = 0
                                    THEN '{_PARA_BOILERPLATE}' END,
                               d.text,
                               CASE WHEN d.doc_id % 6 = 0
                                    THEN '{_PARA_BOILERPLATE}' END) AS text
              FROM documents d LEFT JOIN prev p USING (doc_id)),
            lists AS (
              SELECT doc_id, string_split(text, chr(10)) AS ps FROM built),
            paras AS (
              SELECT doc_id,
                     CAST(generate_subscripts(ps, 1) - 1 AS BIGINT) AS ord,
                     unnest(ps) AS para
              FROM lists),
            keyed AS (
              SELECT doc_id, ord, para, md5(para) AS ph FROM paras),
            firsts AS (
              SELECT doc_id, ph, min(ord) AS first_ord FROM keyed
              WHERE length(para) >= 30 GROUP BY doc_id, ph),
            kept AS (
              SELECT k.doc_id, k.ord, k.para
              FROM keyed k LEFT JOIN firsts f USING (doc_id, ph)
              WHERE length(k.para) < 30 OR k.ord = f.first_ord)
            SELECT b.doc_id,
                   coalesce(s.text, '') AS text
            FROM built b LEFT JOIN (
              SELECT doc_id, string_agg(para, chr(10) ORDER BY ord) AS text
              FROM kept GROUP BY doc_id) s USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_within_doc_dedup(spark, sf_dir):
    """WITHIN-doc repeated-line removal, contrasted on the same corpus
    family as paragraph_dedup: each doc = its text ⊕ its predecessor's
    text ⊕ (on %3 docs) the shared boilerplate ⊕ its text AGAIN ⊕ (on
    %6 docs) the boilerplate AGAIN. The page-local rule drops the
    second in-doc copy of the text line and the second in-doc
    boilerplate copy, but KEEPS one boilerplate line in every %3 doc —
    exactly where the corpus-level rule keeps it in only the first doc.
    Oracle: same corpus, first-ord-per-(doc, line) rule in SQL."""
    from mindocr_spark.functions.dedup import within_doc_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prev = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("prev_text"),
    )
    built = docs.join(prev, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.col("prev_text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_PARA_BOILERPLATE)),
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0, F.lit(_PARA_BOILERPLATE)),
        ).alias("text"),
    )
    return within_doc_dedup(built, min_para_chars=30).orderBy("doc_id")


# same corpus as paragraph_dedup; the rule flips from
# first-occurrence-wins to df-threshold purge
@query("boilerplate_purge", oracle=f"""
            WITH prev AS (
              SELECT doc_id + 1 AS doc_id, text AS prev_text
              FROM documents),
            built AS (
              SELECT d.doc_id,
                     concat_ws(chr(10), d.text, p.prev_text,
                               CASE WHEN d.doc_id % 3 = 0
                                    THEN '{_PARA_BOILERPLATE}' END) AS text
              FROM documents d LEFT JOIN prev p USING (doc_id)),
            lists AS (
              SELECT doc_id, string_split(text, chr(10)) AS ps FROM built),
            paras AS (
              SELECT doc_id,
                     CAST(generate_subscripts(ps, 1) - 1 AS BIGINT) AS ord,
                     unnest(ps) AS para
              FROM lists),
            keyed AS (
              SELECT doc_id, ord, para, md5(para) AS ph FROM paras),
            dfreq AS (
              SELECT ph, count(DISTINCT doc_id) AS line_df FROM keyed
              WHERE length(para) >= 30 GROUP BY ph),
            kept AS (
              SELECT k.doc_id, k.ord, k.para
              FROM keyed k LEFT JOIN dfreq f USING (ph)
              WHERE length(k.para) < 30 OR f.line_df <= 2)
            SELECT b.doc_id,
                   coalesce(s.text, '') AS text
            FROM built b LEFT JOIN (
              SELECT doc_id, string_agg(para, chr(10) ORDER BY ord) AS text
              FROM kept GROUP BY doc_id) s USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_boilerplate_purge(spark, sf_dir):
    """Global line-frequency boilerplate removal (the Dolma/CCNet
    complement of paragraph dedup: a line in MORE than max_df distinct
    docs is removed EVERYWHERE, first occurrence included). Same
    paragraph corpus as `paragraph_dedup` — so the two rules are
    directly contrasted on identical input: the viral boilerplate
    block (df ≈ n/3) is purged from every doc here but keeps its first
    occurrence there, while the pairwise predecessor repeats (df = 2)
    survive the purge but lose their second occurrence there. The
    oracle recomputes the df rule with count(DISTINCT doc_id) in
    SQL."""
    from mindocr_spark.functions.dedup import boilerplate_purge

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prev = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("prev_text"),
    )
    built = docs.join(prev, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.col("prev_text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_PARA_BOILERPLATE)),
        ).alias("text"),
    )
    return boilerplate_purge(
        built, max_df=2, min_line_chars=30
    ).orderBy("doc_id")


@query("ngram_jaccard", family="dedup", oracle=r"""
            WITH w AS (
              SELECT doc_id, unnest(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ')) AS word,
                     generate_subscripts(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '), 1) AS pos
              FROM documents),
            sh0 AS (
              SELECT doc_id,
                     word || ' ' || lead(word,1) OVER (PARTITION BY doc_id ORDER BY pos)
                          || ' ' || lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
                     lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
              FROM w),
            sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l2 IS NOT NULL),
            sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            -- the production df-cap, mirrored: shingles in > 10000 docs
            -- are excluded from the pair join (sizes stay uncapped)
            joinable AS (
              SELECT doc_id, shingle FROM sh
              WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= 10000)),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
              FROM joinable a JOIN joinable b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT id_a, id_b, n_inter, x.n AS n_a, y.n AS n_b,
                   round(CAST(n_inter AS DOUBLE) / CAST(x.n + y.n - n_inter AS DOUBLE), 6) AS jaccard
            FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
            WHERE round(CAST(n_inter AS DOUBLE) / CAST(x.n + y.n - n_inter AS DOUBLE), 6) >= 0.1
            ORDER BY id_a, id_b
        """)
def q_ngram_jaccard(spark, sf_dir):
    """Exact shingle-Jaccard verification pairs, with the production
    df-cap (max_shingle_freq) passed EXPLICITLY and mirrored in the SQL
    oracle's HAVING clause — the verified and production configurations
    are the same plan, cap included."""
    from mindocr_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.1,
        max_shingle_freq=10_000,
    ).orderBy("id_a", "id_b")


# twin of dedup.prefix_filter_pairs — deliberately the NAIVE
# uncapped brute-force shingle self-join: equality proves the
# prefix filter is lossless (a provable candidate superset)
@query("prefix_filter", family="dedup", oracle=r"""
            WITH w AS (
              SELECT doc_id, unnest(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ')) AS word,
                     generate_subscripts(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '), 1) AS pos
              FROM documents),
            sh0 AS (
              SELECT doc_id,
                     word || ' ' || lead(word,1) OVER (PARTITION BY doc_id ORDER BY pos)
                          || ' ' || lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
                     lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
              FROM w),
            sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l2 IS NOT NULL),
            sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS n_inter
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT id_a, id_b, n_inter, x.n AS n_a, y.n AS n_b,
                   round(CAST(n_inter AS DOUBLE) / CAST(x.n + y.n - n_inter AS DOUBLE), 6) AS jaccard
            FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
            WHERE round(CAST(n_inter AS DOUBLE) / CAST(x.n + y.n - n_inter AS DOUBLE), 6) >= 0.35
            ORDER BY id_a, id_b
        """)
def q_prefix_filter(spark, sf_dir):
    """Exact all-pairs Jaccard via PPJoin prefix filtering — NO
    df-cap: each doc joins only on its (1-tau)|d|+1 rarest shingles
    (integer-exact prefix length and length filter), then exact
    verification. The oracle is the NAIVE uncapped brute-force
    self-join, so equality proves the filter drops nothing
    (functions/dedup.prefix_filter_pairs)."""
    from mindocr_spark.functions.dedup import prefix_filter_pairs

    return prefix_filter_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.35
    ).orderBy("id_a", "id_b")


# excerpt corpus rebuilt exactly (DuckDB list slice is 1-based
# inclusive = Spark slice(x, 1, n)); then the ngram_jaccard
# shingle CTEs over the union, fanned out to both directions
@query("containment", family="dedup", oracle=r"""
            WITH base AS (SELECT doc_id, text FROM documents),
            t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ') AS toks
              FROM documents WHERE doc_id % 7 = 0),
            ex AS (
              SELECT doc_id + 1000000 AS doc_id,
                     array_to_string(toks[1:greatest(len(toks)//2, 3)], ' ') AS text
              FROM t),
            corpus AS (SELECT * FROM base UNION ALL SELECT * FROM ex),
            w AS (
              SELECT doc_id, unnest(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ')) AS word,
                     generate_subscripts(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '), 1) AS pos
              FROM corpus),
            sh0 AS (
              SELECT doc_id,
                     word || ' ' || lead(word,1) OVER (PARTITION BY doc_id ORDER BY pos)
                          || ' ' || lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
                     lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
              FROM w),
            sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l2 IS NOT NULL),
            sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            joinable AS (
              SELECT doc_id, shingle FROM sh
              WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= 10000)),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
              FROM joinable a JOIN joinable b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            both_dirs AS (
              SELECT id_a AS sub_id, id_b AS sup_id, n_inter,
                     x.n AS n_sub, y.n AS n_sup
              FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
              UNION ALL
              SELECT id_b AS sub_id, id_a AS sup_id, n_inter,
                     y.n AS n_sub, x.n AS n_sup
              FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id)
            SELECT sub_id, sup_id, n_inter, n_sub, n_sup,
                   round(CAST(n_inter AS DOUBLE) / CAST(n_sub AS DOUBLE), 6) AS containment
            FROM both_dirs
            WHERE round(CAST(n_inter AS DOUBLE) / CAST(n_sub AS DOUBLE), 6) >= 0.8
            ORDER BY sub_id, sup_id
        """)
def q_containment(spark, sf_dir):
    """Directional containment near-dup pairs (Broder containment, the
    excerpt/quote-page complement of Jaccard): every 7th document gets a
    planted prefix EXCERPT (first half of its words, doc_id + 1_000_000)
    unioned into the corpus; excerpt→parent containment is exactly 1.0
    (a prefix's shingle set is a subset of its parent's) while the same
    pair's Jaccard is ≈ 0.5 — invisible to `ngram_jaccard` at high
    thresholds. Same df-capped shingle self-join plan as the Jaccard
    verifier; the direction fan-out is 2× the verified-pair count only.
    The oracle rebuilds the excerpt corpus and both directions exactly.
    reference: deploy/py_infer/src/data_process/utils/constants.py-style
    crop-inside-region subsumption, lifted to corpus scale."""
    from mindocr_spark.functions.dedup import containment_pairs
    from mindocr_spark.functions.text import tokens_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens_col("text")
    n_take = F.greatest(
        F.floor(F.size(toks) / F.lit(2)), F.lit(3)
    ).cast("int")
    excerpts = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.array_join(F.slice(toks, F.lit(1), n_take), " ").alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    return containment_pairs(
        corpus, k=3, threshold=0.8, max_shingle_freq=10_000,
    ).orderBy("sub_id", "sup_id")


# tokens mirror the ngram_jaccard `w` CTE; 13-shingles built
# with DuckDB list functions (1-based inclusive slices)
@query("decontaminate", family="dedup", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ') AS toks
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, shingle
              FROM (SELECT doc_id, unnest(list_transform(
                      generate_series(1, greatest(len(toks) - 12, 0)),
                      i -> array_to_string(toks[i:i+12], ' '))) AS shingle
                    FROM t)),
            bench AS (
              SELECT DISTINCT shingle FROM sh WHERE doc_id % 11 = 0),
            hits AS (
              SELECT s.doc_id, COUNT(*) AS n
              FROM sh s JOIN bench USING (shingle)
              GROUP BY s.doc_id)
            SELECT d.doc_id,
                   COALESCE(n, 0) AS n_contaminated_shingles,
                   (COALESCE(n, 0) >= 1) AS is_contaminated
            FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
            ORDER BY d.doc_id
        """)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (the GPT-3-style 13-gram collision
    check): every 11th document's text plays the EVAL BENCHMARK; any
    training doc sharing a distinct 13-word-shingle with any benchmark
    item is flagged contaminated. The benchmark shingle set is
    broadcast — the corpus side never shuffles for the probe (plan
    pinned by pytest); the only exchange is the per-doc hit count.
    The oracle rebuilds both shingle sets with DuckDB list functions
    and intersects them exactly."""
    from mindocr_spark.functions.dedup import decontaminate_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    benchmark = docs.where(F.col("doc_id") % 11 == 0).select("text")
    return decontaminate_flags(
        docs, benchmark, k=13,
    ).orderBy("doc_id")


# same edge CTEs as ngram_jaccard (threshold 0.1), then
# transitive closure as a recursive CTE: from (v,v) seeds,
# propagate a label c across an edge to y whenever c < y — the
# component min (smaller than every member) reaches every node,
# and min(comp) per node is exactly the Spark min-label
# propagation fixpoint.
@query("dup_components", family="dedup", oracle=r"""
            WITH RECURSIVE w AS (
              SELECT doc_id, unnest(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ')) AS word,
                     generate_subscripts(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '), 1) AS pos
              FROM documents),
            sh0 AS (
              SELECT doc_id,
                     word || ' ' || lead(word,1) OVER (PARTITION BY doc_id ORDER BY pos)
                          || ' ' || lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
                     lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
              FROM w),
            sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l2 IS NOT NULL),
            sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            joinable AS (
              SELECT doc_id, shingle FROM sh
              WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= 10000)),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
              FROM joinable a JOIN joinable b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            pairs AS (
              SELECT id_a, id_b
              FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
              WHERE round(CAST(n_inter AS DOUBLE) / CAST(x.n + y.n - n_inter AS DOUBLE), 6) >= 0.1),
            sym AS (
              SELECT id_a AS src, id_b AS dst FROM pairs WHERE id_a <> id_b
              UNION SELECT id_b, id_a FROM pairs WHERE id_a <> id_b),
            cc(id, comp) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT s.dst, c.comp FROM cc c JOIN sym s ON s.src = c.id
              WHERE c.comp < s.dst),
            lab AS (SELECT id AS doc_id, min(comp) AS component FROM cc GROUP BY id),
            szc AS (SELECT component, COUNT(*) AS cluster_size FROM lab GROUP BY component)
            SELECT doc_id, component, cluster_size
            FROM lab JOIN szc USING (component)
            ORDER BY doc_id
        """)
def q_dup_components(spark, sf_dir):
    """Transitive duplicate clusters: connected components over the
    exact shingle-Jaccard pair graph (threshold 0.1 — same edges as
    `ngram_jaccard`), labelling every document with the min doc_id
    reachable through any chain of near-dup pairs plus its cluster
    size. This is the transitive-closure step production LLM dedup
    runs over candidate pairs (RefinedWeb/SlimPajama style); at sf0.01
    the graph has 476 components with clusters up to size 3, so the
    closure is genuinely exercised. The oracle recomputes the same
    labels with a recursive CTE (min-label reachability), which is
    exact because min-propagation is deterministic. EAGER: label
    propagation is iterative (one Spark job per pass until converged).
    reference: collect_node.py:72-99 (fold per-crop results to one
    canonical per-image representative)."""
    from mindocr_spark.functions.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, k=3, threshold=0.1, max_shingle_freq=10_000,
    )
    comp = connected_components(
        pairs, vertices=docs.select("doc_id"), id_col="doc_id",
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias("doc_id"), "component", "cluster_size"
        )
        .orderBy("doc_id")
    )


@query("minhash_lsh", family="dedup", oracle=f"""
            WITH {_MINHASH_MD5_CTES}
            SELECT id_a, id_b FROM est
            WHERE round(CAST(n_match AS DOUBLE) / 32.0, 6) >= 0.35
            ORDER BY id_a, id_b
        """)
def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidate PAIRS from the xxhash64 scale
    path. STATISTICAL cross-check, not an exact oracle: the xxhash64
    signatures have no SQL twin, so the pair SET is compared against
    the engine-portable md5 family computed in DuckDB. To make the two
    families differ ONLY in their hash function, every structural
    parameter is aligned — n_perm=32, bands=8 (r=4 rows/band, so the
    same band-collision probability curve) and the same quantized
    cutoff n_match ≥ ceil(0.35·32) = 12 matching permutations.
    Assumption (holds on this synthetic corpus at every SF): no pair's
    true Jaccard falls close enough to the collision threshold for two
    equally-parameterized independent hash families to disagree. The
    production 64/16 configuration is covered by tests/test_dedup.py.
    """
    from mindocr_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_perm=32, bands=8, threshold=0.35
    ).select("id_a", "id_b").orderBy("id_a", "id_b")


@query("minhash_lsh_md5", family="dedup", oracle=f"""
            WITH {_MINHASH_MD5_CTES}
            SELECT id_a, id_b, CAST(n_match AS BIGINT) AS n_match,
                   round(CAST(n_match AS DOUBLE) / 32.0, 6) AS est_jaccard
            FROM est
            WHERE round(CAST(n_match AS DOUBLE) / 32.0, 6) >= 0.35
            ORDER BY id_a, id_b
        """)
def q_minhash_lsh_md5(spark, sf_dir):
    """Engine-portable MinHash+LSH (md5 string-hash family) — the
    oracle-checked twin of the xxhash64 scale path."""
    from mindocr_spark.functions.dedup import minhash_lsh_pairs_md5

    return minhash_lsh_pairs_md5(
        _t(spark, sf_dir, "documents"), threshold=0.35
    ).select(
        "id_a", "id_b", F.col("n_match").cast("bigint").alias("n_match"),
        "est_jaccard",
    ).orderBy("id_a", "id_b")


@query("lsh_quality", family="similarity", oracle=f"""
            WITH lsamp AS (
              SELECT doc_id, text FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    IN ('0','1','2')),
            lbase AS (SELECT doc_id, text FROM lsamp),
            ltk AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(text,'[ \\t\\n\\r\\f\\x0B]+',' ','g')),' ') AS toks
              FROM lsamp WHERE doc_id % 3 = 0),
            lvar AS (
              SELECT doc_id + 1000000 AS doc_id,
                     array_to_string(
                       toks[1:greatest(5,
                         (len(toks) * (doc_id % 4 + 2)) // 6)], ' ')
                       AS text
              FROM ltk),
            lcorpus AS (SELECT * FROM lbase UNION ALL SELECT * FROM lvar),
            perms AS (SELECT CAST(range AS INT) AS perm FROM range(32)),
            {_md5_sig_ctes("lcorpus")},
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM banded x JOIN banded y USING (band, bucket)
              WHERE x.doc_id < y.doc_id),
            jsz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            joinable AS (
              SELECT doc_id, shingle FROM sh
              WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= 10000)),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
              FROM joinable a JOIN joinable b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            exact AS (
              SELECT id_a, id_b,
                     round(CAST(n_inter AS DOUBLE)
                           / CAST(x.n + y.n - n_inter AS DOUBLE), 6)
                       AS jaccard
              FROM inter JOIN jsz x ON id_a = x.doc_id
                         JOIN jsz y ON id_b = y.doc_id),
            j AS (
              SELECT CAST(floor(e.jaccard * 5) AS INT) AS bucket,
                     (c.id_a IS NOT NULL) AS hit
              FROM exact e LEFT JOIN cand c
                ON e.id_a = c.id_a AND e.id_b = c.id_b)
            SELECT bucket,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_caught,
                   round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END)
                              AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 6) AS recall
            FROM j GROUP BY bucket ORDER BY bucket
        """)
def q_lsh_quality(spark, sf_dir):
    """LSH tuning audit — the recall S-curve: exact shingle-Jaccard
    ground truth (threshold 0: every sharing pair) left-joined against
    the banded MinHash candidate set, bucketed by Jaccard quintile →
    (bucket, n_pairs, n_caught, recall). Low buckets' caught-rate IS
    the banding false-positive burden; high buckets' recall is the
    guarantee being paid for — the standard way to pick (n_perm,
    bands) before a 100 TB run. At production scale the exact side
    runs on a corpus SAMPLE (it is the verification-stage cost); the
    composition and arithmetic are identical."""
    from mindocr_spark.functions.dedup import (
        minhash_lsh_pairs_md5,
        ngram_jaccard_pairs,
    )
    from mindocr_spark.functions.text import tokens_col

    # the audit runs on a DETERMINISTIC md5 SAMPLE (3/16 of docs) —
    # the exact side's pair join is quadratic in corpus size, and the
    # production posture (docstring) is sample-then-audit; sampling
    # by content hash keeps the oracle exact
    base = (
        _t(spark, sf_dir, "documents")
        .where(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")),
                1, 1,
            ).isin("0", "1", "2")
        )
        .select("doc_id", "text")
    )
    # graded-overlap variants (%3 docs, prefix fraction 2/6..5/6) so
    # the curve's MIDDLE buckets are populated, not just the extremes
    tk = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        "doc_id", tokens_col("text").alias("toks")
    )
    variants = tk.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(
                F.col("toks"),
                F.lit(1),
                F.expr(
                    "greatest(5, (size(toks) * (doc_id % 4 + 2)) div 6)"
                ).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    docs = base.unionByName(variants)
    exact = ngram_jaccard_pairs(docs, threshold=0.0)
    cand = minhash_lsh_pairs_md5(docs, threshold=0.0).select(
        "id_a", "id_b", F.lit(True).alias("hit")
    )
    j = exact.join(cand, ["id_a", "id_b"], "left").select(
        F.floor(F.col("jaccard") * 5).cast("int").alias("bucket"),
        F.coalesce("hit", F.lit(False)).alias("hit"),
    )
    return (
        j.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("hit").cast("int")).cast("bigint")
            .alias("n_caught"),
            F.round(
                F.sum(F.col("hit").cast("int")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("bucket")
    )


def _leakage_variant_docs(spark, sf_dir):
    """SHARED syndication-leak corpus family: the base documents plus
    every %3 doc republished at 5/6-prefix length under a DIFFERENT
    source ('mir-'+source) — one construction feeding both audits
    built on it (q_leakage_audit, q_mirror_detect), so a future tuning
    of the prefix rule can never drift between them."""
    from mindocr_spark.functions.text import tokens_col

    base = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    tk = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        "doc_id", tokens_col("text").alias("toks"), "source"
    )
    variants = tk.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(
                F.col("toks"), F.lit(1),
                F.expr("greatest(5, (size(toks) * 5) div 6)")
                .cast("int"),
            ),
            " ",
        ).alias("text"),
        F.concat(F.lit("mir-"), F.col("source")).alias("source"),
    )
    return base.unionByName(variants)


#: SHARED twin of `_leakage_variant_docs` (the syndication-leak corpus
#: family) — one rendering feeds both audits built on it
#: (leakage_audit, mirror_detect), mirroring the Spark-side sharing.
_LEAKAGE_CORPUS_CTES = r"""lbase AS (SELECT doc_id, text, source FROM documents),
        ltk AS (
          SELECT doc_id, source,
                 string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ') AS toks
          FROM documents WHERE doc_id % 3 = 0),
        lvar AS (
          SELECT doc_id + 1000000 AS doc_id,
                 array_to_string(
                   toks[1:greatest(5, (len(toks) * 5) // 6)], ' ')
                   AS text,
                 'mir-' || source AS source
          FROM ltk),
        lcorpus AS (SELECT * FROM lbase UNION ALL SELECT * FROM lvar)"""


def _leakage_pairs_ctes(threshold: str = "0.35") -> str:
    """SHARED banded md5-MinHash pair chain over `lcorpus` (perms →
    signatures → band buckets → estimate → thresholded `dpairs`) —
    the same rendering for every audit that consumes the pair set."""
    return f"""perms AS (SELECT CAST(range AS INT) AS perm FROM range(32)),
        {_md5_sig_ctes("lcorpus")},
        cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM banded x JOIN banded y USING (band, bucket)
          WHERE x.doc_id < y.doc_id),
        est AS (
          SELECT id_a, id_b,
                 SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END)
                   AS n_match
          FROM cand
          JOIN sig a ON a.doc_id = id_a
          JOIN sig b ON b.doc_id = id_b AND b.perm = a.perm
          GROUP BY id_a, id_b),
        dpairs AS (
          SELECT id_a, id_b FROM est
          WHERE round(CAST(n_match AS DOUBLE) / 32.0, 6)
                  >= {threshold})"""


def _leakage_audit_oracle() -> str:
    """Twin: the SHARED variant corpus + md5-banding chain, the
    md5-prefix split thresholds (rendered by the SAME
    hash_sample_threshold the engine uses), and the pair-label
    rollup."""
    from mindocr_spark.functions.text import hash_sample_threshold

    t1 = hash_sample_threshold(0.5)
    t2 = hash_sample_threshold(0.75)
    return f"""
        WITH {_LEAKAGE_CORPUS_CTES},
        tagged AS (
          SELECT doc_id,
                 CASE WHEN substr(md5(source), 1, 8) < '{t1}'
                      THEN 'train'
                      WHEN substr(md5(source), 1, 8) < '{t2}'
                      THEN 'val'
                      ELSE 'test' END AS split
          FROM lcorpus),
        {_leakage_pairs_ctes()},
        lab AS (
          SELECT least(ta.split, tb.split) || '|'
                   || greatest(ta.split, tb.split) AS splits,
                 ta.split != tb.split AS crossing
          FROM dpairs
          JOIN tagged ta ON ta.doc_id = id_a
          JOIN tagged tb ON tb.doc_id = id_b)
        SELECT splits, CAST(count(*) AS BIGINT) AS n_pairs, crossing
        FROM lab GROUP BY splits, crossing ORDER BY splits
    """


# LSH recall S-curve: the md5 banding CTEs (shared constant)
# composed with the exact shingle-Jaccard chain at threshold 0,
# bucketed by quintile — the df-cap mirrored as in ngram_jaccard
@query("leakage_audit", family="dedup", oracle=_leakage_audit_oracle())
def q_leakage_audit(spark, sf_dir):
    """Eval-hygiene audit: count near-duplicate pairs CROSSING the
    train/val/test boundary — the contamination a page-grain split
    would bake into every benchmark number. The corpus plants the
    classic syndication leak (%3 docs republished at 5/6-prefix
    length under a DIFFERENT source, so domain-grouped splitting
    cannot co-locate them); near-dup pairs come from the banded
    md5-MinHash family at threshold 0.35; output is one row per
    unordered split pair (splits, n_pairs, crossing). A non-zero
    crossing row is the audit firing."""
    from mindocr_spark.functions.dedup import minhash_lsh_pairs_md5
    from mindocr_spark.functions.text import grouped_split

    docs = _leakage_variant_docs(spark, sf_dir)
    splits = (("train", 0.5), ("val", 0.25), ("test", 0.25))
    tagged = grouped_split(docs, "source", splits=splits).select(
        "doc_id", "split"
    )
    pairs = minhash_lsh_pairs_md5(docs, threshold=0.35).select(
        "id_a", "id_b"
    )
    lab = (
        pairs.join(tagged.select(F.col("doc_id").alias("id_a"),
                                 F.col("split").alias("split_a")), "id_a")
        .join(tagged.select(F.col("doc_id").alias("id_b"),
                            F.col("split").alias("split_b")), "id_b")
        .select(
            F.concat_ws(
                "|",
                F.least("split_a", "split_b"),
                F.greatest("split_a", "split_b"),
            ).alias("splits"),
            (F.col("split_a") != F.col("split_b")).alias("crossing"),
        )
    )
    return (
        lab.groupBy("splits", "crossing")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select("splits", "n_pairs", "crossing")
        .orderBy("splits")
    )


def _retrieval_eval_oracle(k: int = 5) -> str:
    """Twin of q_retrieval_eval: the SHARED _bm25_oracle_ctes chain +
    the conjunctive relevance label + literal-weight DCG fold and
    literal prefix-sum IDCG (rendered from the same ndcg_weights)."""
    from mindocr_spark.functions.search import ndcg_weights

    w, cum = ndcg_weights(k)
    w_rows = ", ".join(
        f"({d}, CAST('{x!r}' AS DOUBLE))" for d, x in w
    )
    cum_case = " ".join(
        f"WHEN {i + 1} THEN CAST('{c!r}' AS DOUBLE)"
        for i, c in enumerate(cum)
    )
    return "WITH " + _bm25_oracle_ctes() + f""",
        topk AS (
          SELECT query_id, doc_id, rank FROM rk WHERE rank <= {k}),
        nterms AS (
          SELECT query_id, count(DISTINCT term) AS nt
          FROM qt GROUP BY query_id),
        m AS (
          SELECT DISTINCT doc_id, term FROM base
          JOIN (SELECT DISTINCT term FROM qt) USING (term)),
        rel AS (
          SELECT q.query_id, m.doc_id
          FROM m
          JOIN qt q USING (term)
          JOIN nterms n ON n.query_id = q.query_id
          GROUP BY q.query_id, m.doc_id, n.nt
          HAVING count(DISTINCT term) = n.nt),
        relq AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
          FROM rel GROUP BY query_id),
        depths(rnk, w) AS (VALUES {w_rows}),
        hq AS (
          SELECT t.query_id,
                 CAST(count(*) AS BIGINT) AS hits_k,
                 CAST(min(t.rank) AS BIGINT) AS first_rank,
                 COALESCE(list_reduce(list(d.w ORDER BY t.rank),
                                      (a, b) -> a + b),
                          CAST(0.0 AS DOUBLE)) AS dcg
          FROM topk t
          JOIN rel r ON r.query_id = t.query_id
                    AND r.doc_id = t.doc_id
          JOIN depths d ON d.rnk = t.rank
          GROUP BY t.query_id),
        qids AS (SELECT DISTINCT query_id FROM qt)
        SELECT q.query_id,
               CAST(COALESCE(rq.n_rel, 0) AS BIGINT) AS n_rel,
               CAST(COALESCE(h.hits_k, 0) AS BIGINT) AS hits_k,
               round(CAST(COALESCE(h.hits_k, 0) AS DOUBLE)
                     / CAST({k} AS DOUBLE), 6) AS precision_k,
               CASE WHEN COALESCE(rq.n_rel, 0) > 0 THEN
                 round(CAST(COALESCE(h.hits_k, 0) AS DOUBLE)
                       / CAST(rq.n_rel AS DOUBLE), 6) END AS recall_k,
               COALESCE(round(CAST(1.0 AS DOUBLE)
                              / CAST(h.first_rank AS DOUBLE), 6),
                        CAST(0.0 AS DOUBLE)) AS mrr,
               CASE WHEN rq.n_rel IS NOT NULL AND rq.n_rel > 0 THEN
                 round(COALESCE(h.dcg, CAST(0.0 AS DOUBLE))
                       / (CASE least(rq.n_rel, {k}) {cum_case} END), 6)
               END AS ndcg
        FROM qids q
        LEFT JOIN relq rq USING (query_id)
        LEFT JOIN hq h USING (query_id)
        ORDER BY query_id
    """


def _skew_arm(relation: str, key: str, from_sql: str) -> str:
    """One UNION-ALL arm of the skew-audit oracle: per-key counts →
    rank → exact integer sums → pinned IEEE Gini (the rank formula) —
    mirroring tuning.key_skew_stats. Σi·c is tie-invariant (equal
    counts permute only within their tie group), so collation can't
    matter."""
    return f"""
        SELECT '{relation}' AS relation, '{key}' AS key,
               n_rows, n_keys,
               round(CAST(max_c AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
                 AS max_share,
               round(CAST(2.0 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
                     - (CAST(n_keys AS DOUBLE) + CAST(1.0 AS DOUBLE))
                       / CAST(n_keys AS DOUBLE)
                     + CAST(0.0 AS DOUBLE), 6) AS gini,
               max_c * 20 > 1 * n_rows AS needs_salting
        FROM (
          SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(c) AS BIGINT) AS n_rows,
                 CAST(max(c) AS BIGINT) AS max_c,
                 CAST(sum(i * c) AS BIGINT) AS s1
          FROM (
            SELECT c, CAST(row_number() OVER (ORDER BY c, kk)
                           AS BIGINT) AS i
            FROM (
              SELECT coalesce(CAST({key} AS VARCHAR),
                              chr(0) || 'NULL') AS kk,
                     CAST(count(*) AS BIGINT) AS c
              FROM {from_sql}
              GROUP BY coalesce(CAST({key} AS VARCHAR),
                                chr(0) || 'NULL'))))"""


def _fk_arm(child_name: str, fk: str, parent_name: str, pk: str,
            child_sql: str | None = None) -> str:
    """One UNION-ALL arm of the FK-integrity oracle, mirroring
    operators.joins.fk_integrity_stats."""
    child_rel = child_sql or child_name
    return f"""
        SELECT '{child_name}' AS child_table, '{fk}' AS fk,
               '{parent_name}' AS parent_table,
               n_child_rows, n_null_fk, n_orphan_rows,
               round(CAST(n_orphan_rows AS DOUBLE)
                     / CAST(n_child_rows AS DOUBLE), 6) AS orphan_share,
               n_parent_rows, n_parent_dup_keys
        FROM (
          SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM {child_rel})
              AS n_child_rows,
            (SELECT CAST(count(*) AS BIGINT) FROM {child_rel}
             WHERE {fk} IS NULL) AS n_null_fk,
            (SELECT CAST(count(*) AS BIGINT) FROM {child_rel} c
             WHERE c.{fk} IS NOT NULL AND NOT EXISTS (
               SELECT 1 FROM {parent_name} p
               WHERE p.{pk} = c.{fk})) AS n_orphan_rows,
            (SELECT CAST(count(*) AS BIGINT) FROM {parent_name})
              AS n_parent_rows,
            (SELECT CAST(count(*) AS BIGINT) FROM (
               SELECT {pk} FROM {parent_name}
               WHERE {pk} IS NOT NULL
               GROUP BY {pk} HAVING count(*) > 1))
              AS n_parent_dup_keys)"""


def _hrw_sharding_oracle() -> str:
    """Twin of q_hrw_sharding: the HRW choice expression is rendered
    by the SAME sources.shards.hrw_choice_sql the engine executes —
    the SQL text is dialect-common (md5/concat/greatest/substring),
    so the two engines literally run the same formula."""
    from mindocr_spark.sources.shards import hrw_choice_sql

    k = "CAST(doc_id AS STRING)"
    sb = hrw_choice_sql(k, list(_HRW_BEFORE))
    sa = hrw_choice_sql(k, list(_HRW_BEFORE) + list(_HRW_ADDED))
    new_list = ", ".join(f"'{s}'" for s in _HRW_ADDED)
    return f"""
        WITH a AS (
          SELECT {sb} AS sb, {sa} AS sa FROM documents),
        e AS (
          SELECT sb, sa, (sb <> sa) AS moved,
                 CASE WHEN r.i = 1 THEN 'before' ELSE 'after' END AS role,
                 CASE WHEN r.i = 1 THEN sb ELSE sa END AS s
          FROM a CROSS JOIN (VALUES (1), (2)) r(i))
        SELECT s AS shard,
               CAST(sum(CASE WHEN role = 'before' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_before,
               CAST(sum(CASE WHEN role = 'after' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_after,
               CAST(sum(CASE WHEN role = 'after' AND moved
                             THEN 1 ELSE 0 END) AS BIGINT) AS gained,
               CAST(sum(CASE WHEN role = 'before' AND moved
                             THEN 1 ELSE 0 END) AS BIGINT) AS lost,
               s IN ({new_list}) AS is_new
        FROM e GROUP BY s ORDER BY shard"""


def _zorder_audit_oracle(bits: int = 8, n_files: int = 64) -> str:
    """Twin of q_zorder_audit: scaling, Morton interleave, and probe
    rectangles all rendered from the SAME tuning.py definitions the
    engine uses (dialect='duckdb' spells shifts <</>>, integer div //)."""
    from mindocr_spark.tuning import (
        ZORDER_PROBES_PCT, zorder_interleave_sql, zorder_scale_sql)

    d = "duckdb"
    probes = ", ".join(f"({p}, {al}, {ah}, {bl}, {bh})"
                       for p, al, ah, bl, bh in ZORDER_PROBES_PCT)
    span, zspan = 1 << bits, 1 << (2 * bits)
    return f"""
        WITH s AS (
          SELECT CAST(min(l_partkey) AS BIGINT) amin,
                 CAST(max(l_partkey) AS BIGINT) amax,
                 CAST(min(l_suppkey) AS BIGINT) bmin,
                 CAST(max(l_suppkey) AS BIGINT) bmax,
                 CAST(min(l_orderkey) AS BIGINT) imin,
                 CAST(max(l_orderkey) AS BIGINT) imax
          FROM lineitem),
        sc AS (
          SELECT CAST(l_partkey AS BIGINT) AS a,
                 CAST(l_suppkey AS BIGINT) AS b,
                 {zorder_scale_sql('l_partkey', 'amin', 'amax', bits, d)}
                   AS sa,
                 {zorder_scale_sql('l_suppkey', 'bmin', 'bmax', bits, d)}
                   AS sb,
                 {zorder_scale_sql('l_orderkey', 'imin', 'imax', bits, d)}
                   AS si
          FROM lineitem, s),
        z AS (SELECT a, b, sa, sb, si,
                     {zorder_interleave_sql('sa', 'sb', bits, d)} AS zv
              FROM sc),
        asg AS (
          SELECT 'ingest' AS layout, (si * {n_files}) // {span} AS file_id,
                 a, b FROM z
          UNION ALL
          SELECT 'linear_a', (sa * {n_files}) // {span}, a, b FROM z
          UNION ALL
          SELECT 'zorder', (zv * {n_files}) // {zspan}, a, b FROM z),
        fs AS (
          SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
                 min(a) AS fa_min, max(a) AS fa_max,
                 min(b) AS fb_min, max(b) AS fb_max
          FROM asg GROUP BY layout, file_id),
        pr AS (
          SELECT probe_id,
                 amin + ((amax - amin) * alo) // 100 AS a_lo,
                 amin + ((amax - amin) * ahi) // 100 AS a_hi,
                 bmin + ((bmax - bmin) * blo) // 100 AS b_lo,
                 bmin + ((bmax - bmin) * bhi) // 100 AS b_hi
          FROM (VALUES {probes}) AS p(probe_id, alo, ahi, blo, bhi), s),
        fsp AS (
          SELECT layout, probe_id, n_rows,
                 CASE WHEN NOT (fa_max < a_lo OR fa_min > a_hi
                                OR fb_max < b_lo OR fb_min > b_hi)
                      THEN 1 ELSE 0 END AS hit
          FROM fs, pr),
        hits AS (
          SELECT layout, probe_id,
                 CAST(count(*) AS BIGINT) AS files_total,
                 CAST(sum(hit) AS BIGINT) AS files_hit,
                 CAST(sum(hit * n_rows) AS BIGINT) AS rows_scanned
          FROM fsp GROUP BY layout, probe_id),
        m AS (
          SELECT probe_id, CAST(count(*) AS BIGINT) AS rows_match
          FROM z, pr
          WHERE a BETWEEN a_lo AND a_hi AND b BETWEEN b_lo AND b_hi
          GROUP BY probe_id)
        SELECT layout, probe_id, files_total, files_hit, rows_scanned,
               coalesce(rows_match, CAST(0 AS BIGINT)) AS rows_match,
               round(CAST(1 AS DOUBLE)
                     - CAST(files_hit AS DOUBLE)
                       / CAST(files_total AS DOUBLE), 6) AS skip_share,
               round(CAST(rows_scanned AS DOUBLE)
                     / CAST(nullif(rows_match, 0) AS DOUBLE), 6)
                 AS scan_amp
        FROM hits LEFT JOIN m USING (probe_id)
        ORDER BY layout, probe_id"""


def _fk_integrity_oracle() -> str:
    returns_sql = ("(SELECT CASE WHEN l_linenumber % 7 = 0 "
                   "THEN l_orderkey + 1000000 ELSE l_orderkey END "
                   "AS r_orderkey FROM lineitem)")
    arms = [
        _fk_arm("lineitem", "l_orderkey", "orders", "o_orderkey"),
        _fk_arm("lineitem", "l_partkey", "part", "p_partkey"),
        _fk_arm("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        _fk_arm("orders", "o_custkey", "customer", "c_custkey"),
        _fk_arm("customer", "c_nationkey", "nation", "n_nationkey"),
        _fk_arm("supplier", "s_nationkey", "nation", "n_nationkey"),
        _fk_arm("nation", "n_regionkey", "region", "r_regionkey"),
        _fk_arm("returns_feed", "r_orderkey", "orders", "o_orderkey",
                child_sql=returns_sql),
    ]
    return ("SELECT * FROM (" + " UNION ALL ".join(arms)
            + ") ORDER BY child_table, fk")


def _skew_audit_oracle() -> str:
    arms = [
        _skew_arm("documents", "source", "documents"),
        _skew_arm("documents", "lang", "documents"),
        _skew_arm("events", "event_type", "events"),
        _skew_arm("events", "user_id", "events"),
        _skew_arm(
            "link_edges", "dst_domain",
            "(SELECT dst_dom AS dst_domain FROM e)",
        ),
    ]
    return (
        "WITH " + _LINKED_EDGE_CTES
        + " SELECT * FROM ("
        + " UNION ALL ".join(arms)
        + ") ORDER BY relation, key"
    )


def _rank_stability_oracle(k: int = 10, p: float = 0.9) -> str:
    """Twin of q_rank_stability: same tokenization, same (count DESC,
    token ASC) rank tie-break, same depth weights RENDERED from
    rbo_weights (string-cast literals — shortest-roundtrip parse gives
    the identical double), same depth-ordered fold."""
    from mindocr_spark.functions.search import rbo_weights

    w_rows = ", ".join(
        f"({d}, CAST('{w!r}' AS DOUBLE))" for d, w in rbo_weights(k, p)
    )
    return f"""
        WITH tk AS (
          SELECT coalesce(lang, 'und') AS lang, doc_id % 2 AS half,
                 lower(t.tok) AS tok
          FROM documents,
               UNNEST(string_split(trim(regexp_replace(text,
                 '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS t(tok)
          WHERE t.tok != ''),
        counts AS (
          SELECT lang, half, tok, count(*) AS n
          FROM tk GROUP BY lang, half, tok),
        ranked AS (
          SELECT lang, half, tok,
                 row_number() OVER (PARTITION BY lang, half
                                    ORDER BY n DESC, tok ASC) AS rk
          FROM counts QUALIFY rk <= {k}),
        pairs AS (
          SELECT a.lang, a.tok, a.rk AS ra, b.rk AS rb
          FROM ranked a
          JOIN ranked b ON a.lang = b.lang AND a.tok = b.tok
          WHERE a.half = 0 AND b.half = 1),
        depths(d, w) AS (VALUES {w_rows}),
        contrib AS (
          SELECT lang, d,
                 (CAST(count(*) AS DOUBLE) / CAST(d AS DOUBLE)) * w AS c
          FROM pairs CROSS JOIN depths
          WHERE greatest(ra, rb) <= d
          GROUP BY lang, d, w),
        folded AS (
          SELECT lang,
                 COALESCE(list_reduce(list(c ORDER BY d),
                                      (x, y) -> x + y), 0.0) AS r
          FROM contrib GROUP BY lang),
        common AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_common
          FROM pairs GROUP BY lang),
        langs AS (SELECT DISTINCT lang FROM counts)
        SELECT l.lang,
               CAST(COALESCE(cm.n_common, 0) AS BIGINT)
                 AS n_common_topk,
               round(COALESCE(f.r, CAST(0.0 AS DOUBLE)), 6) AS rbo
        FROM langs l
        LEFT JOIN common cm USING (lang)
        LEFT JOIN folded f USING (lang)
        ORDER BY lang
    """


def _stem_collapse_oracle() -> str:
    """Twin of q_stem_collapse: the tokenize-explode + the S-stemmer
    CASE chain RENDERED from the same S_STEM_RULES constant."""
    from mindocr_spark.functions.text import s_stem_sql

    return f"""
        WITH tk AS (
          SELECT coalesce(lang, 'und') AS lang, lower(t.tok) AS tok
          FROM documents,
               UNNEST(string_split(trim(regexp_replace(text,
                 '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS t(tok)
          WHERE t.tok != ''),
        st AS (SELECT lang, tok, {s_stem_sql("tok")} AS stem FROM tk)
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
               CAST(count(DISTINCT stem) AS BIGINT) AS n_stems,
               round(CAST(count(DISTINCT tok) - count(DISTINCT stem)
                          AS DOUBLE)
                     / CAST(count(DISTINCT tok) AS DOUBLE), 6)
                 AS reduction
        FROM st GROUP BY lang ORDER BY lang
    """


def _mirror_detect_oracle() -> str:
    """Twin of q_mirror_detect: the SHARED leakage variant corpus +
    md5-banding pair chain, then the source-pair rollup with the
    integer mirror rule."""
    return f"""
        WITH {_LEAKAGE_CORPUS_CTES},
        {_leakage_pairs_ctes()},
        member AS (SELECT doc_id, source AS grp FROM lcorpus),
        sizes AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n_docs
          FROM member GROUP BY grp),
        lab AS (
          SELECT least(ma.grp, mb.grp) AS group_a,
                 greatest(ma.grp, mb.grp) AS group_b,
                 CAST(count(*) AS BIGINT) AS n_dup_pairs
          FROM dpairs
          JOIN member ma ON ma.doc_id = id_a
          JOIN member mb ON mb.doc_id = id_b
          WHERE ma.grp != mb.grp
          GROUP BY least(ma.grp, mb.grp), greatest(ma.grp, mb.grp))
        SELECT group_a, group_b, n_dup_pairs,
               sa.n_docs AS n_a, sb.n_docs AS n_b,
               round(CAST(n_dup_pairs AS DOUBLE)
                     / CAST(least(sa.n_docs, sb.n_docs) AS DOUBLE), 6)
                 AS pair_share,
               n_dup_pairs * 4 >= 1 * least(sa.n_docs, sb.n_docs)
                 AS is_mirror
        FROM lab
        JOIN sizes sa ON sa.grp = group_a
        JOIN sizes sb ON sb.grp = group_b
        ORDER BY group_a, group_b
    """


@query("simhash_md5", family="dedup", oracle=_simhash_md5_oracle())
def q_simhash_md5(spark, sf_dir):
    """Engine-portable simhash signatures (md5 token hashes, hex output)
    — the oracle-checked twin of the xxhash64 scale path."""
    from mindocr_spark.functions.dedup import simhash_md5_col

    return simhash_md5_col(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@query("simhash_neardup", family="dedup",
       oracle=_simhash_pairs_oracle(max_hamming=8))
def q_simhash_neardup(spark, sf_dir):
    """SimHash banded hamming near-dups — the hex-span banded plan over
    the engine-portable md5 simhash. Pigeonhole gives EXACT recall at
    the radius, so the exact SQL oracle (same spans + nibble-xor
    hamming) provably matches. The xxhash64 variant (simhash_pairs) is
    the identical plan with a faster hash family, covered by pytest."""
    from mindocr_spark.functions.dedup import simhash_pairs_md5

    return simhash_pairs_md5(
        _t(spark, sf_dir, "documents"), max_hamming=8
    ).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    ).orderBy("id_a", "id_b")


@query("multimodal_video", family="multimodal", oracle="""
            WITH ids AS (SELECT range AS id FROM range(64)),
            p AS (SELECT id, id % 4 + 2 AS nf, id % 5 + 3 AS side FROM ids),
            fr AS (
              SELECT id, side, unnest(range(0, nf, 2)) AS frame_idx FROM p)
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(frame_idx AS BIGINT) AS frame_idx,
                   CAST(side * side * 3 AS BIGINT) AS frame_bytes,
                   TRUE AS bytes_match, FALSE AS failed
            FROM fr ORDER BY id, frame_idx
        """)
def q_multimodal_video(spark, sf_dir):
    """Real video codec end-to-end: synthesized RIFF/AVI payloads
    (uncompressed 24-bit DIB frames from an integer pixel formula) →
    the stdlib AVI parser → frame sampling fan-out. Byte exactness is
    verified CROSS-PATH inside Spark: the expected per-frame md5 is
    rebuilt from the pixel formula with pure JVM expressions
    (sequence→hex→unhex→md5) and compared against the Python codec's
    digest — `bytes_match` must come back TRUE for every sampled frame,
    which the oracle pins alongside the exact frame inventory (DuckDB
    has no blob md5, so the digest equality lives in-engine)."""
    from mindocr_spark.multimodal import sample_frames, synth_real_video_table

    frames = sample_frames(synth_real_video_table(spark, 64), every_n=2)

    side = F.col("id") % 5 + 3
    row_bytes = side * side * 3
    exp = spark.range(64).select(
        "id",
        F.explode(
            F.sequence(F.lit(0), (F.col("id") % 4 + 2) - 1, F.lit(2))
        ).alias("frame_idx"),
        side.alias("side"),
        row_bytes.alias("n_b"),
    )

    s3 = F.col("side") * 3
    def pix(k):
        y = (k / s3).cast("long")
        x = ((k % s3) / 3).cast("long")
        c = k % 3
        return F.pmod(
            F.col("id") * 7 + F.col("frame_idx") * 53 + x * 3 + y * 11
            + c * 29,
            F.lit(256),
        )

    hexstr = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.col("n_b") - 1),
            lambda k: F.lpad(F.hex(pix(k)), 2, "0"),
        ),
        "",
    )
    exp = exp.select("id", "frame_idx", F.md5(F.unhex(hexstr)).alias("expected"))
    return (
        frames.join(exp, ["id", "frame_idx"], "left")
        .select(
            "id",
            F.col("frame_idx").cast("bigint").alias("frame_idx"),
            F.col("frame_bytes").cast("bigint").alias("frame_bytes"),
            (F.col("checksum") == F.col("expected")).alias("bytes_match"),
            "failed",
        )
        .orderBy("id", "frame_idx")
    )


@query("direction_norm", family="text_quality", oracle=r"""
            WITH src AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN translate(text, 'aeiounstrlh', 'אבגדהוזחטיכ')
                          ELSE text END AS text
              FROM documents),
            c AS (
              SELECT doc_id, text,
                     len(regexp_extract_all(text, '[֐-׿؀-ۿ]')) AS rtl,
                     len(regexp_extract_all(text, '[A-Za-z]')) AS ltr,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM src)
            SELECT doc_id, rtl > ltr AS is_rtl,
                   CASE WHEN rtl > ltr THEN
                     CASE WHEN norm = '' THEN ''
                          ELSE array_to_string(
                                 list_reverse(string_split(norm, ' ')), ' ')
                     END
                   ELSE text END AS text_dir
            FROM c ORDER BY doc_id
        """)
def q_direction_norm(spark, sf_dir):
    """Direction-conditional payload rewrite (Rotate90IfVertical's
    detect-then-rewrite shape, reference: rec_transforms.py:446-468),
    exact-oracled: doc_id%7==0 docs are deterministically transliterated
    into RTL script (translate over the 11 most frequent letters — both
    engines), detection (RTL chars > ASCII letters) then flips exactly
    those docs' token order while every other doc passes through
    byte-identical."""
    from mindocr_spark.functions.text import direction_norm_cols

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.translate("text", "aeiounstrlh", "אבגדהוזחטיכ"),
        ).otherwise(F.col("text")).alias("text"),
    )
    return direction_norm_cols(d).select(
        "doc_id", "is_rtl", "text_dir"
    ).orderBy("doc_id")


@query("quality_repetition", family="text_quality", oracle=r"""
            WITH base AS (
              SELECT doc_id, text, length(text) // 4 AS q FROM documents),
            lined AS (
              SELECT doc_id,
                     substr(text, 1, q) || chr(10)
                     || CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, q)
                             ELSE substr(text, q + 1, q) END || chr(10)
                     || substr(text, 2 * q + 1, q)
                     || CASE WHEN doc_id % 5 = 0 THEN '...' ELSE '' END
                     || chr(10)
                     || substr(text, 3 * q + 1, length(text) - 3 * q)
                     || CASE WHEN doc_id % 4 = 0 THEN ' @ # @' ELSE '' END
                     AS text
              FROM base),
            ln AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(string_split(text, chr(10)),
                                      l -> trim(l)),
                       l -> l != '') AS lines
              FROM lined),
            lc AS (
              SELECT doc_id, len(lines) AS n_lines,
                     len(list_distinct(lines)) AS n_distinct,
                     len(list_filter(lines, l -> ends_with(l, '...')))
                       AS n_ellipsis
              FROM ln),
            tok AS (
              SELECT doc_id,
                     CASE WHEN trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '))
                     END AS n_tokens,
                     len(regexp_extract_all(text, '[#$%&*+<=>@^_|~]')) AS n_sym,
                     length(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))) AS n_chars
              FROM lined),
            w AS (
              SELECT doc_id, unnest(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ')) AS word,
                     generate_subscripts(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '), 1) AS pos
              FROM lined),
            g0 AS (
              SELECT doc_id,
                     word || ' ' || lead(word,1) OVER (PARTITION BY doc_id ORDER BY pos) AS gram,
                     lead(word,1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1
              FROM w),
            fr AS (
              SELECT doc_id, gram, COUNT(*) AS freq
              FROM g0 WHERE l1 IS NOT NULL GROUP BY doc_id, gram),
            top AS (
              SELECT doc_id, gram, freq FROM (
                SELECT doc_id, gram, freq,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY freq DESC, gram ASC) AS rn
                FROM fr)
              WHERE rn = 1)
            SELECT l.doc_id,
                   CAST(l.n_lines AS BIGINT) AS n_lines,
                   CASE WHEN l.n_lines = 0 THEN 0.0
                        ELSE round(CAST(l.n_lines - l.n_distinct AS DOUBLE)
                                   / CAST(l.n_lines AS DOUBLE), 6)
                   END AS dup_line_frac,
                   CAST(l.n_ellipsis AS BIGINT) AS n_ellipsis_lines,
                   CASE WHEN t.n_tokens = 0 THEN 0.0
                        ELSE round(CAST(t.n_sym AS DOUBLE)
                                   / CAST(t.n_tokens AS DOUBLE), 6)
                   END AS symbol_word_ratio,
                   coalesce(top.gram, '') AS top_2gram,
                   CAST(coalesce(top.freq, 0) AS BIGINT) AS top_2gram_freq,
                   CASE WHEN top.gram IS NULL THEN 0.0
                        ELSE round(CAST(top.freq * length(top.gram) AS DOUBLE)
                                   / CAST(t.n_chars AS DOUBLE), 6)
                   END AS top_2gram_share
            FROM lc l
            JOIN tok t USING (doc_id)
            LEFT JOIN top USING (doc_id)
            ORDER BY l.doc_id
        """)
def q_quality_repetition(spark, sf_dir):
    """Gopher/C4 repetition-quality signals, exact-oracled. The corpus
    text is single-line word soup, so the query first builds a
    deterministic multi-line variant (the same text-quarters device the
    layout oracles use) with PLANTED repetition: doc_id%3==0 repeats
    its first quarter as line 2, %5==0 ends line 3 with '...', %4==0
    appends symbol chatter — every signal (dup_line_frac,
    n_ellipsis_lines, symbol_word_ratio, top-2-gram share) then takes
    non-trivial values that DuckDB reproduces bit-for-bit."""
    from mindocr_spark.functions.text import (
        repetition_line_cols,
        top_2gram_cols,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("q", F.expr("length(text) div 4"))
        .withColumn("q1", F.expr("substr(text, 1, q)"))
        .withColumn("q2", F.expr("substr(text, q + 1, q)"))
        .withColumn("q3", F.expr("substr(text, 2 * q + 1, q)"))
        .withColumn(
            "q4", F.expr("substr(text, 3 * q + 1, length(text) - 3 * q)")
        )
    )
    line2 = F.when(F.col("doc_id") % 3 == 0, F.col("q1")).otherwise(F.col("q2"))
    line3 = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("q3"), F.lit("..."))
    ).otherwise(F.col("q3"))
    line4 = F.when(
        F.col("doc_id") % 4 == 0, F.concat(F.col("q4"), F.lit(" @ # @"))
    ).otherwise(F.col("q4"))
    lined = d.select(
        "doc_id",
        F.concat_ws("\n", F.col("q1"), line2, line3, line4).alias("text"),
    )
    rep = repetition_line_cols(lined).select(
        "doc_id",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        "dup_line_frac",
        F.col("n_ellipsis_lines").cast("bigint").alias("n_ellipsis_lines"),
        "symbol_word_ratio",
    )
    top = top_2gram_cols(lined)
    return rep.join(top, "doc_id").orderBy("doc_id")


def _gopher_oracle() -> str:
    """SQL twin of q_gopher_gate: rebuild the slot-mutated corpus and
    every measure/flag with thresholds pulled from
    gopher_rules_cols's OWN signature defaults (inspect) and the
    required-word list rendered from GOPHER_REQUIRED_WORDS — the two
    engines share one set of constants by construction."""
    import inspect

    from mindocr_spark.functions.text import (
        GOPHER_REQUIRED_WORDS,
        gopher_rules_cols,
    )

    th = {
        k: v.default
        for k, v in inspect.signature(gopher_rules_cols).parameters.items()
        if v.default is not inspect.Parameter.empty
        and not isinstance(v.default, str)
    }
    hits = " + ".join(
        f"CAST(list_contains(ltoks, '{w}') AS INT)"
        for w in GOPHER_REQUIRED_WORDS
    )
    norm = r"trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))"
    return f"""
        WITH base AS (
          SELECT doc_id, text, length(text) // 6 AS q,
                 CASE WHEN {norm} = '' THEN 0
                      ELSE len(string_split({norm}, ' ')) END AS n0
          FROM documents),
        built AS (
          SELECT doc_id,
                 CASE doc_id % 6
                   WHEN 1 THEN substr(text, 1, 20)
                   WHEN 2 THEN substr(text, 1, q)
                        || repeat(chr(10) || '• item entry', 19)
                   WHEN 3 THEN substr(text, 1, q) || chr(10)
                        || substr(text, q + 1, q) || '...'
                   WHEN 4 THEN text || ' ' || repeat('0 ', CAST(n0 AS INT))
                   WHEN 5 THEN text
                        || repeat(' #', CAST(greatest(1, n0 // 8) AS INT))
                   ELSE text || CASE WHEN doc_id % 2 = 0
                                     THEN ' of that have with'
                                     ELSE '' END
                 END AS text
          FROM base),
        t AS (
          SELECT doc_id, text, {norm} AS norm FROM built),
        tok AS (
          SELECT doc_id, text,
                 CASE WHEN norm = '' THEN []::VARCHAR[]
                      ELSE string_split(norm, ' ') END AS toks,
                 length(replace(norm, ' ', '')) AS n_chars
          FROM t),
        m AS (
          SELECT doc_id,
                 len(toks) AS n_words,
                 n_chars,
                 len(regexp_extract_all(text, '[#…]')) AS n_sym,
                 list_filter(
                   list_transform(string_split(text, chr(10)),
                                  l -> trim(l)),
                   l -> l != '') AS lines,
                 len(list_filter(toks,
                     t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
                 list_transform(toks, t -> lower(t)) AS ltoks
          FROM tok),
        meas AS (
          SELECT doc_id,
                 CAST(n_words AS BIGINT) AS n_words,
                 CASE WHEN n_words = 0 THEN NULL
                      ELSE round(CAST(n_chars AS DOUBLE)
                                 / CAST(n_words AS DOUBLE), 6)
                 END AS mean_word_len,
                 CASE WHEN n_words = 0 THEN NULL
                      ELSE round(CAST(n_sym AS DOUBLE)
                                 / CAST(n_words AS DOUBLE), 6)
                 END AS symbol_ratio,
                 CASE WHEN len(lines) = 0 THEN NULL
                      ELSE round(CAST(len(list_filter(lines,
                               l -> starts_with(l, '•')
                                 OR starts_with(l, '- '))) AS DOUBLE)
                                 / CAST(len(lines) AS DOUBLE), 6)
                 END AS bullet_frac,
                 CASE WHEN len(lines) = 0 THEN NULL
                      ELSE round(CAST(len(list_filter(lines,
                               l -> ends_with(l, '...')
                                 OR ends_with(l, '…'))) AS DOUBLE)
                                 / CAST(len(lines) AS DOUBLE), 6)
                 END AS ellipsis_frac,
                 CASE WHEN n_words = 0 THEN NULL
                      ELSE round(CAST(n_alpha AS DOUBLE)
                                 / CAST(n_words AS DOUBLE), 6)
                 END AS alpha_frac,
                 CAST({hits} AS BIGINT) AS required_hits
          FROM m),
        fl AS (
          SELECT *,
                 (n_words >= {th["min_words"]}
                  AND n_words <= {th["max_words"]}) AS pass_word_count,
                 coalesce(mean_word_len
                            >= CAST({th["min_mean_word_len"]} AS DOUBLE)
                          AND mean_word_len
                            <= CAST({th["max_mean_word_len"]} AS DOUBLE),
                          FALSE) AS pass_mean_word_len,
                 coalesce(symbol_ratio
                            <= CAST({th["max_symbol_ratio"]} AS DOUBLE),
                          FALSE) AS pass_symbol_ratio,
                 coalesce(bullet_frac
                            <= CAST({th["max_bullet_frac"]} AS DOUBLE),
                          TRUE) AS pass_bullet,
                 coalesce(ellipsis_frac
                            <= CAST({th["max_ellipsis_frac"]} AS DOUBLE),
                          TRUE) AS pass_ellipsis,
                 coalesce(alpha_frac
                            >= CAST({th["min_alpha_frac"]} AS DOUBLE),
                          FALSE) AS pass_alpha,
                 (required_hits >= {th["min_required_hits"]})
                   AS pass_required
          FROM meas)
        SELECT *,
               (pass_word_count AND pass_mean_word_len
                AND pass_symbol_ratio AND pass_bullet AND pass_ellipsis
                AND pass_alpha AND pass_required) AS keep
        FROM fl ORDER BY doc_id
    """


@query("gopher_gate", family="text_quality", oracle=_gopher_oracle())
def q_gopher_gate(spark, sf_dir):
    """The complete Gopher rule filter (Rae et al. 2021, A1.1) over a
    deterministically mutated corpus: doc_id%6 slots plant one rule
    violation each — 1 truncates below the word floor, 2 buries the doc
    under 19 bullet lines, 3 ends half its lines in '...', 4 doubles
    the doc with non-alphabetic '0' words, 5 appends '#' chatter past
    the symbol-ratio cap, and even untouched docs gain the required
    words 'of that have with' (the soup vocabulary lacks them) — so
    every flag takes both values and the composite `keep` is
    non-trivial. All measures are exact ints + one
    rounded IEEE division each; the oracle rebuilds the same corpus
    and thresholds (rendered from the engine's own signature defaults,
    so the two sides cannot drift)."""
    from mindocr_spark.functions.text import gopher_rules_cols, tokens_col

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("q", F.expr("length(text) div 6"))
        .withColumn("n0", F.size(tokens_col("text")))
    )
    slot = F.pmod(F.col("doc_id"), F.lit(6))
    built = (
        F.when(slot == 1, F.expr("substr(text, 1, 20)"))
        .when(
            slot == 2,
            F.concat(
                F.expr("substr(text, 1, q)"),
                F.repeat(F.lit("\n• item entry"), 19),
            ),
        )
        .when(
            slot == 3,
            F.concat(
                F.expr("substr(text, 1, q)"),
                F.lit("\n"),
                F.expr("substr(text, q + 1, q)"),
                F.lit("..."),
            ),
        )
        .when(
            slot == 4,
            F.concat(
                F.col("text"), F.lit(" "),
                F.expr("repeat('0 ', n0)"),
            ),
        )
        .when(
            slot == 5,
            F.concat(
                F.col("text"),
                F.expr("repeat(' #', greatest(1, n0 div 8))"),
            ),
        )
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(
                    F.pmod(F.col("doc_id"), F.lit(2)) == 0,
                    F.lit(" of that have with"),
                ).otherwise(F.lit("")),
            )
        )
    )
    return gopher_rules_cols(
        d.select("doc_id", built.alias("text"))
    ).orderBy("doc_id")


# code/math routing signals: the oracle rebuilds the planted
# corpus and recomputes every count with the SAME regex
# constants (rendered below) under RE2
@query("code_math_detect", family="text_quality", oracle=r"""
            WITH built AS (
              SELECT doc_id,
                     concat_ws('', text,
                       CASE WHEN doc_id % 3 = 0 THEN
                         chr(10) || '```' || chr(10)
                         || repeat('    int v = {1}; run();' || chr(10),
                                   CAST(doc_id % 4 + 1 AS INT))
                         || '```'
                       END,
                       CASE WHEN doc_id % 5 = 1 THEN
                         chr(10) || '    indented note one' || chr(10)
                         || chr(9) || 'indented note two'
                       END,
                       CASE WHEN doc_id % 7 = 0 THEN
                         concat_ws('', ' \frac{a}{b} plus \sum x',
                           CASE WHEN doc_id % 2 = 0
                                THEN ' and $$ y $$' END)
                       END,
                       CASE WHEN doc_id % 11 = 3
                            THEN ' price $$ tag' END
                     ) AS text
              FROM documents),
            c AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '__FENCE__')) AS nf,
                     len(regexp_extract_all(text, '__SYM__')) AS ns,
                     len(regexp_extract_all(text, '__LATEX__')) AS nl,
                     len(list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(l, '__INDENT__'))) AS ni,
                     len(string_split(text, chr(10))) AS nlines
              FROM built),
            s AS (
              SELECT doc_id, nf, ns, nl, ni, nlines,
                     coalesce(round(CAST(ni AS DOUBLE)
                                    / CAST(nlines AS DOUBLE), 6),
                              0.0) AS ifrac
              FROM c)
            SELECT doc_id,
                   CAST(nf AS INT) AS n_code_fences,
                   CAST(ni AS INT) AS n_indented_lines,
                   CAST(nlines AS INT) AS n_lines,
                   ifrac AS indent_frac,
                   CAST(ns AS INT) AS n_code_symbols,
                   CAST(nl AS INT) AS n_latex,
                   (nf >= 2 OR ifrac >= 0.3 OR ns >= 10) AS is_code,
                   (nl >= 2) AS is_math
            FROM s ORDER BY doc_id
        """.replace("__FENCE__", _CODE_FENCE_RE)
           .replace("__SYM__", _CODE_SYMBOL_RE)
           .replace("__LATEX__", _LATEX_RE)
           .replace("__INDENT__", _INDENT_LINE_RE))
def q_code_math(spark, sf_dir):
    """Code/math content-type routing signals (StarCoder/RedPajama
    family): fenced blocks, indented-line fraction, C-family symbol
    density, LaTeX markers → is_code / is_math flags. The word-soup
    corpus carries none of these, so the corpus is built IN-QUERY with
    doc_id-derived arms — %3 gains a fenced code block with a varying
    number of indented `int v = {1}; run();` lines (4 symbols per line ×
    %4+1 lines, so symbol density ≥ the threshold of 10 at %4 in {2,3}
    and stays below it at %4 in {0,1}), %5==1 an indent-only block
    (code via indentation, no fences), %7 LaTeX commands (+display math
    on even ids), %11==3 a lone `$$` that must NOT trip is_math. The
    oracle rebuilds the identical corpus and recomputes every signal
    with the SAME regex constants under RE2 — the dialect agreement is
    part of the check (the PII/blockword discipline)."""
    from mindocr_spark.functions.text import code_math_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    code_block = F.when(
        did % 3 == 0,
        F.concat(
            F.lit("\n```\n"),
            F.repeat(
                F.lit("    int v = {1}; run();\n"),
                (did % 4 + 1).cast("int"),
            ),
            F.lit("```"),
        ),
    )
    indent_tail = F.when(
        did % 5 == 1,
        F.lit("\n    indented note one\n\tindented note two"),
    )
    math_tail = F.when(
        did % 7 == 0,
        F.concat_ws(
            "",
            F.lit(" \\frac{a}{b} plus \\sum x"),
            F.when(did % 2 == 0, F.lit(" and $$ y $$")),
        ),
    )
    dollar_tail = F.when(did % 11 == 3, F.lit(" price $$ tag"))
    built = docs.select(
        "doc_id",
        F.concat_ws(
            "", F.col("text"), code_block, indent_tail, math_tail,
            dollar_tail,
        ).alias("text"),
    )
    return code_math_cols(built).orderBy("doc_id")


# parsed feed relation in closed form: even sites RSS, odd
# Atom; title omitted at %13==5, date at %17==3; month names
# exercise the full RFC-822 map
@query("feed_parse", oracle=r"""
            WITH d AS (
              SELECT doc_id, doc_id % 6 AS site,
                     CAST(doc_id % 6 AS VARCHAR) AS s,
                     CAST(doc_id % 12 + 1 AS INT) AS m1,
                     lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS dd
              FROM documents)
            SELECT 'blog' || s || '.example' AS domain,
                   CASE WHEN site % 2 = 0 THEN 'rss'
                        ELSE 'atom' END AS kind,
                   CASE WHEN doc_id % 13 = 5 THEN NULL
                        ELSE 'Post ' || CAST(doc_id AS VARCHAR)
                   END AS title,
                   'https://blog' || s || '.example/'
                     || CASE WHEN doc_id % 4 = 0 THEN 'page-'
                             ELSE 'post-' END
                     || CAST(doc_id AS VARCHAR) || '.html' AS link,
                   CASE WHEN doc_id % 17 = 3 THEN NULL
                        WHEN site % 2 = 0 THEN
                          'Mon, ' || dd || ' '
                          || list_extract(['Jan','Feb','Mar','Apr','May',
                                           'Jun','Jul','Aug','Sep','Oct',
                                           'Nov','Dec'], m1)
                          || ' 2024 06:00:00 GMT'
                        ELSE '2024-'
                          || lpad(CAST(m1 AS VARCHAR), 2, '0')
                          || '-' || dd || 'T06:00:00Z'
                   END AS published,
                   CASE WHEN doc_id % 17 = 3 THEN NULL
                        ELSE '2024-'
                          || lpad(CAST(m1 AS VARCHAR), 2, '0')
                          || '-' || dd
                   END AS published_date
            FROM d ORDER BY domain, link
        """)
def q_feed_parse(spark, sf_dir):
    """RSS/Atom feed parsing — the third leg of crawl discovery
    (robots politeness, sitemap inventory, feed freshness). Both wire
    grammars normalize into one item relation; RSS RFC-822 dates map
    month names to the ISO normal form through a pinned table. Every
    field is doc_id arithmetic in the oracle — the XML never has to be
    parsed twice."""
    from mindocr_spark.functions.crawl import parse_feeds
    from mindocr_spark.sources.pages import feed_corpus

    _, feeds = feed_corpus(spark, sf_dir)
    return parse_feeds(feeds).orderBy("domain", "link")


# discovery = feed links never crawled: the post-* arm
@query("feed_discovery", oracle=r"""
            SELECT 'blog' || CAST(doc_id % 6 AS VARCHAR)
                     || '.example' AS domain,
                   'https://blog' || CAST(doc_id % 6 AS VARCHAR)
                     || '.example/post-' || CAST(doc_id AS VARCHAR)
                     || '.html' AS link,
                   CASE WHEN doc_id % 17 = 3 THEN NULL
                        ELSE '2024-'
                          || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                          || '-'
                          || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                   END AS published_date
            FROM documents WHERE doc_id % 4 <> 0
            ORDER BY link
        """)
def q_feed_discovery(spark, sf_dir):
    """Feed-driven frontier discovery: feed items whose link is not in
    the crawled inventory. The plan is the broadcast semi-join-down /
    anti-join-up pair (the 10^12-page side is touched once, map-only);
    the oracle is the closed-form NOT-crawled set (doc_id % 4 != 0
    links are new posts)."""
    from mindocr_spark.functions.crawl import feed_discovery, parse_feeds
    from mindocr_spark.sources.pages import feed_corpus

    pages, feeds = feed_corpus(spark, sf_dir)
    return feed_discovery(parse_feeds(feeds), pages).orderBy("link")


# heavy-hitter shingles: the shared lead-window shingle CTE
# (distinct per doc), grouped corpus-wide, top-50 with the
# lexicographic tiebreak
@query("shingle_hotlist", oracle=r"""
            WITH w AS (
              SELECT doc_id, unnest(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' ')) AS word,
                     generate_subscripts(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '), 1) AS pos
              FROM documents),
            sh0 AS (
              SELECT doc_id,
                     word || ' ' || lead(word,1) OVER (PARTITION BY doc_id ORDER BY pos)
                          || ' ' || lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
                     lead(word,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
              FROM w),
            sh AS (SELECT DISTINCT doc_id, shingle
                   FROM sh0 WHERE l2 IS NOT NULL)
            SELECT shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq
            FROM sh GROUP BY shingle
            ORDER BY doc_freq DESC, shingle
            LIMIT 50
        """)
def q_shingle_hotlist(spark, sf_dir):
    """Corpus-wide heavy-hitter phrases: top-50 word 3-shingles by
    document frequency, ties lexicographic — the discovery step the
    viral-boilerplate caps and blockword lists are derived from. The
    plan is one map-side-combinable groupBy + TakeOrderedAndProject
    (no full sort); the oracle rebuilds the same counts over the
    shared lead-window shingle CTE."""
    from mindocr_spark.functions.dedup import shingle_hotlist

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return shingle_hotlist(docs, k=3, top=50)


# heading outline in closed form: arm presence (p = preface h2,
# a = h3, b = skip-level h4) shifts every later index
@query("outline_extract", family="extraction", oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS p,
                     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS a,
                     CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS b,
                     'https://o.example/p-' || CAST(doc_id AS VARCHAR)
                       || '.html' AS url,
                     CAST(doc_id AS VARCHAR) AS s
              FROM documents),
            rows_ AS (
              SELECT url, 0 AS heading_idx, 2 AS level,
                     'Preface ' || s AS text,
                     CAST(NULL AS INT) AS parent_idx
              FROM d WHERE p = 1
              UNION ALL
              SELECT url, p, 1, 'Title ' || s, NULL FROM d
              UNION ALL
              SELECT url, p + 1, 2, 'Section A of ' || s, p FROM d
              UNION ALL
              SELECT url, p + 2, 3, 'Sub A1 of ' || s, p + 1
              FROM d WHERE a = 1
              UNION ALL
              SELECT url, p + 2 + a, 2, 'Section B of ' || s, p FROM d
              UNION ALL
              SELECT url, p + 3 + a, 4, 'Deep B1 of ' || s, p + 2 + a
              FROM d WHERE b = 1)
            SELECT url, CAST(heading_idx AS INT) AS heading_idx,
                   CAST(level AS INT) AS level, text,
                   CAST(parent_idx AS INT) AS parent_idx
            FROM rows_ ORDER BY url, heading_idx
        """)
def q_outline_extract(spark, sf_dir):
    """Heading-outline extraction: h1–h6 in document order with each
    heading's hierarchical parent (nearest preceding smaller level —
    resolved by one shared window, no self-join). The in-query corpus
    plants closed-form arms: an h2 BEFORE any h1 at %5==2 (a root
    non-h1), an optional h3 at %3==0, a skip-level h4 directly under
    an h2 at %4==1 — so parent indices shift by arm presence and the
    oracle states every (idx, level, parent) triple arithmetically."""
    from mindocr_spark.functions.structured import extract_outline

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ds = did.cast("string")

    def h(level, label):
        return F.concat(
            F.lit(f"<h{level}>{label} "), ds, F.lit(f"</h{level}>")
        )

    parts = F.concat_ws(
        "",
        F.when(did % 5 == 2, h(2, "Preface")),
        h(1, "Title"),
        h(2, "Section A of"),
        F.when(did % 3 == 0, h(3, "Sub A1 of")),
        h(2, "Section B of"),
        F.when(did % 4 == 1, h(4, "Deep B1 of")),
    )
    pages = docs.select(
        F.concat(F.lit("https://o.example/p-"), ds, F.lit(".html"))
        .alias("url"),
        F.concat(
            F.lit("<html><body>"), parts, F.lit("<p>body</p></body></html>")
        ).alias("html"),
    )
    return extract_outline(pages).orderBy("url", "heading_idx")


from mindocr_spark.functions.crawl import (  # noqa: E402
    SOFT404_RE as _SOFT404_RE,
)


# soft-404 flags: corpus rebuilt, both rlikes + the shared
# token count recomputed with the SAME pattern constant
@query("soft404_detect", family="text_quality", oracle=r"""
            WITH built AS (
              SELECT 'https://s.example/p-' || CAST(doc_id AS VARCHAR)
                       AS url,
                     CASE WHEN doc_id % 6 = 1 THEN '404 Not Found'
                          WHEN doc_id % 6 = 2
                            THEN 'Oops - this page no longer exists'
                          ELSE 'Doc ' || CAST(doc_id AS VARCHAR)
                     END AS title,
                     CASE WHEN doc_id % 9 = 4
                            THEN 'the page you requested was not found'
                          WHEN doc_id % 9 = 5
                            THEN 'not found in our archive. ' || text
                          ELSE text END AS text
              FROM documents),
            f AS (
              SELECT url,
                     regexp_matches(lower(title), '__PAT__') AS title_404,
                     regexp_matches(lower(substr(coalesce(text, ''),
                                                 1, 200)),
                                    '__PAT__') AS body_404,
                     CASE WHEN trim(regexp_replace(coalesce(text, ''),
                            '[ \t\n\r\f\x0B]+',' ','g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(
                            coalesce(text, ''),
                            '[ \t\n\r\f\x0B]+',' ','g')),' '))
                     END AS nt
              FROM built)
            SELECT url, title_404, body_404,
                   CAST(nt AS INT) AS n_tokens,
                   (nt < 10) AS thin,
                   (title_404 OR (body_404 AND nt < 10)) AS is_soft404
            FROM f ORDER BY url
        """.replace("__PAT__", _SOFT404_RE.replace("'", "''")))
def q_soft404(spark, sf_dir):
    """Soft-404 detection (pages that 200 but mean 404 — what the
    HTTP status gate cannot see). In-query corpus arms: %6==1/2 plant
    error titles, %9==4 replaces the body with a thin error page
    (soft404 via body+thin), %9==5 PREPENDS error phrasing to a long
    body (body hit but NOT thin — must not flag). The oracle rebuilds
    the corpus and recomputes both rlikes and the shared token count
    under RE2."""
    from mindocr_spark.functions.crawl import soft404_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    built = docs.select(
        F.concat(F.lit("https://s.example/p-"), did.cast("string"))
        .alias("url"),
        F.when(did % 6 == 1, F.lit("404 Not Found"))
        .when(did % 6 == 2, F.lit("Oops - this page no longer exists"))
        .otherwise(F.concat(F.lit("Doc "), did.cast("string")))
        .alias("title"),
        F.when(
            did % 9 == 4, F.lit("the page you requested was not found")
        )
        .when(did % 9 == 5,
              F.concat(F.lit("not found in our archive. "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return soft404_flags(built, min_tokens=10).orderBy("url")


# shard export: shard and in-file seq re-derived from doc_id
# arithmetic; text/lang must survive the JSON round trip
@query("shard_export", family="formats", oracle=r"""
            WITH m AS (
              SELECT doc_id, text, lang,
                     md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents)
            SELECT doc_id, lang, text,
                   substr(h, 1, 1) AS shard,
                   CAST(row_number() OVER (
                          PARTITION BY substr(h, 1, 1)
                          ORDER BY h, doc_id) - 1 AS BIGINT) AS seq
            FROM m ORDER BY doc_id
        """)
def q_shard_export(spark, sf_dir):
    """Training-shard EXPORT end-to-end: the documents table serialized
    as bit-reproducible JSONL shard files (md5-prefix shard assignment,
    (md5(id), id) in-file order, one-group-per-file distributed
    writer), then ingested back through the binaryFile line parser.
    The oracle re-derives shard AND seq from doc_id arithmetic — so
    the assignment function, the in-file ordering, and the JSON
    round-trip fidelity of text/lang must all agree."""
    from mindocr_spark.sources.shards import read_jsonl_shards, synth_shard_dir

    docs = read_jsonl_shards(spark, synth_shard_dir(spark, sf_dir))
    return docs.select(
        "doc_id", "lang", "text", "shard", "seq"
    ).orderBy("doc_id")


@query("sentence_split", family="extraction", oracle=r"""
            WITH base AS (
              SELECT doc_id, text, length(text) // 4 AS q
              FROM documents),
            built AS (
              SELECT doc_id,
                     substr(text, 1, q) || '. '
                     || substr(text, q + 1, q)
                     || CASE WHEN doc_id % 3 = 1 THEN '!! '
                             ELSE '! ' END
                     || substr(text, 2 * q + 1, q) || '? '
                     || substr(text, 3 * q + 1, length(text) - 3 * q)
                     || CASE WHEN doc_id % 5 = 0 THEN '...'
                             ELSE '' END AS text
              FROM base),
            segs AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(text, '__PAT__', 1)) AS raw,
                     generate_subscripts(
                       regexp_extract_all(text, '__PAT__', 1), 1) - 1
                       AS sent_idx
              FROM built),
            off AS (
              SELECT doc_id, sent_idx, raw,
                     coalesce(SUM(length(raw)) OVER (
                       PARTITION BY doc_id ORDER BY sent_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev_len
              FROM segs),
            trimmed AS (
              SELECT doc_id, sent_idx, raw, prev_len,
                     length(regexp_extract(raw,
                       '^[ \t\n\r\f\x0B]+', 0)) AS lead_ws,
                     regexp_replace(raw,
                       '^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$',
                       '', 'g') AS sentence
              FROM off)
            SELECT doc_id, CAST(sent_idx AS INT) AS sent_idx, sentence,
                   CAST(prev_len + 1 + lead_ws AS INT) AS char_start,
                   CAST(prev_len + lead_ws + length(sentence) AS INT)
                     AS char_end
            FROM trimmed WHERE sentence <> ''
            ORDER BY doc_id, sent_idx
        """.replace("__PAT__", _SENTENCE_RE))
def q_sentence_split(spark, sf_dir):
    """Sentence segmentation with exact source offsets (the C4
    sentence-level grain). The word-soup corpus has no terminators, so
    the query builds a multi-sentence variant from text quarters:
    '. ', '! ' (doubled to '!! ' at %3==1 — terminator runs stay
    attached), '? ' separators, and at %5==0 a '...' run closing the
    final quarter (otherwise it is the unterminated tail fragment).
    The oracle re-runs the SAME tiling regex and window arithmetic in
    DuckDB — segmentation, trimming, and offsets must all agree."""
    from mindocr_spark.functions.text import sentence_split

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("q", F.expr("length(text) div 4"))
    )
    did = F.col("doc_id")
    built = d.select(
        "doc_id",
        F.concat(
            F.expr("substr(text, 1, q)"), F.lit(". "),
            F.expr("substr(text, q + 1, q)"),
            F.when(did % 3 == 1, F.lit("!! ")).otherwise(F.lit("! ")),
            F.expr("substr(text, 2 * q + 1, q)"), F.lit("? "),
            F.expr("substr(text, 3 * q + 1, length(text) - 3 * q)"),
            F.when(did % 5 == 0, F.lit("...")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return sentence_split(built).orderBy("doc_id", "sent_idx")


# sentence tiling: same regex + window arithmetic in DuckDB
# twin of lm.llr_keywords: exact BIGINT margins from the
# (lang, term) grid, integer over-representation test,
# ln-chain cell terms 9dp-quantized, 4-cell exact DECIMAL sum
@query("llr_keywords", family="retrieval", oracle=r"""
            WITH t AS (
              SELECT lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents WHERE lang IS NOT NULL),
            tok AS (
              SELECT lang AS grp, unnest(string_split(norm, ' '))
                       AS term
              FROM t WHERE norm <> ''),
            cells AS (
              SELECT grp, term, CAST(count(*) AS BIGINT) AS k11
              FROM tok GROUP BY grp, term),
            ntot AS (
              SELECT CAST(sum(k11) AS BIGINT) AS n_total FROM cells),
            sized AS (
              SELECT grp, term, k11,
                     CAST(sum(k11) OVER (PARTITION BY term) AS BIGINT)
                       AS term_total,
                     CAST(sum(k11) OVER (PARTITION BY grp) AS BIGINT)
                       AS group_total,
                     n_total
              FROM cells CROSS JOIN ntot),
            cand AS (
              SELECT * FROM sized
              WHERE k11 >= 5
                AND CAST(k11 AS DECIMAL(15,0))
                    * CAST(n_total AS DECIMAL(15,0))
                    > CAST(group_total AS DECIMAL(15,0))
                      * CAST(term_total AS DECIMAL(15,0))),
            scored AS (
              SELECT grp AS "group", term, k11, term_total,
                     group_total, n_total,
                     2.0 * CAST(
                       CAST(CASE WHEN k11 > 0 THEN round(
                         CAST(k11 AS DOUBLE)
                         * (ln(CAST(k11 AS DOUBLE))
                            + ln(CAST(n_total AS DOUBLE))
                            - ln(CAST(group_total AS DOUBLE))
                            - ln(CAST(term_total AS DOUBLE))), 9)
                         ELSE CAST(0.0 AS DOUBLE) END
                         AS DECIMAL(28,9))
                       + CAST(CASE WHEN term_total - k11 > 0 THEN round(
                         CAST(term_total - k11 AS DOUBLE)
                         * (ln(CAST(term_total - k11 AS DOUBLE))
                            + ln(CAST(n_total AS DOUBLE))
                            - ln(CAST(n_total - group_total AS DOUBLE))
                            - ln(CAST(term_total AS DOUBLE))), 9)
                         ELSE CAST(0.0 AS DOUBLE) END
                         AS DECIMAL(28,9))
                       + CAST(CASE WHEN group_total - k11 > 0 THEN round(
                         CAST(group_total - k11 AS DOUBLE)
                         * (ln(CAST(group_total - k11 AS DOUBLE))
                            + ln(CAST(n_total AS DOUBLE))
                            - ln(CAST(group_total AS DOUBLE))
                            - ln(CAST(n_total - term_total AS DOUBLE))),
                         9)
                         ELSE CAST(0.0 AS DOUBLE) END
                         AS DECIMAL(28,9))
                       + CAST(CASE WHEN n_total - term_total
                                   - (group_total - k11) > 0 THEN round(
                         CAST(n_total - term_total
                              - (group_total - k11) AS DOUBLE)
                         * (ln(CAST(n_total - term_total
                                    - (group_total - k11) AS DOUBLE))
                            + ln(CAST(n_total AS DOUBLE))
                            - ln(CAST(n_total - group_total AS DOUBLE))
                            - ln(CAST(n_total - term_total AS DOUBLE))),
                         9)
                         ELSE CAST(0.0 AS DOUBLE) END
                         AS DECIMAL(28,9))
                       AS DOUBLE) AS llr
              FROM cand),
            ranked AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY "group"
                       ORDER BY llr DESC, term ASC) AS BIGINT) AS rank
              FROM scored)
            SELECT "group", term, k11, term_total, group_total,
                   n_total, llr, rank
            FROM ranked WHERE rank <= 10 ORDER BY "group", rank""")
def q_llr_keywords(spark, sf_dir):
    """Dunning G² distinctive vocabulary per language — top-10
    over-represented terms against the rest of the corpus (the
    robust-at-low-counts complement of tf-idf/PMI). Margins exact
    BIGINTs, over-representation an exact integer test, each cell
    term the ln-chain form 9dp-quantized, four cells summed in
    exact DECIMAL (functions/lm.llr_keywords)."""
    from mindocr_spark.functions.lm import llr_keywords

    return llr_keywords(
        _t(spark, sf_dir, "documents"), "lang", top_k=10, min_count=5
    ).orderBy("group", "rank")


# twin of search.textrank_sentences + the quarter-tiled
# fixture: similarity graph |A∩B|/(nA + nB) (ln-free — no
# libm crosses the engine boundary), out-weight
# normalization and THREE unrolled power iterations all on
# the 9dp-quantize → DECIMAL-sum discipline; isolated
# sentences land on the (1.0 − 0.85) floor
@query("textrank_summary", family="retrieval", oracle=r"""
            WITH t AS (
              SELECT doc_id, text, length(text) // 4 AS q
              FROM documents),
            sents AS (
              SELECT doc_id AS doc, CAST(0 AS BIGINT) AS sid,
                     substr(text, 1, q) AS sentence FROM t
              UNION ALL SELECT doc_id, CAST(1 AS BIGINT),
                     substr(text, q + 1, q) FROM t
              UNION ALL SELECT doc_id, CAST(2 AS BIGINT),
                     substr(text, 2*q + 1, q) FROM t
              UNION ALL SELECT doc_id, CAST(3 AS BIGINT),
                     substr(text, 3*q + 1, length(text) - 3*q)
                     FROM t),
            tk AS (
              SELECT doc, sid, sentence,
                     list_distinct(CASE
                       WHEN trim(regexp_replace(sentence,
                            '[ \t\n\r\f\x0B]+',' ','g')) = ''
                       THEN CAST([] AS VARCHAR[])
                       ELSE string_split(trim(regexp_replace(sentence,
                            '[ \t\n\r\f\x0B]+',' ','g')),' ')
                       END) AS toks
              FROM sents),
            spine AS (
              SELECT doc, sid, sentence,
                     CAST(len(toks) AS BIGINT) AS n_tok
              FROM tk WHERE len(toks) >= 1),
            tok AS (
              SELECT doc, sid, unnest(toks) AS token
              FROM tk WHERE len(toks) >= 1),
            ov AS (
              SELECT a.doc, b.sid AS src, a.sid AS dst,
                     CAST(count(*) AS BIGINT) AS ov
              FROM tok a JOIN tok b
                ON a.doc = b.doc AND a.token = b.token
               AND a.sid != b.sid
              GROUP BY a.doc, b.sid, a.sid),
            wei AS (
              SELECT ov.doc, src, dst,
                     CAST((2 * ov * 1000000000
                           + (x.n_tok + y.n_tok))
                          // (2 * (x.n_tok + y.n_tok)) AS BIGINT)
                       AS w_int
              FROM ov
              JOIN spine x ON ov.doc = x.doc AND ov.src = x.sid
              JOIN spine y ON ov.doc = y.doc AND ov.dst = y.sid),
            edges AS (
              SELECT doc, src, dst,
                     -- width 19 forces DuckDB's int128 multiply path
                     -- (int64*int64 decimal multiply overflows at 1e18)
                     CAST((2 * w_int * 1000000000 + out_w)
                          // (2 * out_w) AS DECIMAL(19, 0)) AS wn_nano
              FROM (SELECT *, SUM(w_int) OVER
                      (PARTITION BY doc, src) AS out_w
                    FROM wei)),
            s1 AS (
              SELECT e.doc, e.dst AS sid,
                     SUM(e.wn_nano * CAST(1.0 AS DECIMAL(15, 9))) AS s
              FROM edges e GROUP BY e.doc, e.dst),
            r1 AS (
              SELECT sp.doc, sp.sid,
                     CAST(round(CAST(0.15 AS DECIMAL(28,20))
                          + CAST(0.85 AS DECIMAL(3,2))
                            * (coalesce(CAST(s AS DECIMAL(21,9)),
                                        CAST(0 AS DECIMAL(21,9)))
                               * CAST(0.000000001 AS DECIMAL(9,9))),
                          9) AS DECIMAL(15,9)) AS r
              FROM spine sp LEFT JOIN s1
                ON sp.doc = s1.doc AND sp.sid = s1.sid),
            s2 AS (
              SELECT e.doc, e.dst AS sid,
                     SUM(e.wn_nano * r1.r) AS s
              FROM edges e JOIN r1
                ON e.doc = r1.doc AND e.src = r1.sid
              GROUP BY e.doc, e.dst),
            r2 AS (
              SELECT sp.doc, sp.sid,
                     CAST(round(CAST(0.15 AS DECIMAL(28,20))
                          + CAST(0.85 AS DECIMAL(3,2))
                            * (coalesce(CAST(s AS DECIMAL(21,9)),
                                        CAST(0 AS DECIMAL(21,9)))
                               * CAST(0.000000001 AS DECIMAL(9,9))),
                          9) AS DECIMAL(15,9)) AS r
              FROM spine sp LEFT JOIN s2
                ON sp.doc = s2.doc AND sp.sid = s2.sid),
            s3 AS (
              SELECT e.doc, e.dst AS sid,
                     SUM(e.wn_nano * r2.r) AS s
              FROM edges e JOIN r2
                ON e.doc = r2.doc AND e.src = r2.sid
              GROUP BY e.doc, e.dst),
            r3 AS (
              SELECT sp.doc, sp.sid,
                     CAST(round(CAST(0.15 AS DECIMAL(28,20))
                          + CAST(0.85 AS DECIMAL(3,2))
                            * (coalesce(CAST(s AS DECIMAL(21,9)),
                                        CAST(0 AS DECIMAL(21,9)))
                               * CAST(0.000000001 AS DECIMAL(9,9))),
                          9) AS DECIMAL(15,9)) AS r
              FROM spine sp LEFT JOIN s3
                ON sp.doc = s3.doc AND sp.sid = s3.sid),
            ranked AS (
              SELECT sp.doc, sp.sid, sp.sentence,
                     CAST(r3.r AS DOUBLE) AS score,
                     CAST(row_number() OVER (PARTITION BY sp.doc
                          ORDER BY r3.r DESC, sp.sid ASC) AS BIGINT)
                       AS rank
              FROM spine sp JOIN r3
                ON sp.doc = r3.doc AND sp.sid = r3.sid)
            SELECT doc AS doc_id, sid AS sent_idx, sentence, score,
                   rank
            FROM ranked WHERE rank <= 2 ORDER BY doc_id, rank""")
def q_textrank_summary(spark, sf_dir):
    """TextRank extractive top-2 summary over quarter-tiled sentences
    (the span_dedup tiling — 4 'sentences' per doc by substring
    arithmetic, trivially re-buildable in SQL): sentence-similarity
    graph |A∩B|/(n_A + n_B) (ln-free), 3 power iterations with the full
    9dp-quantize + DECIMAL-sum discipline at every step
    (functions/search.textrank_sentences)."""
    from mindocr_spark.functions.search import textrank_sentences

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("q", F.expr("length(text) div 4"))
    )
    arms = F.array(
        F.struct(
            F.lit(0).cast("bigint").alias("sent_idx"),
            F.expr("substr(text, 1, q)").alias("sentence"),
        ),
        F.struct(
            F.lit(1).cast("bigint").alias("sent_idx"),
            F.expr("substr(text, q + 1, q)").alias("sentence"),
        ),
        F.struct(
            F.lit(2).cast("bigint").alias("sent_idx"),
            F.expr("substr(text, 2 * q + 1, q)").alias("sentence"),
        ),
        F.struct(
            F.lit(3).cast("bigint").alias("sent_idx"),
            F.expr("substr(text, 3 * q + 1, length(text) - 3 * q)")
            .alias("sentence"),
        ),
    )
    sents = d.select("doc_id", F.explode(arms).alias("s")).select(
        "doc_id", "s.sent_idx", "s.sentence"
    )
    return textrank_sentences(
        sents, top_k=2, iters=3
    ).orderBy("doc_id", "rank")


# unigram_drift: same snapshot construction + smoothing +
# ln-quantization discipline, recomputed in SQL
@query("unigram_drift", oracle=r"""
            WITH old_t AS (
              SELECT coalesce(lang, 'und') AS grp,
                     unnest(string_split(trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ')) AS token,
                     0 AS side
              FROM documents),
            new_docs AS (
              SELECT lang,
                     CASE WHEN doc_id % 7 = 0
                          THEN text ||
                            ' drifted vocabulary appears here now'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 10 <> 9),
            new_t AS (
              SELECT coalesce(lang, 'und') AS grp,
                     unnest(string_split(trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ')) AS token,
                     1 AS side
              FROM new_docs),
            allt AS (
              SELECT * FROM old_t UNION ALL SELECT * FROM new_t),
            counts AS (
              SELECT grp, token,
                     count(*) FILTER (WHERE side = 0) AS c_old,
                     count(*) FILTER (WHERE side = 1) AS c_new
              FROM allt GROUP BY grp, token),
            tot AS (
              SELECT grp, sum(c_old) AS n_old, sum(c_new) AS n_new,
                     count(*) AS v
              FROM counts GROUP BY grp),
            terms AS (
              SELECT c.grp, t.n_old, t.n_new, t.v,
                     CAST(round(
                       (CAST(c.c_new + 1 AS DOUBLE)
                          / CAST(t.n_new + t.v AS DOUBLE))
                       * round(ln(
                           (CAST(c.c_new + 1 AS DOUBLE)
                              / CAST(t.n_new + t.v AS DOUBLE))
                           / (CAST(c.c_old + 1 AS DOUBLE)
                              / CAST(t.n_old + t.v AS DOUBLE))), 9),
                       12) AS DECIMAL(28,12)) AS term
              FROM counts c JOIN tot t USING (grp))
            SELECT grp AS lang,
                   CAST(any_value(n_old) AS BIGINT) AS n_tokens_old,
                   CAST(any_value(n_new) AS BIGINT) AS n_tokens_new,
                   CAST(any_value(v) AS BIGINT) AS vocab_size,
                   round(CAST(sum(term) AS DOUBLE), 6) + 0.0
                     AS kl_drift
            FROM terms GROUP BY grp ORDER BY lang
        """)
def q_unigram_drift(spark, sf_dir):
    """Snapshot-to-snapshot distribution drift: KL(new‖old) per
    language over add-one-smoothed unigram distributions. The 'new'
    snapshot drops every %10==9 doc (churn) and appends a drift
    phrase to every %7 doc (novel vocabulary) — so every language
    stratum takes a small positive KL the oracle reproduces term by
    term under the shared ln-quantization discipline."""
    from mindocr_spark.functions.text import unigram_drift

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    new = docs.where(F.col("doc_id") % 10 != 9).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" drifted vocabulary appears here now"),
            ),
        ).otherwise(F.col("text")).alias("text"),
        "lang",
    )
    return (
        unigram_drift(docs, new, group_col="lang")
        .withColumnRenamed("grp", "lang")
        # round 6 (+0.0): absorb one-engine-ulp drift of the 9-dp log
        # quantization boundary (the selection_bias sf0.001 lesson)
        .withColumn("kl_drift",
                    F.round(F.col("kl_drift"), 6) + F.lit(0.0))
        .orderBy("lang")
    )


# unigram token entropy: list-comprehension twin of the HOF
# fold — p = c/n IEEE division, ln quantized round(·,9), terms
# quantized at 12, DECIMAL sum, one final double cast
@query("token_entropy", family="text_quality", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents),
            tok AS (
              SELECT doc_id,
                     CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split(norm, ' ') END AS toks
              FROM t),
            c AS (
              SELECT doc_id, len(toks) AS n,
                     len(list_distinct(toks)) AS d,
                     list_transform(list_distinct(toks),
                       tt -> len(list_filter(toks, x -> x = tt))) AS cnts
              FROM tok),
            u AS (
              SELECT doc_id,
                     unnest(list_transform(cnts, cc ->
                       CAST(round(
                         (CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))
                         * round(ln(CAST(cc AS DOUBLE)
                                    / CAST(n AS DOUBLE)), 9),
                         12) AS DECIMAL(28,12)))) AS term
              FROM c),
            s AS (
              SELECT doc_id, SUM(term) AS ent FROM u GROUP BY doc_id)
            SELECT c.doc_id,
                   CAST(c.n AS INT) AS n_tokens,
                   CAST(c.d AS INT) AS n_types,
                   CASE WHEN c.n > 0
                        THEN CAST(-s.ent AS DOUBLE) END AS token_entropy
            FROM c LEFT JOIN s USING (doc_id)
            ORDER BY c.doc_id
        """)
def q_token_entropy(spark, sf_dir):
    """Unigram token-entropy gate features: −Σ p·ln p over each doc's
    token distribution (the Gopher symbol-distribution family — sees
    the SHAPE of the frequency distribution where TTR only sees its
    support). Exactness is the ln-quantization discipline: one IEEE
    division per term, ln rounded at 9, terms quantized at 12 and
    summed as DECIMAL, one final cast to double — bit-identical to the
    DuckDB list-comprehension twin."""
    from mindocr_spark.functions.text import entropy_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return entropy_cols(docs).orderBy("doc_id")


@query("incremental_dedup", family="dedup", oracle=f"""
            WITH perms AS (SELECT CAST(range AS INT) AS perm FROM range(32)),
            a AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
            b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
            afp AS (SELECT doc_id, {_FP_SQL} AS fp FROM a),
            arep AS (
              SELECT doc_id, fp FROM (
                SELECT doc_id, fp,
                       min(doc_id) OVER (PARTITION BY fp) AS rep
                FROM afp)
              WHERE doc_id = rep),
            {_md5_sig_ctes("a", "_a0")},
            acand AS (
              SELECT DISTINCT x.doc_id AS lo_id, y.doc_id AS hi_id
              FROM banded_a0 x JOIN banded_a0 y USING (band, bucket)
              WHERE x.doc_id < y.doc_id),
            aest AS (
              SELECT lo_id, hi_id,
                     SUM(CASE WHEN sl.minh = sh.minh THEN 1 ELSE 0 END) AS n_match
              FROM acand
              JOIN sig_a0 sl ON sl.doc_id = acand.lo_id
              JOIN sig_a0 sh ON sh.doc_id = acand.hi_id AND sh.perm = sl.perm
              GROUP BY lo_id, hi_id),
            avict AS (
              SELECT DISTINCT hi_id FROM aest
              WHERE round(CAST(n_match AS DOUBLE) / 32.0, 6) >= 0.35),
            acorp AS (
              SELECT a.doc_id, a.text FROM a JOIN arep USING (doc_id)
              WHERE a.doc_id NOT IN (SELECT hi_id FROM avict)),
            acfp AS (SELECT doc_id, {_FP_SQL} AS fp FROM acorp),
            bflags AS (
              SELECT doc_id, fp,
                     doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_rep
              FROM (SELECT doc_id, {_FP_SQL} AS fp FROM b)),
            {_md5_sig_ctes("acorp", "_a")},
            {_md5_sig_ctes("b", "_b")},
            bcand AS (
              SELECT DISTINCT x.doc_id AS lo_id, y.doc_id AS hi_id
              FROM banded_b x JOIN banded_b y USING (band, bucket)
              WHERE x.doc_id < y.doc_id),
            best AS (
              SELECT lo_id, hi_id,
                     SUM(CASE WHEN sl.minh = sh.minh THEN 1 ELSE 0 END) AS n_match
              FROM bcand
              JOIN sig_b sl ON sl.doc_id = bcand.lo_id
              JOIN sig_b sh ON sh.doc_id = bcand.hi_id AND sh.perm = sl.perm
              GROUP BY lo_id, hi_id),
            bnear AS (
              SELECT DISTINCT hi_id FROM best
              WHERE round(CAST(n_match AS DOUBLE) / 32.0, 6) >= 0.35),
            cand AS (
              SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
              FROM banded_b x JOIN banded_a y USING (band, bucket)),
            est AS (
              SELECT new_id, old_id,
                     SUM(CASE WHEN sb.minh = sa.minh THEN 1 ELSE 0 END) AS n_match
              FROM cand
              JOIN sig_b sb ON sb.doc_id = cand.new_id
              JOIN sig_a sa ON sa.doc_id = cand.old_id AND sa.perm = sb.perm
              GROUP BY new_id, old_id),
            near AS (
              SELECT DISTINCT new_id FROM est
              WHERE round(CAST(n_match AS DOUBLE) / 32.0, 6) >= 0.35)
            SELECT f.doc_id, f.is_rep,
                   f.doc_id IN (SELECT hi_id FROM bnear) AS near_batch,
                   f.fp IN (SELECT fp FROM acfp) AS exact_cross,
                   f.doc_id IN (SELECT new_id FROM near) AS near_cross,
                   (f.is_rep
                    AND f.doc_id NOT IN (SELECT hi_id FROM bnear)
                    AND f.fp NOT IN (SELECT fp FROM acfp)
                    AND f.doc_id NOT IN (SELECT new_id FROM near)) AS kept
            FROM bflags f ORDER BY f.doc_id
        """)
def q_incremental_dedup(spark, sf_dir):
    """Incremental cross-corpus dedup, exact-oracled end to end: the
    even-doc_id half of `documents` is committed as increment 1 through
    the REAL DedupLog (manifest-commit state: fingerprints + md5
    MinHash signatures + LSH band buckets, mindocr_spark/dedup_state.py),
    then the odd half is flagged against that committed state. The md5
    signature family (n_perm=32, bands=8, k=3 — the same parameters as
    the minhash_lsh_md5 oracle) is bit-reproducible in DuckDB, so every
    flag — within-batch exact rep, within-batch LSH near victim,
    exact-cross, LSH near-cross, kept — is an exact cross-engine check,
    state round-trip included (the oracle rebuilds increment 1's
    survivor set, within-batch near pass included, from scratch)."""
    from mindocr_spark.functions import dedup as dedup_mod
    from mindocr_spark.functions import text as text_mod
    from mindocr_spark import dedup_state as ds_mod
    from mindocr_spark.dedup_state import (
        DedupLog, MinHashParams, cross_corpus_flags, dedup_increment,
    )
    from mindocr_spark.sources import content_keyed_fixture_dir

    p = MinHashParams(family="md5", n_perm=32, bands=8, k=3)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)

    def build(out_dir):
        dedup_increment(a, DedupLog(spark, out_dir), "inc-a",
                        params=p, threshold=0.35)

    from mindocr_spark.operators import pipeline as pipeline_mod

    root = content_keyed_fixture_dir(
        "dedupstate", sf_dir,
        # pipeline_mod implements the manifest protocol the DedupLog
        # commits through — a format change must invalidate the cache
        (ds_mod.__file__, dedup_mod.__file__, text_mod.__file__,
         pipeline_mod.__file__),
        build,
    )
    flags = cross_corpus_flags(
        b, DedupLog(spark, root), p, threshold=0.35, id_col="doc_id"
    )
    return flags.select(
        "doc_id", "is_rep", "near_batch", "exact_cross", "near_cross",
        "kept",
    ).orderBy("doc_id")


# ==========================================================================
# Similarity search
# ==========================================================================


@query("ann_cosine_topk", family="similarity", oracle="""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            s AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_dot_product(q.v, c.v)
                           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
                           4) AS cos_sim
              FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id != c.vec_id),
            r AS (
              SELECT query_id, neighbor_id, cos_sim,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
              FROM s)
            SELECT * FROM r WHERE rank <= 5 ORDER BY query_id, rank
        """)
def q_ann_cosine_topk(spark, sf_dir):
    from mindocr_spark.functions.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, emb.where(F.col("vec_id") < 20), k=5
    ).select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank")
    ).orderBy("query_id", "rank")


@query("bitext_mine", family="similarity", oracle="""
            WITH a AS (
              SELECT vec_id AS src_id, embedding::DOUBLE[] AS av
              FROM embeddings WHERE vec_id % 50 = 0),
            b AS (
              SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS bv
              FROM embeddings WHERE vec_id % 2 = 1),
            scored AS (
              SELECT src_id, tgt_id,
                     round(list_dot_product(av, bv)
                           / (sqrt(list_dot_product(av, av))
                              * sqrt(list_dot_product(bv, bv))),
                           4) + 0.0 AS cos_sim
              FROM a CROSS JOIN b),
            fwd AS (
              SELECT src_id, tgt_id, cos_sim,
                     row_number() OVER (PARTITION BY src_id
                       ORDER BY cos_sim DESC, tgt_id ASC) AS r
              FROM scored),
            fwd1 AS (
              SELECT src_id, tgt_id, cos_sim AS cos_fwd
              FROM fwd WHERE r = 1),
            fwd2 AS (
              SELECT src_id, cos_sim AS cos_2nd
              FROM fwd WHERE r = 2),
            bwd1 AS (
              SELECT tgt_id, src_id AS back_src FROM (
                SELECT tgt_id, src_id,
                       row_number() OVER (PARTITION BY tgt_id
                         ORDER BY cos_sim DESC, src_id ASC) AS rb
                FROM scored)
              WHERE rb = 1)
            SELECT f.src_id, f.tgt_id, f.cos_fwd,
                   f.cos_fwd - s.cos_2nd AS margin
            FROM fwd1 f
            JOIN fwd2 s USING (src_id)
            JOIN bwd1 w USING (tgt_id)
            WHERE w.back_src = f.src_id
              AND f.cos_fwd - s.cos_2nd >= CAST(0.01 AS DOUBLE)
            ORDER BY f.src_id
        """)
def q_bitext_mine(spark, sf_dir):
    """Margin-based bitext mining: mutual nearest neighbour between
    the even-id query slice and the odd-id target slice with an
    absolute margin gate — broadcast query side, deterministic
    (cos desc, id asc) tie-breaks, difference of rounded cosines."""
    from mindocr_spark.functions.similarity import bitext_mine

    emb = _t(spark, sf_dir, "embeddings")
    return bitext_mine(
        emb.where(F.col("vec_id") % 50 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        min_margin=0.01,
    ).orderBy("src_id")


@query("ann_lsh_topk", family="similarity", oracle=_lsh_ann_oracle())
def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (approximate — rows-only check; recall vs exact
    is asserted in tests/test_similarity.py)."""
    from mindocr_spark.functions.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 20), k=5).select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank")
    ).orderBy("query_id", "rank")


@query("ann_ivf_topk", family="similarity",
       oracle="WITH " + _IVF_INDEX_CTES + """,
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
            qc AS (
              SELECT query_id, qv, cid FROM (
                SELECT q.query_id, q.qv, c.cid,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                         round(list_dot_product(q.qv, c.cent)
                               / (sqrt(list_dot_product(q.qv, q.qv))
                                  * sqrt(list_dot_product(c.cent, c.cent))), 9) DESC,
                         c.cid ASC) AS crank
                FROM q CROSS JOIN cent c)
              WHERE crank <= 3),
            scored AS (
              SELECT query_id, neighbor_id,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv))), 4) AS cos_sim
              FROM qc JOIN assign USING (cid)
              WHERE query_id != neighbor_id),
            r AS (
              SELECT query_id, neighbor_id, cos_sim,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
              FROM scored)
            SELECT * FROM r WHERE rank <= 5 ORDER BY query_id, rank
        """)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN — deterministic assignment (rounded cosine keys
    + cid tie-breaks) makes the whole inverted-list pipeline
    oracle-checkable."""
    from mindocr_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 20), k=5).select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank")
    ).orderBy("query_id", "rank")


# twin of similarity.pq_adc_topk (m=4, k_sub=16, 1 Lloyd
# pass): id-grid seeds ranked by id, pinned rounded-L2
# assignment (dd − 2·dc + cc at 9dp, code tie-break),
# DECIMAL Lloyd means rounded at 6, per-query LUT of
# 9dp-rounded sub-dots DECIMAL-summed
@query("ann_pq_topk", family="similarity", oracle=r"""
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            par AS (SELECT greatest(1, COUNT(*) // 16) AS stride FROM e),
            grid AS (
              SELECT vec_id, v,
                     row_number() OVER (ORDER BY vec_id) AS rk
              FROM e, par WHERE vec_id % stride = 0),
            jj AS (SELECT unnest(range(4)) AS j),
            cent0 AS (
              SELECT CAST(j AS BIGINT) AS sub,
                     CAST(rk - 1 AS BIGINT) AS code,
                     v[j*16 + 1 : j*16 + 16] AS cent
              FROM grid CROSS JOIN jj WHERE rk <= 16),
            subs AS (
              SELECT vec_id AS nid, CAST(j AS BIGINT) AS sub,
                     v[j*16 + 1 : j*16 + 16] AS sv
              FROM e CROSS JOIN jj),
            a0 AS (
              SELECT nid, sub, sv, code FROM (
                SELECT subs.nid, subs.sub, subs.sv, c.code,
                       row_number() OVER (
                         PARTITION BY subs.nid, subs.sub ORDER BY
                         round(list_dot_product(subs.sv, subs.sv)
                               - 2.0 * list_dot_product(subs.sv,
                                                        c.cent)
                               + list_dot_product(c.cent, c.cent), 9)
                           ASC,
                         c.code ASC) AS arank
                FROM subs JOIN cent0 c ON subs.sub = c.sub)
              WHERE arank = 1),
            comp AS (
              SELECT sub, code, unnest(sv) AS comp,
                     generate_subscripts(sv, 1) AS pos
              FROM a0),
            mm AS (
              SELECT sub, code, pos,
                     round(CAST(SUM(CAST(comp AS DECIMAL(28, 9)))
                                AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE), 6) AS mv
              FROM comp GROUP BY sub, code, pos),
            cent AS (
              SELECT sub, code, list(mv ORDER BY pos) AS cent
              FROM mm GROUP BY sub, code),
            codes AS (
              SELECT nid, sub, code FROM (
                SELECT subs.nid, subs.sub, c.code,
                       row_number() OVER (
                         PARTITION BY subs.nid, subs.sub ORDER BY
                         round(list_dot_product(subs.sv, subs.sv)
                               - 2.0 * list_dot_product(subs.sv,
                                                        c.cent)
                               + list_dot_product(c.cent, c.cent), 9)
                           ASC,
                         c.code ASC) AS arank
                FROM subs JOIN cent c ON subs.sub = c.sub)
              WHERE arank = 1),
            qsubs AS (
              SELECT vec_id AS query_id, CAST(j AS BIGINT) AS sub,
                     v[j*16 + 1 : j*16 + 16] AS sv
              FROM e CROSS JOIN jj WHERE vec_id < 10),
            lut AS (
              SELECT query_id, c.sub, c.code,
                     round(list_dot_product(q.sv, c.cent), 9)
                       AS contrib
              FROM qsubs q JOIN cent c ON q.sub = c.sub),
            scored AS (
              SELECT query_id, nid AS neighbor_id,
                     CAST(SUM(CAST(contrib AS DECIMAL(28, 9)))
                          AS DOUBLE) AS adc_score
              FROM codes JOIN lut USING (sub, code)
              WHERE query_id != nid
              GROUP BY query_id, nid),
            ranked AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_score DESC, neighbor_id ASC)
                       AS BIGINT) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, adc_score, rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """)
def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (m=4 subspaces × 16 codes over
    the 64-dim embeddings, one Lloyd pass): id-grid seeds, pinned
    rounded-L2 assignment, DECIMAL Lloyd means, per-query LUT of
    9dp-rounded sub-dots DECIMAL-summed — the whole compressed-domain
    scan is a pure function of the corpus, reproduced code-for-code
    by the SQL oracle (functions/similarity.pq_adc_topk)."""
    from mindocr_spark.functions.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, emb.where(F.col("vec_id") < 10), dim=64, m=4,
        k_sub=16, k=5, lloyd_iters=1,
    ).orderBy("query_id", "rank")


# twin of similarity.ivf_pq_topk: _IVF_INDEX_CTES gives the
# coarse quantizer (cent + assign after one Lloyd pass);
# residuals v − cent feed the SAME seeded PQ build as
# ann_pq_topk; score = round9(dot(q, cent)) + DECIMAL-summed
# residual LUT entries, probed cells crank <= 3
@query("ann_ivf_pq_topk", family="similarity",
       oracle="WITH " + _IVF_INDEX_CTES + """,
            resid AS (
              SELECT a.neighbor_id, a.cid,
                     list_transform(generate_series(1, len(a.cv)),
                       i -> a.cv[i] - c.cent[i]) AS v
              FROM assign a JOIN cent c USING (cid)),
            par2 AS (
              SELECT greatest(1, COUNT(*) // 16) AS stride FROM e),
            jj AS (SELECT unnest(range(4)) AS j),
            grid2 AS (
              SELECT neighbor_id, v,
                     row_number() OVER (ORDER BY neighbor_id) AS rk
              FROM resid, par2 WHERE neighbor_id % stride = 0),
            cent0p AS (
              SELECT CAST(j AS BIGINT) AS sub,
                     CAST(rk - 1 AS BIGINT) AS code,
                     v[j*16 + 1 : j*16 + 16] AS cent
              FROM grid2 CROSS JOIN jj WHERE rk <= 16),
            subsp AS (
              SELECT neighbor_id AS nid, CAST(j AS BIGINT) AS sub,
                     v[j*16 + 1 : j*16 + 16] AS sv
              FROM resid CROSS JOIN jj),
            a0p AS (
              SELECT nid, sub, sv, code FROM (
                SELECT subsp.nid, subsp.sub, subsp.sv, c.code,
                       row_number() OVER (
                         PARTITION BY subsp.nid, subsp.sub ORDER BY
                         round(list_dot_product(subsp.sv, subsp.sv)
                               - 2.0 * list_dot_product(subsp.sv,
                                                        c.cent)
                               + list_dot_product(c.cent, c.cent), 9)
                           ASC,
                         c.code ASC) AS arank
                FROM subsp JOIN cent0p c ON subsp.sub = c.sub)
              WHERE arank = 1),
            compp AS (
              SELECT sub, code, unnest(sv) AS comp,
                     generate_subscripts(sv, 1) AS pos
              FROM a0p),
            mmp AS (
              SELECT sub, code, pos,
                     round(CAST(SUM(CAST(comp AS DECIMAL(28, 9)))
                                AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE), 6) AS mv
              FROM compp GROUP BY sub, code, pos),
            centp AS (
              SELECT sub, code, list(mv ORDER BY pos) AS cent
              FROM mmp GROUP BY sub, code),
            codesp AS (
              SELECT nid, sub, code FROM (
                SELECT subsp.nid, subsp.sub, c.code,
                       row_number() OVER (
                         PARTITION BY subsp.nid, subsp.sub ORDER BY
                         round(list_dot_product(subsp.sv, subsp.sv)
                               - 2.0 * list_dot_product(subsp.sv,
                                                        c.cent)
                               + list_dot_product(c.cent, c.cent), 9)
                           ASC,
                         c.code ASC) AS arank
                FROM subsp JOIN centp c ON subsp.sub = c.sub)
              WHERE arank = 1),
            q AS (
              SELECT vec_id AS query_id, v AS qv
              FROM e WHERE vec_id < 10),
            probed AS (
              SELECT query_id, cid, cent_dot FROM (
                SELECT qq.query_id, c.cid,
                       round(list_dot_product(qq.qv, c.cent), 9)
                         AS cent_dot,
                       row_number() OVER (PARTITION BY qq.query_id
                         ORDER BY
                         round(list_dot_product(qq.qv, c.cent)
                               / (sqrt(list_dot_product(qq.qv, qq.qv))
                                  * sqrt(list_dot_product(c.cent,
                                                          c.cent))),
                               9) DESC,
                         c.cid ASC) AS crank
                FROM q qq CROSS JOIN cent c)
              WHERE crank <= 3),
            qsubsp AS (
              SELECT vec_id AS query_id, CAST(j AS BIGINT) AS sub,
                     v[j*16 + 1 : j*16 + 16] AS sv
              FROM e CROSS JOIN jj WHERE vec_id < 10),
            lutp AS (
              SELECT query_id, c.sub, c.code,
                     round(list_dot_product(qs.sv, c.cent), 9)
                       AS contrib
              FROM qsubsp qs JOIN centp c ON qs.sub = c.sub),
            candp AS (
              SELECT codesp.nid, codesp.sub, codesp.code, r.cid,
                     p.query_id, p.cent_dot
              FROM codesp JOIN resid r ON codesp.nid = r.neighbor_id
              JOIN probed p ON r.cid = p.cid
              WHERE p.query_id != codesp.nid),
            scoredp AS (
              SELECT query_id, nid AS neighbor_id, cid,
                     cent_dot
                     + CAST(SUM(CAST(contrib AS DECIMAL(28, 9)))
                            AS DOUBLE) AS adc_score
              FROM candp JOIN lutp USING (query_id, sub, code)
              GROUP BY query_id, nid, cid, cent_dot),
            rankedp AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc_score DESC, neighbor_id ASC)
                       AS BIGINT) AS rank
              FROM scoredp)
            SELECT query_id, neighbor_id, cid, adc_score, rank
            FROM rankedp WHERE rank <= 5 ORDER BY query_id, rank
        """)
def q_ann_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ composed ANN (the FAISS-IVFPQ architecture): coarse
    IVF cells gate the scan, a residual product quantizer scores
    candidates as round9(dot(q, centroid)) + DECIMAL-summed LUT
    entries. Every stage (IVF build, residual codebook, encode,
    probe, ADC) is the deterministic pinned-arithmetic path,
    reproduced code-for-code by the SQL oracle
    (functions/similarity.ivf_pq_topk)."""
    from mindocr_spark.functions.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb, emb.where(F.col("vec_id") < 10), dim=64, m=4,
        k_sub=16, k=5, n_probe=3,
    ).orderBy("query_id", "rank")


@query("embedding_neardup", family="similarity",
       oracle=_embedding_neardup_oracle())
def q_embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs on the PRODUCTION multi-table LSH path
    (bucket join + single-bit-flip probes + exact cosine verify inside
    buckets) — not the all-pairs device. The oracle replays the SAME
    pinned hyperplanes and probe set in DuckDB, so candidates AND
    verified pairs must both agree; this keeps the query triple-green
    at EVERY tier (the old exact-all-pairs oracle was O(n²) and
    infeasible at the sf1 rehearsal — BENCH.md r03). n_bits is pinned
    here (the contract needs a static plane set for the SQL twin);
    production keeps the adaptive `neardup_bits_plan` default."""
    from mindocr_spark.functions.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4,
        n_bits=8, n_tables=2,
    ).orderBy("id_a", "id_b")


@query("semdedup", family="similarity",
       oracle="WITH " + _IVF_INDEX_CTES + """,
            pairs AS (
              SELECT y.neighbor_id AS id_b
              FROM assign x JOIN assign y USING (cid)
              WHERE x.neighbor_id < y.neighbor_id
                AND round(list_dot_product(x.cv, y.cv)
                          / (sqrt(list_dot_product(x.cv, x.cv))
                             * sqrt(list_dot_product(y.cv, y.cv))), 4)
                    >= 0.4)
            SELECT a.neighbor_id AS vec_id, a.cid,
                   a.neighbor_id IN (SELECT id_b FROM pairs) AS is_dup
            FROM assign a ORDER BY vec_id
        """)
def q_semdedup(spark, sf_dir):
    """SemDeDup: k-means-cluster the embedding corpus (the shared IVF
    index — id-grid seeds + one Lloyd pass), then flag vectors with a
    same-cluster neighbor at cosine ≥ 0.4 and a smaller id. Candidate
    generation is the cluster equi-join — quadratic work only inside
    clusters of size ≈ √n (the published SemDeDup recipe). The oracle
    replays the identical index build (shared CTE chain with
    ann_ivf_topk) so assignment AND pairing must both agree."""
    from mindocr_spark.functions.similarity import semdedup_flags

    return semdedup_flags(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    ).orderBy("vec_id")


@query("text_embed", family="similarity",
       oracle="WITH " + _embed_vec_ctes("text") + """
            SELECT CAST(vec_id AS BIGINT) AS doc_id,
                   CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS pos,
                   unnest(v) AS val
            FROM embv ORDER BY doc_id, pos
        """)
def q_text_embed(spark, sf_dir):
    """In-engine deterministic text→vector featurizer: whitespace
    tokens → one codegen md5 per token → ±1 votes from the digest
    bits (a pinned random-projection row per token — the
    `similarity._planes` no-RNG discipline) → exact-int vote sums →
    L2-normalize with ONE correctly-rounded sqrt+division per
    component, so the output doubles are BIT-IDENTICAL to the DuckDB
    twin with no DECIMAL quantization. Closes the engine's
    extract→embed gap: every similarity operator can now consume
    vectors the engine produced itself. Output is the tall
    (doc_id, pos, val) form. Reference analog: the broadcast
    char-dict encode (reference:
    mindocr/data/transforms/rec_transforms.py:222-246)."""
    from mindocr_spark.functions.embed import text_embed_cols

    emb = text_embed_cols(_t(spark, sf_dir, "documents"))
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "doc_id", F.col("pos").cast("bigint").alias("pos"), "val")
        .orderBy("doc_id", "pos")
    )


@query("extract_embed_semdedup", family="similarity", oracle=(
            "WITH " + _embed_vec_ctes(f"'{_A}' || chr(10) || text") + ",\n"
            "        e AS (SELECT vec_id, v FROM embv),\n"
            "        " + _IVF_TAIL_CTES + """,
            pairs AS (
              SELECT y.neighbor_id AS id_b
              FROM assign x JOIN assign y USING (cid)
              WHERE x.neighbor_id < y.neighbor_id
                AND round(list_dot_product(x.cv, y.cv)
                          / (sqrt(list_dot_product(x.cv, x.cv))
                             * sqrt(list_dot_product(y.cv, y.cv))), 4)
                    >= 0.95)
            SELECT a.neighbor_id AS vec_id, a.cid,
                   a.neighbor_id IN (SELECT id_b FROM pairs) AS is_dup
            FROM assign a ORDER BY vec_id
        """))
def q_extract_embed_semdedup(spark, sf_dir):
    """END-TO-END curation chain inside the engine: pages → fused
    extraction → in-engine text embedding (`text_embed_cols` over the
    EXTRACTED text, anchor included — the oracle must reproduce the
    extraction byte-for-byte before the embedding can match) →
    SemDeDup (shared IVF build, same-cluster pairs at round-4 cosine
    ≥ 0.95 — the published SemDeDup threshold — min-id survivor). The previous gap — similarity ops only
    ran on a pre-made embeddings table — is closed: this query's
    input is raw HTML."""
    from mindocr_spark.functions.embed import text_embed_cols
    from mindocr_spark.functions.similarity import semdedup_flags

    ex = _extract(spark, sf_dir).select("doc_id", "extracted_text")
    emb = text_embed_cols(
        ex, text_col="extracted_text", id_col="doc_id",
    ).withColumnRenamed("doc_id", "vec_id")
    return semdedup_flags(emb, threshold=0.95).orderBy("vec_id")


@query("schema_evolution", family="table_protocol", oracle=f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   '{_A}' || chr(10) || text AS content,
                   CASE WHEN doc_id % 2 = 1
                        THEN CAST({_ANCHOR_LEN} + 1 + length(text) AS BIGINT)
                   END AS chars
            FROM documents ORDER BY doc_id
        """)
def q_schema_evolution(spark, sf_dir):
    """Schema evolution on the WAP manifest protocol, end to end: a
    two-spec table (snapshot v1 = even docs under the original schema;
    then rename extracted_text→content + add chars:bigint; snapshot
    v2 = odd docs under the evolved schema), read back as the UNION of
    a time-traveled v1 view and the current snapshot — both through
    the CURRENT schema (field-ID name mapping: the rename resolves to
    v1's old physical column, the added column surfaces as typed NULL
    on v1 rows). The oracle states the merged view straight from the
    documents table, so the mapping must be value-exact, not just
    shape-correct. Iceberg analog: SURVEY §1.4/§4 scan semantics."""
    from mindocr_spark.operators import pipeline as pipeline_mod
    from mindocr_spark.operators.pipeline import (
        current_schema,
        evolve_schema,
        list_snapshots,
        read_published,
        write_results_wap,
    )
    from mindocr_spark.sources import content_keyed_fixture_dir
    from mindocr_spark.sources import pages as pages_mod

    def build(out_dir: str) -> None:
        table, metrics = f"{out_dir}/table", f"{out_dir}/metrics"
        base = _extract(spark, sf_dir).select(
            "doc_id", "extracted_text", "total_bytes",
            "boilerplate_ratio", "failed", "n_blocks",
        )
        v1 = base.where(F.pmod("doc_id", F.lit(2)) == 0)
        if not write_results_wap(v1, table, metrics, run_id="v1",
                                 keep_snapshots=4):
            raise RuntimeError("WAP publish v1 failed")
        ev = evolve_schema(
            current_schema(spark, table),
            rename={"extracted_text": "content"},
            add=(("chars", "bigint"),),
        )
        v2 = (
            base.where(F.pmod("doc_id", F.lit(2)) == 1)
            .withColumnRenamed("extracted_text", "content")
            .withColumn("chars", F.length("content").cast("bigint"))
        )
        if not write_results_wap(v2, table, metrics, run_id="v2",
                                 schema_fields=ev, keep_snapshots=4):
            raise RuntimeError("WAP publish v2 failed")

    root = content_keyed_fixture_dir(
        "mindocr_schema_evo", sf_dir,
        (__file__, pages_mod.__file__, pipeline_mod.__file__),
        build,
    )
    table = f"{root}/table"
    seq_v1 = list_snapshots(spark, table)[0]["seq"]
    cols = ["doc_id", "content", "chars"]
    old = read_published(spark, table, seq=seq_v1).select(*cols)
    new = read_published(spark, table).select(*cols)
    return old.unionByName(new).orderBy("doc_id")


@query("hidden_partition_prune", family="table_protocol", oracle=f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'https://docs.example/' || source || '/'
                     || CAST(doc_id AS VARCHAR) AS url,
                   '{_A}' || chr(10) || text AS extracted_text
            FROM documents WHERE doc_id < 5 ORDER BY doc_id
        """)
def q_hidden_partition_prune(spark, sf_dir):
    """Hidden partitioning (Iceberg transform specs) end to end: the
    extraction output is committed under ``bucket(8, url)`` — the
    derived physical column is manifest-recorded and HIDDEN from
    readers by the schema projection — then five urls are read back
    through `read_published_pruned`, which applies the transform to
    each reader literal so the scan prunes to one url-bucket dir per
    probe (PartitionFilters plan-asserted in pytest). The oracle
    states the five extracted rows straight from documents: pruning
    must change the SCAN, never the rows."""
    from mindocr_spark.operators import pipeline as pipeline_mod
    from mindocr_spark.operators.pipeline import (
        read_published_pruned,
        write_results_wap,
    )
    from mindocr_spark.sources import content_keyed_fixture_dir
    from mindocr_spark.sources import pages as pages_mod

    def build(out_dir: str) -> None:
        table, metrics = f"{out_dir}/table", f"{out_dir}/metrics"
        res = _extract(spark, sf_dir).select(
            "doc_id", "url", "extracted_text", "total_bytes",
            "boilerplate_ratio", "failed", "n_blocks",
        )
        if not write_results_wap(res, table, metrics, run_id="h1",
                                 partition_by=("bucket(8, url)",)):
            raise RuntimeError("WAP publish h1 failed")

    root = content_keyed_fixture_dir(
        "mindocr_hidden_part", sf_dir,
        (__file__, pages_mod.__file__, pipeline_mod.__file__),
        build,
    )
    table = f"{root}/table"
    probes = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 5)
        .select(
            F.concat(F.lit("https://docs.example/"), F.col("source"),
                     F.lit("/"), F.col("doc_id").cast("string"))
            .alias("url")
        )
        .collect()
    )
    parts = [
        read_published_pruned(spark, table, {"url": r["url"]})
        .select("doc_id", "url", "extracted_text")
        for r in probes
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("doc_id")


@query("stats_prune", oracle=f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'https://docs.example/' || source || '/'
                     || CAST(doc_id AS VARCHAR) AS url,
                   '{_A}' || chr(10) || text AS extracted_text
            FROM documents WHERE doc_id < 5 ORDER BY doc_id
        """)
def q_stats_prune(spark, sf_dir):
    """Per-file MIN/MAX data skipping (Iceberg manifest column stats)
    end to end: the extraction output is committed UNPARTITIONED but
    range-laid-out on doc_id across six files, and every commit
    records per-file [min, max] ranges for the stats-eligible columns
    in the WAP manifest. Five probes read back through
    `read_published_pruned`, whose planner drops every file whose
    recorded doc_id range excludes the probe BEFORE the scan
    (files-read asserted smaller in pytest). The oracle states the
    five rows straight from documents: skipping must change the SCAN,
    never the rows. SURVEY §4 names min/max skipping as a table-format
    built-in the engine inherits; this is that behavior on the
    manifest-pointer protocol."""
    from mindocr_spark.operators import pipeline as pipeline_mod
    from mindocr_spark.operators.pipeline import (
        read_published_pruned,
        write_results_wap,
    )
    from mindocr_spark.sources import content_keyed_fixture_dir
    from mindocr_spark.sources import pages as pages_mod

    def build(out_dir: str) -> None:
        table, metrics = f"{out_dir}/table", f"{out_dir}/metrics"
        res = _extract(spark, sf_dir).select(
            "doc_id", "url", "extracted_text", "total_bytes",
            "boilerplate_ratio", "failed", "n_blocks",
        ).repartitionByRange(6, "doc_id")
        if not write_results_wap(res, table, metrics, run_id="fs1"):
            raise RuntimeError("WAP publish fs1 failed")

    root = content_keyed_fixture_dir(
        "mindocr_stats_prune", sf_dir,
        (__file__, pages_mod.__file__, pipeline_mod.__file__),
        build,
    )
    table = f"{root}/table"
    parts = [
        read_published_pruned(spark, table, {"doc_id": i})
        .select("doc_id", "url", "extracted_text")
        for i in range(5)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("doc_id")


@query("stats_prune_range", oracle=f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'https://docs.example/' || source || '/'
                     || CAST(doc_id AS VARCHAR) AS url,
                   '{_A}' || chr(10) || text AS extracted_text
            FROM documents WHERE doc_id BETWEEN 10 AND 24
            ORDER BY doc_id
        """)
def q_stats_prune_range(spark, sf_dir):
    """RANGE-predicate data skipping over the same committed snapshot
    as `stats_prune`: one `ranges={"doc_id": (10, 24)}` read — the
    file-stats planner keeps only files whose [min, max] doc_id range
    OVERLAPS the probe interval (the warc_ts time-slice read shape of
    the north rule, on a stats-eligible column), then the exact
    BETWEEN residual applies. The oracle states the interval straight
    from documents: skipping must change the SCAN, never the rows;
    files-read asserted smaller in pytest."""
    from mindocr_spark.operators import pipeline as pipeline_mod
    from mindocr_spark.operators.pipeline import (
        read_published_pruned,
        write_results_wap,
    )
    from mindocr_spark.sources import content_keyed_fixture_dir
    from mindocr_spark.sources import pages as pages_mod

    def build(out_dir: str) -> None:
        table, metrics = f"{out_dir}/table", f"{out_dir}/metrics"
        res = _extract(spark, sf_dir).select(
            "doc_id", "url", "extracted_text", "total_bytes",
            "boilerplate_ratio", "failed", "n_blocks",
        ).repartitionByRange(6, "doc_id")
        if not write_results_wap(res, table, metrics, run_id="fs1"):
            raise RuntimeError("WAP publish fs1 failed")

    root = content_keyed_fixture_dir(
        "mindocr_stats_prune", sf_dir,
        (__file__, pages_mod.__file__, pipeline_mod.__file__),
        build,
    )
    return (
        read_published_pruned(spark, f"{root}/table",
                              ranges={"doc_id": (10, 24)})
        .select("doc_id", "url", "extracted_text")
        .orderBy("doc_id")
    )


@query("cluster_mix", family="similarity",
       oracle="WITH " + _IVF_INDEX_CTES + """,
            l AS (
              SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
              FROM assign GROUP BY cid),
            w AS (
              SELECT cid, n_vecs,
                     round(sqrt(CAST(n_vecs AS DOUBLE)), 6) AS wq,
                     CAST(sum(n_vecs) OVER () AS DOUBLE) AS tot,
                     CAST(sum(CAST(round(sqrt(CAST(n_vecs AS DOUBLE)), 6)
                                   AS DECIMAL(38,6))) OVER ()
                          AS DOUBLE) AS s
              FROM l)
            SELECT cid, n_vecs,
                   round(CAST(n_vecs AS DOUBLE) / tot, 6) AS raw_share,
                   round(wq / s, 6) AS temp_share,
                   round((wq / s)
                         / (CAST(n_vecs AS DOUBLE) / tot), 6) AS boost,
                   CAST(floor(CAST(100000 AS DOUBLE) * (wq / s))
                        AS BIGINT) AS alloc_docs
            FROM w ORDER BY cid
        """)
def q_cluster_mix(spark, sf_dir):
    """Cluster-balanced mixture allocation (D4-style topic
    rebalancing): k-means-cluster the embeddings with the shared IVF
    build (id-grid seeds + one Lloyd pass — the same index the
    ann_ivf_topk/semdedup oracles replay), then split a 100k-doc
    epoch budget across clusters with the α=0.5 temperature rule.
    EAGER: the IVF build runs jobs at plan time."""
    from mindocr_spark.functions.similarity import cluster_mix_allocation

    return cluster_mix_allocation(
        _t(spark, sf_dir, "embeddings"), budget=100_000
    ).orderBy("cid")


@query("deterministic_sample", family="curation", oracle="""
            SELECT doc_id, lang, n_chars FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
            ORDER BY doc_id
        """)
def q_deterministic_sample(spark, sf_dir):
    """Content-hash sampling (the sample_ratio scan option, reference:
    det_dataset.py:112-158) made reproducible across engines: md5-bucket
    instead of RNG."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
                .isin("0", "1"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


#: Per-language keep fractions for the stratified_sample query —
#: down-weight the dominant language, keep a minority one whole, halve
#: the rest (the DCLM/FineWeb-style rebalancing mix).
_STRATA_FRACTIONS = {"en": 0.25, "zh": 1.0}
_STRATA_DEFAULT = 0.5


# thresholds come from the SAME hash_sample_threshold helper
# the Spark expression compiles — byte-identical constants;
# the "doc_id IS NULL OR" guard mirrors the engine's NULL-id
# exemption (the shipped corpora have no NULL ids; the guard
# keeps the two contracts aligned anyway)
@query("stratified_sample", family="curation", oracle=f"""
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id IS NULL OR CASE
              {_strata_sql_cases(_text_pii.hash_sample_threshold)}
            END
            ORDER BY doc_id
        """)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum down-sampling (corpus rebalancing):
    membership depends only on md5(doc_id) against per-language
    thresholds — no RNG, so the kept set is identical across runs,
    engines, and partitionings (the property crash-resume needs). One
    codegen CASE over the hash prefix; no join, no shuffle. The oracle
    compares against thresholds produced by the SAME
    hash_sample_threshold helper."""
    from mindocr_spark.functions.text import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        _STRATA_FRACTIONS,
        stratum_col="lang",
        default_fraction=_STRATA_DEFAULT,
    ).select("doc_id", "lang", "n_chars").orderBy("doc_id")


# NOTE: weighted_sample DROPS NULL-id/weightless rows (a draw
# has no safe exempt semantics) — deliberately the OPPOSITE of
# stratified_sample's NULL exemption two entries below
@query("weighted_sample", family="curation", oracle="""
            WITH h AS (
              SELECT doc_id, lang, n_chars,
                     ('0x' || substr(
                        md5('0:' || CAST(doc_id AS VARCHAR)), 1, 13)
                     )::BIGINT AS hv
              FROM documents
              WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
                AND CAST(n_chars AS DOUBLE) > 0),
            keyed AS (
              SELECT doc_id, lang, n_chars,
                     round(ln(CAST(hv + 1 AS DOUBLE)
                              / CAST(4503599627370496 AS DOUBLE))
                           / CAST(n_chars AS DOUBLE), 9)
                       + CAST(0 AS DOUBLE) AS sample_key
              FROM h),
            top AS (
              SELECT * FROM keyed
              ORDER BY sample_key DESC, doc_id LIMIT 500)
            SELECT doc_id, lang, n_chars, sample_key
            FROM top ORDER BY doc_id
        """)
def q_weighted_sample(spark, sf_dir):
    """Deterministic weight-proportional sample (A-ES): top-500 by
    round(ln(u)/n_chars, 9) with content-addressed u — longer docs
    proportionally likelier, identical draw on every run/engine.
    TakeOrderedAndProject physical top-k (no global sort)."""
    from mindocr_spark.functions.text import weighted_sample

    return weighted_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
        k=500, weight_col="n_chars", seed=0,
    ).orderBy("doc_id")


from mindocr_spark.functions.classifier import (  # noqa: E402
    hashed_weights as _hashed_weights,
)


@query("quantile_gate", family="text_quality",
       oracle="WITH " + _qc_scored_ctes() + r""",
            g AS (
              SELECT doc_id, score,
                     quantile_cont(score, 0.4) OVER () AS threshold
              FROM scored)
            SELECT doc_id, score, threshold,
                   coalesce(score >= threshold, FALSE) AS keep
            FROM g ORDER BY doc_id
        """)
def q_quantile_gate(spark, sf_dir):
    """Dynamic-threshold curation: keep the top 60% of docs by
    classifier score, cutoff = the corpus's own 0.4 quantile computed
    in ONE unpartitioned-window pass (exact interpolated percentile,
    bit-identical cross-engine)."""
    from mindocr_spark.functions.classifier import (
        quality_classifier_score,
        quantile_gate,
    )

    scored = quality_classifier_score(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "score")
    return quantile_gate(scored, keep_frac=0.6).orderBy("doc_id")


@query("pmi_collocations", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(coalesce(text, ''),
                          '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            w AS (
              SELECT doc_id,
                     unnest(string_split(norm, ' ')) AS word,
                     generate_subscripts(string_split(norm, ' '), 1)
                       AS pos
              FROM t WHERE norm <> ''),
            uni AS (
              SELECT word, count(*) AS cnt FROM w GROUP BY word),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM uni),
            big0 AS (
              SELECT doc_id,
                     lag(word, 1) OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS w1,
                     word AS w2
              FROM w),
            big AS (
              SELECT w1, w2, count(*) AS cnt
              FROM big0 WHERE w1 IS NOT NULL GROUP BY w1, w2),
            scored AS (
              SELECT b.w1, b.w2,
                     CAST(b.cnt AS BIGINT) AS n_pair,
                     CAST(u1.cnt AS BIGINT) AS n_w1,
                     CAST(u2.cnt AS BIGINT) AS n_w2,
                     round(ln((CAST(b.cnt AS DOUBLE)
                               * CAST(t.n AS DOUBLE))
                              / (CAST(u1.cnt AS DOUBLE)
                                 * CAST(u2.cnt AS DOUBLE))), 9) + 0.0
                       AS pmi
              FROM big b
              JOIN uni u1 ON u1.word = b.w1
              JOIN uni u2 ON u2.word = b.w2
              CROSS JOIN tot t
              WHERE b.cnt >= 5),
            top AS (
              SELECT * FROM scored
              ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50)
            SELECT w1, w2, n_pair, n_w1, n_w2, pmi,
                   CAST(row_number() OVER (
                     ORDER BY pmi DESC, w1 ASC, w2 ASC) AS INT) AS rank
            FROM top ORDER BY rank
        """)
def q_pmi_collocations(spark, sf_dir):
    """Top-50 PMI collocations over adjacent-token pairs with a
    min-count gate: one pinned IEEE expression per pair over exact
    counts, round(ln, 9), deterministic pair-string tie-breaks."""
    from mindocr_spark.functions.lm import pmi_collocations

    return pmi_collocations(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        top_k=50, min_count=5,
    ).orderBy("rank")


@query("bpe_merge_pairs", family="tokenizers", oracle=r"""
            WITH t AS (
              SELECT trim(regexp_replace(coalesce(text, ''),
                          '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            wds AS (
              SELECT unnest(string_split(norm, ' ')) AS word
              FROM t WHERE norm <> ''),
            wf AS (
              SELECT word, count(*) AS freq FROM wds GROUP BY word),
            p0 AS (
              SELECT word, freq,
                     unnest(generate_series(1, length(word) - 1)) AS i
              FROM wf WHERE length(word) >= 2),
            p AS (
              SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
              FROM p0),
            c AS (
              SELECT pair, CAST(sum(freq) AS BIGINT) AS n
              FROM p GROUP BY pair),
            top AS (
              SELECT pair, n
              FROM c ORDER BY n DESC, pair ASC LIMIT 50)
            SELECT pair, n,
                   CAST(row_number() OVER (ORDER BY n DESC, pair ASC)
                     AS INT) AS rank
            FROM top ORDER BY rank
        """)
def q_bpe_merge_pairs(spark, sf_dir):
    """Distributed BPE merge-learning step: corpus → vocabulary
    collapse, frequency-weighted adjacent char-pair counts, top-50
    merge candidates via TakeOrderedAndProject."""
    from mindocr_spark.functions.text import bpe_merge_pairs

    return bpe_merge_pairs(
        _t(spark, sf_dir, "documents").select("text"), top_k=50
    ).orderBy("rank")


def _bpe_chain_parts(n_merges: int) -> list[str]:
    """The shared learn-loop CTE chain (v0 → w1/v1 → … → wN/vN) used
    by both the bpe_vocab (merge table) and bpe_apply (segmentation)
    oracles — one source of truth for the replay semantics."""
    norm = r"trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))"
    parts = [f"""
        WITH toks AS (
          SELECT unnest(string_split({norm}, ' ')) AS word
          FROM documents WHERE {norm} != ''),
        v0 AS (
          SELECT regexp_replace(word, '(.)',
                                chr(1) || '\\1' || chr(2), 'g') AS w,
                 count(*) AS freq
          FROM toks GROUP BY word)"""]
    for r in range(1, n_merges + 1):
        parts.append(f""",
        s{r} AS (
          SELECT w, freq,
                 unnest(string_split(substr(w, 2, length(w) - 2),
                                     chr(2) || chr(1))) AS sym,
                 generate_subscripts(
                   string_split(substr(w, 2, length(w) - 2),
                                chr(2) || chr(1)), 1) AS pos
          FROM v{r - 1}),
        p{r} AS (
          SELECT w, freq, sym AS a,
                 lead(sym) OVER (PARTITION BY w ORDER BY pos) AS b
          FROM s{r}),
        w{r} AS (
          SELECT a, b, CAST(sum(freq) AS BIGINT) AS n
          FROM p{r} WHERE b IS NOT NULL GROUP BY a, b
          ORDER BY n DESC, a ASC, b ASC LIMIT 1),
        v{r} AS (
          SELECT replace(v.w,
                         chr(1) || x.a || chr(2) || chr(1) || x.b
                           || chr(2),
                         chr(1) || x.a || x.b || chr(2)) AS w,
                 v.freq
          FROM v{r - 1} v, w{r} x)""")
    return parts


def _bpe_vocab_oracle(n_merges: int = 6) -> str:
    """Unrolled twin of `text.bpe_learn_merges`: per round one
    lead-window pair count over the split segmentation strings, a
    LIMIT-1 winner (n DESC, a ASC, b ASC), and a replace()
    re-segmentation. All-integer."""
    parts = _bpe_chain_parts(n_merges)
    union_all = " UNION ALL ".join(
        f"SELECT {r} AS step, a, b, a || b AS merged, n FROM w{r}"
        for r in range(1, n_merges + 1)
    )
    parts.append(f"""
        SELECT CAST(step AS INT) AS step, a, b, merged, n
        FROM ({union_all}) ORDER BY step""")
    return "".join(parts)


@query("bpe_vocab", family="tokenizers", oracle=_bpe_vocab_oracle(n_merges=6))
def q_bpe_vocab(spark, sf_dir):
    """Iterative BPE vocabulary induction: 6 full Sennrich merge
    rounds over the corpus vocabulary — count symbol pairs, pick the
    winner, re-segment, repeat — returning the learned merge table
    (step, a, b, merged, n). EAGER: each round runs as checkpointed
    Spark jobs; the oracle unrolls the same 6 rounds in SQL over the
    sentinel-wrapped segmentation strings (replace() is the exact
    left-to-right non-overlapping merge in both engines)."""
    from mindocr_spark.functions.text import bpe_learn_merges

    return bpe_learn_merges(
        _t(spark, sf_dir, "documents").select("text"), n_merges=6
    ).orderBy("step")


def _bpe_apply_oracle(n_merges: int = 6) -> str:
    """Twin of learn→apply: replaying the merge list in order over raw
    words equals the learn chain's final vocabulary state v{N} (each
    replay step IS the learn-side re-segmentation step, by induction),
    so the oracle reads segment counts straight off v{N} and joins
    them back to the document token stream."""
    norm = r"trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))"
    parts = _bpe_chain_parts(n_merges)
    parts.append(f""",
        wordseg AS (
          SELECT replace(replace(w, chr(1), ''), chr(2), '') AS word,
                 len(string_split(substr(w, 2, length(w) - 2),
                                  chr(2) || chr(1))) AS n_sym
          FROM v{n_merges}),
        dtok AS (
          SELECT doc_id, unnest(string_split({norm}, ' ')) AS word
          FROM documents WHERE {norm} != ''),
        per AS (
          SELECT doc_id, count(*) AS n_words, sum(n_sym) AS n_bpe
          FROM dtok JOIN wordseg USING (word) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(per.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(per.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
               CASE WHEN per.n_words > 0
                    THEN round(CAST(per.n_bpe AS DOUBLE)
                               / CAST(per.n_words AS DOUBLE), 6)
               END AS bpe_per_word
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN per ON d.doc_id = per.doc_id
        ORDER BY d.doc_id""")
    return "".join(parts)


# sparse tf-idf cosine: weights/norms/dots/top-k rebuilt in
# SQL over the same constructed family corpus; every float op
# is 9-dp-quantized into DECIMAL sums, cosine pinned as
# dot / (sqrt(n2_a) * sqrt(n2_b)) with DOUBLE casts
@query("tfidf_cosine", family="similarity", oracle=r"""
            WITH built AS (
              SELECT doc_id,
                     repeat('fam' || CAST(doc_id // 5 AS VARCHAR) || 'a ',
                            CAST(doc_id % 3 + 1 AS INT))
                     || 'fam' || CAST(doc_id // 5 AS VARCHAR) || 'b uniq'
                     || CAST(doc_id AS VARCHAR) AS text
              FROM documents),
            tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM built),
            p AS (
              SELECT doc_id, term, count(*) AS tf
              FROM tok GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*) AS df FROM p GROUP BY term),
            nd AS (SELECT count(*) AS n FROM built),
            wgt AS (
              SELECT doc_id, term,
                     round(CAST(tf AS DOUBLE)
                           * round(ln(CAST(n AS DOUBLE)
                                      / CAST(df AS DOUBLE)), 9), 9) AS w
              FROM p JOIN dfq USING (term), nd),
            nrm AS (
              SELECT doc_id,
                     sum(CAST(round(w * w, 9) AS DECIMAL(28,9))) AS n2
              FROM wgt GROUP BY doc_id),
            dots AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     sum(CAST(round(a.w * b.w, 9) AS DECIMAL(28,9)))
                       AS dot
              FROM wgt a JOIN wgt b
                ON a.term = b.term AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            cosp AS (
              SELECT id_a, id_b,
                     round(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(na.n2 AS DOUBLE))
                              * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
                       AS cosine
              FROM dots
              JOIN nrm na ON na.doc_id = id_a
              JOIN nrm nb ON nb.doc_id = id_b),
            sym AS (
              SELECT id_a AS doc_id, id_b AS nbr, cosine FROM cosp
              UNION ALL
              SELECT id_b, id_a, cosine FROM cosp),
            ranked AS (
              SELECT doc_id, nbr, cosine,
                     CAST(row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY cosine DESC, nbr ASC) AS BIGINT) AS rank
              FROM sym)
            SELECT doc_id, nbr, cosine, rank
            FROM ranked WHERE rank <= 3
            ORDER BY doc_id, rank
        """)
def q_tfidf_cosine(spark, sf_dir):
    """Sparse tf·idf cosine top-k neighbours over a constructed
    family corpus: doc i carries 'fam{i//5}a' ×(i%3+1), 'fam{i//5}b'
    and a unique token — vocabulary scales with N, terms are shared
    only within the 5-doc family (pair-join fan-out bounded by df²=25
    per term at ANY scale), and the weighted-cosine ladder inside a
    family is non-trivial. The oracle rebuilds corpus, weights, norms,
    dots, and the per-doc top-3 window in SQL."""
    from mindocr_spark.functions.search import tfidf_cosine_topk

    built = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(repeat(concat('fam', cast(doc_id div 5 as string),"
            " 'a '), cast(doc_id % 3 + 1 as int)),"
            " 'fam', cast(doc_id div 5 as string), 'b uniq',"
            " cast(doc_id as string))"
        ).alias("text"),
    )
    return tfidf_cosine_topk(built, k=3).orderBy("doc_id", "rank")


@query("bpe_apply", family="tokenizers", oracle=_bpe_apply_oracle(n_merges=6))
def q_bpe_apply(spark, sf_dir):
    """Learn → apply: train the 6-merge BPE table on the corpus
    (`bpe_learn_merges`), COLLECT it (6 rows — the bookkeeping-sized
    relation rule), then replay it as a tokenizer over the same corpus
    with `bpe_segment_counts` — per-doc learned-vocab pricing
    (n_words, n_bpe_tokens, bpe_per_word). The oracle proves replay ≡
    the learn chain's final vocabulary state."""
    from mindocr_spark.functions.text import (
        bpe_learn_merges,
        bpe_segment_counts,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = [
        (r["a"], r["b"])
        for r in bpe_learn_merges(docs, n_merges=6)
        .orderBy("step").collect()
    ]
    return bpe_segment_counts(docs, merges).orderBy("doc_id")


@query("length_quantiles", oracle=r"""
            SELECT coalesce(lang, 'und') AS lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(n_chars) AS BIGINT) AS min_len,
                   quantile_cont(n_chars, 0.5) AS p50,
                   quantile_cont(n_chars, 0.9) AS p90,
                   quantile_cont(n_chars, 0.99) AS p99,
                   CAST(max(n_chars) AS BIGINT) AS max_len
            FROM documents GROUP BY coalesce(lang, 'und')
            ORDER BY lang
        """)
def q_length_quantiles(spark, sf_dir):
    """Per-language exact length-distribution report: min / p50 / p90
    / p99 / max of n_chars — Spark percentile and DuckDB quantile_cont
    interpolate identically ((n−1)·p linear), probed bit-exact."""
    from mindocr_spark.functions.text import length_quantiles

    return length_quantiles(
        _t(spark, sf_dir, "documents").select("lang", "n_chars")
    ).orderBy("lang")


# heaps_fit: first-occurrence novelty + id-range checkpoints +
# cumulative walk + the zipf regression discipline, in SQL
@query("heaps_fit", oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     text || ' uniq' || CAST(doc_id AS VARCHAR) AS text
              FROM documents),
            mx AS (
              SELECT max(doc_id) AS m, min(doc_id) AS mn FROM d),
            tk AS (
              SELECT ((doc_id - mn) * 64) // (m - mn + 1) AS b, doc_id,
                     string_split(trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ') AS ts
              FROM d CROSS JOIN mx),
            per AS (
              SELECT b, doc_id, unnest(ts) AS token FROM tk),
            firsts AS (
              SELECT token, min(doc_id) AS fd FROM per GROUP BY token),
            newb AS (
              SELECT ((fd - mn) * 64) // (m - mn + 1) AS b,
                     count(*) AS nv
              FROM firsts CROSS JOIN mx GROUP BY 1),
            tokb AS (
              SELECT b, sum(len(ts)) AS nt FROM tk GROUP BY b),
            bk AS (
              SELECT t.b, t.nt, COALESCE(n.nv, 0) AS nv
              FROM tokb t LEFT JOIN newb n USING (b)),
            cum AS (
              SELECT sum(nt) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cn,
                     sum(nv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cv
              FROM bk),
            xy AS (
              SELECT round(ln(CAST(cn AS DOUBLE)), 9) AS x,
                     round(ln(CAST(cv AS DOUBLE)), 9) AS y
              FROM cum WHERE cn > 0 AND cv > 0),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
                     CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
                     CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
                       AS DOUBLE) AS sxy,
                     CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
                       AS DOUBLE) AS sxx
              FROM xy),
            fit AS (
              SELECT n, sx, sy,
                     (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
                     (CAST(n AS DOUBLE) * sxx - sx * sx) AS denom
              FROM s)
            SELECT n AS n_points,
                   CASE WHEN n >= 2 AND denom <> 0.0 THEN
                     round(slope, 6) + 0.0 END AS heaps_beta,
                   CASE WHEN n >= 2 AND denom <> 0.0 THEN
                     round((sy - slope * sx) / CAST(n AS DOUBLE), 6)
                       + 0.0 END AS ln_k
            FROM fit
        """)
def q_heaps_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over crawl order. The fixed
    31-type soup vocabulary saturates immediately, so the query plants
    one novel token per doc ('uniq{id}') — the growth curve then has
    real shape and the β/ln K closed form is non-degenerate. Oracle:
    the same first-occurrence novelty device, id-range checkpoints,
    cumulative walk and regression in SQL."""
    from mindocr_spark.functions.lm import heaps_fit

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" uniq"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    return heaps_fit(docs)


@query("zipf_fit", oracle=r"""
            WITH t AS (
              SELECT trim(regexp_replace(coalesce(text, ''),
                          '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            words AS (
              SELECT unnest(string_split(norm, ' ')) AS token
              FROM t WHERE norm <> ''),
            counts AS (
              SELECT token, count(*) AS freq
              FROM words GROUP BY token),
            top AS (
              SELECT token, freq
              FROM counts ORDER BY freq DESC, token ASC LIMIT 1000),
            ranked AS (
              SELECT row_number() OVER (
                       ORDER BY freq DESC, token ASC) AS r, freq
              FROM top),
            xy AS (
              SELECT round(ln(CAST(r AS DOUBLE)), 9) AS x,
                     round(ln(CAST(freq AS DOUBLE)), 9) AS y
              FROM ranked),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
                     CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
                     CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
                       AS DOUBLE) AS sxy,
                     CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
                       AS DOUBLE) AS sxx
              FROM xy),
            fit AS (
              SELECT n, sx, sy,
                     (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
                     (CAST(n AS DOUBLE) * sxx - sx * sx) AS denom
              FROM s)
            SELECT n AS n_types_fit,
                   CASE WHEN n >= 2 AND denom <> 0.0 THEN
                     round(slope, 6) + 0.0 END AS zipf_slope,
                   CASE WHEN n >= 2 AND denom <> 0.0 THEN
                     round((sy - slope * sx) / CAST(n AS DOUBLE), 6)
                       + 0.0 END AS intercept
            FROM fit
        """)
def q_zipf_fit(spark, sf_dir):
    """Corpus-health Zipf fit: least-squares ln(freq)~ln(rank) over
    the top-1000 vocabulary head — DECIMAL-quantized moments, pinned
    closed-form arithmetic, one scalar row."""
    from mindocr_spark.functions.lm import zipf_fit

    return zipf_fit(
        _t(spark, sf_dir, "documents").select("text"), max_rank=1000
    )


@query("dsir_weights", oracle=r"""
            WITH t AS (
              SELECT doc_id, coalesce(lang, '') = 'en' AS tgt,
                     trim(regexp_replace(coalesce(text, ''),
                          '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            w AS (
              SELECT doc_id, tgt,
                     unnest(string_split(norm, ' ')) AS word,
                     generate_subscripts(string_split(norm, ' '), 1)
                       AS pos
              FROM t WHERE norm <> ''),
            g AS (
              SELECT doc_id, tgt,
                     word || ' ' || lead(word, 1) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS bigram,
                     lead(word, 1) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS nxt
              FROM w),
            gg AS (
              SELECT doc_id, tgt, substr(md5(bigram), 1, 2) AS bucket
              FROM g WHERE nxt IS NOT NULL),
            c AS (
              SELECT bucket,
                     CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END)
                       AS BIGINT) AS c_t,
                     CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END)
                       AS BIGINT) AS c_r
              FROM gg GROUP BY bucket),
            tot AS (
              SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
                     CAST(sum(c_r) AS BIGINT) AS n_r
              FROM c),
            lam AS (
              SELECT bucket,
                     round(ln(CAST(c_t + 1 AS DOUBLE)
                              / CAST(n_t + 256 AS DOUBLE)), 9)
                     - round(ln(CAST(c_r + 1 AS DOUBLE)
                                / CAST(n_r + 256 AS DOUBLE)), 9)
                       AS lam
              FROM c CROSS JOIN tot),
            s AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CAST(lam AS DECIMAL(28,9))) AS DOUBLE)
                       AS lw
              FROM gg JOIN lam USING (bucket) GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(s.n_grams, 0) AS n_grams,
                   CASE WHEN s.n_grams > 0 THEN s.lw END AS logweight,
                   CASE WHEN s.n_grams > 0 THEN
                     round(s.lw / CAST(s.n_grams AS DOUBLE), 6) + 0.0
                   END AS avg_logweight
            FROM documents d LEFT JOIN s USING (doc_id)
            ORDER BY d.doc_id
        """)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weighting: hashed-bigram log-likelihood ratio of
    the English slice vs the rest — 256-bucket smoothed distributions,
    9-dp-quantized lns, DECIMAL per-doc sums; the training-free
    target-similarity resampling score."""
    from mindocr_spark.functions.classifier import dsir_logweights

    return dsir_logweights(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        target=F.coalesce(F.col("lang"), F.lit("")) == "en",
    ).orderBy("doc_id")


@query("ngram_novelty", oracle=r"""
            WITH w AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(
                       coalesce(text, ''),
                       '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ')) AS word,
                     generate_subscripts(string_split(trim(regexp_replace(
                       coalesce(text, ''),
                       '[ \t\n\r\f\x0B]+', ' ', 'g')), ' '), 1) AS pos
              FROM documents),
            sh0 AS (
              SELECT doc_id,
                     word || ' '
                       || lead(word, 1) OVER (PARTITION BY doc_id
                                              ORDER BY pos)
                       || ' '
                       || lead(word, 2) OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS shingle,
                     lead(word, 2) OVER (PARTITION BY doc_id
                                         ORDER BY pos) AS l2
              FROM w),
            sh AS (
              SELECT DISTINCT doc_id, shingle
              FROM sh0 WHERE l2 IS NOT NULL),
            f AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY shingle) AS first_doc
              FROM sh),
            p AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_shingles,
                     CAST(sum(CASE WHEN first_doc = doc_id
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
              FROM f GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(p.n_shingles, 0) AS n_shingles,
                   coalesce(p.n_novel, 0) AS n_novel,
                   CASE WHEN p.n_shingles > 0 THEN
                     round(CAST(p.n_novel AS DOUBLE)
                           / CAST(p.n_shingles AS DOUBLE), 6)
                   END AS novelty
            FROM documents d LEFT JOIN p USING (doc_id)
            ORDER BY d.doc_id
        """)
def q_ngram_novelty(spark, sf_dir):
    """Per-doc shingle novelty under crawl order: fraction of a doc's
    distinct 3-shingles first seen in that doc — window-min over the
    shingle key + one doc-key re-aggregation, no self-join, exact
    counts, one rounded IEEE division."""
    from mindocr_spark.functions.dedup import ngram_novelty

    return ngram_novelty(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), k=3
    ).orderBy("doc_id")


@query("global_shuffle", family="curation", oracle=r"""
            WITH h AS (
              SELECT doc_id,
                     md5('7:' || CAST(doc_id AS VARCHAR)) AS hh
              FROM documents WHERE doc_id IS NOT NULL),
            s AS (
              SELECT doc_id, hh,
                     ('0x' || substr(hh, 1, 8))::BIGINT % 8 AS shard
              FROM h)
            SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                   CAST(row_number() OVER (
                     PARTITION BY shard ORDER BY hh, doc_id) AS BIGINT)
                     AS pos
            FROM s ORDER BY doc_id
        """)
def q_global_shuffle(spark, sf_dir):
    """Epoch-seeded deterministic global shuffle: md5(epoch:id) order
    key, hex-arithmetic shard bucket, rank within shard — the
    resume-safe training-order permutation, engine-portable."""
    from mindocr_spark.sources.shards import epoch_shuffle

    return epoch_shuffle(
        _t(spark, sf_dir, "documents").select("doc_id"),
        epoch=7, n_shards=8,
    ).orderBy("doc_id")


@query("temperature_mix", family="curation", oracle=r"""
            WITH t AS (
              SELECT coalesce(lang, 'und') AS lang,
                     trim(regexp_replace(coalesce(text, ''),
                          '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            d AS (
              SELECT lang,
                     CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm, ' ')) END AS n_tok
              FROM t),
            l AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tok) AS BIGINT) AS n_tokens
              FROM d GROUP BY lang),
            w AS (
              SELECT lang, n_docs, n_tokens,
                     round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS wq
              FROM l),
            tot AS (
              SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                     CAST(sum(CAST(wq AS DECIMAL(38,6))) AS DOUBLE) AS s
              FROM w)
            SELECT lang, n_docs, n_tokens,
                   CASE WHEN tot_tokens > 0 THEN
                     round(CAST(n_tokens AS DOUBLE)
                           / CAST(tot_tokens AS DOUBLE), 6)
                   END AS raw_share,
                   CASE WHEN s > 0 THEN round(wq / s, 6)
                   END AS temp_share,
                   CASE WHEN n_tokens > 0 AND s > 0 THEN
                     round((wq / s)
                           / (CAST(n_tokens AS DOUBLE)
                              / CAST(tot_tokens AS DOUBLE)), 6)
                   END AS boost,
                   CASE WHEN s > 0 THEN
                     CAST(floor(CAST(100000 AS DOUBLE) * (wq / s))
                       AS BIGINT)
                   END AS alloc_tokens
            FROM w CROSS JOIN tot ORDER BY lang
        """)
def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled mixture allocation (α=0.5 multilingual
    rebalancing): per-language token counts → sqrt weights (IEEE
    correctly-rounded, engine-identical) → DECIMAL-summed normalizer →
    shares, boost, and a floored per-epoch token allocation."""
    from mindocr_spark.functions.text import temperature_mix

    return temperature_mix(
        _t(spark, sf_dir, "documents").select("lang", "text"),
        budget_tokens=100_000,
    ).orderBy("lang")


#: Per-language token budgets for the token_budget_sample query.
_TOKEN_BUDGETS = {"en": 5_000}
_TOKEN_BUDGET_DEFAULT = 2_000


# one-window cumsum over the same md5 walk order the engine's
# distributed prefix-sum realizes; budget CASE arms from the
# same dicts
@query("token_budget_sample", family="curation", oracle=r"""
            WITH t AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            n AS (
              SELECT doc_id, lang,
                     CAST(CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS INT)
                       AS n_tokens
              FROM t),
            c AS (
              SELECT doc_id, lang, n_tokens,
                     CASE WHEN doc_id IS NULL OR lang IS NULL THEN NULL
                          ELSE CAST(SUM(n_tokens) OVER (
                            PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                          ) AS BIGINT) END AS cum_tokens
              FROM n)
            SELECT doc_id, lang, n_tokens, cum_tokens FROM c
            WHERE doc_id IS NULL OR lang IS NULL
               OR CASE __BUDGET_ARMS__ END
            ORDER BY doc_id
        """.replace("__BUDGET_ARMS__", " ".join(
            "WHEN lang = '%s' THEN %s" % (
                v.replace("'", "''"),
                "TRUE" if b is None else "cum_tokens <= %d" % int(b),
            )
            for v, b in _TOKEN_BUDGETS.items()
        ) + " ELSE " + (
            "TRUE" if _TOKEN_BUDGET_DEFAULT is None
            else f"cum_tokens <= {int(_TOKEN_BUDGET_DEFAULT)}"
        )))
def q_token_budget_sample(spark, sf_dir):
    """Greedy token-budget mixing ("take N tokens per language"): docs
    walk in deterministic md5(id) order per stratum and stop at the
    budget line. The engine runs a DISTRIBUTED PREFIX-SUM (md5-prefix
    buckets → parallel local cumsums → tiny bucket-offset window →
    broadcast join) so the dominant language never funnels into one
    sorted task; the oracle computes the plain one-window cumulative
    sum over the same order — identical values, different physical
    strategy, which is exactly what the cross-engine check pins."""
    from mindocr_spark.functions.text import token_budget_sample

    return token_budget_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        _TOKEN_BUDGETS,
        default_budget=_TOKEN_BUDGET_DEFAULT,
    ).select("doc_id", "lang", "n_tokens", "cum_tokens").orderBy("doc_id")


@query("bpe_token_stats", family="tokenizers", oracle=r"""
            WITH u AS (
              SELECT doc_id,
                     regexp_extract_all(text, '__BPE_RE__') AS units
              FROM documents)
            SELECT doc_id,
                   CAST(len(list_filter(units,
                        x -> regexp_matches(x, '^[A-Za-z]'))) AS BIGINT)
                     AS n_words,
                   CAST(len(list_filter(units,
                        x -> regexp_matches(x, '^[0-9]'))) AS BIGINT)
                     AS n_digit_runs,
                   CAST(len(list_filter(units,
                        x -> NOT regexp_matches(x, '^[A-Za-z0-9]')))
                     AS BIGINT) AS n_punct,
                   CAST(COALESCE(list_aggregate(list_transform(units,
                        x -> CASE
                             WHEN regexp_matches(x, '^[A-Za-z]')
                               THEN CAST(ceil(length(x) / 4) AS BIGINT)
                             WHEN regexp_matches(x, '^[0-9]')
                               THEN CAST(length(x) AS BIGINT)
                             ELSE 1 END), 'sum'), 0) AS BIGINT)
                     AS n_bpe_tokens
            FROM u ORDER BY doc_id
        """.replace("__BPE_RE__", _BPE_PRETOKEN_RE.replace("'", "''")))
def q_bpe_token_stats(spark, sf_dir):
    """Tokenizer-free BPE-ish training-token estimate: disjoint-class
    pretokenizer regex (alternation order cannot differ between
    engines), alpha runs priced at ceil(len/4) (exact — 4 is a power
    of two), digit runs per char, punctuation at 1. One codegen
    regexp_extract_all, no shuffle."""
    from mindocr_spark.functions.text import bpe_token_cols

    return bpe_token_cols(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@query("tfidf_keywords", family="retrieval", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            base AS (
              SELECT doc_id, unnest(string_split(norm,' ')) AS term
              FROM t WHERE norm <> ''),
            tf AS (
              SELECT term, doc_id, count(*) AS tf
              FROM base GROUP BY term, doc_id),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            nd AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term, tf, df,
                     round(CAST(tf AS DOUBLE)
                           * round(ln(CAST(n_docs AS DOUBLE)
                                      / CAST(df AS DOUBLE)), 9), 9)
                       AS score
              FROM tf JOIN dfq USING (term) CROSS JOIN nd),
            rk AS (
              SELECT doc_id, term, tf, df, score,
                     CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, term ASC) AS BIGINT) AS rank
              FROM scored)
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
                   CAST(df AS BIGINT) AS df, score, rank
            FROM rk WHERE rank <= 3 ORDER BY doc_id, rank
        """)
def q_tfidf_keywords(spark, sf_dir):
    """Per-document keyword extraction: top-3 terms by tf·idf with
    idf = round(ln(N/df), 9). Unlike BM25 (whose query vocabulary is
    broadcast), this joins the postings against the FULL document-
    frequency relation — the honest at-scale shape for corpus-wide
    keyword tagging: one shuffle on the term key (uniform), one on
    the doc key for the window."""
    from mindocr_spark.functions.search import tfidf_topk_terms

    return tfidf_topk_terms(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), k=3
    ).orderBy("doc_id", "rank")


#: Pinned blockword list for the C4-style badwords gate ('spill' is
#: absent from the corpus vocabulary — the zero-hit word must simply
#: not fire).
_BLOCKWORDS = ("slow", "batch", "spill")


#: Planted license footers, one per doc_id % 9 slot (slot 8 = no
#: marker). Shared verbatim by q_license_detect's in-query corpus and
#: the SQL oracle's CASE — the two engines compose identical text.
_LICENSE_FOOTERS = (
    " Licensed under a Creative Commons Attribution 4.0 International"
    " License.",
    " This work is dedicated to the public domain (CC0 1.0).",
    " Distributed as CC BY-SA 4.0.",
    " Usage restricted to noncommercial purposes: CC BY-NC.",
    " Released under the MIT License.",
    " Licensed under the Apache License, Version 2.0.",
    " Covered by the GNU General Public License v3.",
    " Copyright 2024. All rights reserved.",
    "",
)


def _license_oracle() -> str:
    """SQL twin of q_license_detect: compose the SAME footer text
    (shared _LICENSE_FOOTERS literals) and run the LITERAL same
    priority CASE over the same patterns — rendered from
    LICENSE_CLASSES so the two engines cannot drift."""
    arms = "\n                   ".join(
        f"WHEN regexp_matches(low, '{pat}') THEN '{name}'"
        for name, pat in _LICENSE_CLASSES
    )
    cls = f"CASE {arms}\n                   ELSE 'none' END"
    perm = ", ".join(f"'{c}'" for c in sorted(_PERMISSIVE_LICENSES))
    slots = "\n                     ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_LICENSE_FOOTERS[:-1])
    )
    return f"""
        WITH built AS (
          SELECT doc_id,
                 text || CASE doc_id % 9
                     {slots}
                     ELSE '' END AS t
          FROM documents),
        c AS (SELECT doc_id, lower(t) AS low FROM built)
        SELECT doc_id,
               {cls} AS license,
               {cls} IN ({perm}) AS permissive
        FROM c ORDER BY doc_id
    """


@query("license_detect", oracle=_license_oracle())
def q_license_detect(spark, sf_dir):
    """Rights-aware curation gate: the word-soup documents carry no
    rights markers, so the corpus is built IN-QUERY — every doc gains
    a doc_id-slotted license footer (8 license families + a bare
    slot). license_flags resolves the priority CASE (most-specific
    marker wins: a CC BY-SA footer literally contains 'cc by') and the
    permissive policy set; the oracle rebuilds the same text and runs
    the LITERAL same patterns in RE2, pinning the dialect agreement
    the blockword gate established."""
    from mindocr_spark.functions.text import license_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    footer = F.element_at(
        F.array(*[F.lit(s) for s in _LICENSE_FOOTERS]),
        (F.pmod(F.col("doc_id"), F.lit(9)) + 1).cast("int"),
    )
    built = docs.select(
        "doc_id", F.concat(F.col("text"), footer).alias("text")
    )
    return license_flags(built).orderBy("doc_id")


@query("blockword_filter", oracle=r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(lower(text), '__PAT__'))
                        AS BIGINT) AS n_blockword_hits,
                   len(regexp_extract_all(lower(text), '__PAT__')) > 0
                     AS has_blockword
            FROM documents ORDER BY doc_id
        """.replace("__PAT__", _blockword_pattern(_BLOCKWORDS)
                    .replace("'", "''")))
def q_blockword_filter(spark, sf_dir):
    """C4's badwords gate, flag-style: one whole-stage-codegen
    whole-word regex count over lower(text) — zero joins, zero
    shuffles, no row vanishes. The oracle compiles the SAME pattern
    via blockword_pattern, so the two engines share one alternation
    byte-for-byte."""
    from mindocr_spark.functions.text import blockword_flags

    return blockword_flags(
        _t(spark, sf_dir, "documents"), _BLOCKWORDS
    ).orderBy("doc_id")


@query("quality_classifier", family="text_quality",
       oracle="WITH " + _qc_base_ctes() + r"""
            SELECT b.doc_id, b.n_tokens,
                   CAST(COALESCE(s.logit, CAST(0 AS DECIMAL(28,9)))
                        AS DOUBLE) AS logit_sum,
                   CASE WHEN b.n_tokens > 0
                        THEN CAST(s.logit AS DOUBLE)
                             / CAST(b.n_tokens AS DOUBLE)
                   END AS score,
                   CASE WHEN b.n_tokens > 0
                        THEN (CAST(s.logit AS DOUBLE)
                              / CAST(b.n_tokens AS DOUBLE)) >= 0.0
                        ELSE FALSE END AS keep
            FROM base b LEFT JOIN sums s USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_quality_classifier(spark, sf_dir):
    """Model-based quality gate (FineWeb-Edu shape): hashed
    bag-of-words linear scoring — token → md5-prefix bucket →
    broadcast weight lookup → exact DECIMAL per-doc sum → one
    correctly-rounded mean. The stub weight table is the injectable
    seam for real exported classifier weights; the plumbing
    (schema, joins, aggregation) is the production path."""
    from mindocr_spark.functions.classifier import quality_classifier_score

    return quality_classifier_score(
        _t(spark, sf_dir, "documents"), threshold=0.0
    ).orderBy("doc_id")


#: Naive-Bayes demo classes and their planted marker phrases — words
#: chosen OUTSIDE the word-soup vocabulary so the trained model's
#: signal is the planted class. Shared verbatim with the SQL oracle.
_NB_CLASSES = ("ads", "news", "wiki")
_NB_MARKERS = (
    "buy cheap offer click",
    "report said officials yesterday",
    "study method results citation",
)


def _nb_oracle() -> str:
    """SQL twin of q_nb_classifier: rebuild the slot corpus, retrain
    the whole NB model (counts → Laplace lp → OOV defaults → smoothed
    priors) and rescore, rendered from the same
    _NB_CLASSES/_NB_MARKERS constants."""
    k = len(_NB_CLASSES)
    norm = r"trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))"
    marker_arms = "\n                   ".join(
        f"WHEN {i} THEN ' {' '.join([m] * 3)}'"
        for i, m in enumerate(_NB_MARKERS)
    )
    cls_arms = "\n                     ".join(
        f"WHEN {i} THEN '{c}'" for i, c in enumerate(_NB_CLASSES)
    )
    in_list = ", ".join(f"'{c}'" for c in _NB_CLASSES)
    cnt_cols = ",\n                 ".join(
        f"sum(CASE WHEN lbl = '{c}' THEN 1 ELSE 0 END) AS cnt_{i}"
        for i, c in enumerate(_NB_CLASSES)
    )
    tot_cols = ",\n                 ".join(
        f"sum(cnt_{i}) AS tot_{i}" for i in range(k)
    )
    nd_cols = ",\n                 ".join(
        f"sum(CASE WHEN lbl = '{c}' THEN 1 ELSE 0 END) AS nd_{i}"
        for i, c in enumerate(_NB_CLASSES)
    )
    lp_cols = ",\n                 ".join(
        f"round(ln(CAST(cnt_{i} + 1 AS DOUBLE)"
        f" / CAST(tot_{i} + v AS DOUBLE)), 9) AS lp_{i}"
        for i in range(k)
    )
    def_cols = ",\n                 ".join(
        f"round(ln(CAST(1 AS DOUBLE)"
        f" / CAST(tot_{i} + v AS DOUBLE)), 9) AS def_{i}"
        for i in range(k)
    )
    prior_cols = ",\n                 ".join(
        f"round(ln(CAST(nd_{i} + 1 AS DOUBLE)"
        f" / CAST(nd + {k} AS DOUBLE)), 9) AS prior_{i}"
        for i in range(k)
    )
    s_cols = ",\n                 ".join(
        f"sum(CAST(coalesce(lp_{i}, def_{i}) AS DECIMAL(28,9))) AS s_{i}"
        for i in range(k)
    )
    sc_defs = ",\n               ".join(
        f"CAST(m.prior_{i} AS DECIMAL(28,9))"
        f" + coalesce(s.s_{i}, CAST(0 AS DECIMAL(28,9))) AS sc_{i}"
        for i in range(k)
    )
    score_out = ",\n               ".join(
        f"CAST(sc_{i} AS DOUBLE) AS score_{c}"
        for i, c in enumerate(_NB_CLASSES)
    )
    pred_arms = []
    for i in range(k - 1):
        conds = " AND ".join(
            f"sc_{i} >= sc_{j}" for j in range(i + 1, k)
        )
        pred_arms.append(f"WHEN {conds} THEN '{_NB_CLASSES[i]}'")
    pred = (
        "CASE " + " ".join(pred_arms) + f" ELSE '{_NB_CLASSES[-1]}' END"
    )
    return f"""
        WITH base AS (
          SELECT doc_id,
                 text || CASE doc_id % 3
                   {marker_arms}
                 END AS text,
                 CASE WHEN doc_id % 7 < 3 THEN CASE doc_id % 3
                     {cls_arms}
                   END END AS lbl
          FROM documents),
        tok AS (
          SELECT doc_id, lbl, unnest(string_split({norm}, ' ')) AS t
          FROM base WHERE {norm} != ''),
        counts AS (
          SELECT t,
                 {cnt_cols}
          FROM tok WHERE lbl IN ({in_list}) GROUP BY t),
        docs AS (
          SELECT {nd_cols},
                 count(*) AS nd
          FROM base WHERE lbl IN ({in_list})),
        totals AS (
          SELECT count(*) AS v,
                 {tot_cols}
          FROM counts),
        lp AS (
          SELECT t,
                 {lp_cols}
          FROM counts, totals),
        model AS (
          SELECT {def_cols},
                 {prior_cols}
          FROM totals, docs),
        scored AS (
          SELECT doc_id, count(*) AS n_tokens,
                 {s_cols}
          FROM tok LEFT JOIN lp USING (t), model
          GROUP BY doc_id),
        fin AS (
          SELECT b.doc_id, b.lbl,
               coalesce(s.n_tokens, 0) AS n_tokens,
               {sc_defs}
          FROM base b LEFT JOIN scored s ON b.doc_id = s.doc_id, model m)
        SELECT doc_id, lbl AS train_label,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               {score_out},
               {pred} AS pred
        FROM fin ORDER BY doc_id
    """


@query("nb_classifier", family="text_quality", oracle=_nb_oracle())
def q_nb_classifier(spark, sf_dir):
    """In-corpus trained Naive Bayes: doc_id%3 plants one marker
    phrase (×3) per class, doc_id%7<3 docs are the labeled training
    slice, everything is scored. The oracle re-derives the ENTIRE
    model — Laplace token likelihoods, OOV defaults, smoothed priors —
    from the same corpus in SQL, so training and scoring are both
    exact-checked (the one trainable-model path in the engine)."""
    from mindocr_spark.functions.classifier import nb_train_score

    marker = F.element_at(
        F.array(*[F.lit(" " + (" ".join([m] * 3))) for m in _NB_MARKERS]),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    cls = F.element_at(
        F.array(*[F.lit(c) for c in _NB_CLASSES]),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    built = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(F.col("text"), marker).alias("text"),
            F.when(F.pmod(F.col("doc_id"), F.lit(7)) < 3, cls)
            .alias("lbl"),
        )
    )
    return nb_train_score(
        built, F.col("lbl"), _NB_CLASSES
    ).orderBy("doc_id")


@query("robots_flags", oracle=r"""
            SELECT 'https://docs.example/' || source || '/'
                     || CAST(doc_id AS VARCHAR) AS url,
                   CASE doc_id % 17
                        WHEN 0 THEN 'noindex,nofollow'
                        WHEN 5 THEN 'nofollow'
                        WHEN 11 THEN 'all'
                        ELSE '' END AS robots_content,
                   doc_id % 17 = 0 AS noindex,
                   doc_id % 17 IN (0, 5) AS nofollow
            FROM documents ORDER BY url
        """)
def q_robots_flags(spark, sf_dir):
    """Politeness gate: parse <meta name="robots"> directives out of
    raw HTML and flag noindex/nofollow pages, whole-token semantics
    (content="all" never trips it). The oracle re-derives the planted
    directive quota from doc_id arithmetic without touching HTML."""
    from mindocr_spark.functions.links import robots_flags
    from mindocr_spark.sources.pages import pages_from_documents_robots

    return robots_flags(
        pages_from_documents_robots(spark, sf_dir)
    ).orderBy("url")


@query("robots_gate", oracle=r"""
            WITH d AS (
              SELECT doc_id, doc_id % 7 AS site,
                     CASE doc_id % 5 WHEN 0 THEN 'docs' WHEN 1 THEN 'private'
                          WHEN 2 THEN 'tmp' WHEN 3 THEN 'private/pub'
                          ELSE 'media' END AS sec,
                     doc_id % 5 AS m
              FROM documents)
            SELECT 'https://site' || CAST(site AS VARCHAR) || '.example/'
                     || sec || '/page-' || CAST(doc_id AS VARCHAR)
                     || '.html' AS url,
                   'site' || CAST(site AS VARCHAR) || '.example' AS host,
                   '/' || sec || '/page-' || CAST(doc_id AS VARCHAR)
                     || '.html' AS path,
                   CASE WHEN site = 5 THEN TRUE
                        WHEN m = 1 THEN FALSE
                        WHEN m = 2 AND site % 2 = 0 THEN FALSE
                        ELSE TRUE END AS allowed,
                   CASE WHEN site = 5 THEN NULL
                        WHEN m = 1 THEN 'disallow'
                        WHEN m = 3 THEN 'allow'
                        WHEN m = 2 AND site % 2 = 0 THEN 'disallow'
                   END AS rule_type,
                   CASE WHEN site = 5 THEN NULL
                        WHEN m = 1 THEN '/private/'
                        WHEN m = 3 THEN '/private/pub/'
                        WHEN m = 2 AND site % 2 = 0 THEN '/tmp/'
                   END AS matched_prefix,
                   CASE WHEN site IN (1, 4) THEN 2.0 END AS crawl_delay
            FROM d ORDER BY url
        """)
def q_robots_gate(spark, sf_dir):
    """Fetch-side politeness: a real robots.txt interpreter — comment/
    blank stripping, User-agent group attribution (a specialbot group
    a ``*`` evaluation must ignore), LONGEST-match Allow/Disallow with
    allow-wins ties, empty robots ⇒ allow-all, Crawl-delay surfacing.
    The corpus plants every rule outcome by doc_id arithmetic, so the
    oracle's verdict is a closed form — the engines agree only if the
    parse, the group attribution, AND the longest-match argmax are all
    right (/private/pub/ pages match BOTH a Disallow and a longer
    Allow)."""
    from mindocr_spark.functions.crawl import robots_gate
    from mindocr_spark.sources.pages import robots_corpus

    pages, robots = robots_corpus(spark, sf_dir)
    return robots_gate(pages, robots, ua="*").orderBy("url")


def _robots_wildcards_oracle() -> str:
    """Closed-form twin: verdict, rule_type and matched pattern per
    doc_id%6 section — no robots parsing, no regex in the oracle."""
    return """
        WITH p AS (
          SELECT doc_id,
                 doc_id % 3 AS site, doc_id % 6 AS sec,
                 CASE doc_id % 6
                   WHEN 0 THEN 'docs/page-' || CAST(doc_id AS VARCHAR)
                               || '.html'
                   WHEN 1 THEN 'docs/page-' || CAST(doc_id AS VARCHAR)
                               || '.pdf'
                   WHEN 2 THEN 'docs/page-' || CAST(doc_id AS VARCHAR)
                               || '.pdfx'
                   WHEN 3 THEN 'notes/entry-' || CAST(doc_id AS VARCHAR)
                               || '.html'
                   WHEN 4 THEN 'tmp/a-' || CAST(doc_id AS VARCHAR)
                               || '/deep.html'
                   ELSE 'media/img-' || CAST(doc_id AS VARCHAR)
                        || '.png'
                 END AS tail
          FROM documents)
        SELECT 'https://wild' || CAST(site AS VARCHAR) || '.example/'
                 || tail AS url,
               'wild' || CAST(site AS VARCHAR) || '.example' AS host,
               '/' || tail AS path,
               sec IN (0, 2, 5) AS allowed,
               CASE sec
                 WHEN 0 THEN 'allow' WHEN 2 THEN 'allow'
                 WHEN 5 THEN 'allow' ELSE 'disallow' END AS rule_type,
               CASE sec
                 WHEN 0 THEN '/docs/' WHEN 2 THEN '/docs/'
                 WHEN 1 THEN '/*.pdf$'
                 WHEN 3 THEN '/*notes*'
                 WHEN 4 THEN '/tmp/*/deep.html'
                 ELSE '/media/*.png' END AS matched_pattern,
               CAST(NULL AS DOUBLE) AS crawl_delay
        FROM p ORDER BY url
    """


@query("robots_wildcards", oracle=_robots_wildcards_oracle())
def q_robots_wildcards(spark, sf_dir):
    """RFC 9309 §2.2.3 pattern semantics: ``*`` runs and the ``$``
    end-anchor, longest-RAW-pattern specificity, Allow on ties. The
    six path sections exercise plain prefix, anchored-$ win,
    anchored-$ non-match (.pdfx), inner-*, mid-pattern-*, and a
    wildcard Allow outranking a shorter Disallow — the oracle states
    every verdict in closed form from doc_id arithmetic."""
    from mindocr_spark.functions.crawl import robots_gate_wildcard
    from mindocr_spark.sources.pages import robots_wildcard_corpus

    pages, robots = robots_wildcard_corpus(spark, sf_dir)
    return robots_gate_wildcard(pages, robots, ua="*").orderBy("url")


# the parsed sitemap relation in closed form: page entries for
# doc_id % 3 != 2, draft entries for doc_id % 10 = 7
# closed form of the planted Sitemap: declarations — sites
# ≡0 (mod 3) one entry, site 1 two (mixed case), empty site 5
# none; the parser's comment-strip and (?i) field match are
# what the arithmetic pins
@query("sitemap_discovery", oracle="""
            WITH s AS (SELECT CAST(range AS BIGINT) AS site FROM range(7))
            SELECT 'site' || CAST(site AS VARCHAR) || '.example' AS domain,
                   'https://site' || CAST(site AS VARCHAR)
                     || '.example/sitemap.xml' AS sitemap_url
            FROM s WHERE site % 3 = 0 AND site <> 5
            UNION ALL
            SELECT 'site1.example', 'https://site1.example/sitemap.xml'
            UNION ALL
            SELECT 'site1.example', 'https://site1.example/sitemap-news.xml'
            ORDER BY domain, sitemap_url
        """)
def q_sitemap_discovery(spark, sf_dir):
    """Sitemap discovery from robots.txt: the RFC 9309 cross-group
    ``Sitemap:`` field, planted BEFORE any User-agent group (group
    attribution must ignore it; the rule parser must keep dropping
    it — both gates' oracles stay green over the same bodies). Sites
    ≡0 (mod 3) declare one sitemap, site 1 declares two with mixed
    field-name case, site 5's empty body declares none."""
    from mindocr_spark.functions.crawl import robots_sitemaps
    from mindocr_spark.sources.pages import robots_corpus

    _, robots = robots_corpus(spark, sf_dir)
    return robots_sitemaps(robots).orderBy("domain", "sitemap_url")


def _sitemap_index_oracle() -> str:
    """Closed-form twin: fetched-child rows straight from doc_id
    arithmetic, missing-child rows from the odd-site rule."""
    return """
        WITH d AS (
          SELECT doc_id, doc_id % 5 AS site FROM documents),
        rows_f AS (
          SELECT 'smi' || CAST(site AS VARCHAR) || '.example' AS domain,
                 'https://smi' || CAST(site AS VARCHAR) || '.example/'
                   || CASE WHEN doc_id % 2 = 0 THEN 'part-a.xml'
                           ELSE 'part-b.xml' END AS sitemap_url,
                 'https://smi' || CAST(site AS VARCHAR)
                   || '.example/p-' || CAST(doc_id AS VARCHAR)
                   || '.html' AS loc,
                 '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                                    2, '0') AS lastmod,
                 CASE WHEN doc_id % 4 < 2 THEN 'daily'
                      ELSE 'weekly' END AS changefreq,
                 true AS fetched
          FROM d),
        rows_m AS (
          SELECT 'smi' || CAST(s AS VARCHAR) || '.example' AS domain,
                 'https://smi' || CAST(s AS VARCHAR)
                   || '.example/news.xml' AS sitemap_url,
                 CAST(NULL AS VARCHAR) AS loc,
                 CAST(NULL AS VARCHAR) AS lastmod,
                 CAST(NULL AS VARCHAR) AS changefreq,
                 false AS fetched
          FROM (SELECT range AS s FROM range(5)) WHERE s % 2 = 1)
        SELECT * FROM (
          SELECT * FROM rows_f UNION ALL SELECT * FROM rows_m)
        ORDER BY domain, sitemap_url, loc
    """


@query("sitemap_index", oracle=_sitemap_index_oracle())
def q_sitemap_index(spark, sf_dir):
    """Sitemap-protocol nesting: per-domain <sitemapindex> files →
    child references → resolve against the fetched-body table → parse
    children into the source-annotated declared-URL relation; children
    the index names but the crawler never pulled survive as
    fetched=false rows. Every field is doc_id arithmetic in the
    oracle."""
    from mindocr_spark.functions.crawl import resolve_sitemap_index
    from mindocr_spark.sources.pages import sitemap_index_corpus

    indexes, fetched = sitemap_index_corpus(spark, sf_dir)
    return resolve_sitemap_index(indexes, fetched).orderBy(
        "domain", "sitemap_url", "loc"
    )


def _hreflang_clusters_oracle() -> str:
    """Closed-form twin: the cluster verdicts restated from the
    documents table (grp = doc_id div 3, declarers = doc_id ≢ 0 mod 7,
    langs straight off the lang column)."""
    return """
        WITH g AS (
          SELECT doc_id, lang, doc_id // 3 AS grp FROM documents),
        m AS (
          SELECT grp,
                 MIN(doc_id) AS cluster_id,
                 COUNT(*) AS n_members,
                 COUNT(*) FILTER (WHERE doc_id % 7 <> 0) AS n_declaring,
                 COUNT(DISTINCT lang) AS n_langs
          FROM g GROUP BY grp)
        SELECT cluster_id,
               n_members,
               n_declaring,
               n_langs,
               'https://docs.example/d/' || CAST(cluster_id AS VARCHAR)
                 AS default_url,
               CASE WHEN n_declaring < n_members THEN 'broken_reciprocity'
                    WHEN n_langs < n_members THEN 'lang_conflict'
                    ELSE 'ok' END AS status
        FROM m
        WHERE n_declaring >= 1
        ORDER BY cluster_id
    """


@query("hreflang_clusters", oracle=_hreflang_clusters_oracle())
def q_hreflang_clusters(spark, sf_dir):
    """Language-edition clustering from rel=alternate hreflang
    declarations: extract each page's alternate set, key clusters by
    the min declared member (no CC iteration needed — conformant
    members declare identical sets), and grade each edition set
    ok / broken_reciprocity / lang_conflict. The corpus plants
    3-member editions (grp = doc_id div 3) with ≡0 (mod 7) members
    omitting their block; every verdict is doc_id/lang arithmetic in
    the oracle."""
    from mindocr_spark.functions.links import hreflang_clusters
    from mindocr_spark.sources.pages import hreflang_corpus

    return hreflang_clusters(hreflang_corpus(spark, sf_dir)).orderBy(
        "cluster_id"
    )


@query("sitemap_parse", oracle=r"""
            WITH d AS (
              SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS s
              FROM documents)
            SELECT 'site' || s || '.example' AS domain,
                   'https://site' || s || '.example/page-'
                     || CAST(doc_id AS VARCHAR) || '.html' AS loc,
                   '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                                      2, '0') AS lastmod,
                   CASE WHEN doc_id % 2 = 0 THEN 'daily'
                        ELSE 'weekly' END AS changefreq
            FROM d WHERE doc_id % 3 <> 2
            UNION ALL
            SELECT 'site' || s || '.example',
                   'https://site' || s || '.example/draft-'
                     || CAST(doc_id AS VARCHAR) || '.html',
                   '2024-02-01', 'monthly'
            FROM d WHERE doc_id % 10 = 7
            ORDER BY domain, loc
        """)
def q_sitemap_parse(spark, sf_dir):
    """Sitemap-protocol parsing: per-domain sitemap.xml bodies →
    declared-URL relation (domain, loc, lastmod, changefreq), optional
    fields NULL. The corpus assembles real XML from doc_id arithmetic,
    so the oracle states the parsed relation in closed form without
    touching XML."""
    from mindocr_spark.functions.crawl import parse_sitemaps
    from mindocr_spark.sources.pages import sitemap_corpus

    _, sitemaps = sitemap_corpus(spark, sf_dir)
    return parse_sitemaps(sitemaps).orderBy("domain", "loc")


# coverage verdicts: every crawled page row (undeclared when
# doc_id % 3 = 2, else stale unless doc_id % 28 = 0) plus the
# never-crawled draft entries
@query("sitemap_coverage", oracle=r"""
            WITH d AS (
              SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS s
              FROM documents)
            SELECT 'https://site' || s || '.example/page-'
                     || CAST(doc_id AS VARCHAR) || '.html' AS url,
                   doc_id % 3 <> 2 AS in_sitemap,
                   TRUE AS crawled,
                   CASE WHEN doc_id % 3 <> 2
                        THEN '2024-01-'
                          || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                   END AS lastmod,
                   CASE WHEN doc_id % 3 = 2 THEN 'undeclared'
                        WHEN doc_id % 28 <> 0 THEN 'stale'
                        ELSE 'fresh' END AS status
            FROM d
            UNION ALL
            SELECT 'https://site' || s || '.example/draft-'
                     || CAST(doc_id AS VARCHAR) || '.html',
                   TRUE, FALSE, '2024-02-01', 'uncrawled'
            FROM d WHERE doc_id % 10 = 7
            ORDER BY url
        """)
def q_sitemap_coverage(spark, sf_dir):
    """Crawl-coverage accounting: reconcile the site-DECLARED url
    inventory against the CRAWLED inventory with one url-grain
    full-outer join — uncrawled / undeclared / stale / fresh verdicts
    per url (staleness by lexicographic ISO-date compare, no timestamp
    parsing). Every verdict is doc_id arithmetic in the oracle."""
    from mindocr_spark.functions.crawl import (
        parse_sitemaps, sitemap_coverage,
    )
    from mindocr_spark.sources.pages import sitemap_corpus

    pages, sitemaps = sitemap_corpus(spark, sf_dir)
    return sitemap_coverage(
        parse_sitemaps(sitemaps), pages, as_of="2024-01-01"
    ).orderBy("url")


# single-window twin of the two-phase schedule over the
# closed-form robots-allowed set; capacity = floor(60/delay)
@query("fetch_schedule", oracle=r"""
            WITH d AS (
              SELECT doc_id, doc_id % 7 AS site,
                     CASE doc_id % 5 WHEN 0 THEN 'docs' WHEN 1 THEN 'private'
                          WHEN 2 THEN 'tmp' WHEN 3 THEN 'private/pub'
                          ELSE 'media' END AS sec,
                     doc_id % 5 AS m
              FROM documents),
            f AS (
              SELECT 'https://site' || CAST(site AS VARCHAR) || '.example/'
                       || sec || '/page-' || CAST(doc_id AS VARCHAR)
                       || '.html' AS url,
                     'site' || CAST(site AS VARCHAR) || '.example' AS host,
                     CASE WHEN site IN (1, 4) THEN CAST(2.0 AS DOUBLE)
                          ELSE CAST(1.0 AS DOUBLE) END AS delay,
                     CASE WHEN site IN (1, 4) THEN 30 ELSE 60 END AS cap
              FROM d
              WHERE site = 5 OR NOT (m = 1 OR (m = 2 AND site % 2 = 0))),
            r AS (
              SELECT url, host, delay, cap,
                     CAST(row_number() OVER (
                       PARTITION BY host ORDER BY url) AS INT) AS seq
              FROM f)
            SELECT url, host, seq, delay AS crawl_delay,
                   (seq - 1) * delay AS fetch_at_s
            FROM r WHERE seq <= cap ORDER BY host, seq
        """)
def q_fetch_schedule(spark, sf_dir):
    """Politeness-aware fetch planning, COMPOSED over the robots gate:
    the robots.txt verdicts (allowed + crawl_delay) feed a per-host
    crawl round — the first floor(60s / delay) urls per host get slots
    at (seq−1)·delay. Ranking is the skew-safe two-phase shape (salted
    local rank, then exact rank over bounded survivors); the oracle is
    the plain single-window twin over the closed-form allowed set, so
    the gate verdicts, the two-phase equivalence, the capacity floor,
    AND the slot arithmetic must all agree."""
    from mindocr_spark.functions.crawl import fetch_schedule, robots_gate
    from mindocr_spark.sources.pages import robots_corpus

    pages, robots = robots_corpus(spark, sf_dir)
    frontier = robots_gate(pages, robots, ua="*").where(F.col("allowed"))
    return fetch_schedule(frontier, round_seconds=60.0).orderBy(
        "host", "seq"
    )


# closed-form JSON-LD entities from the planted doc_id quota:
# Article / Product / both-in-order / malformed-to-NULL
@query("jsonld_extract", family="formats", oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     'https://docs.example/' || source || '/'
                       || CAST(doc_id AS VARCHAR) AS url,
                     CAST(doc_id % 6 AS INT) AS m
              FROM documents)
            SELECT url, CAST(0 AS INT) AS block_idx,
                   'Article' AS ld_type,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS name,
                   'Author ' || CAST(doc_id % 13 AS VARCHAR) AS author,
                   '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                                      2, '0') AS published,
                   CAST(NULL AS BIGINT) AS price
            FROM d WHERE m IN (1, 4, 5)
            UNION ALL
            SELECT url, CASE WHEN m = 4 THEN 1 ELSE 0 END, 'Product',
                   'Product ' || CAST(doc_id AS VARCHAR), NULL, NULL,
                   CAST(doc_id % 997 AS BIGINT)
            FROM d WHERE m IN (2, 4)
            UNION ALL
            SELECT url, 0, NULL, NULL, NULL, NULL, NULL
            FROM d WHERE m = 3
            ORDER BY url, block_idx
        """)
def q_jsonld_extract(spark, sf_dir):
    """schema.org JSON-LD extraction: pull every structured-data
    script block out of raw HTML (one codegen regexp_extract_all, the
    chrome's plain <script> decoy must not match) and tap its typed
    fields with get_json_object. The corpus plants Article / Product /
    BOTH / MALFORMED blocks by doc_id arithmetic, so the oracle states
    every entity row in closed form — the regex, the block order, the
    field taps, AND the malformed-to-NULL behavior must all agree."""
    from mindocr_spark.functions.structured import extract_jsonld
    from mindocr_spark.sources.pages import pages_from_documents_jsonld

    return extract_jsonld(
        pages_from_documents_jsonld(spark, sf_dir)
    ).orderBy("url", "block_idx")


# every expected cell of the planted tables, enumerated arm by
# arm (headered 2-col / two-table page / ragged table)
@query("table_extract", family="formats", oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     'https://docs.example/' || source || '/'
                       || CAST(doc_id AS VARCHAR) AS url,
                     CAST(doc_id % 5 AS INT) AS m,
                     CAST(doc_id AS VARCHAR) AS ds
              FROM documents)
            SELECT url, CAST(0 AS INT) AS table_idx,
                   CAST(0 AS INT) AS row_idx, CAST(0 AS INT) AS col_idx,
                   'item' AS cell, TRUE AS is_header
            FROM d WHERE m = 1
            UNION ALL SELECT url, 0, 0, 1, 'qty', TRUE FROM d WHERE m = 1
            UNION ALL SELECT url, 0, 1, 0, 'w' || ds, FALSE FROM d WHERE m = 1
            UNION ALL SELECT url, 0, 1, 1, CAST(doc_id % 50 AS VARCHAR),
                             FALSE FROM d WHERE m = 1
            UNION ALL SELECT url, 0, 2, 0, 'x' || ds, FALSE FROM d WHERE m = 1
            UNION ALL SELECT url, 0, 2, 1, CAST(doc_id % 31 AS VARCHAR),
                             FALSE FROM d WHERE m = 1
            UNION ALL SELECT url, 0, 0, 0, 'solo ' || ds, FALSE
                             FROM d WHERE m = 2
            UNION ALL SELECT url, 1, 0, 0, 'k', TRUE FROM d WHERE m = 2
            UNION ALL SELECT url, 1, 1, 0, 'v' || ds, FALSE FROM d WHERE m = 2
            UNION ALL SELECT url, 0, 0, 0, 'a' || ds, FALSE FROM d WHERE m = 3
            UNION ALL SELECT url, 0, 0, 1, 'b' || ds, FALSE FROM d WHERE m = 3
            UNION ALL SELECT url, 0, 1, 0, 'c' || ds, FALSE FROM d WHERE m = 3
            ORDER BY url, table_idx, row_idx, col_idx
        """)
def q_table_extract(spark, sf_dir):
    """HTML-table extraction to the fully-indexed cell grain (url,
    table_idx, row_idx, col_idx, cell, is_header): three nested
    codegen regex passes with narrow posexplodes, all fused into the
    scan. The corpus plants a headered 2-column table, a two-table
    page, and a RAGGED table by doc_id arithmetic; the oracle
    enumerates every expected cell in closed form."""
    from mindocr_spark.functions.structured import extract_tables
    from mindocr_spark.sources.pages import pages_from_documents_tables

    return extract_tables(
        pages_from_documents_tables(spark, sf_dir)
    ).orderBy("url", "table_idx", "row_idx", "col_idx")


# title and the 8 chrome anchors are template constants; digest
# and length rebuild from the SAME SQL expression the CDX
# oracle uses
# anchor inventory derived from the SAME chrome constants the
# corpus concatenates (every plain-template page carries exactly
# the chrome anchors; the word-soup body has none)
@query("link_density", oracle=f"""
            WITH h AS (
              SELECT {_URL_SQL} AS url, {_html_expr()} AS html
              FROM documents)
            SELECT url,
                   CAST({_n_anch} AS INT) AS n_anchors,
                   CAST({_anch_chars} AS INT) AS anchor_chars,
                   CAST(length(html) AS INT) AS html_chars,
                   CAST({_anch_chars} AS DOUBLE)
                     / CAST(length(html) AS DOUBLE) AS link_char_ratio
            FROM h ORDER BY url
        """)
def q_link_density(spark, sf_dir):
    """Page-level link-density features (the Boilerpipe-family spam /
    nav-hub signal, cheapest to gate BEFORE the parse): anchor count,
    visible anchor-text chars (one codegen regexp_extract_all + an
    aggregate fold), html length, and their ratio. The oracle derives
    the expected anchor inventory from the SAME chrome template
    constants the corpus builder concatenates — no drift possible."""
    from mindocr_spark.functions.links import link_density_cols
    from mindocr_spark.sources.pages import pages_from_documents

    return link_density_cols(
        pages_from_documents(spark, sf_dir)
    ).orderBy("url")


# twin of links.cocitation_pairs over the linked-edge
# derivation: distinct (src,dst), hub-capped sources, bounded
# self-join, in-link-set Jaccard rounded half-away at 6
@query("cocitation", family="graph", oracle="WITH " + _LINKED_EDGE_CTES + """,
            de AS (
              SELECT DISTINCT src_dom AS k, dst_dom AS v FROM e
              WHERE src_dom IS NOT NULL AND dst_dom IS NOT NULL),
            deg AS (
              SELECT k, CAST(count(*) AS BIGINT) AS kd
              FROM de GROUP BY k),
            kept AS (
              SELECT de.k, de.v FROM de JOIN deg USING (k)
              WHERE kd <= 1000),
            sizes AS (
              SELECT v, CAST(count(*) AS BIGINT) AS n_sets
              FROM kept GROUP BY v),
            common AS (
              SELECT x.v AS a, y.v AS b,
                     CAST(count(*) AS BIGINT) AS n_common
              FROM kept x JOIN kept y
                ON x.k = y.k AND x.v < y.v
              GROUP BY x.v, y.v HAVING count(*) >= 2)
            SELECT a, b, n_common, sa.n_sets AS n_a,
                   sb.n_sets AS n_b,
                   round(CAST(n_common AS DOUBLE)
                         / CAST(sa.n_sets + sb.n_sets - n_common
                                AS DOUBLE), 6) AS jaccard
            FROM common
            JOIN sizes sa ON a = sa.v JOIN sizes sb ON b = sb.v
            ORDER BY a, b""")
def q_cocitation(spark, sf_dir):
    """Co-citation related-domain pairs over the linked corpus
    family: destination domains endorsed by the same (non-hub)
    source domains, with in-link-set Jaccard. The oracle re-derives
    the edge multiset from pure doc_id/source arithmetic — the
    engine must extract/resolve/normalize the SAME edges from raw
    HTML before the pair algebra can agree
    (functions/links.cocitation_pairs)."""
    from mindocr_spark.functions.links import (
        cocitation_pairs,
        extract_links,
    )
    from mindocr_spark.sources.pages import pages_from_documents_linked

    pages = pages_from_documents_linked(spark, sf_dir)
    return cocitation_pairs(
        extract_links(pages), min_common=2, max_out_degree=1000
    ).orderBy("a", "b")


@query("link_graph", family="graph", oracle="WITH " + _LINKED_EDGE_CTES + r"""
            SELECT dst_dom AS dst_domain,
                   CAST(count(*) AS BIGINT) AS n_inlinks,
                   CAST(count(DISTINCT src_dom) AS BIGINT) AS n_src_domains,
                   CAST(SUM(CASE WHEN src_dom = dst_dom THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_self,
                   CAST(SUM(CASE WHEN src_dom <> dst_dom THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_external
            FROM e GROUP BY dst_dom ORDER BY dst_domain
        """)
def q_link_graph(spark, sf_dir):
    """Web-graph layer: extract every <a href> from the linked corpus
    family's raw HTML (one codegen regexp_extract_all), resolve
    against the page URL, and aggregate per-registered-domain in-link
    stats. The oracle never parses HTML — it reproduces the same edge
    set from the untouched documents table's doc_id/source arithmetic,
    so the two engines agree only if extraction, resolution, domain
    normalization, AND aggregation are all right."""
    from mindocr_spark.functions.links import (
        domain_link_stats,
        extract_links,
    )
    from mindocr_spark.sources.pages import pages_from_documents_linked

    pages = pages_from_documents_linked(spark, sf_dir)
    return domain_link_stats(extract_links(pages)).orderBy("dst_domain")


# reciprocal_links: the shared linked-edge CTEs + the courtesy
# backlink family, distinct-pair reversal join in SQL
@query("reciprocal_links", family="graph",
       oracle="WITH " + _LINKED_EDGE_CTES + r""",
            back AS (
              SELECT 'mirror' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example' AS src_dom,
                     source || CAST(doc_id % 13 AS VARCHAR)
                       || '.example' AS dst_dom
              FROM documents WHERE doc_id % 3 = 0),
            alle AS (
              SELECT src_dom, dst_dom FROM e
              UNION ALL SELECT src_dom, dst_dom FROM back),
            pairs AS (
              SELECT DISTINCT src_dom, dst_dom FROM alle
              WHERE src_dom <> dst_dom),
            j AS (
              SELECT p.src_dom, r.src_dom IS NOT NULL AS rec
              FROM pairs p LEFT JOIN pairs r
                ON r.src_dom = p.dst_dom AND r.dst_dom = p.src_dom)
            SELECT src_dom AS domain,
                   CAST(count(*) AS BIGINT) AS n_out_domains,
                   CAST(SUM(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_reciprocal,
                   round(CAST(SUM(CASE WHEN rec THEN 1 ELSE 0 END)
                         AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                     AS reciprocity
            FROM j GROUP BY src_dom ORDER BY domain
        """)
def q_reciprocal_links(spark, sf_dir):
    """Link-exchange (nepotistic linking) signal: distinct external
    domain pairs from the linked family's REAL extracted edges, plus a
    deterministic 'courtesy backlink' family (mirror{id%7} links back
    to {source}{id%13} on every third doc) so reciprocity takes
    non-trivial values the oracle reproduces from doc_id arithmetic
    alone — per-domain out-neighbor counts, reciprocated counts, and
    the reciprocity ratio."""
    from mindocr_spark.functions.links import (
        extract_links,
        reciprocal_link_stats,
    )
    from mindocr_spark.sources.pages import pages_from_documents_linked

    edges = extract_links(
        pages_from_documents_linked(spark, sf_dir)
    ).select("src_domain", "dst_domain")
    docs = _t(spark, sf_dir, "documents")
    back = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(
            F.lit("mirror"),
            F.pmod("doc_id", F.lit(7)).cast("string"),
            F.lit(".example"),
        ).alias("src_domain"),
        F.concat(
            F.col("source"),
            F.pmod("doc_id", F.lit(13)).cast("string"),
            F.lit(".example"),
        ).alias("dst_domain"),
    )
    return reciprocal_link_stats(edges.unionByName(back)).orderBy("domain")


@query("domain_pagerank", family="graph",
       oracle=_pagerank_oracle(iters=3, damping="0.85"))
def q_domain_pagerank(spark, sf_dir):
    """Domain-authority ranking: 3 fixed power iterations of PageRank
    over the weighted domain graph extracted from raw HTML. Ranks stay
    DOUBLE with no rounding anywhere — every step is a correctly-
    rounded IEEE op in pinned association order, and the per-node
    incoming sum is a left fold over the src-sorted contribution list
    in BOTH engines (F.aggregate ↔ list_reduce), so the oracle match
    is bit-exact."""
    from mindocr_spark.functions.links import (
        domain_pagerank,
        extract_links,
    )
    from mindocr_spark.sources.pages import pages_from_documents_linked

    edges = extract_links(pages_from_documents_linked(spark, sf_dir))
    return domain_pagerank(edges, iters=3, damping=0.85).orderBy("domain")


@query("trustrank", family="graph",
       oracle=_trustrank_oracle(iters=3, damping="0.85"))
def q_trustrank(spark, sf_dir):
    """TrustRank (seeded personalized PageRank — the link-spam
    gate): teleport mass lands only on the 7-domain mirror whitelist,
    3 power iterations propagate trust outward; domains no seed
    endorses decay to 0. Same sorted-fold bit-exact discipline as
    domain_pagerank."""
    from mindocr_spark.functions.links import (
        domain_trustrank,
        extract_links,
    )
    from mindocr_spark.sources.pages import pages_from_documents_linked

    edges = extract_links(pages_from_documents_linked(spark, sf_dir))
    seeds = spark.createDataFrame(
        [(f"mirror{k}.example",) for k in range(7)], "domain string"
    )
    return domain_trustrank(
        edges, seeds, iters=3, damping=0.85
    ).orderBy("domain")


@query("spam_mass", family="graph",
       oracle=_spam_mass_oracle(iters=3, damping="0.85"))
def q_spam_mass(spark, sf_dir):
    """Relative spam mass per domain: (p̂ − t̂)/p̂ over L1-normalized
    PageRank and TrustRank (mirror-seed whitelist) — the fraction of a
    domain's authority that no trusted seed endorses. DECIMAL-window
    normalizers, round(·,9), signed zero normalized — bit-exact."""
    from mindocr_spark.functions.links import (
        domain_pagerank,
        domain_trustrank,
        extract_links,
        spam_mass,
    )
    from mindocr_spark.cache import tracked_persist
    from mindocr_spark.sources.pages import pages_from_documents_linked

    # both rank chains collapse this same relation — persist it or the
    # HTML link extraction (the corpus-sized scan) runs twice
    edges = tracked_persist(
        extract_links(pages_from_documents_linked(spark, sf_dir))
    )
    seeds = spark.createDataFrame(
        [(f"mirror{k}.example",) for k in range(7)], "domain string"
    )
    ranks = domain_pagerank(edges, iters=3, damping=0.85)
    trust = domain_trustrank(edges, seeds, iters=3, damping=0.85)
    return spam_mass(ranks, trust).orderBy("domain")


@query("kcore", family="graph", oracle=_kcore_oracle(k=7, rounds=4))
def q_kcore(spark, sf_dir):
    """Iterated k-peel (k=7, 4 rounds) over the undirected simple
    domain graph — the dense-core spam/hub signal: thin long-tail
    source domains (fewer than 7 distinct mirror neighbors) peel out,
    the mirror hubs and well-connected sources stay. Flag-style: one
    row per graph node with (in_core, core_degree). EAGER: each peel
    round runs as a checkpointed Spark job."""
    from mindocr_spark.functions.links import domain_kcore, extract_links
    from mindocr_spark.sources.pages import pages_from_documents_linked

    edges = extract_links(pages_from_documents_linked(spark, sf_dir))
    return domain_kcore(edges, k=7, rounds=4).orderBy("domain")


@query("triangle_count", family="graph",
       oracle="WITH " + _CHORDED_EDGE_CTES + r""",
            sp AS (
              SELECT DISTINCT least(src_dom, dst_dom) AS a,
                              greatest(src_dom, dst_dom) AS b
              FROM alle WHERE src_dom != dst_dom),
            deg AS (
              SELECT dom, CAST(count(*) AS BIGINT) AS degree
              FROM (SELECT a AS dom FROM sp
                    UNION ALL SELECT b FROM sp)
              GROUP BY dom),
            o AS (
              SELECT CASE WHEN (da.degree, s.a) < (db.degree, s.b)
                          THEN s.a ELSE s.b END AS u,
                     CASE WHEN (da.degree, s.a) < (db.degree, s.b)
                          THEN s.b ELSE s.a END AS v,
                     CASE WHEN (da.degree, s.a) < (db.degree, s.b)
                          THEN db.degree ELSE da.degree END AS dv
              FROM sp s
              JOIN deg da ON da.dom = s.a
              JOIN deg db ON db.dom = s.b),
            tri AS (
              SELECT w1.u AS t1, w1.v AS t2, w2.v AS t3
              FROM o w1
              JOIN o w2 ON w1.u = w2.u
                       AND (w1.dv, w1.v) < (w2.dv, w2.v)
              JOIN o c ON c.u = w1.v AND c.v = w2.v),
            pern AS (
              SELECT dom, count(*) AS t
              FROM (SELECT t1 AS dom FROM tri
                    UNION ALL SELECT t2 FROM tri
                    UNION ALL SELECT t3 FROM tri)
              GROUP BY dom)
            SELECT deg.dom AS domain, deg.degree,
                   CAST(COALESCE(p.t, 0) AS BIGINT) AS n_triangles,
                   CASE WHEN deg.degree >= 2 THEN
                     round(CAST(2.0 AS DOUBLE)
                           * CAST(COALESCE(p.t, 0) AS DOUBLE)
                           / (CAST(deg.degree AS DOUBLE)
                              * (CAST(deg.degree AS DOUBLE)
                                 - CAST(1.0 AS DOUBLE))), 6)
                   END AS clustering
            FROM deg LEFT JOIN pern p ON p.dom = deg.dom
            ORDER BY domain""")
def q_triangle_count(spark, sf_dir):
    """Triad-density (clustering coefficient) spam signal: exact
    triangle counts over the undirected simple domain graph via
    degree orientation. The linked family's REAL extracted edges
    (self-ring + mirror + archive spokes) supply degree without
    closure; a deterministic 'blogroll ring' family — every doc's host
    links its source's next and next-next ring neighbors — plants
    chorded 13-cycles whose consecutive triples are genuine triangles,
    so coefficients take non-trivial values the oracle reproduces from
    doc_id arithmetic alone."""
    from mindocr_spark.functions.links import triangle_counts

    return triangle_counts(
        _chorded_link_edges(spark, sf_dir)
    ).orderBy("domain")


@query("retention_cohorts", oracle=r"""
            WITH ud AS (
              SELECT DISTINCT user_id,
                     CAST(date_diff('day', DATE '1970-01-01',
                                    CAST(ts AS DATE)) AS BIGINT)
                       AS day_n
              FROM events),
            tagged AS (
              SELECT user_id, day_n,
                     min(day_n) OVER (PARTITION BY user_id)
                       AS cohort_day_n
              FROM ud),
            mat AS (
              SELECT cohort_day_n,
                     day_n - cohort_day_n AS day_offset,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
              FROM tagged GROUP BY cohort_day_n, day_n - cohort_day_n)
            SELECT cohort_day_n, day_offset, n_active,
                   CAST(max(CASE WHEN day_offset = 0 THEN n_active END)
                        OVER (PARTITION BY cohort_day_n) AS BIGINT)
                     AS cohort_size,
                   round(CAST(n_active AS DOUBLE)
                         / CAST(max(CASE WHEN day_offset = 0
                                         THEN n_active END)
                                OVER (PARTITION BY cohort_day_n)
                                AS DOUBLE), 6) AS retention
            FROM mat ORDER BY cohort_day_n, day_offset""")
def q_retention_cohorts(spark, sf_dir):
    """Cohort-retention matrix over the events stream: users bucketed
    by first-seen day, each cohort's later active-user counts as a
    fraction of cohort size. Day numbers are integer days-since-epoch
    (no DATE objects cross the engine boundary)."""
    from mindocr_spark.functions.traffic import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events")).orderBy(
        "cohort_day_n", "day_offset"
    )


@query("traffic_anomaly", oracle=r"""
            WITH burst AS (
              SELECT 'view' AS event_type,
                     TIMESTAMP '2024-01-15 06:00:00'
                       + INTERVAL (i * 7) SECOND AS ts
              FROM (SELECT CAST(range AS BIGINT) AS i
                    FROM range(3000))),
            ev AS (
              SELECT event_type, ts FROM events
              UNION ALL SELECT * FROM burst),
            counted AS (
              SELECT event_type,
                     CAST(date_diff('day', DATE '1970-01-01',
                                    CAST(ts AS DATE)) AS BIGINT)
                       AS day_n,
                     CAST(count(*) AS BIGINT) AS n
              FROM ev GROUP BY event_type,
                     CAST(date_diff('day', DATE '1970-01-01',
                                    CAST(ts AS DATE)) AS BIGINT)),
            spine AS (
              SELECT event_type,
                     CAST(unnest(generate_series(d0, d1)) AS BIGINT)
                       AS day_n
              FROM (SELECT event_type, min(day_n) AS d0,
                           max(day_n) AS d1
                    FROM counted GROUP BY event_type)),
            daily AS (
              SELECT s.event_type, s.day_n,
                     CAST(COALESCE(c.n, 0) AS BIGINT) AS n
              FROM spine s LEFT JOIN counted c
                ON s.event_type = c.event_type
               AND s.day_n = c.day_n),
            med AS (
              SELECT event_type, quantile_cont(n, 0.5) AS med_n
              FROM daily GROUP BY event_type),
            dev AS (
              SELECT d.event_type, day_n, n, med_n,
                     abs(CAST(n AS DOUBLE) - med_n) AS adev
              FROM daily d JOIN med USING (event_type)),
            mad AS (
              SELECT event_type, quantile_cont(adev, 0.5) AS mad_n
              FROM dev GROUP BY event_type)
            SELECT d.event_type, day_n, n, med_n, mad_n,
                   adev > CAST(6 AS DOUBLE) * mad_n AS is_anomaly
            FROM dev d JOIN mad USING (event_type)
            ORDER BY event_type, day_n""")
def q_traffic_anomaly(spark, sf_dir):
    """Robust day-grain traffic monitor: daily per-type counts fenced
    by median/MAD (k=6). A planted flash crowd — 3,000 extra 'view'
    events on 2024-01-15 — fires the anomaly flag on exactly that day
    while the fences, being robust, barely move."""
    from mindocr_spark.functions.traffic import daily_anomaly_stats

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    burst = spark.range(3000).select(
        F.lit("view").alias("event_type"),
        F.expr(
            "timestampadd(SECOND, id * 7,"
            " TIMESTAMP_NTZ'2024-01-15 06:00:00')"
        ).alias("ts"),
    )
    return daily_anomaly_stats(
        ev.unionByName(burst), k=6
    ).orderBy("event_type", "day_n")


@query("fk_integrity", oracle=_fk_integrity_oracle())
def q_fk_integrity(spark, sf_dir):
    """Warehouse referential-integrity audit over the eight FK
    relationships of the TPC-H-ish star schema plus one PLANTED dirty
    feed: a derived `returns` relation corrupts every 7th line's order
    key (+10^6), so its arm reports non-zero orphans and a non-trivial
    orphan_share while the clean relationships report exact zeros —
    the audit both fires and stays quiet where it should."""
    from mindocr_spark.operators.joins import fk_integrity_stats

    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731
    rels = [
        (t("lineitem"), "l_orderkey", t("orders"), "o_orderkey",
         "lineitem", "orders"),
        (t("lineitem"), "l_partkey", t("part"), "p_partkey",
         "lineitem", "part"),
        (t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey",
         "lineitem", "supplier"),
        (t("orders"), "o_custkey", t("customer"), "c_custkey",
         "orders", "customer"),
        (t("customer"), "c_nationkey", t("nation"), "n_nationkey",
         "customer", "nation"),
        (t("supplier"), "s_nationkey", t("nation"), "n_nationkey",
         "supplier", "nation"),
        (t("nation"), "n_regionkey", t("region"), "r_regionkey",
         "nation", "region"),
    ]
    returns = t("lineitem").select(
        F.when(
            F.pmod("l_linenumber", F.lit(7)) == 0,
            F.col("l_orderkey") + F.lit(1000000),
        ).otherwise(F.col("l_orderkey")).alias("r_orderkey")
    )
    parts = [fk_integrity_stats(*r) for r in rels] + [
        fk_integrity_stats(
            returns, "r_orderkey", t("orders"), "o_orderkey",
            "returns_feed", "orders",
        )
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("child_table", "fk")


@query("skew_audit", oracle=_skew_audit_oracle())
def q_skew_audit(spark, sf_dir):
    """Shuffle-key skew audit over five prospective groupBy/join keys
    (documents.source/lang, events.event_type/user_id, and the link
    graph's dst_domain): per key one row of (n_rows, n_keys,
    max_share, gini, needs_salting). The link-graph arm fires the
    salting verdict — docs.example receives an in-link from EVERY page
    (a >5% hot key), exactly the reducer hotspot the salted two-phase
    plans exist for; the uniform keys report gini ≈ 0."""
    from mindocr_spark.functions.links import extract_links
    from mindocr_spark.sources.pages import pages_from_documents_linked
    from mindocr_spark.tuning import key_skew_stats

    docs = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")
    edges = extract_links(pages_from_documents_linked(spark, sf_dir))
    parts = [
        key_skew_stats(docs, "source", "documents"),
        key_skew_stats(docs, "lang", "documents"),
        key_skew_stats(ev, "event_type", "events"),
        key_skew_stats(ev, "user_id", "events"),
        key_skew_stats(edges, "dst_domain", "link_edges"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("relation", "key")


@query("zorder_audit", family="table_protocol", oracle=_zorder_audit_oracle())
def q_zorder_audit(spark, sf_dir):
    """Data-layout (OPTIMIZE ZORDER) audit over lineitem: would
    re-clustering by a Morton curve on (l_partkey, l_suppkey) let
    min/max file stats skip more files than ingest order or a
    single-column sort? 12 rows = 3 layouts × 4 scale-free probe
    rectangles, each with files_hit / rows_scanned / skip_share /
    scan_amp. File ids are VALUE-range z buckets (zero-shuffle
    assignment); the z curve and integer scaling are rendered from
    ONE definition for both engines (tuning.zorder_interleave_sql)."""
    from mindocr_spark.tuning import layout_skipping_audit

    return layout_skipping_audit(
        _t(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey",
        "l_orderkey",
    ).orderBy("layout", "probe_id")


from mindocr_spark.functions.search import (  # noqa: E402
    BM25_B as _BM25_B,
    BM25_K1 as _BM25_K1,
)


#: Pinned keyword queries for the BM25 retrieval query (terms drawn
#: from the synthetic corpus vocabulary; 'spill' is deliberately
#: absent from the corpus — a zero-df term must simply not contribute).
_BM25_QUERIES = {
    0: ["hash", "merge"],
    1: ["table", "scan"],
    2: ["window", "sort", "spill"],
}


_BM25_K = 5


@query("vsm_topk", family="retrieval", oracle=f"""
            WITH {_bm25_oracle_ctes()},
            {_vsm_oracle_ctes()}
            SELECT query_id, doc_id, n_terms_hit, score,
                   CAST(rank AS BIGINT) AS rank
            FROM vrk WHERE rank <= {_BM25_K}
            ORDER BY query_id, rank""")
def q_vsm_topk(spark, sf_dir):
    """Vector-space-model retrieval arm: tf·idf cosine between the
    binary query vector and the full document vector — the document
    norm pays the honest full-index df cost, every sum a DECIMAL sum
    of 9dp-quantized terms, so the DuckDB twin is value-exact."""
    from mindocr_spark.functions.search import vsm_topk

    return (
        vsm_topk(
            _t(spark, sf_dir, "documents").select("doc_id", "text"),
            _BM25_QUERIES,
            k=_BM25_K,
        )
        .select(
            "query_id", "doc_id", "n_terms_hit", "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


@query("rrf_fusion", family="retrieval", oracle=_rrf_fusion_oracle())
def q_rrf_fusion(spark, sf_dir):
    """Hybrid-retrieval rank fusion: the BM25 and VSM arms' top-5
    rankings combined by reciprocal-rank fusion (Cormack 2009,
    c=60) — no score calibration, only ranks enter; weights join as
    an exact 12-dp DECIMAL literal table so fused scores are
    bit-identical across engines and partitionings. Per-arm ranks
    stay visible (NULL where an arm missed the doc)."""
    from mindocr_spark.functions.search import bm25_topk, rrf_fuse, vsm_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fused = rrf_fuse(
        {
            "bm25": bm25_topk(docs, _BM25_QUERIES, k=_BM25_K),
            "vsm": vsm_topk(docs, _BM25_QUERIES, k=_BM25_K),
        },
        c=60,
        k=_BM25_K,
    )
    return fused.select(
        "query_id", "doc_id", "n_arms", "bm25_rank", "vsm_rank",
        F.col("rrf_score").cast("double").alias("rrf_score"),
        "fused_rank",
    ).orderBy("query_id", "fused_rank")


@query("forget_propagation", family="dedup", oracle=r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000001, text FROM documents
              WHERE doc_id % 3 = 0),
            f AS (
              SELECT doc_id,
                     md5(lower(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')))) AS fingerprint,
                     (doc_id % 5 = 0) AS del_req
              FROM corpus),
            g AS (
              SELECT fingerprint,
                     CAST(count(*) AS BIGINT) AS n_before,
                     CAST(sum(CASE WHEN del_req THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_deleted,
                     CAST(min(doc_id) AS BIGINT) AS rep_before,
                     CAST(min(CASE WHEN NOT del_req THEN doc_id END)
                          AS BIGINT) AS rep_after
              FROM f GROUP BY fingerprint)
            SELECT fingerprint, n_before, n_deleted,
                   n_before - n_deleted AS n_after,
                   rep_before, rep_after,
                   CASE WHEN n_before = n_deleted THEN 'cluster_gone'
                        WHEN rep_after <> rep_before THEN 'reelect'
                        ELSE 'rep_unchanged' END AS action
            FROM g WHERE n_deleted > 0 ORDER BY fingerprint""")
def q_forget_propagation(spark, sf_dir):
    """Right-to-be-forgotten audit: a deterministic deletion batch
    (every doc_id ≡ 0 mod 5) propagated through the exact-dup
    clusters of a corpus where every ≡0 mod 3 doc also exists as an
    exact copy under id+1000001 (the syndication reality RTBF must
    handle). The offset is coprime to both moduli, so all three
    outcomes provably fire: a deleted 15-multiple rep re-elects its
    surviving copy, a deleted copy leaves the rep unchanged, and
    deleted singletons vanish. Requests broadcast; one groupBy on
    the uniform md5 key."""
    from mindocr_spark.functions.dedup import forget_propagation

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = base.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + F.lit(1000001)).alias("doc_id"), "text"
    )
    docs = base.unionByName(copies)
    requests = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    return forget_propagation(docs, requests).orderBy("fingerprint")


_HRW_BEFORE = tuple(f"shard-{i}" for i in range(8))
_HRW_ADDED = ("shard-8", "shard-9")


@query("hrw_sharding", oracle=_hrw_sharding_oracle())
def q_hrw_sharding(spark, sf_dir):
    """Rendezvous-hash shard routing audit: assign every document
    under 8 shards and under 8+2, one row per shard with
    n_before/n_after/gained/lost. The minimal-movement guarantee is
    IN the data: every pre-existing shard shows gained = 0 (keys only
    move to the new shards), each new shard drains ≈ 1/10 of the
    keyspace. Both assignments are row-local md5/greatest expressions
    (zero shuffle); one groupBy at shard cardinality."""
    from mindocr_spark.sources.shards import hrw_resize_audit

    return hrw_resize_audit(
        _t(spark, sf_dir, "documents"), "doc_id",
        _HRW_BEFORE, _HRW_ADDED,
    ).orderBy("shard")


@query("crawl_budget", oracle=r"""
            WITH dem AS (
              SELECT source || CAST(doc_id % 13 AS VARCHAR)
                       || '.example' AS domain,
                     CAST(sum(n_chars) AS BIGINT) AS demand
              FROM documents
              GROUP BY source || CAST(doc_id % 13 AS VARCHAR)
                         || '.example'),
            t AS (
              SELECT domain, demand,
                     CAST(row_number() OVER (ORDER BY demand, domain)
                          AS BIGINT) AS rn,
                     CAST(sum(demand) OVER (ORDER BY demand, domain)
                          AS BIGINT) AS s,
                     CAST(count(*) OVER () AS BIGINT) AS n,
                     CAST(sum(demand) OVER () AS BIGINT) AS total
              FROM dem),
            b AS (
              SELECT *,
                     CAST((total * 2) // 5 AS BIGINT) AS budget,
                     demand * (n - rn + 1)
                       <= (total * 2) // 5 - (s - demand) AS ok
              FROM t),
            k AS (
              SELECT *,
                     CAST(max(CASE WHEN ok THEN rn ELSE 0 END) OVER ()
                          AS BIGINT) AS kstar,
                     CAST(max(CASE WHEN ok THEN s ELSE 0 END) OVER ()
                          AS BIGINT) AS s_kstar
              FROM b),
            a AS (
              SELECT domain, demand,
                     CASE WHEN rn <= kstar THEN demand
                          ELSE (budget - s_kstar) // (n - kstar)
                               + CASE WHEN rn - kstar
                                        <= budget - s_kstar
                                           - ((budget - s_kstar)
                                              // (n - kstar))
                                             * (n - kstar)
                                      THEN 1 ELSE 0 END
                     END AS allocation
              FROM k)
            SELECT domain, demand,
                   CAST(allocation AS BIGINT) AS allocation,
                   allocation = demand AS fully_satisfied
            FROM a ORDER BY domain""")
def q_crawl_budget(spark, sf_dir):
    """Max-min-fair (water-filling) recrawl-budget allocation: demand
    = total bytes per ring host (source ring domains, 13 per source —
    genuinely varied integer demands), budget = ⌊40% of total⌋. Small
    hosts are fully satisfied below the water level θ; big hosts cap
    at θ with the integer remainder handed deterministically to the
    first capped hosts — Σ allocation spends the budget exactly."""
    from mindocr_spark.functions.crawl import water_fill_budget

    docs = _t(spark, sf_dir, "documents")
    demand = docs.groupBy(
        F.concat(
            F.col("source"),
            F.pmod("doc_id", F.lit(13)).cast("string"),
            F.lit(".example"),
        ).alias("domain")
    ).agg(F.sum("n_chars").cast("bigint").alias("demand"))
    return water_fill_budget(demand, budget=(2, 5)).orderBy("domain")


@query("event_transitions", oracle=r"""
            WITH es AS (
              SELECT user_id, event_id, event_type,
                     date_diff('second',
                               TIMESTAMP '1970-01-01 00:00:00', ts)
                       AS es
              FROM events),
            seq AS (
              SELECT event_type,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY es, event_id)
                       AS prev_type
              FROM es),
            c AS (
              SELECT prev_type, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM seq WHERE prev_type IS NOT NULL
              GROUP BY prev_type, event_type)
            SELECT prev_type, event_type, n,
                   round(CAST(n AS DOUBLE)
                         / CAST(sum(n) OVER (PARTITION BY prev_type)
                                AS DOUBLE), 6) AS p
            FROM c ORDER BY prev_type, event_type""")
def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    streams: (prev_type, event_type, n, p) with row-normalized
    probabilities — the behavioral fingerprint bots degenerate on.
    One user-key lag, one pair-key count, one tiny-key window."""
    from mindocr_spark.functions.traffic import event_transitions

    return event_transitions(
        _t(spark, sf_dir, "events")
    ).orderBy("prev_type", "event_type")


@query("scd2_history", family="table_protocol", oracle=r"""
            WITH caps AS (
              SELECT 'https://' || source || '.example/d'
                       || CAST(doc_id AS VARCHAR) AS url,
                     TIMESTAMP '2024-02-01 00:00:00'
                       + INTERVAL (k) DAY AS ts,
                     md5(text || CAST((k + doc_id % 2) // 2
                                      AS VARCHAR)) AS digest
              FROM documents,
                   (SELECT CAST(range AS BIGINT) AS k
                    FROM range(3))),
            base AS (
              SELECT url, digest,
                     date_diff('second',
                               TIMESTAMP '1970-01-01 00:00:00', ts)
                       AS cap_sec
              FROM caps),
            marked AS (
              SELECT url, digest, cap_sec,
                     lag(digest) OVER (PARTITION BY url
                                       ORDER BY cap_sec, digest)
                       AS prev_digest
              FROM base),
            changed AS (
              SELECT url, digest, cap_sec FROM marked
              WHERE prev_digest IS NULL OR digest != prev_digest)
            SELECT url, digest,
                   CAST(cap_sec AS BIGINT) AS valid_from_s,
                   CAST(lead(cap_sec) OVER (PARTITION BY url
                                            ORDER BY cap_sec, digest)
                        AS BIGINT) AS valid_to_s,
                   CAST(row_number() OVER (PARTITION BY url
                                           ORDER BY cap_sec, digest)
                        AS BIGINT) AS version_n,
                   lead(cap_sec) OVER (PARTITION BY url
                                       ORDER BY cap_sec, digest)
                     IS NULL AS is_current
            FROM changed ORDER BY url, version_n""")
def q_scd2_history(spark, sf_dir):
    """SCD-2 capture-history compaction: three synthetic recrawls per
    doc (day 0/1/2) where the digest flips once — at day 2 for even
    docs, day 1 for odd — so every URL compacts to exactly two
    versions with one collapsed no-op revisit each, at a different
    boundary per parity. Validity intervals in epoch seconds, open
    current version, version numbering and is_current all
    oracle-checked."""
    from mindocr_spark.functions.crawl import scd2_history

    docs = _t(spark, sf_dir, "documents")
    caps = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/d"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "doc_id",
        "text",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k"),
    ).select(
        "url",
        F.expr(
            "timestampadd(DAY, k, TIMESTAMP_NTZ'2024-02-01 00:00:00')"
        ).alias("ts"),
        F.md5(
            F.concat(
                F.col("text"),
                F.expr(
                    "CAST((k + pmod(doc_id, 2)) div 2 AS STRING)"
                ),
            )
        ).alias("digest"),
    )
    return scd2_history(caps).orderBy("url", "version_n")


@query("retrieval_eval", family="retrieval",
       oracle=_retrieval_eval_oracle(k=_BM25_K))
def q_retrieval_eval(spark, sf_dir):
    """Offline IR evaluation of the BM25 stack: P@5, recall@5, MRR and
    nDCG@5 per pinned query against the deterministic conjunctive-
    containment relevance label (a doc is relevant iff it contains ALL
    the query's terms). Query 2 carries a zero-df term — conjunctive
    relevance is empty there, exercising the NULL discipline
    (recall/ndcg NULL, precision/mrr 0). DCG weights and IDCG prefix
    sums are Python-computed literals shared by both engines."""
    from mindocr_spark.functions.search import retrieval_eval

    return retrieval_eval(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        _BM25_QUERIES,
        k=_BM25_K,
    ).orderBy("query_id")


@query("rank_stability", oracle=_rank_stability_oracle(k=10, p=0.9))
def q_rank_stability(spark, sf_dir):
    """Rank-biased overlap (Webber et al. 2010, truncated, normalized
    weights) of each language's top-10 token ranking between the two
    doc_id-parity halves of the corpus — the rank-grain stability
    audit next to unigram_drift's distribution-grain KL. Depth weights
    are computed once in Python and embedded as literals in BOTH
    engines; the depth-ordered sorted fold makes the IEEE sum
    bit-exact."""
    from mindocr_spark.functions.search import rbo_rank_stability

    return rbo_rank_stability(
        _t(spark, sf_dir, "documents"), k=10, p=0.9
    ).orderBy("lang")


@query("mad_outliers", oracle=r"""
            WITH pl AS (
              SELECT 'purchase' AS event_type,
                     CAST(5000 + i * 100 AS DOUBLE) AS value
              FROM (SELECT CAST(range AS BIGINT) AS i FROM range(7))),
            ev AS (
              SELECT event_type, value FROM events
              UNION ALL SELECT * FROM pl),
            base AS (
              SELECT event_type AS grp,
                     CAST(round(value * 100.0, 0) AS BIGINT) AS c
              FROM ev WHERE value IS NOT NULL),
            med AS (
              SELECT grp, quantile_cont(c, 0.5) AS med_c
              FROM base GROUP BY grp),
            dev AS (
              SELECT b.grp, med_c,
                     abs(CAST(c AS DOUBLE) - med_c) AS adev
              FROM base b JOIN med USING (grp)),
            mad AS (
              SELECT grp, quantile_cont(adev, 0.5) AS mad_c
              FROM dev GROUP BY grp)
            SELECT d.grp AS event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(med_c) / CAST(100.0 AS DOUBLE) AS med_value,
                   min(mad_c) / CAST(100.0 AS DOUBLE) AS mad_value,
                   CAST(sum(CASE WHEN adev > CAST(5 AS DOUBLE) * mad_c
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_outliers
            FROM dev d JOIN mad USING (grp)
            GROUP BY d.grp ORDER BY event_type""")
def q_mad_outliers(spark, sf_dir):
    """Robust (median/MAD) value-outlier scrubbing per event type:
    seven planted 'purchase' events at 50–56× the organic scale
    contaminate the stream; the median/MAD fence barely moves and
    flags exactly them (a mean/stddev gate's own threshold would have
    chased the contamination). Integer-cents quantization makes every
    number in the chain a dyadic rational — bit-exact cross-engine."""
    from mindocr_spark.functions.traffic import mad_outlier_stats

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    planted = spark.range(7).select(
        F.lit("purchase").alias("event_type"),
        (F.lit(5000) + F.col("id") * F.lit(100)).cast("double").alias(
            "value"
        ),
    )
    return mad_outlier_stats(
        ev.unionByName(planted), k=5
    ).orderBy("event_type")


@query("stem_collapse", family="tokenizers", oracle=_stem_collapse_oracle())
def q_stem_collapse(spark, sf_dir):
    """Per-language S-stemmer (Harman 1991) vocabulary-collapse audit:
    token count, surface-type count, stem count, and the reduction
    fraction the three suffix rules buy. The CASE chain is shared with
    the oracle by construction (both rendered from S_STEM_RULES)."""
    from mindocr_spark.functions.text import stem_stats

    return stem_stats(_t(spark, sf_dir, "documents")).orderBy("lang")


@query("bot_detect", oracle=r"""
            WITH metro AS (
              SELECT CAST(900001 AS BIGINT) AS user_id,
                     CAST(10000000 + i AS BIGINT) AS event_id,
                     TIMESTAMP '2024-01-05 00:00:00'
                       + INTERVAL (i * 5) SECOND AS ts
              FROM (SELECT CAST(range AS BIGINT) AS i FROM range(120))),
            brst AS (
              SELECT CAST(900002 AS BIGINT) AS user_id,
                     CAST(11000000 + i AS BIGINT) AS event_id,
                     TIMESTAMP '2024-01-06 00:00:00'
                       + INTERVAL (i // 2) SECOND AS ts
              FROM (SELECT CAST(range AS BIGINT) AS i FROM range(90))),
            ev AS (
              SELECT user_id, event_id, ts FROM events
              UNION ALL SELECT * FROM metro
              UNION ALL SELECT * FROM brst),
            es AS (
              SELECT user_id, event_id,
                     date_diff('second',
                               TIMESTAMP '1970-01-01 00:00:00', ts) AS es
              FROM ev),
            g AS (
              SELECT user_id, es,
                     es - lag(es) OVER (PARTITION BY user_id
                                        ORDER BY es, event_id) AS gap_s,
                     count(*) OVER (PARTITION BY user_id ORDER BY es
                                    RANGE BETWEEN 59 PRECEDING
                                    AND CURRENT ROW) AS burst
              FROM es),
            agg AS (
              SELECT user_id,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(max(es) - min(es) AS BIGINT) AS span_s,
                     CAST(min(gap_s) AS BIGINT) AS min_gap_s,
                     CAST(max(gap_s) AS BIGINT) AS max_gap_s,
                     CAST(count(DISTINCT gap_s) AS BIGINT)
                       AS n_distinct_gaps,
                     CAST(max(burst) AS BIGINT) AS max_burst_60s
              FROM g GROUP BY user_id)
            SELECT user_id, n_events, span_s, min_gap_s, max_gap_s,
                   n_distinct_gaps, max_burst_60s,
                   (n_events >= 20 AND n_distinct_gaps = 1)
                     AS is_metronome,
                   (max_burst_60s >= 30) AS is_burst,
                   ((n_events >= 20 AND n_distinct_gaps = 1)
                    OR max_burst_60s >= 30) AS is_bot
            FROM agg ORDER BY user_id""")
def q_bot_detect(spark, sf_dir):
    """Request-log bot scrubbing: per-user cadence statistics (span,
    min/max/distinct inter-arrival gaps, peak 60-second burst) with
    two integer verdict rules — metronome (≥ 20 events, exactly one
    distinct gap) and burst (≥ 30 events in 60 s). Two planted
    automation users (a 5-second-timer scraper and a 90-event burst)
    fire; the organic population's exact statistics are oracle-checked
    alongside."""
    from mindocr_spark.functions.traffic import bot_session_stats

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    metro = spark.range(120).select(
        F.lit(900001).cast("bigint").alias("user_id"),
        (F.col("id") + 10_000_000).alias("event_id"),
        F.expr(
            "timestampadd(SECOND, id * 5,"
            " TIMESTAMP_NTZ'2024-01-05 00:00:00')"
        ).alias("ts"),
    )
    burst = spark.range(90).select(
        F.lit(900002).cast("bigint").alias("user_id"),
        (F.col("id") + 11_000_000).alias("event_id"),
        F.expr(
            "timestampadd(SECOND, id div 2,"
            " TIMESTAMP_NTZ'2024-01-06 00:00:00')"
        ).alias("ts"),
    )
    all_ev = ev.unionByName(metro).unionByName(burst)
    return bot_session_stats(
        all_ev, min_metronome_events=20, burst_events_60s=30
    ).orderBy("user_id")


@query("mirror_detect", family="graph", oracle=_mirror_detect_oracle())
def q_mirror_detect(spark, sf_dir):
    """Host-level mirror detection: the leakage corpus's planted
    syndication family (every %3 doc republished at 5/6-prefix under
    'mir-'+source) runs through the banded md5-MinHash pair family,
    then the pair relation lifts to the unordered SOURCE-pair grain —
    n_dup_pairs, both side sizes, pair_share vs the smaller side, and
    the integer mirror rule (≥ 1/4 of the smaller side). The planted
    (srcX, mir-srcX) pairs fire; organic cross-source pairs don't."""
    from mindocr_spark.functions.dedup import (
        minhash_lsh_pairs_md5,
        mirror_stats,
    )

    docs = _leakage_variant_docs(spark, sf_dir)
    pairs = minhash_lsh_pairs_md5(docs, threshold=0.35).select(
        "id_a", "id_b"
    )
    membership = docs.select("doc_id", F.col("source").alias("group"))
    return mirror_stats(pairs, membership, min_share=(1, 4)).orderBy(
        "group_a", "group_b"
    )


@query("cooccur_itemsets", oracle=r"""
            WITH b AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
                     CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS item
              FROM events
              WHERE regexp_matches(
                      json_extract_string(props, '$.k'),
                      '^-?[0-9]{1,18}$')),
            bsz AS (
              SELECT user_id, day, count(*) AS n
              FROM b GROUP BY user_id, day),
            keptk AS (
              SELECT user_id, day FROM bsz WHERE n <= 8),
            kept AS (
              SELECT b.* FROM b JOIN keptk USING (user_id, day)),
            tot AS (
              SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM keptk),
            isup AS (
              SELECT item, CAST(count(*) AS BIGINT) AS n_item
              FROM kept GROUP BY item),
            fi AS (
              SELECT item, n_item FROM isup CROSS JOIN tot
              WHERE n_item * 100 >= 2 * n_baskets),
            fb AS (
              SELECT kept.* FROM kept JOIN fi USING (item)),
            p AS (
              SELECT l.item AS item_a, r.item AS item_b,
                     CAST(count(*) AS BIGINT) AS n_pair
              FROM fb l
              JOIN fb r ON l.user_id = r.user_id AND l.day = r.day
                       AND l.item < r.item
              GROUP BY l.item, r.item)
            SELECT p.item_a, p.item_b, p.n_pair,
                   fa.n_item AS n_a, fbn.n_item AS n_b, t.n_baskets,
                   round(CAST(p.n_pair AS DOUBLE)
                         * CAST(t.n_baskets AS DOUBLE)
                         / (CAST(fa.n_item AS DOUBLE)
                            * CAST(fbn.n_item AS DOUBLE)), 6) AS lift
            FROM p CROSS JOIN tot t
            JOIN fi fa ON fa.item = p.item_a
            JOIN fi fbn ON fbn.item = p.item_b
            WHERE p.n_pair * 2000 >= 1 * t.n_baskets
            ORDER BY item_a, item_b""")
def q_cooccur_itemsets(spark, sf_dir):
    """A-priori market-basket mining over the events table: items =
    the props $.k payloads, baskets = (user_id, calendar-day) distinct
    item sets. Two-stage support pruning (items ≥ 2% of baskets before
    any pairing, pairs ≥ 0.05%), per-basket fan-out capped at 8
    distinct items (oversized baskets leave the whole analysis — one
    consistent population, mirrored in SQL), lift from exact integer
    counts."""
    from mindocr_spark.functions.baskets import frequent_pairs

    return frequent_pairs(
        _t(spark, sf_dir, "events"),
        min_item=(2, 100),
        min_pair=(1, 2000),
        max_basket_items=8,
    ).orderBy("item_a", "item_b")


def _chorded_link_edges(spark, sf_dir):
    """SHARED graph family for the triad/assortativity audits: the
    linked corpus's REAL extracted edges (self-ring + mirror + archive
    spokes) plus the deterministic 'blogroll ring' chord family (every
    doc's host links its source ring's next and next-next neighbors) —
    chorded 13-cycles with genuine triangles and same-degree wiring."""
    from mindocr_spark.functions.links import extract_links
    from mindocr_spark.sources.pages import pages_from_documents_linked

    edges = extract_links(
        pages_from_documents_linked(spark, sf_dir)
    ).select("src_domain", "dst_domain")
    docs = _t(spark, sf_dir, "documents")

    def ring(off):
        return docs.select(
            F.concat(
                F.col("source"),
                F.pmod("doc_id", F.lit(13)).cast("string"),
                F.lit(".example"),
            ).alias("src_domain"),
            F.concat(
                F.col("source"),
                F.pmod(F.col("doc_id") + off, F.lit(13)).cast("string"),
                F.lit(".example"),
            ).alias("dst_domain"),
        )

    return edges.unionByName(ring(1)).unionByName(ring(2))


@query("degree_assortativity", family="graph",
       oracle="WITH " + _CHORDED_EDGE_CTES + r""",
            sp AS (
              SELECT DISTINCT least(src_dom, dst_dom) AS a,
                              greatest(src_dom, dst_dom) AS b
              FROM alle WHERE src_dom != dst_dom),
            deg AS (
              SELECT dom, CAST(count(*) AS BIGINT) AS d
              FROM (SELECT a AS dom FROM sp
                    UNION ALL SELECT b FROM sp)
              GROUP BY dom),
            sym AS (
              SELECT a, b FROM sp
              UNION ALL SELECT b AS a, a AS b FROM sp),
            lab AS (
              SELECT da.d AS x, db.d AS y
              FROM sym
              JOIN deg da ON da.dom = sym.a
              JOIN deg db ON db.dom = sym.b),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM lab)
            SELECT n AS n_endpoints,
                   CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             > 0
                         AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                             > 0
                   THEN round(
                     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE)
                                 * CAST(sy AS DOUBLE))), 6)
                        + CAST(0.0 AS DOUBLE)
                   END AS r
            FROM agg""")
def q_degree_assortativity(spark, sf_dir):
    """Newman degree-assortativity coefficient over the chorded link
    family: the same-degree blogroll rings pull r positive while the
    hub spokes (every host → docs.example / mirror hubs) pull it
    negative — the one-number farm-vs-organic graph health signal.
    Five exact BIGINT sums feed a pinned-order IEEE Pearson formula."""
    from mindocr_spark.functions.links import degree_assortativity

    return degree_assortativity(_chorded_link_edges(spark, sf_dir))


@query("label_propagation", family="graph",
       oracle=_label_propagation_oracle(iters=3))
def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation (3 supersteps,
    min-label tie break) over the chorded link family — the cheap
    community sketch: each blogroll ring pulls toward its minimum
    host label while the hub spokes (docs.example, mirrors) adopt
    whatever dominates their neighborhood. One persisted symmetric
    edge relation, one shuffle per superstep, linear plan growth."""
    from mindocr_spark.functions.links import label_propagation

    return label_propagation(
        _chorded_link_edges(spark, sf_dir), iters=3
    ).orderBy("domain")


#: count-min probe terms — common stopwords, mid-frequency content
#: words, and one guaranteed-absent term (its estimate is pure
#: collision mass). Shared with the SQL oracle renderer.
_CMS_PROBES = ("the", "of", "data", "study", "zzznever")


@query("cms_counts", family="sketches", oracle=_cms_oracle(depth=4, width=8))
def q_cms_counts(spark, sf_dir):
    """Count-min sketch over the corpus token stream (depth 4, width
    8 — deliberately tight against the 31-word soup vocabulary so collision mass is visible): probe a
    fixed term set and report exact count, sketch
    estimate, and the one-sided overestimate — the bounded-memory
    counter whose whole state is oracle-reproducible, including the
    collision mass on a guaranteed-absent probe."""
    from mindocr_spark.functions.sketches import cms_counts
    from mindocr_spark.functions.text import tokens_col

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(tokens_col("text")).alias("token")
    )
    return cms_counts(
        toks, "token", _CMS_PROBES, depth=4, width=8
    ).orderBy("probe")


# twin of dedup.winnow_fingerprints (k=8, w=16): the SAME
# Horner rolling gram hash as the engine's numpy fold (shared
# CDC_BASE/CDC_MOD constants) packed with inverted position
# (min == (hash ASC, pos DESC)), trailing ROWS window min,
# complete windows only, distinct selections
@query("winnow_fingerprints", family="dedup", oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     lower(trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS t
              FROM documents),
            g AS (
              SELECT doc_id, CAST(i AS BIGINT) AS i,
                     ((((((((((((((((CAST(0 AS BIGINT)) * 257 + ord(substr(t, CAST(i + 0 AS INT), 1))) % 2147483647) * 257 + ord(substr(t, CAST(i + 1 AS INT), 1))) % 2147483647) * 257 + ord(substr(t, CAST(i + 2 AS INT), 1))) % 2147483647) * 257 + ord(substr(t, CAST(i + 3 AS INT), 1))) % 2147483647) * 257 + ord(substr(t, CAST(i + 4 AS INT), 1))) % 2147483647) * 257 + ord(substr(t, CAST(i + 5 AS INT), 1))) % 2147483647) * 257 + ord(substr(t, CAST(i + 6 AS INT), 1))) % 2147483647) * 257 + ord(substr(t, CAST(i + 7 AS INT), 1))) % 2147483647 AS h
              FROM d, unnest(range(1, length(t) - 6)) AS u(i)
              WHERE length(t) >= 23 AND i < 1048576),
            m AS (
              SELECT doc_id, i,
                     min(h * 1048576 + (1048575 - i)) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
                       AS mn
              FROM g)
            SELECT DISTINCT doc_id,
                   CAST(1048575 - (mn % 1048576) AS BIGINT) AS pos,
                   CAST(mn // 1048576 AS BIGINT) AS gram_hash
            FROM m WHERE i >= 16
            ORDER BY doc_id, pos""")
def q_winnow_fingerprints(spark, sf_dir):
    """True winnowing (MOSS) fingerprints over the corpus: every
    16-gram window of 8-char shingles contributes its rightmost-min
    gram, guaranteeing any ≥23-char shared run between documents is
    detected — the provable-coverage upgrade over the engine's
    0-mod-p rolling fingerprints."""
    from mindocr_spark.functions.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=8, w=16
    ).orderBy("doc_id", "pos")


# twin of tuning.compaction_plan (target 1000): next-fit-
# decreasing cumulative fill — bin = integer-div of the exact
# running START offset; explicit ROWS frame (file name makes
# the order total, but the frames must match by construction)
@query("compaction_plan", family="table_protocol", oracle=r"""
            WITH inv AS (
              SELECT source AS partition,
                     'part-' || CAST(doc_id % 37 AS VARCHAR) AS file,
                     CAST(sum(n_chars) AS BIGINT) AS bytes
              FROM documents GROUP BY 1, 2),
            c AS (
              SELECT partition, file, bytes,
                     sum(bytes) OVER (
                       PARTITION BY partition
                       ORDER BY bytes DESC, file ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
              FROM inv),
            b AS (
              SELECT partition,
                     CAST((cum - bytes) // 1000 AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n_files,
                     CAST(sum(bytes) AS BIGINT) AS total_bytes
              FROM c GROUP BY 1, 2)
            SELECT partition, bin, n_files, total_bytes,
                   CAST(total_bytes AS DOUBLE)
                     / CAST(1000 AS DOUBLE) AS fill_ratio,
                   total_bytes > 1000 AS overflow
            FROM b ORDER BY partition, bin""")
def q_compaction_plan(spark, sf_dir):
    """Small-file compaction plan over a synthetic file inventory
    derived from documents (partition = source, file = doc_id%37
    slot, bytes = the slot's summed n_chars — many sub-kilobyte
    files per partition, the classic streaming-ingest smell):
    next-fit-decreasing cumulative-fill at 1000-byte target, per-bin
    fill ratio and overflow verdicts."""
    from mindocr_spark.tuning import compaction_plan

    inv = (
        _t(spark, sf_dir, "documents")
        .groupBy(
            F.col("source").alias("partition"),
            F.concat(F.lit("part-"), (F.col("doc_id") % 37).cast("string"))
            .alias("file"),
        )
        .agg(F.sum("n_chars").cast("bigint").alias("bytes"))
    )
    return compaction_plan(inv, target_bytes=1000).orderBy(
        "partition", "bin"
    )


# twin of traffic.k_anonymity_stats (k=5, l=2): QI bucketing
# row-local (floor-before-cast; tz-free epoch hours), one
# class-grain aggregate, single-row rollup; shares divide
# exact integers
@query("k_anonymity", oracle=r"""
            WITH e AS (
              SELECT event_type,
                     CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24
                       AS hour_of_day,
                     CAST(floor(value / CAST(100.0 AS DOUBLE))
                          AS BIGINT) AS value_bucket,
                     user_id
              FROM events),
            c AS (
              SELECT event_type, hour_of_day, value_bucket,
                     CAST(count(*) AS BIGINT) AS sz,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS sdiv
              FROM e GROUP BY 1, 2, 3)
            SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(min(sz) AS BIGINT) AS min_class_size,
                   CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)
                        AS BIGINT) AS rows_below_k,
                   CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)
                        AS DOUBLE) / CAST(sum(sz) AS DOUBLE)
                     AS share_below_k,
                   CAST(sum(CASE WHEN sdiv < 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS classes_below_l,
                   CAST(sum(CASE WHEN sdiv < 2 THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS share_classes_below_l,
                   CAST(5 AS BIGINT) AS k, CAST(2 AS BIGINT) AS l
            FROM c""")
def q_k_anonymity(spark, sf_dir):
    """K-anonymity + l-diversity release audit on the events stream
    published as a usage report with quasi-identifiers (event_type,
    hour-of-day, value-hundred bucket) and user_id as the sensitive
    attribute — the pre-publication answer to 'can someone link a
    row back to a user from the buckets alone?'. Hour comes from the
    shared tz-free epoch-seconds idiom; the value bucket floors
    BEFORE casting (DuckDB casts round)."""
    from mindocr_spark.functions.traffic import k_anonymity_stats

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        ((_epoch_sec("ts") / F.lit(3600)).cast("bigint") % 24)
        .alias("hour_of_day"),
        F.floor(F.col("value") / F.lit(100.0)).cast("bigint")
        .alias("value_bucket"),
        "user_id",
    )
    return k_anonymity_stats(
        e,
        qi_cols=("event_type", "hour_of_day", "value_bucket"),
        sensitive_col="user_id",
        k=5,
        l_div=2,
    )


# twin of lm.vocab_richness: exact BIGINT V/N/f1/f2, each
# estimator one IEEE division (bias-corrected Chao1 is total)
@query("vocab_richness", oracle=r"""
            WITH t AS (
              SELECT lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents),
            tok AS (
              SELECT lang, unnest(string_split(norm, ' ')) AS token
              FROM t WHERE norm <> ''),
            c AS (
              SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
              FROM tok GROUP BY lang, token),
            s AS (
              SELECT lang,
                     CAST(count(*) AS BIGINT) AS vocab,
                     CAST(sum(cnt) AS BIGINT) AS n_tokens,
                     CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS f1,
                     CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS f2
              FROM c GROUP BY lang)
            SELECT lang, n_tokens, vocab, f1, f2,
                   CAST(vocab AS DOUBLE)
                     + CAST(f1 * (f1 - 1) AS DOUBLE)
                       / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
                   CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     AS unseen_mass,
                   CAST(f1 AS DOUBLE) / CAST(vocab AS DOUBLE)
                     AS hapax_ratio
            FROM s ORDER BY lang""")
def q_vocab_richness(spark, sf_dir):
    """Chao1 + Good-Turing vocabulary-richness estimators per
    language — the crawl-planning complement of zipf/heaps: is more
    crawl still buying new vocabulary (unseen_mass), and how much
    vocabulary does the hapax/dis-legomena ratio say is still out
    there (Chao1 lower bound)?"""
    from mindocr_spark.functions.lm import vocab_richness

    return vocab_richness(
        _t(spark, sf_dir, "documents").select("lang", "text")
    ).orderBy("lang")


# twin of traffic.funnel_conversion + the 1-day-window
# signup→view→click→purchase fixture: greedy-earliest step
# times as chained conditional window minima at exact
# microsecond epoch integers; counts exact BIGINTs, rates one
# IEEE division each
@query("funnel_conversion", oracle=r"""
            WITH base AS (
              SELECT CAST(user_id % 2 AS BIGINT) AS cohort,
                     user_id AS u, event_type AS et,
                     CAST(epoch_us(ts) AS BIGINT) AS ev_us
              FROM events
              WHERE event_type IN ('signup', 'view', 'click',
                                   'purchase')
                AND ts IS NOT NULL AND user_id IS NOT NULL),
            w1 AS (
              SELECT *, min(CASE WHEN et = 'signup' THEN ev_us END)
                OVER (PARTITION BY cohort, u) AS t_1
              FROM base),
            w2 AS (
              SELECT *, min(CASE WHEN et = 'view' AND ev_us > t_1
                              AND ev_us - t_1 <= 86400000000
                            THEN ev_us END)
                OVER (PARTITION BY cohort, u) AS t_2
              FROM w1),
            w3 AS (
              SELECT *, min(CASE WHEN et = 'click' AND ev_us > t_2
                              AND ev_us - t_1 <= 86400000000
                            THEN ev_us END)
                OVER (PARTITION BY cohort, u) AS t_3
              FROM w2),
            w4 AS (
              SELECT *, min(CASE WHEN et = 'purchase' AND ev_us > t_3
                              AND ev_us - t_1 <= 86400000000
                            THEN ev_us END)
                OVER (PARTITION BY cohort, u) AS t_4
              FROM w3),
            users AS (
              SELECT cohort, u, max(t_1) AS t_1, max(t_2) AS t_2,
                     max(t_3) AS t_3, max(t_4) AS t_4
              FROM w4 GROUP BY cohort, u),
            wide AS (
              SELECT cohort,
                CAST(sum(CASE WHEN t_1 IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_1,
                CAST(sum(CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_2,
                CAST(sum(CASE WHEN t_3 IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_3,
                CAST(sum(CASE WHEN t_4 IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_4
              FROM users GROUP BY cohort),
            longf AS (
              SELECT cohort, CAST(1 AS BIGINT) AS step_idx,
                     'signup' AS step, n_1 AS n_users,
                     CASE WHEN n_1 > 0 THEN CAST(n_1 AS DOUBLE)
                       / CAST(n_1 AS DOUBLE) END AS conv_from_first,
                     CASE WHEN n_1 > 0 THEN CAST(n_1 AS DOUBLE)
                       / CAST(n_1 AS DOUBLE) END AS conv_from_prev
              FROM wide
              UNION ALL
              SELECT cohort, CAST(2 AS BIGINT), 'view', n_2,
                     CASE WHEN n_1 > 0 THEN CAST(n_2 AS DOUBLE)
                       / CAST(n_1 AS DOUBLE) END,
                     CASE WHEN n_1 > 0 THEN CAST(n_2 AS DOUBLE)
                       / CAST(n_1 AS DOUBLE) END
              FROM wide
              UNION ALL
              SELECT cohort, CAST(3 AS BIGINT), 'click', n_3,
                     CASE WHEN n_1 > 0 THEN CAST(n_3 AS DOUBLE)
                       / CAST(n_1 AS DOUBLE) END,
                     CASE WHEN n_2 > 0 THEN CAST(n_3 AS DOUBLE)
                       / CAST(n_2 AS DOUBLE) END
              FROM wide
              UNION ALL
              SELECT cohort, CAST(4 AS BIGINT), 'purchase', n_4,
                     CASE WHEN n_1 > 0 THEN CAST(n_4 AS DOUBLE)
                       / CAST(n_1 AS DOUBLE) END,
                     CASE WHEN n_3 > 0 THEN CAST(n_4 AS DOUBLE)
                       / CAST(n_3 AS DOUBLE) END
              FROM wide)
            SELECT * FROM longf ORDER BY cohort, step_idx""")
def q_funnel_conversion(spark, sf_dir):
    """Ordered signup→view→click→purchase funnel per user-parity
    cohort with a 1-day conversion window — the classic product
    analytics readout. Greedy-earliest matching at exact microsecond
    epoch integers; ONE Exchange on (cohort, user) carries all four
    step minima; rates are single IEEE divisions of exact BIGINTs
    (functions/traffic.funnel_conversion)."""
    from mindocr_spark.functions.traffic import funnel_conversion

    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).cast("bigint").alias("cohort"),
        "user_id",
        "event_type",
        "ts",
    )
    return funnel_conversion(
        e,
        ["signup", "view", "click", "purchase"],
        by=("cohort",),
        window_s=86400,
    ).orderBy("cohort", "step_idx")


# twin of traffic.seasonal_anomaly_stats + the dow==3
# self-union doubling: zero-filled day spine, four explicit-
# middle-rank medians (integer dyadics / pinned IEEE), robust
# median-based DOW index, MAD fence on the deseasonalized
@query("seasonal_anomaly", oracle=r"""
            WITH e0 AS (
              SELECT event_type, ts,
                     CAST(date_diff('day', DATE '1970-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS dn
              FROM events),
            e AS (
              SELECT event_type, ts FROM e0
              UNION ALL
              SELECT event_type, ts FROM e0 WHERE dn % 7 = 3),
            counted AS (
              SELECT event_type,
                     CAST(date_diff('day', DATE '1970-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS day_n,
                     CAST(count(*) AS BIGINT) AS n
              FROM e GROUP BY event_type, day_n),
            spine AS (
              SELECT event_type, unnest(generate_series(d0, d1))
                       AS day_n
              FROM (SELECT event_type, min(day_n) AS d0,
                           max(day_n) AS d1
                    FROM counted GROUP BY event_type)),
            daily AS (
              SELECT s.event_type, s.day_n,
                     CAST(s.day_n % 7 AS BIGINT) AS dow,
                     CAST(coalesce(c.n, 0) AS BIGINT) AS n
              FROM spine s LEFT JOIN counted c
                ON s.event_type = c.event_type
               AND s.day_n = c.day_n),
            r1 AS (
              SELECT *,
                     count(*) OVER (PARTITION BY event_type, dow)
                       AS m1,
                     row_number() OVER (PARTITION BY event_type, dow
                       ORDER BY n, day_n) AS rn1
              FROM daily),
            d1 AS (
              SELECT event_type, day_n, dow, n,
                     avg(CASE WHEN rn1 = (m1 + 1) // 2
                               OR rn1 = (m1 + 2) // 2
                          THEN n END)
                       OVER (PARTITION BY event_type, dow) AS med_dow
              FROM r1),
            r2 AS (
              SELECT *,
                     count(*) OVER (PARTITION BY event_type) AS m2,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY n, day_n) AS rn2
              FROM d1),
            d2 AS (
              SELECT event_type, day_n, dow, n, med_dow,
                     avg(CASE WHEN rn2 = (m2 + 1) // 2
                               OR rn2 = (m2 + 2) // 2
                          THEN n END)
                       OVER (PARTITION BY event_type) AS med_all
              FROM r2),
            ds AS (
              SELECT event_type, day_n, dow, n,
                     CASE WHEN med_all > 0.0 THEN med_dow / med_all
                          ELSE CAST(1.0 AS DOUBLE) END AS dow_index,
                     CASE WHEN (CASE WHEN med_all > 0.0
                                     THEN med_dow / med_all
                                     ELSE CAST(1.0 AS DOUBLE) END)
                               > 0.0
                          THEN CAST(n AS DOUBLE)
                               / (CASE WHEN med_all > 0.0
                                       THEN med_dow / med_all
                                       ELSE CAST(1.0 AS DOUBLE) END)
                          ELSE CAST(n AS DOUBLE) END AS x
              FROM d2),
            r3 AS (
              SELECT *,
                     count(*) OVER (PARTITION BY event_type) AS m3,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY x, day_n) AS rn3
              FROM ds),
            m1t AS (
              SELECT event_type, day_n, dow, n, dow_index, x,
                     avg(CASE WHEN rn3 = (m3 + 1) // 2
                               OR rn3 = (m3 + 2) // 2
                          THEN x END)
                       OVER (PARTITION BY event_type) AS med_ds
              FROM r3),
            dev AS (
              SELECT *, abs(x - med_ds) AS adev FROM m1t),
            r4 AS (
              SELECT *,
                     count(*) OVER (PARTITION BY event_type) AS m4,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY adev, day_n) AS rn4
              FROM dev),
            fin AS (
              SELECT event_type, day_n, dow, n, dow_index, x, med_ds,
                     adev,
                     avg(CASE WHEN rn4 = (m4 + 1) // 2
                               OR rn4 = (m4 + 2) // 2
                          THEN adev END)
                       OVER (PARTITION BY event_type) AS mad_ds
              FROM r4)
            SELECT event_type, day_n, dow, n, dow_index,
                   x AS deseasonalized, med_ds, mad_ds,
                   (adev > 6.0 * mad_ds) AS is_anomaly
            FROM fin ORDER BY event_type, day_n""")
def q_seasonal_anomaly(spark, sf_dir):
    """Day-of-week-aware anomaly fence over per-type daily counts
    with a PLANTED weekly pattern (dow==3 traffic doubled by
    self-union): the robust median-based DOW index absorbs the
    pattern a season-blind fence would flag. All four medians are
    explicit-middle-rank selections — no engine percentile crosses
    the boundary (functions/traffic.seasonal_anomaly_stats)."""
    from mindocr_spark.functions.traffic import seasonal_anomaly_stats

    e = _t(spark, sf_dir, "events").select("event_type", "ts")
    day_n = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    doubled = e.union(e.where(day_n % 7 == 3))
    return seasonal_anomaly_stats(doubled, k=6).orderBy(
        "event_type", "day_n"
    )


# twin of traffic.session_paths: microsecond sessionization
# (event_id tie-break), ordered list slice path, exact counts,
# share one rounded IEEE division
@query("session_paths", oracle=r"""
            WITH ev AS (
              SELECT user_id AS u, event_id AS eid,
                     CAST(epoch_us(ts) AS BIGINT) AS t,
                     event_type AS et
              FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
                AND event_type IS NOT NULL),
            lagd AS (
              SELECT *, lag(t) OVER (PARTITION BY u
                       ORDER BY t, eid) AS pt
              FROM ev),
            flag AS (
              SELECT *, CASE WHEN pt IS NULL
                              OR t - pt > 1800000000
                         THEN 1 ELSE 0 END AS ns
              FROM lagd),
            sess AS (
              SELECT *, CAST(SUM(ns) OVER (PARTITION BY u
                       ORDER BY t, eid ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM flag),
            paths AS (
              SELECT u, sid,
                     array_to_string(
                       list_slice(list(et ORDER BY t, eid), 1, 6),
                       '>') AS path
              FROM sess GROUP BY u, sid),
            counts AS (
              SELECT path,
                     CAST(count(*) AS BIGINT) AS n_sessions,
                     CAST(count(DISTINCT u) AS BIGINT) AS n_users
              FROM paths GROUP BY path),
            tot AS (
              SELECT CAST(sum(n_sessions) AS BIGINT)
                       AS total_sessions
              FROM counts),
            ranked AS (
              SELECT path,
                     CAST(len(string_split(path, '>')) AS BIGINT)
                       AS path_len,
                     n_sessions, n_users,
                     round(CAST(n_sessions AS DOUBLE)
                           / CAST(total_sessions AS DOUBLE), 6)
                       AS share,
                     CAST(row_number() OVER (ORDER BY n_sessions
                          DESC, path ASC) AS BIGINT) AS rank
              FROM counts CROSS JOIN tot)
            SELECT * FROM ranked WHERE rank <= 25 ORDER BY rank""")
def q_session_paths(spark, sf_dir):
    """Top navigation paths over the event stream: 30-minute
    inactivity sessionization, each session's first 6 event types in
    exact-microsecond order (event_id tie-break) form its path,
    ranked by frequency (functions/traffic.session_paths)."""
    from mindocr_spark.functions.traffic import session_paths

    return session_paths(
        _t(spark, sf_dir, "events"), gap_s=1800, max_len=6, top_k=25
    ).orderBy("rank")


# twin of traffic.km_survival + the 5-day censor gap: grid
# counts / at-risk reverse cumsum exact BIGINTs; ln(1-d/n)
# 9dp-quantized → DECIMAL-summed → exp re-quantized; d=n
# pins survival to exact 0.0 (no ln(0) enters the sum)
@query("km_survival", oracle=r"""
            WITH u AS (
              SELECT event_type, user_id AS u,
                     CAST(date_diff('day', DATE '1970-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS d
              FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            per AS (
              SELECT event_type, u, min(d) AS first_d,
                     max(d) AS last_d
              FROM u GROUP BY event_type, u),
            lt AS (
              SELECT event_type,
                     CAST(last_d - first_d AS BIGINT) AS t,
                     (last_d > max(last_d) OVER
                        (PARTITION BY event_type) - 5) AS censored
              FROM per),
            grid AS (
              SELECT event_type, t,
                     CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0
                              END) AS BIGINT) AS d_churned,
                     CAST(sum(CASE WHEN censored THEN 1 ELSE 0
                              END) AS BIGINT) AS n_censored
              FROM lt GROUP BY event_type, t),
            risked AS (
              SELECT *, CAST(sum(d_churned + n_censored) OVER
                       (PARTITION BY event_type ORDER BY t DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS n_at_risk
              FROM grid),
            terms AS (
              SELECT *,
                CASE WHEN d_churned > 0 AND d_churned < n_at_risk
                     THEN round(ln((CAST(n_at_risk AS DOUBLE)
                                    - CAST(d_churned AS DOUBLE))
                                   / CAST(n_at_risk AS DOUBLE)), 9)
                     ELSE CAST(0.0 AS DOUBLE) END AS term
              FROM risked),
            walked AS (
              SELECT event_type, t, n_at_risk, d_churned, n_censored,
                     CAST(sum(CAST(term AS DECIMAL(28, 9))) OVER
                       (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS DOUBLE) AS ln_s,
                     max(CASE WHEN d_churned = n_at_risk THEN 1
                              ELSE 0 END) OVER
                       (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS hit_zero
              FROM terms)
            SELECT event_type, t, n_at_risk, d_churned, n_censored,
                   CASE WHEN hit_zero = 1 THEN CAST(0.0 AS DOUBLE)
                        ELSE round(exp(ln_s), 9) END AS survival
            FROM walked ORDER BY event_type, t""")
def q_km_survival(spark, sf_dir):
    """Kaplan-Meier retention curve per event type over user activity
    lifetimes (last day − first day), right-censoring users whose
    last activity sits within 5 days of the stratum's observation
    end. Grid counts exact BIGINTs; each ln(1 − d/n) factor
    9dp-quantized then DECIMAL-summed, survival = exp re-quantized
    (functions/traffic.km_survival)."""
    from mindocr_spark.functions.traffic import km_survival

    return km_survival(
        _t(spark, sf_dir, "events"),
        by=("event_type",),
        censor_gap_days=5,
    ).orderBy("event_type", "t")


# twin of traffic.ab_test_proportions + the parity-split /
# ≥14-events conversion / planted-purchase-effect fixture:
# counts exact BIGINTs, rates one IEEE division each, z's
# pinned formula over sqrt (IEEE-exact) — bit-identical with
# NO quantization; degeneracy gated on integer predicates
@query("ab_test", oracle=r"""
            WITH e AS (
              SELECT user_id, event_type FROM events
              WHERE user_id IS NOT NULL),
            base AS (SELECT DISTINCT user_id FROM e),
            u AS (
              SELECT user_id AS unit,
                     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                       AS variant
              FROM base
              UNION ALL
              SELECT user_id,
                     CASE WHEN user_id % 2 = 0 THEN 'B' ELSE 'A' END
              FROM base WHERE user_id % 50 = 7),
            assign AS (
              SELECT unit, min(v) AS v
              FROM (SELECT DISTINCT unit, variant AS v FROM u
                    WHERE variant IN ('A', 'B') AND unit IS NOT NULL)
              GROUP BY unit HAVING count(*) = 1),
            tot AS (
              SELECT CAST(coalesce(sum(CASE WHEN v = 'A' THEN 1 END),
                          0) AS BIGINT) AS n_a,
                     CAST(coalesce(sum(CASE WHEN v = 'B' THEN 1 END),
                          0) AS BIGINT) AS n_b
              FROM assign),
            heavy AS (
              SELECT user_id AS unit, event_type AS metric
              FROM e GROUP BY user_id, event_type
              HAVING count(*) >= 14),
            planted AS (
              SELECT user_id AS unit, 'purchase' AS metric
              FROM base WHERE user_id % 2 = 1 AND user_id % 3 = 0),
            convs AS (
              SELECT DISTINCT unit, metric
              FROM (SELECT * FROM heavy
                    UNION ALL SELECT * FROM planted)
              WHERE unit IS NOT NULL AND metric IS NOT NULL),
            cj AS (
              SELECT metric,
                     CAST(sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END)
                          AS BIGINT) AS conv_a,
                     CAST(sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END)
                          AS BIGINT) AS conv_b
              FROM convs JOIN assign USING (unit) GROUP BY metric),
            sc AS (
              SELECT metric, n_a, n_b, conv_a, conv_b,
                CASE WHEN n_a > 0 THEN CAST(conv_a AS DOUBLE)
                     / CAST(n_a AS DOUBLE) END AS rate_a,
                CASE WHEN n_b > 0 THEN CAST(conv_b AS DOUBLE)
                     / CAST(n_b AS DOUBLE) END AS rate_b
              FROM cj, tot),
            zz AS (
              SELECT *, rate_b - rate_a AS lift,
                CASE WHEN n_a > 0 AND n_b > 0
                          AND conv_a + conv_b > 0
                          AND conv_a + conv_b < n_a + n_b
                     THEN (rate_b - rate_a) / sqrt(
                       (CAST(conv_a + conv_b AS DOUBLE)
                        / CAST(n_a + n_b AS DOUBLE))
                       * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                          / CAST(n_a + n_b AS DOUBLE))
                       * (1.0 / CAST(n_a AS DOUBLE)
                          + 1.0 / CAST(n_b AS DOUBLE)))
                END AS z
              FROM sc)
            SELECT metric, n_a, n_b, conv_a, conv_b, rate_a, rate_b,
                   lift, z,
                   coalesce(abs(z) >= 1.96, false) AS significant
            FROM zz ORDER BY metric""")
def q_ab_test(spark, sf_dir):
    """Two-proportion A/B readout over events: variant = user_id
    parity, conversion on metric m = '≥14 events of type m' (the
    Poisson mean sits near 13.4, so rates land mid-range), PLUS a
    planted treatment effect — every user_id%3==0 B-unit converts on
    'purchase' — so exactly that metric's z fires; users with
    user_id%50==7 are planted into BOTH variants and must be excluded
    by the contamination rule."""
    from mindocr_spark.functions.traffic import ab_test_proportions

    e = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    base = e.select("user_id").distinct()
    pick = lambda a, b: F.when(  # noqa: E731
        F.pmod("user_id", F.lit(2)) == 0, F.lit(a)
    ).otherwise(F.lit(b))
    units = base.select(
        F.col("user_id").alias("unit"), pick("A", "B").alias("variant")
    ).unionAll(
        base.where(F.pmod("user_id", F.lit(50)) == 7).select(
            F.col("user_id").alias("unit"),
            pick("B", "A").alias("variant"),
        )
    )
    heavy = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 14)
        .select(
            F.col("user_id").alias("unit"),
            F.col("event_type").alias("metric"),
        )
    )
    planted = base.where(
        (F.pmod("user_id", F.lit(2)) == 1)
        & (F.pmod("user_id", F.lit(3)) == 0)
    ).select(
        F.col("user_id").alias("unit"), F.lit("purchase").alias("metric")
    )
    return ab_test_proportions(
        units, heavy.unionAll(planted)
    ).orderBy("metric")


# twin of stats.ks_2sample + the parity-snapshot / planted-'de'
# fixture: D's numerator |i·m − j·n| is an exact BIGINT over
# the merged value grid; d and d_crit are one division / one
# pinned sqrt each
@query("ks_drift", oracle=r"""
            WITH d AS (
              SELECT lang,
                     CASE WHEN doc_id % 2 = 0 THEN 'old'
                          ELSE 'new' END AS snap,
                     CAST(length(text)
                          + CASE WHEN doc_id % 2 = 1 AND lang = 'de'
                                 THEN 350 ELSE 0 END AS BIGINT) AS v
              FROM documents),
            t AS (
              SELECT lang, v, (snap = 'old') AS is_a
              FROM d WHERE snap IN ('old', 'new') AND v IS NOT NULL),
            grid AS (
              SELECT lang, v,
                     CAST(coalesce(sum(CASE WHEN is_a THEN 1 END), 0)
                          AS BIGINT) AS ca,
                     CAST(coalesce(sum(CASE WHEN NOT is_a THEN 1 END),
                          0) AS BIGINT) AS cb
              FROM t GROUP BY lang, v),
            walked AS (
              SELECT lang,
                     sum(ca) OVER (PARTITION BY lang ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS i,
                     sum(cb) OVER (PARTITION BY lang ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS j,
                     sum(ca) OVER (PARTITION BY lang) AS n_a,
                     sum(cb) OVER (PARTITION BY lang) AS n_b
              FROM grid),
            agg AS (
              SELECT lang,
                     CAST(max(abs(i * n_b - j * n_a)) AS BIGINT)
                       AS d_num,
                     CAST(max(n_a) AS BIGINT) AS n_a,
                     CAST(max(n_b) AS BIGINT) AS n_b
              FROM walked GROUP BY lang),
            sc AS (
              SELECT lang, n_a, n_b, d_num,
                CASE WHEN n_a > 0 AND n_b > 0 THEN
                  CAST(d_num AS DOUBLE)
                  / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                END AS d,
                CASE WHEN n_a > 0 AND n_b > 0 THEN
                  CAST(1.358 AS DOUBLE) * sqrt(
                    CAST(n_a + n_b AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
                END AS d_crit
              FROM agg)
            SELECT lang, n_a, n_b, d_num, d, d_crit,
                   coalesce(d > d_crit, false) AS drifted
            FROM sc ORDER BY lang""")
def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift test per language over the
    document-length distribution: snapshot = doc_id parity, with a
    planted +350-char shift on the new-snapshot 'de' stratum — the
    whole-distribution drift a mean fence misses. Every D numerator is
    an exact BIGINT |i*m - j*n|; one division and one pinned sqrt at
    the end (functions/stats.ks_2sample)."""
    from mindocr_spark.functions.stats import ks_2sample

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.when(F.col("doc_id") % 2 == 0, F.lit("old"))
        .otherwise(F.lit("new")).alias("snap"),
        (
            F.length("text")
            + F.when(
                (F.col("doc_id") % 2 == 1) & (F.col("lang") == "de"),
                F.lit(350),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("doc_len"),
    )
    return ks_2sample(
        d, "snap", "doc_len", "old", "new", by=("lang",)
    ).orderBy("lang")


# twin of stats.rank_sum_test + the planted-'fr' fixture:
# 2·R_a = Σ t_a·(2p + t + 1) exact BIGINT at value grain;
# tie-corrected z one pinned IEEE expression
@query("rank_sum", oracle=r"""
            WITH d AS (
              SELECT lang,
                     CASE WHEN doc_id % 2 = 0 THEN 'old'
                          ELSE 'new' END AS snap,
                     CAST(n_chars
                          + CASE WHEN doc_id % 2 = 1 AND lang = 'fr'
                                 THEN 120 ELSE 0 END AS BIGINT) AS v
              FROM documents),
            t AS (
              SELECT lang, v, (snap = 'old') AS is_a
              FROM d WHERE snap IN ('old', 'new') AND v IS NOT NULL),
            grid AS (
              SELECT lang, v,
                     CAST(coalesce(sum(CASE WHEN is_a THEN 1 END), 0)
                          AS BIGINT) AS ta,
                     CAST(coalesce(sum(CASE WHEN NOT is_a THEN 1 END),
                          0) AS BIGINT) AS tb
              FROM t GROUP BY lang, v),
            walked AS (
              SELECT lang, ta, tb, ta + tb AS t,
                     sum(ta + tb) OVER (PARTITION BY lang ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - (ta + tb) AS p
              FROM grid),
            agg AS (
              SELECT lang,
                     CAST(sum(ta) AS BIGINT) AS n_a,
                     CAST(sum(tb) AS BIGINT) AS n_b,
                     CAST(sum(ta * (2 * p + t + 1)) AS BIGINT) AS r2_a,
                     CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
              FROM walked GROUP BY lang),
            sc AS (
              SELECT lang, n_a, n_b, tie_term,
                     CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2,
                     n_a + n_b AS n
              FROM agg),
            zz AS (
              SELECT *,
                CASE WHEN n_a > 0 AND n_b > 0
                          AND tie_term < n * n * n - n THEN
                  CAST(u2 - n_a * n_b AS DOUBLE)
                  / (CAST(2.0 AS DOUBLE) * sqrt(
                      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                       / 12.0)
                      * ((CAST(n AS DOUBLE) + 1.0)
                         - CAST(tie_term AS DOUBLE)
                           / (CAST(n AS DOUBLE)
                              * (CAST(n AS DOUBLE) - 1.0)))))
                END AS z
              FROM sc)
            SELECT lang, n_a, n_b, u2,
                   CAST(u2 AS DOUBLE) / 2.0 AS u, tie_term, z,
                   coalesce(abs(z) >= 1.96, false) AS significant
            FROM zz ORDER BY lang""")
def q_rank_sum(spark, sf_dir):
    """Mann-Whitney rank-sum location test per language: does the new
    snapshot's n_chars distribution sit above the old one? Planted
    +120 shift on the new-snapshot 'fr' stratum. 2x the tie-averaged
    rank sum is an exact BIGINT; the tie-corrected z is one pinned
    IEEE expression (functions/stats.rank_sum_test)."""
    from mindocr_spark.functions.stats import rank_sum_test

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.when(F.col("doc_id") % 2 == 0, F.lit("old"))
        .otherwise(F.lit("new")).alias("snap"),
        (
            F.col("n_chars")
            + F.when(
                (F.col("doc_id") % 2 == 1) & (F.col("lang") == "fr"),
                F.lit(120),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("v"),
    )
    return rank_sum_test(
        d, "snap", "v", "old", "new", by=("lang",)
    ).orderBy("lang")


# twin of stats.mann_kendall_trend + the +5/day 'view' ramp:
# S and the tie term exact BIGINTs at period grain; Sen median
# by explicit middle ranks (floor((m+1)/2), floor((m+2)/2))
@query("trend_test", oracle=r"""
            WITH daily AS (
              SELECT event_type,
                     CAST(date_diff('day', DATE '1970-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS day_n,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY event_type, day_n),
            series AS (
              SELECT event_type, day_n,
                     CAST(n + CASE WHEN event_type = 'view'
                       THEN (day_n - min(day_n) OVER
                             (PARTITION BY event_type)) * 5
                       ELSE 0 END AS BIGINT) AS x0
              FROM daily),
            s AS (
              SELECT event_type, day_n AS p, CAST(x0 AS DOUBLE) AS x
              FROM series
              WHERE day_n IS NOT NULL AND x0 IS NOT NULL),
            pairs AS (
              SELECT a.event_type,
                     a.p AS pi, a.x AS xi, b.p AS pj, b.x AS xj,
                     CASE WHEN b.x > a.x THEN 1
                          WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
                     (b.x - a.x) / CAST(b.p - a.p AS DOUBLE) AS slope
              FROM s a JOIN s b ON a.event_type = b.event_type
              WHERE b.p > a.p),
            ranked AS (
              SELECT event_type, sgn, slope,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY slope, pi, pj) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS m
              FROM pairs),
            pair_agg AS (
              SELECT event_type,
                     CAST(sum(sgn) AS BIGINT) AS s_stat,
                     avg(CASE WHEN rn = CAST(floor((m + 1) / 2)
                                          AS BIGINT)
                               OR rn = CAST(floor((m + 2) / 2)
                                            AS BIGINT)
                          THEN slope END) AS sen_slope
              FROM ranked GROUP BY event_type),
            tblk AS (
              SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
              FROM s GROUP BY event_type, x),
            ties AS (
              SELECT event_type,
                     CAST(sum(t) AS BIGINT) AS n_periods,
                     CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                       AS tie_var_term
              FROM tblk GROUP BY event_type),
            fin AS (
              SELECT ties.event_type, n_periods, s_stat, tie_var_term,
                     sen_slope,
                     CAST(n_periods * (n_periods - 1)
                          * (2 * n_periods + 5) - tie_var_term
                          AS DOUBLE) / 18.0 AS var_s0
              FROM ties LEFT JOIN pair_agg USING (event_type)),
            zz AS (
              SELECT *,
                CASE WHEN n_periods >= 2 AND var_s0 > 0.0
                          AND s_stat > 0
                       THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s0)
                     WHEN n_periods >= 2 AND var_s0 > 0.0
                          AND s_stat < 0
                       THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s0)
                     WHEN n_periods >= 2 AND var_s0 > 0.0
                       THEN CAST(0.0 AS DOUBLE)
                END AS z
              FROM fin)
            SELECT event_type, n_periods, s_stat,
                   tie_var_term AS tie_term,
                   CASE WHEN n_periods >= 2 THEN var_s0 END AS var_s,
                   z,
                   CASE WHEN z >= 1.96 THEN 'increasing'
                        WHEN z <= -1.96 THEN 'decreasing'
                        ELSE 'none' END AS trend,
                   CASE WHEN n_periods >= 2 THEN sen_slope END
                     AS sen_slope
            FROM zz ORDER BY event_type""")
def q_trend_test(spark, sf_dir):
    """Mann-Kendall monotone-trend test + Sen slope over the per-type
    daily event-count series, with a planted +5/day ramp on 'view' —
    the crawl-volume drift monitor. S and the tie term are exact
    BIGINTs from the period-grain pair join; the Sen median is
    selected by explicit middle ranks, no engine quantile
    (functions/stats.mann_kendall_trend)."""
    from mindocr_spark.functions.stats import mann_kendall_trend
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    day_n = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    daily = (
        e.select("event_type", day_n.alias("day_n"))
        .groupBy("event_type", "day_n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    d0 = F.min("day_n").over(W.partitionBy("event_type"))
    series = daily.select(
        "event_type",
        "day_n",
        (
            F.col("n")
            + F.when(
                F.col("event_type") == "view",
                (F.col("day_n") - d0) * 5,
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("x"),
    )
    return mann_kendall_trend(
        series, "day_n", "x", by=("event_type",)
    ).orderBy("event_type")


# twin of stats.benford_first_digit: string-derived leading
# digit, shared 17-digit p literals, χ² terms 9dp-quantized
# then DECIMAL-summed
@query("benford_audit", oracle=f"""
            WITH vals AS (
              SELECT l_returnflag,
                     CAST(substring(CAST(CAST(floor(l_extendedprice)
                       AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND CAST(floor(l_extendedprice) AS BIGINT) >= 1),
            obs AS (
              SELECT l_returnflag, digit,
                     CAST(count(*) AS BIGINT) AS n_obs
              FROM vals GROUP BY l_returnflag, digit),
            strata AS (
              SELECT l_returnflag,
                     CAST(sum(n_obs) AS BIGINT) AS n_total
              FROM obs GROUP BY l_returnflag),
            spine AS (
              SELECT l_returnflag, n_total,
                     CAST(unnest(generate_series(1, 9)) AS INT)
                       AS digit
              FROM strata),
            filled AS (
              SELECT s.l_returnflag, s.digit,
                     CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
                     s.n_total,
                     ([{_benford_arr}])[s.digit] AS p_benford
              FROM spine s LEFT JOIN obs o
                ON s.l_returnflag = o.l_returnflag
               AND s.digit = o.digit),
            scored AS (
              SELECT l_returnflag, digit, n_obs, n_total,
                     CASE WHEN n_total > 0 THEN
                       CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)
                     END AS share,
                     p_benford,
                     CASE WHEN n_total > 0 THEN round(
                       (CAST(n_obs AS DOUBLE)
                        - CAST(n_total AS DOUBLE) * p_benford)
                       * (CAST(n_obs AS DOUBLE)
                          - CAST(n_total AS DOUBLE) * p_benford)
                       / (CAST(n_total AS DOUBLE) * p_benford), 9)
                     END AS chi2_term
              FROM filled),
            withsum AS (
              SELECT *,
                     CAST(sum(CAST(chi2_term AS DECIMAL(28, 9)))
                       OVER (PARTITION BY l_returnflag) AS DOUBLE)
                       AS chi2
              FROM scored)
            SELECT l_returnflag, digit, n_obs, n_total, share,
                   p_benford, chi2_term, chi2,
                   coalesce(chi2 > CAST({_chi2_crit!r} AS DOUBLE),
                            false) AS biased
            FROM withsum ORDER BY l_returnflag, digit""")
def q_benford_audit(spark, sf_dir):
    """Benford first-significant-digit audit of lineitem extended
    prices per return flag — the fabricated-numbers screen. Leading
    digits are string-derived from floor(price) (no float log);
    expected shares are shared 17-digit literals; chi-square terms
    9dp-quantized and DECIMAL-summed (functions/stats
    .benford_first_digit)."""
    from mindocr_spark.functions.stats import benford_first_digit

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor("l_extendedprice").cast("bigint").alias("price_int"),
    )
    return benford_first_digit(
        li, "price_int", by=("l_returnflag",)
    ).orderBy("l_returnflag", "digit")


# twin of stats.roc_auc + the +15-bump fixture: 2·U⁺ =
# Σ t⁺·(2p + t + 1) − n⁺(n⁺+1) exact BIGINT at score grain;
# auc one IEEE division, gini one fused literal expression
@query("roc_auc", oracle=r"""
            WITH d AS (
              SELECT lang,
                     (doc_id % 3 = 0) AS is_pos,
                     CAST(n_chars % 50
                          + CASE WHEN doc_id % 3 = 0 THEN 15
                            ELSE 0 END AS BIGINT) AS v
              FROM documents),
            t AS (
              SELECT lang, v, is_pos FROM d
              WHERE v IS NOT NULL AND is_pos IS NOT NULL),
            grid AS (
              SELECT lang, v,
                     CAST(coalesce(sum(CASE WHEN is_pos THEN 1 END),
                          0) AS BIGINT) AS tp,
                     CAST(coalesce(sum(CASE WHEN NOT is_pos THEN 1
                          END), 0) AS BIGINT) AS tn
              FROM t GROUP BY lang, v),
            walked AS (
              SELECT lang, tp, tn, tp + tn AS t,
                     sum(tp + tn) OVER (PARTITION BY lang ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - (tp + tn) AS p
              FROM grid),
            agg AS (
              SELECT lang,
                     CAST(sum(tp) AS BIGINT) AS n_pos,
                     CAST(sum(tn) AS BIGINT) AS n_neg,
                     CAST(sum(tp * (2 * p + t + 1)) AS BIGINT)
                       AS r2_pos
              FROM walked GROUP BY lang),
            sc AS (
              SELECT lang, n_pos, n_neg,
                     CAST(r2_pos - n_pos * (n_pos + 1) AS BIGINT)
                       AS u2
              FROM agg),
            fin AS (
              SELECT lang, n_pos, n_neg, u2,
                CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                  CAST(u2 AS DOUBLE)
                  / (CAST(2.0 AS DOUBLE) * CAST(n_pos AS DOUBLE)
                     * CAST(n_neg AS DOUBLE))
                END AS auc
              FROM sc)
            SELECT lang, n_pos, n_neg, u2, auc,
                   CAST(2.0 AS DOUBLE) * auc - CAST(1.0 AS DOUBLE)
                     AS gini
            FROM fin ORDER BY lang""")
def q_roc_auc(spark, sf_dir):
    """ROC-AUC of a synthetic quality score against a planted label
    per language: positives (doc_id % 3 == 0) get a +15 bump on a
    ties-heavy n_chars%50 base score, so the scorer separates but
    imperfectly and the tie-averaging path is exercised. 2·U is an
    exact BIGINT from the score-grid walk; auc is one IEEE division
    (functions/stats.roc_auc)."""
    from mindocr_spark.functions.stats import roc_auc

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        (F.col("doc_id") % 3 == 0).alias("is_good"),
        (
            (F.col("n_chars") % 50)
            + F.when(F.col("doc_id") % 3 == 0, F.lit(15))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("score"),
    )
    return roc_auc(d, "is_good", "score", by=("lang",)).orderBy("lang")


# twin of stats.kendall_tau + the qty/price-bucket fixture:
# C/D are Σ c_i·c_j over strictly-ordered cell pairs (exact
# integer sums); tau = 2(C−D)/sqrt((n(n−1)−Tx)(n(n−1)−Ty))
# one pinned IEEE expression over exact integers
@query("kendall_tau", oracle=r"""
            WITH d AS (
              SELECT l_returnflag AS rf,
                     CAST(l_quantity AS BIGINT) AS x,
                     CAST(floor(l_extendedprice / 2000.0) AS BIGINT)
                       AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
            cells AS (
              SELECT rf, x, y, CAST(count(*) AS BIGINT) AS c
              FROM d GROUP BY rf, x, y),
            pair_agg AS (
              SELECT a.rf,
                     CAST(coalesce(sum(CASE WHEN b.y > a.y
                       THEN a.c * b.c END), 0) AS HUGEINT) AS conc,
                     CAST(coalesce(sum(CASE WHEN b.y < a.y
                       THEN a.c * b.c END), 0) AS HUGEINT) AS disc
              FROM cells a JOIN cells b
                ON a.rf = b.rf AND b.x > a.x
              GROUP BY a.rf),
            mx AS (
              SELECT rf, CAST(sum(t) AS BIGINT) AS n,
                     CAST(sum(t * (t - 1)) AS HUGEINT) AS tie2_x
              FROM (SELECT rf, x, CAST(sum(c) AS BIGINT) AS t
                    FROM cells GROUP BY rf, x) GROUP BY rf),
            my AS (
              SELECT rf, CAST(sum(t * (t - 1)) AS HUGEINT) AS tie2_y
              FROM (SELECT rf, y, CAST(sum(c) AS BIGINT) AS t
                    FROM cells GROUP BY rf, y) GROUP BY rf),
            j AS (
              SELECT mx.rf, n,
                     coalesce(conc, CAST(0 AS HUGEINT)) AS conc,
                     coalesce(disc, CAST(0 AS HUGEINT)) AS disc,
                     CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1)
                       AS pairs2,
                     tie2_x, tie2_y
              FROM mx JOIN my ON mx.rf = my.rf
              LEFT JOIN pair_agg ON mx.rf = pair_agg.rf),
            sc AS (
              SELECT rf, n, conc, disc, pairs2, tie2_x, tie2_y,
                     CAST(pairs2 - tie2_x AS DOUBLE) AS aa,
                     CAST(pairs2 - tie2_y AS DOUBLE) AS bb
              FROM j)
            SELECT rf AS l_returnflag, n,
                   CAST(conc AS BIGINT) AS n_conc,
                   CAST(disc AS BIGINT) AS n_disc,
                   CAST(pairs2 AS BIGINT) AS pairs2,
                   CAST(tie2_x AS BIGINT) AS tie2_x,
                   CAST(tie2_y AS BIGINT) AS tie2_y,
                   CASE WHEN aa > 0.0 AND bb > 0.0 THEN
                     CAST(2.0 AS DOUBLE) * CAST(conc - disc AS DOUBLE)
                     / sqrt(aa * bb)
                   END AS tau
            FROM sc ORDER BY l_returnflag""")
def q_kendall_tau(spark, sf_dir):
    """Kendall tau-b between quantity and a bucketed extended-price
    signal per return flag — the gate-redundancy audit (price tracks
    quantity, so tau is strongly positive). Concordant/discordant
    pair counts are exact DECIMAL sums over the (qty, price-bucket)
    cell grid — quadratic only in distinct cells, never rows
    (functions/stats.kendall_tau)."""
    from mindocr_spark.functions.stats import kendall_tau

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("qty_b"),
        F.floor(F.col("l_extendedprice") / F.lit(2000.0))
        .cast("bigint").alias("price_b"),
    )
    return kendall_tau(
        li, "qty_b", "price_b", by=("l_returnflag",)
    ).orderBy("l_returnflag")


# twin of stats.spearman_rho + the x+jitter fixture: doubled
# average ranks 2r = 2p + t + 1 exact integers from the
# marginal grid walks; five exact integer moment sums cast
# once to double, then the textbook Pearson-over-ranks form
@query("spearman_rho", oracle=r"""
            WITH d AS (
              SELECT lang,
                     CAST(n_chars % 97 AS BIGINT) AS x,
                     CAST(n_chars % 97 + doc_id % 13 AS BIGINT) AS y
              FROM documents
              WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
            cells AS (
              SELECT lang, x, y, CAST(count(*) AS BIGINT) AS c
              FROM d GROUP BY lang, x, y),
            gx AS (
              SELECT lang, x,
                     2 * (sum(t) OVER (PARTITION BY lang ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - t) + t + 1 AS rx2
              FROM (SELECT lang, x, CAST(sum(c) AS BIGINT) AS t
                    FROM cells GROUP BY lang, x)),
            gy AS (
              SELECT lang, y,
                     2 * (sum(t) OVER (PARTITION BY lang ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - t) + t + 1 AS ry2
              FROM (SELECT lang, y, CAST(sum(c) AS BIGINT) AS t
                    FROM cells GROUP BY lang, y)),
            joined AS (
              SELECT cells.lang, c,
                     CAST(rx2 AS HUGEINT) AS rx2,
                     CAST(ry2 AS HUGEINT) AS ry2
              FROM cells
              JOIN gx ON cells.lang = gx.lang AND cells.x = gx.x
              JOIN gy ON cells.lang = gy.lang AND cells.y = gy.y),
            agg AS (
              SELECT lang,
                     CAST(sum(c) AS BIGINT) AS n,
                     sum(CAST(c AS HUGEINT) * rx2) AS sx,
                     sum(CAST(c AS HUGEINT) * ry2) AS sy,
                     sum(CAST(c AS HUGEINT) * rx2 * ry2) AS sxy,
                     sum(CAST(c AS HUGEINT) * rx2 * rx2) AS sxx,
                     sum(CAST(c AS HUGEINT) * ry2 * ry2) AS syy
              FROM joined GROUP BY lang),
            sc AS (
              SELECT lang, n,
                CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
              FROM agg)
            SELECT lang, n,
                   CASE WHEN denx > 0.0 AND deny > 0.0 THEN
                     num / sqrt(denx * deny)
                   END AS rho
            FROM sc ORDER BY lang""")
def q_spearman_rho(spark, sf_dir):
    """Spearman rho between two bucketed document signals per
    language: y = x + a doc_id%13 jitter, so the association is
    strongly monotone but tied and noisy. Doubled average ranks are
    exact integers from the marginal grid walks; five exact decimal
    moment sums feed one IEEE expression
    (functions/stats.spearman_rho)."""
    from mindocr_spark.functions.stats import spearman_rho

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        (F.col("n_chars") % 97).cast("bigint").alias("x_b"),
        ((F.col("n_chars") % 97) + (F.col("doc_id") % 13))
        .cast("bigint").alias("y_b"),
    )
    return spearman_rho(d, "x_b", "y_b", by=("lang",)).orderBy("lang")


# twin of stats.chi2_independence + the planted-'de' pass
# rule: full r x c spine (observed-zero cells included),
# exact BIGINT margins, (o-e)^2/e 9dp-quantized then
# DECIMAL-summed
@query("chi2_independence", oracle=r"""
            WITH d AS (
              SELECT CASE WHEN doc_id % 2 = 0 THEN 'old'
                          ELSE 'new' END AS snap,
                     lang,
                     CASE WHEN doc_id % 3 = 0
                            OR (lang = 'de' AND doc_id % 5 < 2)
                          THEN 'pass' ELSE 'fail' END AS verdict
              FROM documents),
            cells AS (
              SELECT snap, lang AS x, verdict AS y,
                     CAST(count(*) AS BIGINT) AS c
              FROM d WHERE lang IS NOT NULL AND verdict IS NOT NULL
              GROUP BY snap, x, y),
            rt AS (SELECT snap, x, CAST(sum(c) AS BIGINT) AS row_t
                   FROM cells GROUP BY snap, x),
            ct AS (SELECT snap, y, CAST(sum(c) AS BIGINT) AS col_t
                   FROM cells GROUP BY snap, y),
            spine AS (
              SELECT rt.snap, rt.x, ct.y, rt.row_t, ct.col_t
              FROM rt JOIN ct USING (snap)),
            filled AS (
              SELECT s.snap, s.x, s.y, s.row_t, s.col_t,
                     CAST(coalesce(cells.c, 0) AS BIGINT) AS o
              FROM spine s LEFT JOIN cells
                ON cells.snap = s.snap AND cells.x = s.x
               AND cells.y = s.y),
            win AS (
              SELECT snap, row_t, col_t, o,
                     CAST(sum(o) OVER (PARTITION BY snap) AS BIGINT)
                       AS n,
                     CAST(count(DISTINCT x) OVER (PARTITION BY snap)
                       AS BIGINT) AS r_levels,
                     CAST(count(DISTINCT y) OVER (PARTITION BY snap)
                       AS BIGINT) AS c_levels
              FROM filled),
            ee AS (
              SELECT snap, n, r_levels, c_levels,
                     CAST(o AS DOUBLE) AS od,
                     CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE)
                       / CAST(n AS DOUBLE) AS e
              FROM win),
            sc AS (
              SELECT snap, n, r_levels, c_levels,
                     round((od - e) * (od - e) / e, 9) AS term
              FROM ee),
            agg AS (
              SELECT snap, n, r_levels, c_levels,
                     CAST(sum(CAST(term AS DECIMAL(28, 9)))
                          AS DOUBLE) AS chi2
              FROM sc GROUP BY snap, n, r_levels, c_levels)
            SELECT snap, n, r_levels, c_levels,
                   CAST((r_levels - 1) * (c_levels - 1) AS BIGINT)
                     AS dof,
                   chi2,
                   CASE WHEN (r_levels - 1) * (c_levels - 1) > 0 THEN
                     sqrt(chi2 / (CAST(n AS DOUBLE)
                       * CAST(least(r_levels - 1, c_levels - 1)
                              AS DOUBLE)))
                   END AS cramers_v
            FROM agg ORDER BY snap""")
def q_chi2_independence(spark, sf_dir):
    """Pearson chi-square independence of lang x a planted gate
    verdict, per snapshot: the 'de' stratum gets an extra pass rule
    (doc_id % 5 < 2), so verdict depends on lang and chi2 is large in
    both snapshots. Full r x c grid with observed-zero cells; each
    (o-e)^2/e 9dp-quantized then DECIMAL-summed
    (functions/stats.chi2_independence)."""
    from mindocr_spark.functions.stats import chi2_independence

    d = _t(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 2 == 0, F.lit("old"))
        .otherwise(F.lit("new")).alias("snap"),
        "lang",
        F.when(
            (F.col("doc_id") % 3 == 0)
            | ((F.col("lang") == "de") & (F.col("doc_id") % 5 < 2)),
            F.lit("pass"),
        ).otherwise(F.lit("fail")).alias("verdict"),
    )
    return chi2_independence(
        d, "lang", "verdict", by=("snap",)
    ).orderBy("snap")


# twin of stats.psi_drift + the planted-'fr' +150 shift:
# exact BIGINT bucket counts over the union spine, Laplace
# 0.5 smoothing, (pa-pb)*ln(pa/pb) 9dp-quantized then
# DECIMAL-summed
@query("psi_drift", oracle=r"""
            WITH d AS (
              SELECT lang,
                     CASE WHEN doc_id % 2 = 0 THEN 'old'
                          ELSE 'new' END AS snap,
                     CAST(floor((n_chars
                          + CASE WHEN doc_id % 2 = 1 AND lang = 'fr'
                                 THEN 150 ELSE 0 END) / 100)
                          AS BIGINT) AS b
              FROM documents),
            t AS (
              SELECT lang, b, (snap = 'old') AS is_a
              FROM d WHERE snap IN ('old', 'new') AND b IS NOT NULL),
            grid AS (
              SELECT lang, b,
                     CAST(coalesce(sum(CASE WHEN is_a THEN 1 END), 0)
                          AS BIGINT) AS ca,
                     CAST(coalesce(sum(CASE WHEN NOT is_a THEN 1 END),
                          0) AS BIGINT) AS cb
              FROM t GROUP BY lang, b),
            win AS (
              SELECT lang, ca, cb,
                     CAST(sum(ca) OVER (PARTITION BY lang) AS BIGINT)
                       AS n_a,
                     CAST(sum(cb) OVER (PARTITION BY lang) AS BIGINT)
                       AS n_b,
                     CAST(count(*) OVER (PARTITION BY lang) AS BIGINT)
                       AS k
              FROM grid),
            pp AS (
              SELECT lang, n_a, n_b, k,
                     (CAST(ca AS DOUBLE) + 0.5)
                       / (CAST(n_a AS DOUBLE)
                          + 0.5 * CAST(k AS DOUBLE)) AS pa,
                     (CAST(cb AS DOUBLE) + 0.5)
                       / (CAST(n_b AS DOUBLE)
                          + 0.5 * CAST(k AS DOUBLE)) AS pb
              FROM win),
            sc AS (
              SELECT lang, n_a, n_b, k AS n_buckets,
                     CASE WHEN n_a > 0 AND n_b > 0 THEN
                       round((pa - pb) * ln(pa / pb), 9)
                     END AS term
              FROM pp),
            agg AS (
              SELECT lang, n_a, n_b, n_buckets,
                     CAST(sum(CAST(term AS DECIMAL(28, 9)))
                          AS DOUBLE) AS psi_raw
              FROM sc GROUP BY lang, n_a, n_b, n_buckets)
            SELECT lang, n_a, n_b, n_buckets,
                   CASE WHEN n_a > 0 AND n_b > 0 THEN psi_raw END
                     AS psi,
                   coalesce(CASE WHEN n_a > 0 AND n_b > 0
                                 THEN psi_raw END > 0.25, false)
                     AS drifted
            FROM agg ORDER BY lang""")
def q_psi_drift(spark, sf_dir):
    """Population Stability Index between the parity snapshots over
    100-char doc-length deciles per language, with a planted +150
    shift on the new-snapshot 'fr' stratum — the scorecard drift
    monitor. Bucket counts exact BIGINTs over the union spine;
    Laplace-smoothed shares; terms 9dp-quantized then DECIMAL-summed
    (functions/stats.psi_drift)."""
    from mindocr_spark.functions.stats import psi_drift

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.when(F.col("doc_id") % 2 == 0, F.lit("old"))
        .otherwise(F.lit("new")).alias("snap"),
        F.floor(
            (
                F.col("n_chars")
                + F.when(
                    (F.col("doc_id") % 2 == 1)
                    & (F.col("lang") == "fr"),
                    F.lit(150),
                ).otherwise(F.lit(0))
            )
            / F.lit(100)
        ).cast("bigint").alias("len_bucket"),
    )
    return psi_drift(
        d, "snap", "len_bucket", "old", "new", by=("lang",)
    ).orderBy("lang")


# twin of stats.cusum_changepoint + the back-half +40 'view'
# shift: S'_t = n*cum - t*tot exact BIGINT, argmax by exact
# integer compare, earliest period on ties
@query("cusum_changepoint", oracle=r"""
            WITH daily AS (
              SELECT event_type,
                     CAST(date_diff('day', DATE '1970-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS day_n,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY event_type, day_n),
            series AS (
              SELECT event_type, day_n AS p,
                     CAST(round(CAST(n + CASE WHEN event_type = 'view'
                       AND 2 * day_n >
                         min(day_n) OVER (PARTITION BY event_type)
                         + max(day_n) OVER (PARTITION BY event_type)
                       THEN 40 ELSE 0 END AS DOUBLE), 6)
                       AS DECIMAL(18, 6)) AS x
              FROM daily
              WHERE day_n IS NOT NULL AND n IS NOT NULL),
            walked AS (
              SELECT event_type, p,
                     CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY p) AS DECIMAL(12, 0)) AS t_idx,
                     CAST(sum(x) OVER (PARTITION BY event_type
                       ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS DECIMAL(24, 6)) AS cum,
                     CAST(count(*) OVER (PARTITION BY event_type)
                       AS DECIMAL(12, 0)) AS n,
                     CAST(sum(x) OVER (PARTITION BY event_type)
                       AS DECIMAL(24, 6)) AS tot
              FROM series),
            scored AS (
              SELECT *,
                     abs(CAST(n * cum - t_idx * tot
                              AS DECIMAL(38, 6))) AS abs_s
              FROM walked),
            mx AS (
              SELECT *, max(abs_s) OVER (PARTITION BY event_type)
                       AS max_abs
              FROM scored),
            agg AS (
              SELECT event_type,
                     max(n) AS n_periods_d,
                     max(tot) AS total_d,
                     max(max_abs) AS s_abs_max_d
              FROM mx GROUP BY event_type),
            cand AS (
              SELECT event_type, p, t_idx, cum,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY p) AS rk
              FROM mx WHERE abs_s = max_abs),
            best AS (
              SELECT event_type, p AS cp_p, t_idx AS cp_t,
                     cum AS cp_cum
              FROM cand WHERE rk = 1),
            fin AS (
              SELECT agg.event_type, n_periods_d, total_d,
                     s_abs_max_d, cp_p, cp_t, cp_cum,
                     CASE WHEN s_abs_max_d > 0 THEN
                       CAST(cp_cum AS DOUBLE) / CAST(cp_t AS DOUBLE)
                     END AS mean_before,
                     CASE WHEN s_abs_max_d > 0 THEN
                       (CAST(total_d AS DOUBLE)
                        - CAST(cp_cum AS DOUBLE))
                       / (CAST(n_periods_d AS DOUBLE)
                          - CAST(cp_t AS DOUBLE))
                     END AS mean_after
              FROM agg JOIN best USING (event_type))
            SELECT event_type,
                   CAST(n_periods_d AS BIGINT) AS n_periods,
                   CAST(total_d AS DOUBLE) AS total,
                   CASE WHEN s_abs_max_d > 0 THEN cp_p END
                     AS cp_period,
                   CASE WHEN s_abs_max_d > 0 THEN
                     CAST(cp_t AS BIGINT) END AS t_before,
                   CAST(s_abs_max_d AS DOUBLE) AS s_abs_max,
                   CAST(s_abs_max_d AS DOUBLE)
                     / CAST(n_periods_d AS DOUBLE) AS cusum_stat,
                   mean_before, mean_after,
                   mean_after - mean_before AS delta,
                   coalesce(abs(mean_after - mean_before) > 10.0,
                            false) AS shifted
            FROM fin ORDER BY event_type""")
def q_cusum_changepoint(spark, sf_dir):
    """CUSUM mean-shift localization over the per-type daily event
    series, with a planted +40/day level shift on 'view' in the back
    half of its date range — WHERE did the crawl volume jump? The
    n-scaled centered cumulative sum is an exact BIGINT; argmax
    selection compares exact integers, earliest period on ties
    (functions/stats.cusum_changepoint)."""
    from mindocr_spark.functions.stats import cusum_changepoint
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    day_n = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    daily = (
        e.select("event_type", day_n.alias("day_n"))
        .groupBy("event_type", "day_n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    lo = F.min("day_n").over(W.partitionBy("event_type"))
    hi = F.max("day_n").over(W.partitionBy("event_type"))
    series = daily.select(
        "event_type",
        "day_n",
        (
            F.col("n")
            + F.when(
                (F.col("event_type") == "view")
                & (F.lit(2) * F.col("day_n") > lo + hi),
                F.lit(40),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("x"),
    )
    return cusum_changepoint(
        series, "day_n", "x", by=("event_type",), min_abs_delta=10.0
    ).orderBy("event_type")


# twin of text.bleu_corpus + the every-5th-token-UNK fixture:
# clipped matches/totals exact BIGINTs at (doc, n, gram)
# grain; p_n one IEEE division; ln(p_n) 9dp-quantized →
# DECIMAL-summed → /4; exp and the brevity exponent 9dp-
# quantized (the ln idiom applied to the transcendental pair)
@query("bleu_eval", oracle=r"""
            WITH t0 AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents),
            t AS (
              SELECT doc_id AS doc,
                     CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split(norm, ' ') END AS r
              FROM t0),
            th AS (
              SELECT doc,
                     list_transform(generate_series(1, len(r)),
                       i -> CASE WHEN i % 5 = 0 THEN 'UNK'
                                 ELSE r[i] END) AS h,
                     r
              FROM t),
            hg AS (
              SELECT doc, unnest(flatten(list_transform(
                       generate_series(1, 4), n ->
                       CASE WHEN len(h) >= n THEN
                         list_transform(
                           generate_series(1, len(h) - n + 1),
                           i -> {'n': n, 'gram': array_to_string(
                                  list_slice(h, i, i + n - 1), ' ')})
                       ELSE CAST([] AS STRUCT(n BIGINT,
                                              gram VARCHAR)[]) END)))
                       AS g
              FROM th),
            rg AS (
              SELECT doc, unnest(flatten(list_transform(
                       generate_series(1, 4), n ->
                       CASE WHEN len(r) >= n THEN
                         list_transform(
                           generate_series(1, len(r) - n + 1),
                           i -> {'n': n, 'gram': array_to_string(
                                  list_slice(r, i, i + n - 1), ' ')})
                       ELSE CAST([] AS STRUCT(n BIGINT,
                                              gram VARCHAR)[]) END)))
                       AS g
              FROM th),
            ch AS (
              SELECT doc, g.n AS n, g.gram AS gram,
                     CAST(count(*) AS BIGINT) AS ch
              FROM hg GROUP BY doc, g.n, g.gram),
            cr AS (
              SELECT doc, g.n AS n, g.gram AS gram,
                     CAST(count(*) AS BIGINT) AS cr
              FROM rg GROUP BY doc, g.n, g.gram),
            j AS (
              SELECT ch.n, ch.ch,
                     least(ch.ch, coalesce(cr.cr, 0)) AS m
              FROM ch LEFT JOIN cr
                ON ch.doc = cr.doc AND ch.n = cr.n
               AND ch.gram = cr.gram),
            per_n AS (
              SELECT n, CAST(sum(m) AS BIGINT) AS matches,
                     CAST(sum(ch) AS BIGINT) AS total
              FROM j GROUP BY n),
            wide AS (
              SELECT
                CAST(coalesce(sum(CASE WHEN n=1 THEN matches END),0)
                     AS BIGINT) AS m1,
                CAST(coalesce(sum(CASE WHEN n=1 THEN total END),0)
                     AS BIGINT) AS t1,
                CAST(coalesce(sum(CASE WHEN n=2 THEN matches END),0)
                     AS BIGINT) AS m2,
                CAST(coalesce(sum(CASE WHEN n=2 THEN total END),0)
                     AS BIGINT) AS t2,
                CAST(coalesce(sum(CASE WHEN n=3 THEN matches END),0)
                     AS BIGINT) AS m3,
                CAST(coalesce(sum(CASE WHEN n=3 THEN total END),0)
                     AS BIGINT) AS t3,
                CAST(coalesce(sum(CASE WHEN n=4 THEN matches END),0)
                     AS BIGINT) AS m4,
                CAST(coalesce(sum(CASE WHEN n=4 THEN total END),0)
                     AS BIGINT) AS t4
              FROM per_n),
            lens AS (
              SELECT CAST(coalesce(sum(len(r)), 0) AS BIGINT)
                       AS ref_len,
                     CAST(coalesce(sum(len(h)), 0) AS BIGINT)
                       AS hyp_len
              FROM th),
            base AS (SELECT * FROM lens, wide),
            scored AS (
              SELECT *,
                CASE WHEN t1 > 0 THEN CAST(m1 AS DOUBLE)
                     / CAST(t1 AS DOUBLE) END AS p1,
                CASE WHEN t2 > 0 THEN CAST(m2 AS DOUBLE)
                     / CAST(t2 AS DOUBLE) END AS p2,
                CASE WHEN t3 > 0 THEN CAST(m3 AS DOUBLE)
                     / CAST(t3 AS DOUBLE) END AS p3,
                CASE WHEN t4 > 0 THEN CAST(m4 AS DOUBLE)
                     / CAST(t4 AS DOUBLE) END AS p4,
                CASE WHEN hyp_len = 0 THEN NULL
                     WHEN hyp_len >= ref_len THEN CAST(1.0 AS DOUBLE)
                     ELSE round(exp(1.0 - CAST(ref_len AS DOUBLE)
                                    / CAST(hyp_len AS DOUBLE)), 9)
                END AS brevity_penalty
              FROM base)
            SELECT ref_len, hyp_len, m1, t1, p1, m2, t2, p2,
                   m3, t3, p3, m4, t4, p4, brevity_penalty,
                   CASE WHEN hyp_len > 0 AND m1 > 0 AND m2 > 0
                             AND m3 > 0 AND m4 > 0
                        THEN brevity_penalty * round(exp(CAST(
                          CAST(round(ln(p1), 9) AS DECIMAL(28,9))
                          + CAST(round(ln(p2), 9) AS DECIMAL(28,9))
                          + CAST(round(ln(p3), 9) AS DECIMAL(28,9))
                          + CAST(round(ln(p4), 9) AS DECIMAL(28,9))
                          AS DOUBLE) / 4.0), 9)
                        ELSE CAST(0.0 AS DOUBLE)
                   END AS bleu
            FROM scored""")
def q_bleu_eval(spark, sf_dir):
    """Corpus BLEU of a degraded extraction against the reference
    text: the hypothesis replaces every 5th token with 'UNK' (a
    deterministic OCR-noise stand-in), so clipped n-gram precisions
    fall with n, the brevity penalty stays 1 (equal lengths), and the
    whole score chain (clipping, geometric mean, BP) is exercised."""
    from mindocr_spark.functions.text import bleu_corpus, tokens_col

    base = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens_col("text").alias("tks")
    )
    docs = base.select(
        "doc_id",
        F.col("text").alias("ref"),
        F.array_join(
            F.expr(
                "transform(tks, (t, i) -> "
                "CASE WHEN (i + 1) % 5 = 0 THEN 'UNK' ELSE t END)"
            ),
            " ",
        ).alias("hyp"),
    )
    return bleu_corpus(docs, "ref", "hyp", "doc_id", max_n=4)


# twin of text.symspell_corrections + the typo-planting feed:
# identical deletion-key blocking (list_prepend mirror of the
# array concat), identical hot-bucket cap, DuckDB's own exact
# levenshtein verify, identical dominance + best-candidate rule
@query("symspell_correct", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents),
            tok AS (
              SELECT unnest(string_split(norm, ' ')) AS token
              FROM t WHERE norm <> ''),
            typo AS (
              SELECT substr(ft, 1, 1) || 'x'
                       || substr(ft, 3, length(ft)) AS token
              FROM (SELECT string_split(norm, ' ')[1] AS ft
                    FROM t WHERE doc_id % 13 = 5 AND norm <> '')
              WHERE length(ft) >= 5),
            stream AS (
              SELECT token FROM tok UNION ALL SELECT token FROM typo),
            v AS (
              SELECT token AS tok, CAST(count(*) AS BIGINT) AS cnt
              FROM stream
              WHERE token IS NOT NULL
                AND length(token) BETWEEN 4 AND 24
              GROUP BY token),
            k0 AS (
              SELECT tok, cnt,
                     unnest(list_distinct(list_prepend(tok,
                       list_transform(generate_series(1, length(tok)),
                         i -> substr(tok, 1, i - 1)
                              || substr(tok, i + 1, length(tok))))))
                       AS key
              FROM v),
            kb AS (
              SELECT tok, cnt, key FROM (
                SELECT tok, cnt, key,
                       count(*) OVER (PARTITION BY key) AS b
                FROM k0)
              WHERE b <= 1000),
            p AS (
              SELECT DISTINCT r.tok AS token, r.cnt AS cnt,
                              d.tok AS cand, d.cnt AS cand_cnt
              FROM kb r JOIN kb d USING (key)
              WHERE d.tok <> r.tok AND d.cnt >= 10 * r.cnt),
            q AS (
              SELECT * FROM p WHERE levenshtein(token, cand) <= 1),
            b AS (
              SELECT *, row_number() OVER (PARTITION BY token
                       ORDER BY cand_cnt DESC, cand ASC) AS rn
              FROM q)
            SELECT token, cnt, cand AS correction,
                   cand_cnt AS correction_cnt
            FROM b WHERE rn = 1 ORDER BY token""")
def q_symspell_correct(spark, sf_dir):
    """SymSpell OCR-noise correction over the corpus vocabulary with a
    planted typo feed: every doc_id%13==5 doc contributes ONE corrupted
    copy of its first ≥5-char token (2nd char substituted with 'x'), so
    rare distance-1 forms provably exist next to their frequent
    sources; corrections map them back via the deletion-key blocking +
    exact levenshtein verify + 10× frequency-dominance rule."""
    from mindocr_spark.functions.text import symspell_corrections, tokens_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.explode(tokens_col("text")).alias("token"))
    typos = (
        docs.where(F.pmod("doc_id", F.lit(13)) == 5)
        .select(F.get(tokens_col("text"), 0).alias("t"))
        .where(F.length("t") >= 5)
        .select(
            F.expr(
                "concat(substr(t, 1, 1), 'x', substr(t, 3, length(t)))"
            ).alias("token")
        )
    )
    return symspell_corrections(
        toks.unionAll(typos),
        min_len=4,
        max_len=24,
        freq_ratio=10,
        max_bucket=1_000,
    ).orderBy("token")


# twin of tuning.mix_entropy over (lang, source): exact BIGINT
# counts; p one IEEE division; each p·ln(p) term 9dp-quantized
# then DECIMAL(28,9)-summed (order-free, the repo's ln idiom);
# evenness divides by the quantized ln(k), NULL at k=1
@query("mix_entropy", family="curation", oracle=r"""
            WITH c AS (
              SELECT lang, source, CAST(count(*) AS BIGINT) AS n
              FROM documents GROUP BY lang, source),
            t AS (
              SELECT lang, n,
                     CAST(round(
                       (CAST(n AS DOUBLE)
                        / CAST(sum(n) OVER (PARTITION BY lang)
                               AS DOUBLE))
                       * ln(CAST(n AS DOUBLE)
                            / CAST(sum(n) OVER (PARTITION BY lang)
                                   AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS term
              FROM c),
            h AS (
              SELECT lang, CAST(sum(n) AS BIGINT) AS n_rows,
                     CAST(count(*) AS BIGINT) AS n_categories,
                     CAST(-sum(term) AS DOUBLE) AS entropy_nats
              FROM t GROUP BY lang)
            SELECT lang, n_rows, n_categories, entropy_nats,
                   CASE WHEN n_categories > 1
                        THEN entropy_nats
                             / round(ln(CAST(n_categories AS DOUBLE)),
                                     9)
                   END AS evenness
            FROM h ORDER BY lang""")
def q_mix_entropy(spark, sf_dir):
    """Training-mix balance audit: per language, the Shannon entropy
    (nats) and Pielou evenness of the SOURCE distribution — 'is my
    German slice a balanced mix or a single-domain monoculture?'
    answered as one number per slice (evenness 1 = perfectly
    balanced, → 0 = monoculture, NULL when only one source exists)."""
    from mindocr_spark.tuning import mix_entropy

    return mix_entropy(
        _t(spark, sf_dir, "documents"), "lang", "source"
    ).orderBy("lang")


#: profile_drift fixture columns — shared with the SQL oracle renderer
_PROFILE_STRING_COLS = ("text", "lang", "source")
_PROFILE_NUMERIC_COLS = ("doc_id", "n_chars")


@query("profile_drift", oracle=_profile_drift_oracle())
def q_profile_drift(spark, sf_dir):
    """Snapshot column-profile drift gate: the committed corpus (the
    doc_id%11 slice) vs an incoming increment where every 5th doc
    gained 600 chars of boilerplate padding (text avg_len drifts ~40%
    — while the stale n_chars metadata column stays quiet, the classic
    'payload changed, metadata didn't' smell) and every 17th doc lost
    its lang tag (null_rate 0 → ~6%, firing the old=0 rule). source
    and the numeric profiles stay under the 10% fence — the gate must
    stay quiet where nothing moved."""
    from mindocr_spark.tuning import profile_drift

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.repeat(F.lit(" pad"), 150)),
        ).otherwise(F.col("text")).alias("text"),
        F.when(F.col("doc_id") % 17 != 0, F.col("lang")).alias("lang"),
        "source",
        "n_chars",
    )
    return profile_drift(
        old, new,
        string_cols=_PROFILE_STRING_COLS,
        numeric_cols=_PROFILE_NUMERIC_COLS,
    ).orderBy("column", "metric")


# twin of classifier.calibration_ece over the rational-squash
# probability p = 0.5 + 0.5·s/(1+|s|) of the hashed-linear
# score vs the stop-ratio label: per-bin confidences 9dp-
# quantized then DECIMAL-summed (order-free), accuracy divides
# exact integers, ECE re-quantizes the n-weighted gaps
@query("calibration_ece", oracle="WITH " + _qc_scored_ctes() + r""",
            q AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                       '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b'))
                       AS sh,
                     CASE WHEN trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+', ' ', 'g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+', ' ', 'g')), ' '))
                     END AS nt
              FROM documents),
            pl AS (
              SELECT CAST(0.5 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)
                         * (s.score * CAST(8.0 AS DOUBLE))
                         / (CAST(1.0 AS DOUBLE)
                            + abs(s.score * CAST(8.0 AS DOUBLE))) AS p,
                     round(CAST(q.sh AS DOUBLE)
                           / CAST(nullif(q.nt, 0) AS DOUBLE), 6)
                       >= CAST(0.04 AS DOUBLE) AS y
              FROM scored s JOIN q USING (doc_id)
              WHERE s.score IS NOT NULL AND q.nt > 0),
            b AS (
              SELECT least(9, CAST(floor(p * 10) AS INT)) AS bin,
                     CAST(count(*) AS BIGINT) AS n_bin,
                     CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                     sum(CAST(round(p, 9) AS DECIMAL(28,9))) AS sum_p
              FROM pl GROUP BY 1),
            m AS (
              SELECT bin, n_bin, n_pos,
                     CAST(sum_p AS DOUBLE) / CAST(n_bin AS DOUBLE)
                       AS mean_conf,
                     CAST(n_pos AS DOUBLE) / CAST(n_bin AS DOUBLE)
                       AS accuracy
              FROM b),
            g AS (
              SELECT *, abs(accuracy - mean_conf) AS abs_gap FROM m)
            SELECT bin, n_bin, n_pos, mean_conf, accuracy, abs_gap,
                   CAST(sum(CAST(round(abs_gap * CAST(n_bin AS DOUBLE),
                                       9) AS DECIMAL(28,9))) OVER ()
                        AS DOUBLE)
                     / CAST(sum(n_bin) OVER () AS DOUBLE) AS ece
            FROM g ORDER BY bin
        """)
def q_calibration_ece(spark, sf_dir):
    """Reliability diagram + ECE of the hashed-linear quality
    classifier, squashed to a probability by the rational sigmoid
    p = 0.5 + 0.5·s/(1+|s|) (IEEE-exact — no libm exp crosses the
    engine boundary), audited against the stop-ratio quality label.
    The stub classifier is honestly uncalibrated; the audit is the
    point — it MEASURES that, per confidence bin, oracle-checked to
    the last bit."""
    from mindocr_spark.functions.classifier import (
        calibration_ece,
        quality_classifier_score,
    )
    from mindocr_spark.functions.text import quality_cols

    docs = _t(spark, sf_dir, "documents")
    scored = quality_classifier_score(docs, threshold=0.0).select(
        "doc_id", "score"
    )
    q = quality_cols(docs).select("doc_id", "stop_ratio")
    # gain 8 spreads the small mean-weight scores across the
    # reliability bins; pure *,/,abs — IEEE-exact on both engines
    s = F.col("score") * F.lit(8.0)
    d = scored.join(q, "doc_id").where(
        s.isNotNull() & F.col("stop_ratio").isNotNull()
    ).select(
        (
            F.lit(0.5) + F.lit(0.5) * s / (F.lit(1.0) + F.abs(s))
        ).alias("prob"),
        (F.col("stop_ratio") >= F.lit(0.04)).alias("y"),
    )
    return calibration_ece(d, "prob", "y", bins=10).orderBy("bin")


# twin of classifier.gate_agreement over the min-chars and
# stop-ratio gates: exact BIGINT confusion counts; p_o and p_e
# divide exact integers; kappa operates on those two doubles
@query("gate_agreement", oracle=r"""
            WITH q AS (
              SELECT doc_id, lang, text,
                     len(regexp_extract_all(text,
                       '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b'))
                       AS sh,
                     CASE WHEN trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+', ' ', 'g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+', ' ', 'g')), ' '))
                     END AS nt
              FROM documents),
            g AS (
              SELECT lang,
                     length(text) >= 200 AS ga,
                     round(CAST(sh AS DOUBLE)
                           / CAST(nullif(nt, 0) AS DOUBLE), 6)
                       >= CAST(0.04 AS DOUBLE) AS gb
              FROM q),
            c AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN ga AND gb THEN 1 ELSE 0 END)
                          AS BIGINT) AS both_keep,
                     CAST(sum(CASE WHEN NOT ga AND NOT gb THEN 1 ELSE 0
                          END) AS BIGINT) AS both_drop,
                     CAST(sum(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END)
                          AS BIGINT) AS only_a,
                     CAST(sum(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END)
                          AS BIGINT) AS only_b
              FROM g WHERE ga IS NOT NULL AND gb IS NOT NULL
              GROUP BY lang),
            p AS (
              SELECT *,
                     CAST(both_keep + both_drop AS DOUBLE)
                       / CAST(n AS DOUBLE) AS p_o,
                     CAST((both_keep + only_a) * (both_keep + only_b)
                          + (n - (both_keep + only_a))
                            * (n - (both_keep + only_b)) AS DOUBLE)
                       / CAST(n * n AS DOUBLE) AS p_e
              FROM c)
            SELECT lang, n, both_keep, both_drop, only_a, only_b,
                   p_o, p_e,
                   CASE WHEN p_e <> CAST(1.0 AS DOUBLE)
                        THEN (p_o - p_e)
                             / (CAST(1.0 AS DOUBLE) - p_e)
                   END AS kappa
            FROM p ORDER BY lang""")
def q_gate_agreement(spark, sf_dir):
    """Cohen's-kappa redundancy audit between two real curation gates
    (the min-chars floor vs the stopword-ratio floor), per language:
    exact confusion counts, chance-corrected agreement, kappa NULL on
    degenerate marginals. Answers 'is the second gate earning its
    keep?' with a number instead of a hunch."""
    from mindocr_spark.functions.classifier import gate_agreement
    from mindocr_spark.functions.text import quality_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    q = quality_cols(docs).select("doc_id", "stop_ratio")
    d = docs.join(q, "doc_id").select(
        "lang",
        (F.length("text") >= F.lit(200)).alias("g_len"),
        (F.col("stop_ratio") >= F.lit(0.04)).alias("g_stop"),
    )
    return gate_agreement(d, "g_len", "g_stop", group_cols=("lang",)).orderBy(
        "lang"
    )


# twin of functions/sketches.kmv_distinct (k=64, 32-bit md5
# prefix): per arm, distinct (group, hash) collapse → k
# smallest → (k-1)*2^32/h_k, exact when saturated; the error
# column divides two exact operands (bit-identical)
@query("kmv_distinct", family="sketches", oracle=" UNION ALL ".join(
            f"""
            SELECT * FROM (
              WITH dh AS (
                SELECT DISTINCT event_type AS g,
                       ('0x' || substr(md5(CAST({col} AS VARCHAR)),
                                       1, 8))::BIGINT AS h
                FROM events WHERE {col} IS NOT NULL),
              kept AS (
                SELECT g, h, row_number() OVER (
                  PARTITION BY g ORDER BY h ASC) AS rn FROM dh),
              sk AS (
                SELECT g, max(h) AS kth_hash,
                       CAST(count(*) AS BIGINT) AS n_kept
                FROM kept WHERE rn <= 64 GROUP BY g),
              ex AS (
                SELECT g, CAST(count(*) AS BIGINT) AS distinct_hashes
                FROM dh GROUP BY g),
              est AS (
                SELECT sk.g, ex.distinct_hashes, sk.n_kept, sk.kth_hash,
                       CASE WHEN sk.n_kept < 64
                            THEN CAST(ex.distinct_hashes AS DOUBLE)
                            ELSE CAST(63.0 * 4294967296 AS DOUBLE)
                                 / CAST(sk.kth_hash AS DOUBLE)
                       END AS kmv_estimate
                FROM sk JOIN ex ON sk.g = ex.g)
              SELECT '{col}' AS arm, g AS event_type, distinct_hashes,
                     n_kept, kth_hash, kmv_estimate,
                     abs(kmv_estimate - CAST(distinct_hashes AS DOUBLE))
                       / CAST(distinct_hashes AS DOUBLE) AS abs_rel_err
              FROM est)"""
            for col in ("user_id", "event_id")
        )
        + " ORDER BY arm, event_type")
def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch per event type, two arms: user_id
    (small cardinality — exercises the saturated exact path at low SF)
    and event_id (row cardinality — exercises the (k−1)·2³²/h_(k)
    estimator). Unlike HLL, every column including the estimate is a
    pure function of the input, so the WHOLE sketch is oracle-checked,
    error included."""
    from mindocr_spark.functions.sketches import kmv_distinct

    e = _t(spark, sf_dir, "events")
    arms = [
        kmv_distinct(e, "event_type", col, k=64).select(
            F.lit(col).alias("arm"), "*"
        )
        for col in ("user_id", "event_id")
    ]
    return arms[0].unionByName(arms[1]).orderBy("arm", "event_type")


#: hub-strip threshold for community detection: chorded-ring hosts
#: have degree ~6; the shared mirror hosts and the docs.example
#: archive hub (degree 10-100×+ that) glue every source's ring into
#: one blob. 32 strips exactly the glue.
_MODULARITY_MAX_DEGREE = 32


@query("community_modularity", family="graph", oracle=_modularity_oracle(
            iters=3, strip_max_degree=_MODULARITY_MAX_DEGREE
        ))
def q_community_modularity(spark, sf_dir):
    """Newman modularity of the 3-superstep LPA partition over the
    HUB-STRIPPED chorded link family (strip_hubs removes the
    docs.example archive and shared mirror hosts — the glue that
    collapses any community algorithm to one blob). Per-community
    exact BIGINT size/degree/intra counts plus the single-division Q
    contribution: the surviving per-source chorded rings are sealed
    communities, so Q is high — the acceptance check on the
    label_propagation sketch."""
    from mindocr_spark.functions.links import (
        community_modularity,
        strip_hubs,
    )

    return community_modularity(
        strip_hubs(
            _chorded_link_edges(spark, sf_dir), _MODULARITY_MAX_DEGREE
        ),
        iters=3,
    ).orderBy("label")


#: crawl-depth seeds: the src0 ring-0 host (reaches its source's whole
#: 13-cycle one hop per round) plus an OFFLINE seed absent from the
#: graph (must still report depth 0 — crawlers fetch seeds
#: unconditionally, the trustrank nodes∪seeds discipline).
_BFS_SEEDS = ("src00.example", "newseed.example")


def _crawl_depth_oracle(
    seeds: tuple[str, ...] = _BFS_SEEDS, max_hops: int = 4
) -> str:
    """Unrolled twin of `links.seed_bfs_depth` over the chain corpus:
    one level CTE per hop, each a frontier join + NOT-IN against all
    previous levels. All-integer — no float discipline needed."""
    in_list, seed_values = _seed_sql_parts(seeds)
    parts = [f"""
        WITH d AS (
          SELECT doc_id, source,
                 source || CAST(doc_id % 13 AS VARCHAR) || '.example'
                   AS src_dom
          FROM documents),
        e0 AS (
          SELECT src_dom,
                 source || CAST((doc_id + 1) % 13 AS VARCHAR)
                   || '.example' AS dst_dom
          FROM d
          UNION ALL
          SELECT src_dom,
                 'mirror' || CAST(doc_id % 7 AS VARCHAR) || '.example'
          FROM d),
        g AS (
          SELECT DISTINCT src_dom, dst_dom FROM e0
          WHERE src_dom != dst_dom),
        seeds(dom) AS (VALUES {seed_values}),
        nodes AS (
          SELECT src_dom AS dom FROM g
          UNION SELECT dst_dom FROM g
          UNION SELECT dom FROM seeds),
        l0 AS (SELECT dom, 0 AS depth FROM seeds)"""]
    for h in range(1, max_hops + 1):
        seen = " UNION ".join(
            f"SELECT dom FROM l{j}" for j in range(h)
        )
        parts.append(f""",
        l{h} AS (
          SELECT DISTINCT g.dst_dom AS dom, {h} AS depth
          FROM g JOIN l{h - 1} f ON g.src_dom = f.dom
          WHERE g.dst_dom NOT IN ({seen}))""")
    union_all = " UNION ALL ".join(
        f"SELECT * FROM l{j}" for j in range(max_hops + 1)
    )
    parts.append(f""",
        depths AS ({union_all})
        SELECT n.dom AS domain,
               CAST(p.depth AS BIGINT) AS depth,
               p.depth IS NOT NULL AS reachable
        FROM nodes n LEFT JOIN depths p ON n.dom = p.dom
        ORDER BY domain""")
    return "".join(parts)


@query("crawl_depth", family="graph", oracle=_crawl_depth_oracle())
def q_crawl_depth(spark, sf_dir):
    """Crawl depth from seeds: directed BFS (4 unrolled hops) over the
    CHAINED corpus family — per-source 13-cycles with mirror spokes —
    so depths 0..4, unreachable NULLs, and the offline-seed case all
    occur. All-integer levels; the oracle unrolls the same hops over
    edges rebuilt from doc_id arithmetic without parsing HTML."""
    from mindocr_spark.functions.links import extract_links, seed_bfs_depth
    from mindocr_spark.sources.pages import pages_from_documents_chain

    edges = extract_links(pages_from_documents_chain(spark, sf_dir))
    return seed_bfs_depth(edges, _BFS_SEEDS, max_hops=4).orderBy("domain")


_STREAM_STATIC_JOIN_ORACLE = """
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(round(CAST(e.value AS DOUBLE), 9)
                    AS DECIMAL(28,9))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    ORDER BY c.c_mktsegment, e.event_type"""


@query("stream_static_join", family="streaming",
       oracle=_STREAM_STATIC_JOIN_ORACLE)
def q_stream_static_join(spark, sf_dir):
    """Stream-static enrichment join (§2.11): the events file stream
    joins the STATIC customer dimension on user_id = c_custkey inside
    the micro-batch plan (the broadcast-dimension pattern — the static
    side is planned per batch, not snapshotted into state), then a
    per-(mktsegment, event_type) streaming aggregation; availableNow
    drain in complete mode, batch-join oracle."""
    import uuid

    from mindocr_spark.streaming.windows import (
        drain_to_memory,
        read_events_stream,
    )

    _ensure_worker_imports(spark)
    stream = read_events_stream(
        spark, _staged_events_dir(sf_dir), max_files=1)
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(cust), "user_id")
    # streaming aggs forbid count_distinct — count + an exact DECIMAL
    # sum of 9dp-quantized values (the order-independent sum idiom)
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.round(F.col("value"), 9).cast("decimal(28,9)")
        ).alias("sum_value"),
    )
    out = drain_to_memory(
        agg, f"sj_{uuid.uuid4().hex[:12]}", "complete"
    )
    return out.select(
        "c_mktsegment", "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        # exact DECIMAL accumulation, one final lowering to DOUBLE
        # (both engines lower the same decimal to the same double)
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("c_mktsegment", "event_type")


_STREAM_STREAM_JOIN_ORACLE = """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY v.user_id, view_id, purchase_id"""


@query("stream_stream_join", family="streaming",
       oracle=_STREAM_STREAM_JOIN_ORACLE)
def q_stream_stream_join(spark, sf_dir):
    """STREAM-STREAM event-time interval join (§2.11): the view stream
    joins the purchase stream per user where the purchase lands within
    1 hour AFTER the view — both sides watermarked so Spark can evict
    join state older than the interval + watermark (the unbounded-state
    hazard of stream-stream joins, bounded). Inner-join matches emit as
    both sides arrive; availableNow drain equals the batch interval
    self-join the oracle computes."""
    import uuid

    from mindocr_spark.streaming.windows import (
        drain_to_memory,
        read_events_stream,
    )

    _ensure_worker_imports(spark)
    stage = _staged_events_dir(sf_dir)
    views = (
        read_events_stream(spark, stage, max_files=1)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, stage, max_files=1)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND "
            "p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"
        ),
    )
    out = drain_to_memory(
        joined.select(
            F.col("v_user").alias("user_id"), "view_id", "purchase_id"
        ),
        f"ssj_{uuid.uuid4().hex[:12]}",
        "append",
    )
    return out.orderBy("user_id", "view_id", "purchase_id")


#: Proximity query set: unlike _BM25_QUERIES (whose third query
#: deliberately contains an out-of-vocabulary term for partial-hit
#: behavior), every term here exists in the corpus so the 3-way
#: minimal-cover join path has real matches.
_PROX_QUERIES = {
    0: ["hash", "merge"],
    1: ["table", "scan"],
    2: ["window", "sort", "order"],
}


def _wordpiece_oracle() -> str:
    """Twin of `text.wordpiece_apply`: the greedy cursor walk as a
    recursive CTE; 'longest match' is stated aggregation-free via
    NOT EXISTS (a longer matching piece) — legal inside a recursive
    term where max() is not."""
    from mindocr_spark.functions.text import (
        WORDPIECE_CONT,
        WORDPIECE_INITIAL,
    )

    voc = ", ".join(
        [f"('{p}', false)" for p in dict.fromkeys(WORDPIECE_INITIAL)]
        + [f"('{p}', true)" for p in dict.fromkeys(WORDPIECE_CONT)]
    )
    return f"""
        WITH RECURSIVE
        voc(piece, pcont) AS (VALUES {voc}),
        words AS (
          SELECT DISTINCT unnest(string_split(trim(regexp_replace(
                   text,'[ \t\n\r\f\x0B]+',' ','g')),' ')) AS word
          FROM documents WHERE trim(text) <> ''),
        walk(word, pos, pieces, n) AS (
          SELECT word, 1, '', 0 FROM words WHERE word <> ''
          UNION ALL
          SELECT s.word, s.pos + length(v.piece),
                 s.pieces
                   || CASE WHEN s.pos = 1 THEN v.piece
                           ELSE '##' || v.piece END || ' ',
                 s.n + 1
          FROM walk s
          JOIN voc v
            ON v.pcont = (s.pos > 1)
           AND substr(s.word, s.pos, length(v.piece)) = v.piece
          WHERE s.pos <= length(s.word)
            AND NOT EXISTS (
              SELECT 1 FROM voc v2
              WHERE v2.pcont = (s.pos > 1)
                AND length(v2.piece) > length(v.piece)
                AND substr(s.word, s.pos, length(v2.piece)) = v2.piece))
        SELECT word,
               CAST(n AS BIGINT) AS n_pieces,
               rtrim(pieces) AS pieces
        FROM walk
        WHERE pos = length(word) + 1
        ORDER BY word"""


@query("wordpiece_apply", family="tokenizers", oracle=_wordpiece_oracle())
def q_wordpiece_apply(spark, sf_dir):
    """WordPiece greedy longest-match tokenization at distinct-word
    grain (the BERT-family tokenizer beside the BPE stack): pinned
    initial/##continuation vocabulary, set-based greedy loop, piece
    count + segmentation per surface form."""
    from mindocr_spark.functions.text import wordpiece_apply

    return wordpiece_apply(_t(spark, sf_dir, "documents")).orderBy("word")


def _proximity_oracle(k: int = 5) -> str:
    """Twin of `search.proximity_topk`: the same m-way position joins
    per query (positions via generate_subscripts — 1-based where Spark
    is 0-based, which cancels in the window DIFFERENCE), min cover,
    (window, doc) rank."""
    all_terms = sorted({t for ts in _PROX_QUERIES.values() for t in ts})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    per_q = []
    for qid, terms in sorted(_PROX_QUERIES.items()):
        terms = list(dict.fromkeys(terms))
        joins = "\n".join(
            f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id"
            f" AND p{i}.term = '{t}'"
            for i, t in enumerate(terms[1:], start=1)
        )
        ps = ", ".join(f"p{i}.pos" for i in range(len(terms)))
        per_q.append(f"""
          SELECT {qid} AS query_id, p0.doc_id,
                 min(greatest({ps}) - least({ps}) + 1) AS min_window
          FROM pos p0 {joins}
          WHERE p0.term = '{terms[0]}'
          GROUP BY p0.doc_id""")
    union = " UNION ALL ".join(per_q)
    return f"""
        WITH t AS (
          SELECT doc_id,
                 trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                   AS norm
          FROM documents),
        base AS (
          SELECT doc_id,
                 unnest(string_split(norm,' ')) AS term,
                 generate_subscripts(string_split(norm,' '), 1) AS pos
          FROM t WHERE norm <> ''),
        pos AS (
          SELECT doc_id, term, pos FROM base
          WHERE term IN ({in_list})),
        mw AS ({union}),
        rk AS (
          SELECT query_id, doc_id, min_window,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY min_window ASC, doc_id ASC) AS rank
          FROM mw)
        SELECT query_id, doc_id,
               CAST(min_window AS BIGINT) AS min_window,
               CAST(rank AS BIGINT) AS rank
        FROM rk WHERE rank <= {k}
        ORDER BY query_id, rank"""


@query("proximity_topk", family="retrieval", oracle=_proximity_oracle())
def q_proximity_topk(spark, sf_dir):
    """Minimal-window proximity ranking (SpanNear): docs containing
    ALL query terms ranked by the smallest token window covering one
    occurrence of each — the positional signal between BM25 and exact
    phrase match; broadcast-vocabulary scan shedding, deterministic
    tie-break."""
    from mindocr_spark.functions.search import proximity_topk

    return proximity_topk(
        _t(spark, sf_dir, "documents"), _PROX_QUERIES, k=5
    ).orderBy("query_id", "rank")


_POSTING_STATS_ORACLE = r"""
    WITH t AS (
      SELECT doc_id,
             trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
               AS norm
      FROM documents),
    p AS (
      SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS term
      FROM t WHERE norm <> ''),
    g AS (
      SELECT term,
             coalesce(doc_id - lag(doc_id) OVER
                        (PARTITION BY term ORDER BY doc_id),
                      doc_id + 1) AS enc
      FROM p),
    vb AS (
      SELECT term, enc, (length(bin(enc)) + 6) // 7 AS vbytes
      FROM g)
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(vbytes) AS BIGINT) AS bytes_varint,
           CAST(count(*) * 8 AS BIGINT) AS bytes_fixed,
           CAST(max(enc) AS BIGINT) AS max_entry,
           round(CAST(count(*) * 8 AS DOUBLE)
                 / CAST(sum(vbytes) AS DOUBLE), 6) AS compression_x
    FROM vb GROUP BY term
    ORDER BY term"""


@query("posting_stats", family="retrieval", oracle=_POSTING_STATS_ORACLE)
def q_posting_stats(spark, sf_dir):
    """Inverted-index storage accounting: per-term d-gap + VByte
    posting-list sizes computed with exact integer arithmetic (first
    entry absolute 1-based, gaps after; ⌈bitlen/7⌉ bytes via the
    no-floating-log bin-length rule) vs the fixed 8-byte baseline."""
    from mindocr_spark.functions.search import posting_gap_stats

    return posting_gap_stats(_t(spark, sf_dir, "documents")).orderBy(
        "term")


_FIGURES_BASE_CTES = """
    d AS (
      SELECT doc_id, text,
             doc_id % 7 AS h, doc_id % 6 AS m6,
             (doc_id + 1) % 6 AS m6b,
             240 + (doc_id % 5) * 160 AS wv,
             doc_id % 3 AS c3
      FROM documents),
    voc(i, v) AS (VALUES (0, 'diagram'), (1, 'chart'), (2, 'photo'),
                         (3, 'map'), (4, 'screenshot'), (5, 'plot')),
    base AS (
      SELECT d.*,
             'https://site' || h || '.example' AS org,
             'https://site' || h || '.example/a/' || doc_id AS url,
             va.v AS alt1, vb.v AS alt2
      FROM d JOIN voc va ON va.i = d.m6
             JOIN voc vb ON vb.i = d.m6b)"""


_EXTRACT_FIGURES_ORACLE = f"""
    WITH {_FIGURES_BASE_CTES}
    SELECT url, 'figure' AS kind,
           org || '/img/' || doc_id || '-' ||
             CASE WHEN wv > 480 THEN CAST(wv AS VARCHAR)
                  ELSE '480' END || '.jpg' AS img_url,
           alt1 AS alt,
           'Caption ' || alt1 || ' ' || doc_id AS caption
    FROM base
    UNION ALL
    SELECT url, 'inline',
           'https://cdn' || c3 || '.example/t/' || doc_id || '.png',
           alt2, NULL
    FROM base
    ORDER BY url, kind"""


@query("extract_figures", family="multimodal", oracle=_EXTRACT_FIGURES_ORACLE)
def q_extract_figures(spark, sf_dir):
    """Image-text pair mining (LAION-style) over the figures corpus
    family: <figure> img+figcaption pairs, inline img+alt pairs,
    srcset largest-width selection, origin-resolved URLs, decorative
    empty-alt images dropped."""
    from mindocr_spark.functions.figures import extract_figures
    from mindocr_spark.sources.pages import pages_from_documents_figures

    pages = pages_from_documents_figures(spark, sf_dir)
    return extract_figures(pages).orderBy("url", "kind")


_INTERLEAVED_ORACLE = f"""
    WITH {_FIGURES_BASE_CTES}
    SELECT url, CAST(0 AS BIGINT) AS seq_idx, 'text' AS kind,
           substr(text, 1, length(text) // 2) AS content
    FROM base
    UNION ALL
    SELECT url, 1, 'image',
           org || '/img/' || doc_id || '-' ||
             CASE WHEN wv > 480 THEN CAST(wv AS VARCHAR)
                  ELSE '480' END || '.jpg'
    FROM base
    UNION ALL
    SELECT url, 2, 'text',
           substr(text, length(text) // 2 + 1,
                  length(text) - length(text) // 2)
    FROM base
    UNION ALL
    SELECT url, 3, 'image',
           'https://cdn' || c3 || '.example/t/' || doc_id || '.png'
    FROM base
    ORDER BY url, seq_idx"""


@query("interleaved_media", family="multimodal", oracle=_INTERLEAVED_ORACLE)
def q_interleaved_media(spark, sf_dir):
    """MMC4/OBELICS-style interleaved text+image sequences in document
    order over the figures corpus family: paragraphs as raw text,
    images as resolved best-source URLs, textless images dropped with
    gap-free re-indexing."""
    from mindocr_spark.functions.figures import interleaved_media
    from mindocr_spark.sources.pages import pages_from_documents_figures

    pages = pages_from_documents_figures(spark, sf_dir)
    return interleaved_media(pages).orderBy("url", "seq_idx")


_TEXTTILE_ORACLE = r"""
    WITH t AS (
      SELECT doc_id, text, length(text) // 8 AS q, length(text) AS n
      FROM documents),
    tiles AS (
      SELECT doc_id AS doc, 0 AS tid, substr(text, 1, q) AS tile FROM t
      UNION ALL SELECT doc_id, 1, substr(text, q + 1, q) FROM t
      UNION ALL SELECT doc_id, 2, substr(text, 2*q + 1, q) FROM t
      UNION ALL SELECT doc_id, 3, substr(text, 3*q + 1, q) FROM t
      UNION ALL SELECT doc_id, 4, substr(text, 4*q + 1, q) FROM t
      UNION ALL SELECT doc_id, 5, substr(text, 5*q + 1, q) FROM t
      UNION ALL SELECT doc_id, 6, substr(text, 6*q + 1, q) FROM t
      UNION ALL SELECT doc_id, 7, substr(text, 7*q + 1, n - 7*q)
        FROM t),
    tk AS (
      SELECT doc, tid,
             CASE WHEN trim(regexp_replace(tile,
                    '[ \t\n\r\f\x0B]+', ' ', 'g')) = ''
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split(trim(regexp_replace(tile,
                    '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ')
             END AS toks
      FROM tiles),
    tf AS (
      SELECT doc, tid, unnest(toks) AS token FROM tk),
    tfc AS (
      SELECT doc, tid, token, count(*) AS tf
      FROM tf GROUP BY doc, tid, token),
    gsp AS (
      SELECT d.doc_id AS doc, g.g
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN (SELECT unnest(generate_series(2, 6)) AS g) g),
    tfa AS (
      SELECT f.doc, s.g, f.token, sum(f.tf) AS tfa
      FROM tfc f JOIN gsp s
        ON s.doc = f.doc AND s.g - f.tid BETWEEN 1 AND 2
      GROUP BY f.doc, s.g, f.token),
    tfb AS (
      SELECT f.doc, s.g, f.token, sum(f.tf) AS tfb
      FROM tfc f JOIN gsp s
        ON s.doc = f.doc AND f.tid - s.g BETWEEN 0 AND 1
      GROUP BY f.doc, s.g, f.token),
    dots AS (
      SELECT a.doc, a.g, sum(a.tfa * b.tfb) AS dot
      FROM tfa a JOIN tfb b
        ON a.doc = b.doc AND a.g = b.g AND a.token = b.token
      GROUP BY a.doc, a.g),
    nna AS (
      SELECT doc, g, sum(tfa * tfa) AS na FROM tfa GROUP BY doc, g),
    nnb AS (
      SELECT doc, g, sum(tfb * tfb) AS nb FROM tfb GROUP BY doc, g),
    gaps AS (
      SELECT s.doc, s.g,
             coalesce(d.dot, 0) AS dot,
             coalesce(a.na, 0) AS na,
             coalesce(b.nb, 0) AS nb
      FROM gsp s
      LEFT JOIN dots d ON d.doc = s.doc AND d.g = s.g
      LEFT JOIN nna a ON a.doc = s.doc AND a.g = s.g
      LEFT JOIN nnb b ON b.doc = s.doc AND b.g = s.g),
    lagged AS (
      SELECT doc, g, dot, na, nb,
             lag(dot) OVER w AS pd, lag(na) OVER w AS pa,
             lag(nb) OVER w AS pb,
             lead(dot) OVER w AS nd, lead(na) OVER w AS xa,
             lead(nb) OVER w AS xb
      FROM gaps WINDOW w AS (PARTITION BY doc ORDER BY g))
    SELECT doc AS doc_id,
           CAST(g AS BIGINT) AS gap,
           CAST(dot AS BIGINT) AS dot,
           CAST(na AS BIGINT) AS na,
           CAST(nb AS BIGINT) AS nb,
           pd IS NOT NULL AND nd IS NOT NULL
           AND ((CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
                * CAST(pa AS DOUBLE)) * CAST(pb AS DOUBLE)
             < ((CAST(pd AS DOUBLE) * CAST(pd AS DOUBLE))
                * CAST(na AS DOUBLE)) * CAST(nb AS DOUBLE)
           AND ((CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
                * CAST(xa AS DOUBLE)) * CAST(xb AS DOUBLE)
             < ((CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE))
                * CAST(na AS DOUBLE)) * CAST(nb AS DOUBLE)
             AS is_boundary
    FROM lagged
    ORDER BY doc_id, gap"""


@query("texttile_segments", oracle=_TEXTTILE_ORACLE)
def q_texttile_segments(spark, sf_dir):
    """TextTiling valley-detection topic segmentation over 8
    equal-character tiles per document (w=2 blocks): exact BIGINT
    dot/norm evidence per gap, boundaries at strict local similarity
    minima via pinned-association cross-multiplied comparisons."""
    from mindocr_spark.functions.text import texttile_boundaries

    docs = _t(spark, sf_dir, "documents")
    return texttile_boundaries(docs, "text", "doc_id").orderBy(
        "doc_id", "gap")


def _staged_events_dir(sf_dir: str) -> str:
    """Idempotent file-stream staging for the events table: file
    sources need a DIRECTORY, so the single parquet file is copied once
    into a content-keyed fixture dir (the synth_warc_dir discipline —
    repeated driver/bench invocations reuse it instead of accumulating
    mkdtemp copies). The parquet lives under data/ so the fixture
    marker never enters the stream reader's glob."""
    import shutil

    from mindocr_spark.sources import content_keyed_fixture_dir

    def build(out_dir: str) -> None:
        import os

        os.makedirs(f"{out_dir}/data", exist_ok=True)
        shutil.copy(f"{sf_dir}/events.parquet",
                    f"{out_dir}/data/events.parquet")

    return content_keyed_fixture_dir(
        "mindocr_events_stream", sf_dir, (__file__,), build
    ) + "/data"


def _staged_docs_dir(sf_dir: str) -> str:
    """File-stream staging for the documents table (the
    _staged_events_dir discipline applied to the text corpus)."""
    import shutil

    from mindocr_spark.sources import content_keyed_fixture_dir

    def build(out_dir: str) -> None:
        import os

        os.makedirs(f"{out_dir}/data", exist_ok=True)
        shutil.copy(f"{sf_dir}/documents.parquet",
                    f"{out_dir}/data/documents.parquet")

    return content_keyed_fixture_dir(
        "mindocr_docs_stream", sf_dir, (__file__,), build
    ) + "/data"


@query("stream_text_embed", family="streaming",
       oracle="WITH " + _embed_vec_ctes("text") + """
            SELECT CAST(vec_id AS BIGINT) AS doc_id,
                   CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS pos,
                   unnest(v) AS val
            FROM embv ORDER BY doc_id, pos
        """)
def q_stream_text_embed(spark, sf_dir):
    """The in-engine embedder on the STREAMING path: documents
    replayed as a file stream, `text_embed_cols` applied per
    micro-batch (stateless narrow stages — append mode, no state
    store), drained via availableNow into the memory sink. Answers
    the IDENTICAL batch oracle as `text_embed`: the embedder is
    bit-stable across the batch/streaming boundary, so incremental
    ingestion can embed as it lands (the dedup-log / WAP composition
    point for continuous curation)."""
    import uuid

    from mindocr_spark.functions.embed import text_embed_cols
    from mindocr_spark.streaming.windows import drain_to_memory

    _ensure_worker_imports(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_staged_docs_dir(sf_dir))
    )
    emb = text_embed_cols(stream)
    tall = emb.select(
        "doc_id", F.posexplode("embedding").alias("pos", "val")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "val")
    out = drain_to_memory(
        tall, f"semb_{uuid.uuid4().hex[:12]}", "append")
    return out.orderBy("doc_id", "pos")


_STREAM_SESSION_ORACLE = """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      -- the cumsum window must use the SAME (ts, event_id) total
      -- order as brk: ts-only peer order is unspecified and could
      -- split a tied pair across a session boundary
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 1800 SECOND AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start"""


@query("stream_session_windows", family="streaming",
       oracle=_STREAM_SESSION_ORACLE)
def q_stream_session_windows(spark, sf_dir):
    """Native STREAMING session windows run through the driver
    contract: events replayed as a file stream (one file per
    micro-batch), per-user `F.session_window` aggregation with a
    30-minute gap, drained via availableNow into the memory sink and
    returned as the batch result — proving Spark's session-window
    state merging equals the batch lag/cumsum sessionization the
    oracle computes. Complete output mode so the final open sessions
    (still inside the watermark at end-of-input) are emitted too."""
    import uuid

    from mindocr_spark.streaming.windows import (
        drain_to_memory,
        read_events_stream,
        session_windows_stream,
    )

    _ensure_worker_imports(spark)
    stream = read_events_stream(
        spark, _staged_events_dir(sf_dir), max_files=1)
    sessions = session_windows_stream(stream)
    out = drain_to_memory(
        sessions, f"sess_{uuid.uuid4().hex[:12]}", "complete"
    )
    return out.orderBy("user_id", "session_start")


_RFM_ORACLE = """
    WITH pu AS (
      SELECT user_id,
             max(date_diff('second',
                 TIMESTAMP '1970-01-01 00:00:00', ts)) AS last_ep,
             CAST(count(*) AS BIGINT) AS frequency,
             SUM(CAST(round(CAST(value AS DOUBLE), 9)
                      AS DECIMAL(28,9))) AS mon_dec
      FROM events GROUP BY user_id),
    base AS (
      SELECT user_id,
             (SELECT max(last_ep) FROM pu) - last_ep AS recency_s,
             frequency, mon_dec
      FROM pu),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY recency_s ASC, user_id ASC)
               AS rr,
             row_number() OVER (ORDER BY frequency DESC, user_id ASC)
               AS rf,
             row_number() OVER (ORDER BY mon_dec DESC, user_id ASC)
               AS rm,
             count(*) OVER () AS nu
      FROM base)
    SELECT user_id,
           CAST(recency_s AS BIGINT) AS recency_s,
           frequency,
           CAST(mon_dec AS DOUBLE) AS monetary,
           CAST(5 - ((rr - 1) * 5) // nu AS BIGINT) AS r_score,
           CAST(5 - ((rf - 1) * 5) // nu AS BIGINT) AS f_score,
           CAST(5 - ((rm - 1) * 5) // nu AS BIGINT) AS m_score,
           (5 - ((rr - 1) * 5) // nu) || '-'
             || (5 - ((rf - 1) * 5) // nu) || '-'
             || (5 - ((rm - 1) * 5) // nu) AS segment
    FROM ranked ORDER BY user_id"""


@query("rfm_segments", oracle=_RFM_ORACLE)
def q_rfm_segments(spark, sf_dir):
    """RFM behavioral segmentation over the events stream: exact
    integer rank-binning (never ntile — engine-defined tie placement),
    DECIMAL-exact monetary sums, 5 = best on every axis."""
    from mindocr_spark.functions.traffic import rfm_scores

    return rfm_scores(_t(spark, sf_dir, "events")).orderBy("user_id")


def _sketch_ks_oracle() -> str:
    from mindocr_spark.functions.sketches import dd_thresholds

    th_vals = ", ".join(f"({t})" for t in dd_thresholds())
    return f"""
        WITH th(t) AS (VALUES {th_vals}),
        b AS (
          SELECT lang,
                 doc_id % 2 = 1 AS half,
                 (SELECT count(*) FROM th WHERE th.t <= d.n_chars)
                   AS bucket
          FROM documents d),
        sk AS (
          SELECT lang, half, bucket, count(*) AS cnt
          FROM b GROUP BY lang, half, bucket),
        spine AS (SELECT DISTINCT lang, bucket FROM sk),
        j AS (
          SELECT s.lang, s.bucket,
                 coalesce(a.cnt, 0) AS ca,
                 coalesce(bb.cnt, 0) AS cb
          FROM spine s
          LEFT JOIN sk a ON a.lang = s.lang AND a.bucket = s.bucket
                        AND NOT a.half
          LEFT JOIN sk bb ON bb.lang = s.lang AND bb.bucket = s.bucket
                         AND bb.half),
        cum AS (
          SELECT lang, bucket,
                 sum(ca) OVER (PARTITION BY lang ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) AS cuma,
                 sum(cb) OVER (PARTITION BY lang ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) AS cumb
          FROM j),
        tot AS (
          SELECT lang, sum(ca) AS na, sum(cb) AS nb
          FROM j GROUP BY lang),
        d AS (
          SELECT c.lang, t.na, t.nb,
                 max(abs(c.cuma * t.nb - c.cumb * t.na)) AS d_num
          FROM cum c JOIN tot t ON c.lang = t.lang
          GROUP BY c.lang, t.na, t.nb)
        SELECT lang,
               CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b,
               CAST(d_num AS BIGINT) AS d_num,
               CASE WHEN na > 0 AND nb > 0 THEN
                 CAST(d_num AS DOUBLE) / CAST(na * nb AS DOUBLE)
               END AS ks_d,
               CASE WHEN na > 0 AND nb > 0 THEN
                 10 * d_num > na * nb
               END AS drifted
        FROM d ORDER BY lang"""


@query("sketch_ks_drift", family="sketches", oracle=_sketch_ks_oracle())
def q_sketch_ks_drift(spark, sf_dir):
    """KS drift measured ON DDSketch states (doc_id-parity halves of
    each language's length distribution): the scale-true monitoring
    form — at 10^12 rows you KS the persisted mergeable sketches, not
    the raw values. D's argmax and the drift verdict are exact integer
    arithmetic; only the reported D is one pinned division."""
    from mindocr_spark.functions.sketches import sketch_ks_drift

    docs = _t(spark, sf_dir, "documents")
    return sketch_ks_drift(
        docs, "lang", "n_chars", F.pmod(F.col("doc_id"), F.lit(2)) == 1
    ).orderBy("lang")


def _hll_oracle() -> str:
    from mindocr_spark.functions.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_RANK_BITS,
    )

    rb = HLL_RANK_BITS
    mask = (1 << rb) - 1
    alpha_m2 = repr(HLL_ALPHA * HLL_M * HLL_M)
    return f"""
        WITH vals AS (
          SELECT DISTINCT event_type AS g,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                 1, 8))::BIGINT AS h
          FROM events WHERE user_id IS NOT NULL),
        jr AS (
          SELECT g, h // {1 << rb} AS j,
                 CASE WHEN (h & {mask}) = 0 THEN {rb + 1}
                      ELSE {rb} - length(bin(h & {mask})) + 1
                 END AS rank
          FROM vals),
        regs AS (
          SELECT g, j, max(rank) AS m_j FROM jr GROUP BY g, j),
        per_g AS (
          SELECT g, max(m_j) AS max_rank, count(*) AS n_regs
          FROM regs GROUP BY g),
        socc AS (
          SELECT r.g,
                 sum((CAST(1 AS BIGINT) << CAST(p.max_rank - r.m_j
                                                AS INT))) AS s_occ
          FROM regs r JOIN per_g p ON r.g = p.g
          GROUP BY r.g),
        ex AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n_exact
          FROM vals GROUP BY g),
        fin AS (
          SELECT p.g, ex.n_exact,
                 CAST(s.s_occ + ({HLL_M} - p.n_regs)
                      * (CAST(1 AS BIGINT) << CAST(p.max_rank AS INT))
                      AS BIGINT) AS s_int,
                 CAST(p.max_rank AS BIGINT) AS max_rank,
                 CAST({HLL_M} - p.n_regs AS BIGINT) AS v_empty
          FROM per_g p JOIN socc s ON p.g = s.g
          JOIN ex ON ex.g = p.g)
        SELECT g AS event_type, n_exact, s_int, max_rank, v_empty,
               {alpha_m2} * pow(CAST(2.0 AS DOUBLE),
                                CAST(max_rank AS DOUBLE))
                 / CAST(s_int AS DOUBLE) AS hll_estimate,
               abs({alpha_m2} * pow(CAST(2.0 AS DOUBLE),
                                    CAST(max_rank AS DOUBLE))
                   / CAST(s_int AS DOUBLE)
                   - CAST(n_exact AS DOUBLE))
                 / CAST(n_exact AS DOUBLE) AS abs_rel_err
        FROM fin ORDER BY event_type"""


@query("hll_distinct", family="sketches", oracle=_hll_oracle())
def q_hll_distinct(spark, sf_dir):
    """From-scratch HyperLogLog over distinct users per event type:
    md5-prefix hash → 64 registers whose state (S, R, V) is
    bit-checkable cross-engine; the estimate is one pinned division of
    exact operands. The sketch that Spark's built-in HLL++ can never
    oracle, rebuilt so it can."""
    from mindocr_spark.functions.sketches import hll_distinct

    return hll_distinct(
        _t(spark, sf_dir, "events"), "event_type", "user_id"
    ).orderBy("event_type")


_BURST_WINDOWS_ORACLE = """
    WITH e AS (
      SELECT user_id, ts,
             date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS ep
      FROM events),
    c AS (
      SELECT user_id, ts, ep,
             count(*) OVER (PARTITION BY user_id ORDER BY ep
                            RANGE BETWEEN CURRENT ROW
                                  AND 3599 FOLLOWING) AS n
      FROM e)
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS peak,
           max_by(ts, n * 4294967296 + (4294967296 - ep)) AS peak_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM c GROUP BY user_id
    ORDER BY user_id"""


@query("burst_windows", oracle=_BURST_WINDOWS_ORACLE)
def q_burst_windows(spark, sf_dir):
    """Peak sliding 1-hour request rate per user (the anchored-window
    burst metric the tumbling twin halves at boundaries): one RANGE
    window over integer epoch seconds, deterministic earliest-peak
    anchor via an exact integer priority."""
    from mindocr_spark.functions.traffic import burst_windows

    return burst_windows(_t(spark, sf_dir, "events")).orderBy("user_id")


#: GSP support floor for the contract query — chosen to actually prune
#: (≈ 2/5 of the sf0.01 user base), while the algorithm itself takes
#: any floor ≥ 1.
_GSP_MIN_SUPPORT = 60


def _gsp_oracle(ms: int = _GSP_MIN_SUPPORT) -> str:
    """Twin of `traffic.gsp_patterns`: same rank envelopes, same
    witness rules (a▸b ⟺ min_r(a) < max_r(b); a▸b▸c ⟺ ∃ b-occurrence
    strictly inside (min_r(a), max_r(c))), same three-way prune."""
    return f"""
        WITH ranked AS (
          SELECT user_id, event_type,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS r
          FROM events),
        env AS (
          SELECT user_id, event_type,
                 min(r) AS min_r, max(r) AS max_r
          FROM ranked GROUP BY user_id, event_type),
        pairs AS (
          SELECT a.event_type AS t1, b.event_type AS t2,
                 count(DISTINCT a.user_id) AS support
          FROM env a
          JOIN env b ON a.user_id = b.user_id AND a.min_r < b.max_r
          GROUP BY a.event_type, b.event_type
          HAVING count(DISTINCT a.user_id) >= {ms}),
        cand3 AS (
          SELECT p1.t1 AS ca, p1.t2 AS cb, p2.t2 AS cc
          FROM pairs p1 JOIN pairs p2 ON p1.t2 = p2.t1
          WHERE EXISTS (SELECT 1 FROM pairs p3
                        WHERE p3.t1 = p1.t1 AND p3.t2 = p2.t2)),
        triples AS (
          -- drive from candidates × per-user envelopes (bounded at
          -- |cand3|·users) and probe the big ranked relation with an
          -- EXISTS semi-join: stating this as plain 4-way joins lets
          -- the planner defer the cross-CTE type-equality predicates
          -- and materialize ranked × env (measured: 74 GB of DuckDB
          -- spill at sf1)
          SELECT c.ca, c.cb, c.cc, count(*) AS support
          FROM cand3 c
          JOIN env ea ON ea.event_type = c.ca
          JOIN env ec ON ec.event_type = c.cc
                     AND ec.user_id = ea.user_id
          WHERE EXISTS (
            SELECT 1 FROM ranked m
            WHERE m.user_id = ea.user_id AND m.event_type = c.cb
              AND m.r > ea.min_r AND m.r < ec.max_r)
          GROUP BY c.ca, c.cb, c.cc
          HAVING count(*) >= {ms})
        SELECT t1 || '>' || t2 AS pattern,
               CAST(2 AS BIGINT) AS k,
               CAST(support AS BIGINT) AS support
        FROM pairs
        UNION ALL
        SELECT ca || '>' || cb || '>' || cc,
               CAST(3 AS BIGINT), CAST(support AS BIGINT)
        FROM triples
        ORDER BY k, pattern"""


@query("gsp_patterns", oracle=_gsp_oracle())
def q_gsp_patterns(spark, sf_dir):
    """GSP frequent sequential patterns (length 2 + 3, non-contiguous,
    user-grain support) over the events stream: rank-envelope support
    semantics on the (ts, event_id) total order, antimonotone
    candidate pruning, broadcast candidate verification."""
    from mindocr_spark.functions.traffic import gsp_patterns

    return gsp_patterns(
        _t(spark, sf_dir, "events"), min_support=_GSP_MIN_SUPPORT
    ).orderBy("k", "pattern")


def _ddsketch_oracle() -> str:
    """Twin of `sketches.ddsketch_quantiles`: the same integer
    threshold ladder inlined as VALUES, bucket = count of thresholds
    ≤ value, exact rational ranks via integer division, and the same
    bracketing-bucket selection — no libm anywhere."""
    from mindocr_spark.functions.sketches import dd_thresholds

    ts = dd_thresholds()
    th_vals = ", ".join(f"({t})" for t in ts)
    lo = [0] + ts[:-1]
    hi = [t - 1 for t in ts]
    tk_vals = ", ".join(
        f"({k}, {lo[k]}, {hi[k]})" for k in range(len(ts))
    )
    return f"""
        WITH th(t) AS (VALUES {th_vals}),
        tk(k, lo, hi) AS (VALUES {tk_vals}),
        qs(q_num, q_den) AS (VALUES (1, 2), (9, 10), (99, 100)),
        b AS (
          SELECT lang,
                 (SELECT count(*) FROM th WHERE th.t <= d.n_chars)
                   AS bucket
          FROM documents d),
        sk AS (
          SELECT lang, bucket, count(*) AS cnt
          FROM b GROUP BY lang, bucket),
        cum AS (
          SELECT lang, bucket,
                 sum(cnt) OVER (PARTITION BY lang ORDER BY bucket)
                   AS cum,
                 sum(cnt) OVER (PARTITION BY lang) AS n
          FROM sk),
        rq AS (
          SELECT g.lang, q.q_num, q.q_den,
                 (q.q_num * g.n + q.q_den - 1) // q.q_den AS r
          FROM (SELECT DISTINCT lang, n FROM cum) g CROSS JOIN qs q),
        chosen AS (
          SELECT rq.lang, rq.q_num, rq.q_den, rq.r,
                 min(c.bucket) AS bucket
          FROM rq JOIN cum c
            ON c.lang = rq.lang AND c.cum >= rq.r
          GROUP BY rq.lang, rq.q_num, rq.q_den, rq.r),
        ordered AS (
          SELECT lang, n_chars AS val,
                 row_number() OVER (PARTITION BY lang ORDER BY n_chars)
                   AS rn
          FROM documents)
        SELECT ch.lang AS lang,
               CAST(ch.q_num AS DOUBLE) / ch.q_den AS q,
               CAST(ch.bucket AS BIGINT) AS bucket,
               CAST(tk.lo AS BIGINT) AS est_lo,
               CAST(tk.hi AS BIGINT) AS est_hi,
               CAST(o.val AS BIGINT) AS exact_val,
               o.val BETWEEN tk.lo AND tk.hi AS in_bounds
        FROM chosen ch
        JOIN tk ON tk.k = ch.bucket
        JOIN ordered o ON o.lang = ch.lang AND o.rn = ch.r
        ORDER BY lang, q"""


@query("ddsketch_quantiles", family="sketches", oracle=_ddsketch_oracle())
def q_ddsketch_quantiles(spark, sf_dir):
    """DDSketch mergeable relative-error quantiles (median / p90 / p99
    of document length per language) with the exact-integer threshold
    ladder — the sketch is the (lang, bucket) count table, quantiles
    come off the cumulative sketch, and the exact order statistic rides
    along as the checkable guarantee column."""
    from mindocr_spark.functions.sketches import ddsketch_quantiles

    docs = _t(spark, sf_dir, "documents")
    return ddsketch_quantiles(docs, "lang", "n_chars").orderBy("lang", "q")


def _bowtie_oracle() -> str:
    """Twin of `links.bowtie_classes` over the bow-tie corpus family:
    edges rebuilt from doc_id%23 slot arithmetic (no HTML parsing),
    the same max-min-degree pivot rule, and each reachability closure
    as a recursive CTE (DuckDB recursive CTEs only allow UNION between
    branches — intersections/differences are IN / NOT IN rewrites)."""
    from mindocr_spark.sources.pages import BOWTIE_SLOTS

    vals = ", ".join(
        f"({i}, '{s}', '{d}')" for i, (s, d) in enumerate(BOWTIE_SLOTS)
    )
    return f"""
        WITH RECURSIVE
        slots(r, src_l, dst_l) AS (VALUES {vals}),
        e0 AS (
          SELECT
            CASE WHEN src_l LIKE 'c%'
                 THEN 'core' || substr(src_l, 2) || '.example'
                 ELSE d.source || '-' || src_l || '.example'
            END AS src,
            CASE WHEN dst_l LIKE 'c%'
                 THEN 'core' || substr(dst_l, 2) || '.example'
                 ELSE d.source || '-' || dst_l || '.example'
            END AS dst
          FROM documents d
          JOIN slots s ON (d.doc_id % 23) = s.r),
        g AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),
        nodes AS (
          SELECT DISTINCT dom FROM (
            SELECT src AS dom FROM g UNION ALL SELECT dst FROM g)),
        deg AS (
          SELECT n.dom,
                 (SELECT count(*) FROM g WHERE g.src = n.dom) AS outd,
                 (SELECT count(*) FROM g WHERE g.dst = n.dom) AS ind
          FROM nodes n),
        piv AS (
          SELECT dom FROM deg
          ORDER BY LEAST(ind, outd) DESC, dom ASC LIMIT 1),
        fwd(dom) AS (
          SELECT dom FROM piv
          UNION SELECT g.dst FROM g JOIN fwd ON g.src = fwd.dom),
        bwd(dom) AS (
          SELECT dom FROM piv
          UNION SELECT g.src FROM g JOIN bwd ON g.dst = bwd.dom),
        scc AS (
          SELECT dom FROM fwd WHERE dom IN (SELECT dom FROM bwd)),
        inn AS (
          SELECT dom FROM bwd
          WHERE dom NOT IN (SELECT dom FROM scc)),
        outt AS (
          SELECT dom FROM fwd
          WHERE dom NOT IN (SELECT dom FROM scc)),
        rin(dom) AS (
          SELECT dom FROM inn
          UNION SELECT g.dst FROM g JOIN rin ON g.src = rin.dom),
        rout(dom) AS (
          SELECT dom FROM outt
          UNION SELECT g.src FROM g JOIN rout ON g.dst = rout.dom)
        SELECT n.dom AS domain,
          CASE WHEN n.dom IN (SELECT dom FROM scc) THEN 'core'
               WHEN n.dom IN (SELECT dom FROM inn) THEN 'in'
               WHEN n.dom IN (SELECT dom FROM outt) THEN 'out'
               WHEN n.dom IN (SELECT dom FROM rin)
                    AND n.dom IN (SELECT dom FROM rout) THEN 'tube'
               WHEN n.dom IN (SELECT dom FROM rin)
                    OR n.dom IN (SELECT dom FROM rout) THEN 'tendril'
               ELSE 'disconnected' END AS cls
        FROM nodes n ORDER BY domain"""


@query("bowtie_structure", family="graph", oracle=_bowtie_oracle())
def q_bowtie_structure(spark, sf_dir):
    """Broder bow-tie decomposition over the BOWTIE corpus family: a
    shared 5-node core SCC (cycle + chords) with per-source IN / OUT /
    tendril / tube / disconnected periphery, every edge drawn by
    doc_id%23 slot arithmetic. Deterministic max-min-degree pivot, four
    checkpointed frontier closures, per-domain class — the oracle
    replays the same pivot rule and closures as recursive CTEs."""
    from mindocr_spark.functions.links import bowtie_classes, extract_links
    from mindocr_spark.sources.pages import pages_from_documents_bowtie

    edges = extract_links(pages_from_documents_bowtie(spark, sf_dir))
    return bowtie_classes(edges).orderBy("domain")


@query("hits_scores", family="graph", oracle=_hits_oracle(iters=3))
def q_hits_scores(spark, sf_dir):
    """HITS hubs/authorities over the extracted domain graph: 3
    alternating L1-normalized half-steps; every reduction is an exact
    DECIMAL sum of 9-dp-quantized terms, so the oracle match is
    bit-exact without sorted folds."""
    from mindocr_spark.functions.links import domain_hits, extract_links
    from mindocr_spark.sources.pages import pages_from_documents_linked

    edges = extract_links(pages_from_documents_linked(spark, sf_dir))
    return domain_hits(edges, iters=3).orderBy("domain")


@query("anchor_text", oracle=r"""
            WITH v(i, w) AS (VALUES
                (0,'tutorial'),(1,'reference'),(2,'handbook'),(3,'primer'),
                (4,'manual'),(5,'roadmap'),(6,'compendium'),(7,'cookbook')),
            chrome(anchor) AS (VALUES
                ('Home'),('Products'),('About'),('Contact'),
                ('related reading one'),('related reading two'),
                ('Terms'),('Privacy')),
            a AS (
              SELECT 'docs.example' AS dst_domain, chrome.anchor, doc_id
              FROM documents CROSS JOIN chrome
              UNION ALL
              SELECT 'mirror' || CAST(doc_id % 7 AS VARCHAR) || '.example',
                     v.w, doc_id
              FROM documents JOIN v ON v.i = doc_id % 8
              UNION ALL
              SELECT 'docs.example', 'official ' || v.w, doc_id
              FROM documents JOIN v ON v.i = (doc_id + 3) % 8)
            SELECT dst_domain, anchor,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
            FROM a GROUP BY dst_domain, anchor
            ORDER BY dst_domain, anchor
        """)
def q_anchor_text(spark, sf_dir):
    """Anchor-text corpus: extract every plain-text <a href>…</a> with
    its visible text from raw HTML (ONE regexp_extract_all scan pass
    keeps href and text together), resolve against the page URL, and
    aggregate the inbound (dst_domain, anchor) profile — what the web
    *calls* each target, the classic search/corpus relevance signal.
    The oracle never parses HTML: it reproduces the full joint
    distribution (chrome anchors + the cite block's vocab arithmetic)
    from the untouched documents table."""
    from mindocr_spark.functions.links import (
        anchor_text_profile,
        extract_anchors,
    )
    from mindocr_spark.sources.pages import pages_from_documents_anchored

    pages = pages_from_documents_anchored(spark, sf_dir)
    return anchor_text_profile(extract_anchors(pages)).orderBy(
        "dst_domain", "anchor"
    )


@query("page_metadata", oracle=r"""
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   CASE WHEN doc_id % 5 = 2 THEN ''
                        ELSE 'Document ' || CAST(doc_id AS VARCHAR)
                             || ' from ' || source || ' in ' || lang
                   END AS description,
                   CASE WHEN doc_id % 4 = 0 THEN NULL
                        ELSE 'https://docs.example/d/'
                             || CAST(doc_id - 1 AS VARCHAR)
                   END AS canonical_url
            FROM documents ORDER BY url
        """)
def q_page_metadata(spark, sf_dir):
    """Head-metadata extraction: title / meta-description /
    rel=canonical out of raw HTML in three codegen regex passes over
    one scan. The oracle re-derives the planted description quota and
    canonical pointers from doc_id arithmetic without parsing HTML."""
    from mindocr_spark.functions.links import page_metadata
    from mindocr_spark.sources.pages import pages_from_documents_meta

    return page_metadata(pages_from_documents_meta(spark, sf_dir)).orderBy(
        "url"
    )


@query("redirect_resolve", oracle=r"""
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   'https://docs.example/d/'
                     || CAST(doc_id - doc_id % 4 AS VARCHAR) AS final_url,
                   CAST(doc_id % 4 AS BIGINT) AS n_hops
            FROM documents ORDER BY url
        """)
def q_redirect_resolve(spark, sf_dir):
    """rel=canonical chain resolution by POINTER DOUBLING: chains up
    to 2^k hops resolve in k self-joins instead of one corpus-sized
    shuffle per hop. The meta corpus plants chains of length 0-3
    (doc d → d-1 while d%4 != 0), so the oracle's closed form is
    final = d - d%4 at d%4 hops — the engines agree only if
    extraction, the doubling composition, AND the hop accounting are
    all right."""
    from mindocr_spark.functions.links import (
        page_metadata,
        resolve_canonical_chains,
    )
    from mindocr_spark.sources.pages import pages_from_documents_meta

    meta = page_metadata(pages_from_documents_meta(spark, sf_dir))
    return resolve_canonical_chains(meta, max_hops=8).orderBy("url")


#: dup_survivor's planted spam tail — stopword-free so the degraded
#: copy's stop_ratio drops strictly below the original's.
_SPAM_SUFFIX = " $$$ click here buy now limited offer deal $$$"


@query("substring_dedup", family="dedup", oracle=r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000, substr(text, 1, 150)
              FROM documents WHERE doc_id % 5 = 2 AND length(text) >= 150),
            pos AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text) - 39, 0)))
                       AS i
              FROM corpus),
            g AS (
              SELECT DISTINCT doc_id, md5(substr(text, i, 40)) AS gh
              FROM pos WHERE substr(md5(substr(text, i, 40)), 1, 1) = '0'),
            stats AS (
              SELECT gh, min(doc_id) AS g_min, count(*) AS g_n
              FROM g GROUP BY gh),
            per AS (
              SELECT g.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN s.g_n > 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_shared_grams,
                     bool_or(s.g_n > 1 AND s.g_min < g.doc_id) AS is_dup
              FROM g JOIN stats s USING (gh) GROUP BY g.doc_id)
            SELECT c.doc_id,
                   coalesce(p.n_grams, 0) AS n_grams,
                   coalesce(p.n_shared_grams, 0) AS n_shared_grams,
                   coalesce(p.is_dup, FALSE) AS is_dup
            FROM corpus c LEFT JOIN per p USING (doc_id)
            ORDER BY doc_id
        """)
def q_substring_dedup(spark, sf_dir):
    """Exact-substring dedup (the suffix-array family): content-defined
    1/16 sample of character 40-grams, min-id survivor rule. The
    corpus plants 'quote' docs — exact 150-char excerpts of earlier
    docs — which must flag as duplicates while their sources stay
    survivors; the oracle recomputes the identical sample in SQL."""
    from mindocr_spark.functions.dedup import substring_dup_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = docs.where(
        (F.pmod("doc_id", F.lit(5)) == 2) & (F.length("text") >= 150)
    ).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.substring("text", 1, 150).alias("text"),
    )
    return substring_dup_flags(docs.unionAll(quotes), k=40).orderBy(
        "doc_id"
    )


@query("dup_survivor", family="dedup", oracle=r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     text || '__SPAM_SUFFIX__'
              FROM documents WHERE doc_id % 6 = 0),
            qf AS (
              SELECT doc_id,
                     CASE WHEN trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')),' '))
                     END AS nt,
                     len(regexp_extract_all(text, '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b')) AS sh
              FROM corpus),
            q AS (
              SELECT doc_id,
                     coalesce(round(CAST(sh AS DOUBLE)
                              / CAST(nullif(nt, 0) AS DOUBLE), 6), 0.0) AS sr
              FROM qf),
            keyed AS (
              SELECT c.doc_id, md5(substr(c.text, 1, 200)) AS cluster_key,
                     q.sr
              FROM corpus c JOIN q USING (doc_id)),
            best AS (
              SELECT cluster_key, CAST(count(*) AS BIGINT) AS cluster_size,
                     min({'nq': 1.0 - sr, 'i': doc_id}) AS b
              FROM keyed GROUP BY cluster_key)
            SELECT k.doc_id, k.cluster_key, b.cluster_size,
                   struct_extract(b.b, 'i') AS survivor_id,
                   struct_extract(b.b, 'i') = k.doc_id AS is_survivor
            FROM keyed k JOIN best b USING (cluster_key)
            ORDER BY doc_id
        """.replace("__SPAM_SUFFIX__", _SPAM_SUFFIX))
def q_dup_survivor(spark, sf_dir):
    """Quality-aware survivor selection over prefix-fingerprint
    clusters: degraded near-copies (original text + a stopword-free
    spam tail) share the original's 200-char prefix, and the KEPT doc
    per cluster is the highest-stop_ratio member (tie: min id) — the
    curation-grade 'keep the cleanest copy' policy, as a struct-MIN
    aggregate both engines order field-wise."""
    from mindocr_spark.functions.dedup import prefix_dup_survivors

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spam = docs.where(F.pmod("doc_id", F.lit(6)) == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(_SPAM_SUFFIX)).alias("text"),
    )
    return prefix_dup_survivors(
        docs.unionAll(spam), prefix_chars=200
    ).orderBy("doc_id")


#: editdist_verify's planted tails (shared constants — the oracle
#: appends the identical bytes). NEAR (27 chars) flips is_dup at
#: len ≥ 243 (mixed verdicts over this corpus's 48–553 range); FAR
#: (86 chars) needs len ≥ 774, so every FAR pair is a REJECTED
#: candidate — the case a verify stage exists for.
_EDV_NEAR_TAIL = " near duplicate copy marker"
_EDV_FAR_TAIL = (
    " unrelated appended promotional boilerplate block"
    " entirely different trailing content"
)


def _editdist_verify_oracle() -> str:
    """Full-mirror twin: identical variant planting, identical md5
    prefix blocking + size cap, and DuckDB's own levenshtein() over
    the same pair texts — the verdict inequality is pure integers."""
    return f"""
        WITH base AS (SELECT doc_id, text FROM documents),
        near AS (
          SELECT doc_id + 2000000 AS doc_id,
                 text || '{_EDV_NEAR_TAIL}' AS text
          FROM base WHERE doc_id % 6 = 1 AND length(text) >= 100),
        far AS (
          SELECT doc_id + 3000000 AS doc_id,
                 text || '{_EDV_FAR_TAIL}' AS text
          FROM base WHERE doc_id % 6 = 3 AND length(text) >= 100),
        corpus AS (
          SELECT * FROM base
          UNION ALL SELECT * FROM near
          UNION ALL SELECT * FROM far),
        keyed AS (
          SELECT doc_id, text, md5(substr(text, 1, 64)) AS k
          FROM corpus),
        small AS (
          SELECT k FROM keyed GROUP BY k HAVING COUNT(*) <= 8),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.text AS ta, b.text AS tb
          FROM keyed a
          JOIN small s ON a.k = s.k
          JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
               CAST(greatest(length(ta), length(tb)) AS BIGINT)
                 AS max_len,
               10 * (greatest(length(ta), length(tb))
                     - levenshtein(ta, tb))
                 >= 9 * greatest(length(ta), length(tb)) AS is_dup
        FROM pairs
        ORDER BY doc_a, doc_b
    """


@query("editdist_verify", oracle=_editdist_verify_oracle())
def q_editdist_verify(spark, sf_dir):
    """Exact edit-distance verification of prefix-blocked near-dup
    candidates: variants share a 64-char prefix with their source
    (tails appended at the end), so blocking recovers them; the
    Levenshtein stage then accepts/rejects by integer-exact
    normalized similarity ≥ 0.9. The oracle recomputes blocking,
    pairing, and levenshtein() itself in SQL."""
    from mindocr_spark.functions.dedup import editdist_verify

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.where(
        (F.pmod("doc_id", F.lit(6)) == 1) & (F.length("text") >= 100)
    ).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat("text", F.lit(_EDV_NEAR_TAIL)).alias("text"),
    )
    far = docs.where(
        (F.pmod("doc_id", F.lit(6)) == 3) & (F.length("text") >= 100)
    ).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat("text", F.lit(_EDV_FAR_TAIL)).alias("text"),
    )
    corpus = docs.unionAll(near).unionAll(far)
    return editdist_verify(
        corpus, prefix_chars=64, max_block=8
    ).orderBy("doc_a", "doc_b")


def _domain_prior_gate_oracle() -> str:
    """Full-mirror twin: identical planting arithmetic, junk counts
    via the shared [$#] class, and the integer prior rule restated."""
    return f"""
        WITH planted AS (
          SELECT doc_id, source,
                 CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1)
                             AS INT) % 2 = 1
                       AND doc_id % 2 = 0
                      THEN text || '{_SPAM_SUFFIX}' ELSE text END AS text
          FROM documents),
        feat AS (
          SELECT doc_id, source AS domain,
                 CAST(len(regexp_extract_all(text, '[$#]')) AS BIGINT)
                   AS n_junk
          FROM planted),
        f2 AS (
          SELECT doc_id, domain, n_junk, n_junk >= 4 AS doc_spammy
          FROM feat),
        dom AS (
          SELECT domain,
                 COUNT(*) AS dom_docs,
                 CAST(SUM(CASE WHEN doc_spammy THEN 1 ELSE 0 END)
                      AS BIGINT) AS dom_spammy
          FROM f2 GROUP BY domain)
        SELECT f2.doc_id, f2.domain, f2.n_junk, f2.doc_spammy,
               dom.dom_docs, dom.dom_spammy,
               5 * dom.dom_spammy < dom.dom_docs AS domain_pass,
               (5 * dom.dom_spammy < dom.dom_docs)
                 AND NOT f2.doc_spammy AS keep
        FROM f2 JOIN dom ON f2.domain = dom.domain
        ORDER BY f2.doc_id
    """


@query("domain_prior_gate", oracle=_domain_prior_gate_oracle())
def q_domain_prior_gate(spark, sf_dir):
    """Two-level domain-prior gating: odd-numbered sources play spam
    farms (the _SPAM_SUFFIX junk tail lands on their even doc_ids, so
    half their docs carry ≥4 junk symbols), the domain verdict is the
    all-integer 'spammy fraction < 1/5' rule, and keep = domain_pass ∧
    ¬doc_spammy — a clean doc on a spam farm is dropped by
    association, the semantics a per-doc gate can't express."""
    from mindocr_spark.curate import domain_prior_gate

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    bad_src = (
        F.regexp_extract("source", r"([0-9]+)$", 1).cast("int")
        % 2 == 1
    )
    planted = docs.withColumn(
        "text",
        F.when(
            bad_src & (F.pmod("doc_id", F.lit(2)) == 0),
            F.concat("text", F.lit(_SPAM_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    return domain_prior_gate(planted).orderBy("doc_id")


#: para_lang_segments' planted minority-language paragraphs (shared
#: constants — the oracle appends the identical bytes). Pure-script
#: bodies so each paragraph's argmax class is unambiguous.
_PLS_CYR = "привет мир данные по-русски текст абзац"
_PLS_CJK = "中文段落内容测试数据流"


def _para_lang_segments_oracle() -> str:
    """Full-mirror twin: identical planting, split on blank lines,
    per-SCRIPT_CLASSES counts, first-class-wins argmax."""
    from mindocr_spark.functions.text import SCRIPT_CLASSES

    cnt = {
        name: f"len(regexp_extract_all(para, '{cls}'))"
        for name, cls in SCRIPT_CLASSES
    }
    mx = "greatest({})".format(", ".join(cnt.values()))
    case = " ".join(
        f"WHEN {cnt[name]} = {mx} THEN '{name}'"
        for name, _ in SCRIPT_CLASSES
    )
    return f"""
        WITH planted AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 3 = 0
                         THEN chr(10) || chr(10) || '{_PLS_CYR}'
                         ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                         THEN chr(10) || chr(10) || '{_PLS_CJK}'
                         ELSE '' END AS text
          FROM documents),
        paras AS (
          SELECT doc_id,
                 unnest(string_split(text, chr(10) || chr(10)))
                   AS para,
                 generate_subscripts(
                   string_split(text, chr(10) || chr(10)), 1) - 1
                   AS para_idx
          FROM planted)
        SELECT doc_id,
               CAST(para_idx AS BIGINT) AS para_idx,
               CAST(length(para) AS BIGINT) AS n_chars,
               CASE WHEN {mx} = 0 THEN 'none' {case} END
                 AS main_script
        FROM paras
        ORDER BY doc_id, para_idx
    """


@query("para_lang_segments", oracle=_para_lang_segments_oracle())
def q_para_lang_segments(spark, sf_dir):
    """Paragraph-grain script segmentation (the CCNet grain): docs
    ≡0 (mod 3) carry a Cyrillic paragraph, ≡0 (mod 5) a CJK one (15ths
    carry both), appended after blank lines — a page-level classifier
    would label the whole doc latin and mislabel every minority
    paragraph. The oracle re-runs split + per-class counts + argmax
    in SQL over the identically planted text."""
    from mindocr_spark.functions.text import para_lang_segments

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.pmod("doc_id", F.lit(3)) == 0,
                F.lit("\n\n" + _PLS_CYR),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod("doc_id", F.lit(5)) == 0,
                F.lit("\n\n" + _PLS_CJK),
            ).otherwise(F.lit("")),
        ),
    )
    return para_lang_segments(planted).orderBy("doc_id", "para_idx")


def _meta_divergence_oracle() -> str:
    """Full-mirror twin: identical description planting, the shared
    whitespace tokenization, list_distinct/list_intersect counts."""
    from mindocr_spark.functions.text import WS_CLASS
    from mindocr_spark.sources.pages import CLOAK_SPAM_DESC

    return f"""
        WITH norm AS (
          SELECT doc_id,
                 list_distinct(string_split(trim(regexp_replace(
                   text, '{WS_CLASS}', ' ', 'g')), ' ')) AS btoks,
                 string_split(trim(regexp_replace(
                   text, '{WS_CLASS}', ' ', 'g')), ' ') AS raw_toks
          FROM documents),
        d2 AS (
          SELECT doc_id, btoks,
                 CASE WHEN doc_id % 6 = 4
                        THEN string_split('{CLOAK_SPAM_DESC}', ' ')
                      WHEN doc_id % 6 = 5 THEN NULL
                      ELSE list_slice(raw_toks, 1, 5) END AS dt
          FROM norm),
        d3 AS (
          SELECT doc_id,
                 list_distinct(dt) AS dtoks,
                 btoks,
                 dt IS NULL AS missing
          FROM d2)
        SELECT doc_id,
               CAST(CASE WHEN missing THEN 0
                         ELSE len(dtoks) END AS BIGINT) AS n_desc,
               CAST(CASE WHEN missing THEN 0
                         ELSE len(list_distinct(
                                list_intersect(dtoks, btoks)))
                    END AS BIGINT) AS n_overlap,
               CASE WHEN missing THEN 'no_desc'
                    WHEN 2 * len(list_distinct(
                           list_intersect(dtoks, btoks)))
                         < len(dtoks) THEN 'divergent'
                    ELSE 'aligned' END AS verdict
        FROM d3
        ORDER BY doc_id
    """


@query("meta_divergence", oracle=_meta_divergence_oracle())
def q_meta_divergence(spark, sf_dir):
    """Cloaking / SEO-stuffing signal: distinct-token overlap between
    the declared meta description and the served body — honest pages
    (desc = body's first 5 tokens) pass, ≡4 (mod 6) stuffed pages
    flag divergent, ≡5 (mod 6) undeclared pages report 'no_desc'.
    All-integer divergence rule; the oracle replants the
    descriptions and recomputes both token sets in SQL."""
    from mindocr_spark.functions.links import meta_divergence
    from mindocr_spark.sources.pages import pages_from_documents_cloak

    return meta_divergence(
        pages_from_documents_cloak(spark, sf_dir)
    ).orderBy("doc_id")


def _luhn_cc_detect_oracle() -> str:
    """Full-mirror twin: identical card planting, the same candidate
    regex, and an independent hand-rolled Luhn (nested list lambdas)."""
    from mindocr_spark.functions.text import CC_CAND_RE

    luhn = (
        "list_sum(list_transform(range(1, len(ds)+1), i -> "
        "CASE WHEN (len(ds) - i) % 2 = 1 "
        "THEN CASE WHEN 2*CAST(ds[i] AS INT) > 9 "
        "THEN 2*CAST(ds[i] AS INT)-9 ELSE 2*CAST(ds[i] AS INT) END "
        "ELSE CAST(ds[i] AS INT) END)) % 10 = 0"
    )
    return f"""
        WITH d16 AS (
          SELECT doc_id, text,
                 lpad(CAST((doc_id * 7919 + 12345) % 1000000000000000
                           AS VARCHAR), 15, '0')
                   || CAST(doc_id % 10 AS VARCHAR) AS ds16,
                 CASE WHEN doc_id % 3 = 0 THEN '-' ELSE ' ' END AS sep
          FROM documents),
        built AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 2 THEN text
                      ELSE text || ' pay '
                           || substr(ds16, 1, 4) || sep
                           || substr(ds16, 5, 4) || sep
                           || substr(ds16, 9, 4) || sep
                           || substr(ds16, 13, 4) || ' now'
                 END AS text
          FROM d16),
        cands AS (
          SELECT doc_id,
                 regexp_extract_all(text, '{CC_CAND_RE}') AS cs
          FROM built),
        v AS (
          SELECT doc_id, cs,
                 list_filter(
                   list_transform(cs,
                     c -> regexp_replace(c, '[^0-9]', '', 'g')),
                   ds -> {luhn}) AS ok
          FROM cands)
        SELECT doc_id,
               CAST(len(cs) AS BIGINT) AS n_candidates,
               CAST(len(ok) AS BIGINT) AS n_valid,
               len(ok) > 0 AS has_cc_pii
        FROM v
        ORDER BY doc_id
    """


@query("luhn_cc_detect", oracle=_luhn_cc_detect_oracle())
def q_luhn_cc_detect(spark, sf_dir):
    """Luhn-validated credit-card detection: the word-soup docs gain a
    doc_id-derived 16-digit number (last digit = doc_id mod 10, so
    ~10% pass the mod-10 check and ~90% are the lookalikes the
    validation exists to cut), '-'-separated on ≡0 (mod 3), ' '-
    separated on ≡1, absent on ≡2. Spark validates with the JVM
    luhn_check builtin; the oracle hand-rolls Luhn as list arithmetic
    — the check itself is cross-verified, not assumed."""
    from mindocr_spark.functions.text import luhn_cc_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    d16 = F.concat(
        F.lpad(
            ((did * 7919 + 12345) % F.lit(10 ** 15)).cast("string"),
            15, "0",
        ),
        F.pmod(did, F.lit(10)).cast("string"),
    )
    sep = F.when(F.pmod(did, F.lit(3)) == 0, F.lit("-")).otherwise(
        F.lit(" ")
    )
    card = F.concat_ws(
        "",
        F.substring(d16, 1, 4), sep,
        F.substring(d16, 5, 4), sep,
        F.substring(d16, 9, 4), sep,
        F.substring(d16, 13, 4),
    )
    built = docs.select(
        "doc_id",
        F.when(
            F.pmod(did, F.lit(3)) == 2, F.col("text")
        ).otherwise(
            F.concat(F.col("text"), F.lit(" pay "), card, F.lit(" now"))
        ).alias("text"),
    )
    return luhn_cc_cols(built).orderBy("doc_id")


#: homoglyph_spoof's planted tokens (shared constants). SPOOF mixes
#: latin + one Cyrillic а (U+0430) — the classic confusable; PURE is
#: all-Cyrillic and must NOT flag (foreign ≠ spoofed).
_HG_SPOOF = "pаypal"
_HG_PURE = "привет"


def _homoglyph_spoof_oracle() -> str:
    """Full-mirror twin: identical planting, shared tokenization, the
    same three confusable-class probes per token."""
    from mindocr_spark.functions.text import CONFUSABLE_CLASSES, WS_CLASS

    probe = " + ".join(
        f"CASE WHEN regexp_matches(t, '{cls}') THEN 1 ELSE 0 END"
        for cls in CONFUSABLE_CLASSES
    )
    return f"""
        WITH planted AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 4 = 1
                         THEN ' {_HG_SPOOF}' ELSE '' END
                 || CASE WHEN doc_id % 8 = 6
                         THEN ' {_HG_PURE}' ELSE '' END AS text
          FROM documents),
        toks AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(
                   text, '{WS_CLASS}', ' ', 'g')), ' ') AS ts
          FROM planted)
        SELECT doc_id,
               CAST(len(ts) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(ts, t -> ({probe}) >= 2))
                    AS BIGINT) AS n_mixed,
               len(list_filter(ts, t -> ({probe}) >= 2)) > 0 AS spoof
        FROM toks
        ORDER BY doc_id
    """


@query("homoglyph_spoof", oracle=_homoglyph_spoof_oracle())
def q_homoglyph_spoof(spark, sf_dir):
    """Token-grain homoglyph detection: ≡1 (mod 4) docs gain one
    mixed-script 'pаypal' token (flags), ≡6 (mod 8) docs gain a pure
    Cyrillic token (must NOT flag — foreign text isn't spoofing),
    everything else is clean latin. The oracle re-runs tokenization
    and the 2-of-3 confusable-class probe per token in SQL."""
    from mindocr_spark.functions.text import homoglyph_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.pmod("doc_id", F.lit(4)) == 1, F.lit(" " + _HG_SPOOF)
            ).otherwise(F.lit("")),
            F.when(
                F.pmod("doc_id", F.lit(8)) == 6, F.lit(" " + _HG_PURE)
            ).otherwise(F.lit("")),
        ),
    )
    return homoglyph_cols(planted).orderBy("doc_id")


#: dup_alignment's planted excerpt geometry (shared constants): the
#: variant copies source tokens 10..40 (31 tokens → a 29-shingle
#: aligned run at offset 9) and appends a distinct tail.
_DA_TAIL = " zzz ending marker unique"


def _dup_alignment_oracle() -> str:
    """Full-mirror twin: positional shingles via lateral range unnest,
    the same pair joins, distinct offsets, pa − row_number() islands,
    and the run-desc/offset-asc/start-asc tie rule."""
    from mindocr_spark.functions.text import WS_CLASS

    return f"""
        WITH base AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(
                   text, '{WS_CLASS}', ' ', 'g')), ' ') AS ts
          FROM documents),
        elig AS (
          SELECT * FROM base WHERE doc_id % 5 = 2 AND len(ts) >= 45),
        variants AS (
          SELECT doc_id + 5000000 AS doc_id,
                 string_split(
                   array_to_string(list_slice(ts, 10, 40), ' ')
                   || '{_DA_TAIL}', ' ') AS ts
          FROM elig),
        corpus AS (
          SELECT doc_id, ts FROM base
          UNION ALL SELECT doc_id, ts FROM variants),
        pairs AS (
          SELECT doc_id AS doc_a, doc_id + 5000000 AS doc_b FROM elig),
        sh AS (
          SELECT doc_id, i AS pos,
                 array_to_string(list_slice(ts, i, i + 2), ' ') AS sh
          FROM corpus,
               UNNEST(range(1, CASE WHEN len(ts) >= 3
                                    THEN len(ts) - 1 ELSE 1 END))
                 AS u(i)),
        m AS (
          SELECT p.doc_a, p.doc_b, a.sh, a.pos AS pa, b.pos AS pb
          FROM pairs p
          JOIN sh a ON a.doc_id = p.doc_a
          JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh),
        shared AS (
          SELECT doc_a, doc_b, COUNT(DISTINCT sh) AS n_shared
          FROM m GROUP BY doc_a, doc_b),
        offs AS (
          SELECT DISTINCT doc_a, doc_b, pa - pb AS off, pa FROM m),
        runs AS (
          SELECT doc_a, doc_b, off, pa,
                 pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, off ORDER BY pa) AS grp
          FROM offs),
        rl AS (
          SELECT doc_a, doc_b, off, grp,
                 COUNT(*) AS run_len, MIN(pa) AS start_a
          FROM runs GROUP BY doc_a, doc_b, off, grp),
        best AS (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY doc_a, doc_b
                   ORDER BY run_len DESC, off ASC, start_a ASC) AS rk
          FROM rl)
        SELECT b.doc_a, b.doc_b,
               CAST(s.n_shared AS BIGINT) AS n_shared,
               CAST(b.run_len AS BIGINT) AS run_len,
               CAST(b.off AS BIGINT) AS align_offset,
               CAST(b.start_a AS BIGINT) AS run_start_a
        FROM best b
        JOIN shared s ON s.doc_a = b.doc_a AND s.doc_b = b.doc_b
        WHERE b.rk = 1
        ORDER BY b.doc_a
    """


@query("dup_alignment", family="dedup", oracle=_dup_alignment_oracle())
def q_dup_alignment(spark, sf_dir):
    """Explainable near-dup evidence: ≡2 (mod 5) docs with ≥45 tokens
    spawn an excerpt variant (source tokens 10..40 + a distinct
    tail); for each (source, variant) candidate pair the operator
    reports shared-shingle count and the longest aligned verbatim
    run with its offset — the WHERE a similarity score can't give.
    The oracle re-runs positional shingling, the pair join, and the
    gaps-and-islands run detection in SQL."""
    from mindocr_spark.functions.dedup import dup_alignment
    from mindocr_spark.functions.text import tokens_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with_toks = docs.select(
        "doc_id", "text", tokens_col("text").alias("_toks")
    )
    eligible = with_toks.where(
        (F.pmod("doc_id", F.lit(5)) == 2) & (F.size("_toks") >= 45)
    )
    variants = eligible.select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice("_toks", 10, 31), " "), F.lit(_DA_TAIL)
        ).alias("text"),
    )
    pairs = eligible.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 5_000_000).alias("doc_b"),
    )
    corpus = docs.unionAll(variants)
    return dup_alignment(corpus, pairs, k=3).orderBy("doc_a")


@query("cdx_index", family="formats", oracle=f"""
            WITH h AS (
              SELECT {_URL_SQL} AS url, {_html_expr()} AS html
              FROM documents)
            SELECT 'example,docs)' || substr(url, 21) AS urlkey,
                   url,
                   md5(html) AS digest,
                   CAST(strlen(html) AS BIGINT) AS length,
                   'text/html' AS mime
            FROM h ORDER BY urlkey
        """)
def q_cdx_index(spark, sf_dir):
    """Capture-index (CDX) build: SURT sort key + md5 content digest +
    payload byte length per fetched page, zero shuffles. The oracle
    rebuilds the EXACT page bytes in SQL from the shared template
    constants (pages_html_sql_expr) and checks digest and length — a
    whole-page byte-identity proof, not just a schema check."""
    from mindocr_spark.functions.crawl import cdx_index
    from mindocr_spark.sources.pages import pages_from_documents

    return cdx_index(pages_from_documents(spark, sf_dir)).orderBy("urlkey")


@query("crawl_delta", oracle=f"""
            WITH s AS (
              SELECT {_URL_SQL} AS url,
                     doc_id % 11 <> 0 AS in_old,
                     doc_id % 7 <> 0 AS in_new,
                     doc_id % 5 = 0 AS upd
              FROM documents)
            SELECT url,
                   CASE WHEN NOT in_old THEN 'added'
                        WHEN NOT in_new THEN 'removed'
                        WHEN upd THEN 'changed'
                        ELSE 'same' END AS status
            FROM s WHERE in_old OR in_new ORDER BY url
        """)
def q_crawl_delta(spark, sf_dir):
    """Snapshot-to-snapshot crawl delta: full-outer join of two crawl
    snapshots' (url, digest) projections → added / removed / changed /
    same per url — the recrawl scheduler's input. The snapshots differ
    by deterministic doc_id quotas, so the oracle's status is closed-
    form arithmetic while Spark diffs real page bytes."""
    from mindocr_spark.functions.crawl import crawl_delta
    from mindocr_spark.sources.pages import pages_snapshots

    old, new = pages_snapshots(spark, sf_dir)
    return crawl_delta(old, new).orderBy("url")


# the Bloom is rebuilt bit-for-bit in SQL: same md5 slices,
# same 32-bit words, same packed bit_or — so maybe_seen AND
# the deterministic false-positive set are exact cross-engine
@query("bloom_gate", family="sketches", oracle=f"""
            WITH oldu AS (
              SELECT {_URL_SQL} AS url FROM documents WHERE doc_id % 11 <> 0),
            newu AS (
              SELECT {_URL_SQL} AS url FROM documents WHERE doc_id % 7 <> 0),
            bpos AS (
              SELECT ('0x' || substr(md5(url),
                        1 + 8 * CAST(r.range AS INT), 8))::BIGINT
                       % 32768 AS p
              FROM oldu, range(4) r),
            bloom AS (
              SELECT p >> 5 AS word,
                     bit_or(1::BIGINT << CAST(p & 31 AS INT)) AS bits
              FROM bpos GROUP BY p >> 5),
            cpos AS (
              SELECT url,
                     ('0x' || substr(md5(url),
                        1 + 8 * CAST(r.range AS INT), 8))::BIGINT
                       % 32768 AS p
              FROM newu, range(4) r),
            hit AS (
              SELECT c.url,
                     SUM(CASE WHEN b.bits IS NOT NULL
                               AND ((b.bits >> CAST(c.p & 31 AS INT))
                                    & 1) = 1
                          THEN 1 ELSE 0 END) AS nhit
              FROM cpos c LEFT JOIN bloom b ON b.word = (c.p >> 5)
              GROUP BY c.url)
            SELECT h.url,
                   nhit = 4 AS maybe_seen,
                   o.url IS NOT NULL AS seen,
                   (nhit = 4) AND o.url IS NULL AS false_pos
            FROM hit h LEFT JOIN oldu o ON o.url = h.url
            ORDER BY h.url
        """)
def q_bloom_gate(spark, sf_dir):
    """Bloom seen-set frontier gate: build the filter over the OLD
    crawl snapshot's urls (1024 packed 32-bit words, k=4 md5 slices),
    then gate the NEW snapshot's urls through it. Output per candidate
    url: maybe_seen (the Bloom's answer), seen (exact membership, via
    one broadcast flag join — the ground truth the Bloom approximates),
    false_pos (= maybe_seen ∧ ¬seen: the deterministic FP set the
    oracle reproduces bit-for-bit). The no-false-negative invariant
    (seen → maybe_seen) is structural; tests assert it at every tier."""
    from mindocr_spark.functions.crawl import bloom_build, bloom_gate
    from mindocr_spark.sources.pages import pages_snapshots

    old, new = pages_snapshots(spark, sf_dir)
    committed = old.select("url")
    gated = bloom_gate(new.select("url"), bloom_build(committed))
    exact = committed.distinct().withColumn("__seen", F.lit(True))
    return (
        gated.join(F.broadcast(exact), "url", "left")
        .select(
            "url",
            "maybe_seen",
            F.coalesce("__seen", F.lit(False)).alias("seen"),
            (F.col("maybe_seen")
             & ~F.coalesce("__seen", F.lit(False))).alias("false_pos"),
        )
        .orderBy("url")
    )


# per-section delta counts re-derived from the snapshot quota
# arithmetic: old misses 11|doc_id, new misses 7|doc_id,
# changed = 5|doc_id among both-present
@query("revisit_policy", oracle=r"""
            WITH s AS (
              SELECT source,
                     CAST(sum(CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 0
                              AND doc_id % 5 <> 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_same,
                     CAST(sum(CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 0
                              AND doc_id % 5 = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_changed,
                     CAST(sum(CASE WHEN doc_id % 11 = 0 AND doc_id % 7 <> 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                     CAST(sum(CASE WHEN doc_id % 7 = 0 AND doc_id % 11 <> 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
              FROM documents GROUP BY source),
            r AS (
              SELECT *,
                     CASE WHEN n_changed + n_same > 0
                          THEN CAST(n_changed AS DOUBLE)
                               / CAST(n_changed + n_same AS DOUBLE)
                     END AS change_rate
              FROM s)
            SELECT source AS section, n_same, n_changed, n_added,
                   n_removed, change_rate,
                   CASE WHEN change_rate IS NULL THEN 'unknown'
                        WHEN change_rate >= 0.5 THEN 'fast'
                        WHEN change_rate >= 0.1 THEN 'medium'
                        ELSE 'slow' END AS revisit
            FROM r ORDER BY section
        """)
def q_revisit_policy(spark, sf_dir):
    """Adaptive recrawl scheduling COMPOSED over the snapshot delta:
    per site section (the url's source segment), change statistics and
    a fast/medium/slow revisit bucket — change_rate counts only urls
    present in both snapshots. One map-side-combinable groupBy; exact
    integer counts + one IEEE division. The oracle re-derives every
    count from the snapshots' doc_id quota arithmetic (11-miss, 7-miss,
    5-changed) without diffing any bytes."""
    from mindocr_spark.functions.crawl import crawl_delta, revisit_policy
    from mindocr_spark.sources.pages import pages_snapshots

    old, new = pages_snapshots(spark, sf_dir)
    section = F.regexp_extract(
        F.col("url"), r"^https://docs\.example/([^/]+)/", 1
    )
    return revisit_policy(
        crawl_delta(old, new), key=section
    ).orderBy("section")


@query("lm_logppl", oracle=r"""
            WITH t AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            ref AS (
              SELECT unnest(string_split(norm,' ')) AS token
              FROM t WHERE lang = 'en' AND norm <> ''),
            lm AS (SELECT token, count(*) AS cnt FROM ref GROUP BY token),
            stats AS (
              SELECT COALESCE(sum(cnt), 0) AS lm_total,
                     count(*) + 1 AS lm_v
              FROM lm),
            toks AS (
              SELECT doc_id, unnest(string_split(norm,' ')) AS token
              FROM t WHERE norm <> ''),
            sc AS (
              SELECT doc_id,
                     CASE WHEN lm.cnt IS NULL THEN 1 ELSE 0 END AS is_oov,
                     CAST(round(-ln(CAST(COALESCE(lm.cnt, 0) + 1 AS DOUBLE)
                                    / CAST(lm_total + lm_v AS DOUBLE)), 9)
                          AS DECIMAL(28,9)) AS nlp
              FROM toks LEFT JOIN lm USING (token) CROSS JOIN stats),
            agg AS (
              SELECT doc_id, SUM(is_oov) AS n_oov, SUM(nlp) AS s
              FROM sc GROUP BY doc_id),
            base AS (
              SELECT doc_id,
                     CAST(CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS INT)
                       AS n_tokens
              FROM t)
            SELECT b.doc_id, b.n_tokens,
                   CAST(COALESCE(a.n_oov, 0) AS BIGINT) AS n_oov,
                   CAST(COALESCE(a.s, CAST(0 AS DECIMAL(28,9)))
                        AS DOUBLE) AS neg_logprob_sum,
                   CASE WHEN b.n_tokens > 0
                        THEN CAST(a.s AS DOUBLE)
                             / CAST(b.n_tokens AS DOUBLE)
                   END AS logppl
            FROM base b LEFT JOIN agg a USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_lm_logppl(spark, sf_dir):
    """CCNet-style LM quality gate: train a Laplace-smoothed unigram
    LM on the clean reference slice (lang='en' documents — the
    Wikipedia analog) with one groupBy, then score EVERY document by
    mean negative log-probability via one broadcast token join. Every
    ln argument is a correctly-rounded integer division (identical
    doubles in both engines), ln is round(·,9)-quantized, per-doc sums
    run as DECIMAL — the BM25/ANN-IVF determinism discipline."""
    from mindocr_spark.functions.lm import unigram_counts, unigram_logppl

    docs = _t(spark, sf_dir, "documents")
    lm = unigram_counts(docs.where(F.col("lang") == "en"))
    return unigram_logppl(docs.select("doc_id", "text"), lm).orderBy(
        "doc_id"
    )


# lm_logppl's CTE chain extended with percent_rank tiering
@query("ppl_buckets", oracle=r"""
            WITH t AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            ref AS (
              SELECT unnest(string_split(norm,' ')) AS token
              FROM t WHERE lang = 'en' AND norm <> ''),
            lm AS (SELECT token, count(*) AS cnt FROM ref GROUP BY token),
            stats AS (
              SELECT COALESCE(sum(cnt), 0) AS lm_total,
                     count(*) + 1 AS lm_v
              FROM lm),
            toks AS (
              SELECT doc_id, unnest(string_split(norm,' ')) AS token
              FROM t WHERE norm <> ''),
            sc AS (
              SELECT doc_id,
                     CAST(round(-ln(CAST(COALESCE(lm.cnt, 0) + 1 AS DOUBLE)
                                    / CAST(lm_total + lm_v AS DOUBLE)), 9)
                          AS DECIMAL(28,9)) AS nlp
              FROM toks LEFT JOIN lm USING (token) CROSS JOIN stats),
            agg AS (
              SELECT doc_id, SUM(nlp) AS s FROM sc GROUP BY doc_id),
            base AS (
              SELECT doc_id, lang,
                     CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS n_tokens
              FROM t),
            scored AS (
              SELECT b.doc_id, b.lang,
                     CASE WHEN b.n_tokens > 0
                          THEN CAST(a.s AS DOUBLE)
                               / CAST(b.n_tokens AS DOUBLE)
                     END AS ppl
              FROM base b LEFT JOIN agg a USING (doc_id)),
            r AS (
              SELECT doc_id, lang, ppl,
                     percent_rank() OVER (PARTITION BY lang
                                          ORDER BY ppl) AS pr
              FROM scored WHERE ppl IS NOT NULL)
            SELECT doc_id, lang, ppl, pr AS ppl_rank,
                   CASE WHEN pr < 0.3333333333333333 THEN 'head'
                        WHEN pr < 0.6666666666666666 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM r
            UNION ALL
            SELECT doc_id, lang, ppl, CAST(NULL AS DOUBLE), 'unknown'
            FROM scored WHERE ppl IS NULL
            ORDER BY doc_id
        """)
def q_ppl_buckets(spark, sf_dir):
    """CCNet corpus tiering: per-language head/middle/tail buckets by
    LM-perplexity percent_rank (ties share a rank, so equal ppl never
    straddles a bucket). Composes the oracle-proven lm_logppl scorer;
    the oracle extends the same SQL with DuckDB's percent_rank — the
    scoring, the rank formula (rank−1)/(n−1), and the cut comparisons
    must all agree bit-for-bit."""
    from mindocr_spark.functions.lm import (
        ppl_buckets, unigram_counts, unigram_logppl,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = unigram_counts(docs.where(F.col("lang") == "en"))
    scored = unigram_logppl(docs.select("doc_id", "text"), lm).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return ppl_buckets(scored).orderBy("doc_id")


# the union-and-carry as-of plan vs DuckDB's NATIVE ASOF JOIN
@query("asof_attribution", family="joins_agg", oracle=r"""
            WITH v AS (
              SELECT user_id, ts, max(event_id) AS view_event_id
              FROM events WHERE event_type = 'view'
              GROUP BY user_id, ts),
            c AS (
              SELECT event_id, user_id, ts
              FROM events WHERE event_type = 'click')
            SELECT c.event_id AS click_event_id, c.user_id,
                   CAST(epoch(date_trunc('second', c.ts)) AS BIGINT)
                     AS click_sec,
                   v.view_event_id,
                   CAST(epoch(date_trunc('second', v.ts)) AS BIGINT)
                     AS view_sec,
                   CAST(epoch(date_trunc('second', c.ts)) AS BIGINT)
                   - CAST(epoch(date_trunc('second', v.ts)) AS BIGINT)
                     AS lag_sec
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts
            ORDER BY click_event_id
        """)
def q_asof_attribution(spark, sf_dir):
    """Backward as-of join (the temporal-attribution primitive Spark
    lacks as a built-in): every click attributes to the latest view
    at-or-before it by the same user, via the union-and-carry plan —
    one shuffle on the key, one ordered window, never a per-key
    quadratic theta join. The right side is pre-deduped per (user, ts)
    with a deterministic max-id rule (the operator's uniqueness
    contract). The oracle is DuckDB's NATIVE ASOF LEFT JOIN — two
    entirely different physical strategies must produce the identical
    relation."""
    from mindocr_spark.operators.joins import asof_join_backward

    ev = _t(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    j = asof_join_backward(clicks, views, key="user_id")
    click_sec = _epoch_sec("ts")
    view_sec = _epoch_sec("ts_matched")
    return j.select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        click_sec.alias("click_sec"),
        F.col("view_event_id_matched").alias("view_event_id"),
        view_sec.alias("view_sec"),
        (click_sec - view_sec).alias("lag_sec"),
    ).orderBy("click_event_id")


# publication date in closed form: time_tag (2023) > meta
# (2024) > url path (2022); url gains the path segment only
# at %4==2
@query("publication_date", oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') AS mm,
                     lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS dd
              FROM documents)
            SELECT 'https://d.example/'
                     || CASE WHEN doc_id % 4 = 2
                             THEN '2022/' || mm || '/' || dd || '/'
                             ELSE '' END
                     || 'p-' || CAST(doc_id AS VARCHAR) || '.html'
                     AS url,
                   CASE WHEN doc_id % 5 = 0
                          THEN '2023-' || mm || '-' || dd
                        WHEN doc_id % 3 = 0
                          THEN '2024-' || mm || '-' || dd
                        WHEN doc_id % 4 = 2
                          THEN '2022-' || mm || '-' || dd
                   END AS published_date,
                   CASE WHEN doc_id % 5 = 0 THEN 'time_tag'
                        WHEN doc_id % 3 = 0 THEN 'meta_published'
                        WHEN doc_id % 4 = 2 THEN 'url_path'
                   END AS date_source
            FROM d ORDER BY url
        """)
def q_publication_date(spark, sf_dir):
    """Publication-date extraction (trafilatura heuristic): <time
    datetime> beats OpenGraph published_time beats the /yyyy/mm/dd/
    URL convention. The in-query corpus plants each carrier with a
    DIFFERENT year (2023 / 2024 / 2022) so the trust ordering is
    value-checked, overlapping arms included; the oracle states every
    (date, source) in closed form from doc_id arithmetic."""
    from mindocr_spark.functions.links import publication_date_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    ds = did.cast("string")
    mm = F.lpad((did % 12 + 1).cast("string"), 2, "0")
    dd = F.lpad((did % 28 + 1).cast("string"), 2, "0")
    url = F.concat(
        F.lit("https://d.example/"),
        F.when(
            did % 4 == 2,
            F.concat(F.lit("2022/"), mm, F.lit("/"), dd, F.lit("/")),
        ).otherwise(F.lit("")),
        F.lit("p-"), ds, F.lit(".html"),
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.coalesce(
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit('<meta property="article:published_time"'
                          ' content="2024-'),
                    mm, F.lit("-"), dd, F.lit('T08:00:00Z">'),
                ),
            ),
            F.lit(""),
        ),
        F.lit("</head><body>"),
        F.coalesce(
            F.when(
                did % 5 == 0,
                F.concat(F.lit('<time datetime="2023-'), mm,
                         F.lit("-"), dd, F.lit('">then</time>')),
            ),
            F.lit(""),
        ),
        F.col("text"), F.lit("</body></html>"),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return publication_date_cols(pages).orderBy("url")


# log2 buckets via length(bin(n)) - 1, bounds via << — all
# exact integer arithmetic
@query("length_histogram", oracle=r"""
            WITH t AS (
              SELECT CASE WHEN trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+',' ','g')) = '' THEN 0
                     ELSE len(string_split(trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+',' ','g')),' ')) END AS nt
              FROM documents),
            b AS (
              SELECT nt,
                     CASE WHEN nt > 0 THEN length(bin(nt)) - 1
                          ELSE -1 END AS bucket
              FROM t),
            g AS (
              SELECT CAST(bucket AS INT) AS bucket,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(nt) AS BIGINT) AS sum_tokens
              FROM b GROUP BY bucket)
            SELECT bucket,
                   CAST(CASE WHEN bucket >= 0
                        THEN CAST(1 AS BIGINT) << bucket
                        ELSE 0 END AS BIGINT) AS lo_tokens,
                   CAST(CASE WHEN bucket >= 0
                        THEN (CAST(1 AS BIGINT) << (bucket + 1)) - 1
                        ELSE 0 END AS BIGINT) AS hi_tokens,
                   n_docs, sum_tokens
            FROM g ORDER BY bucket
        """)
def q_length_histogram(spark, sf_dir):
    """Token-length distribution in power-of-two buckets — the seq_len
    planning statistic. bucket = floor(log2(n)) computed EXACTLY as
    length(bin(n)) − 1 on both engines (no floating log: double log2
    is off-by-one at powers of two); bounds are exact integer
    shifts."""
    from mindocr_spark.functions.text import length_histogram

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return length_histogram(docs)


# upsert at digest grain: survivor choice + payload identity,
# both page variants rebuilt from the shared template expr
@query("snapshot_upsert", family="joins_agg", oracle=f"""
            WITH s AS (
              SELECT doc_id, {_URL_SQL} AS url, text, source,
                     doc_id % 11 <> 0 AS in_old,
                     doc_id % 7 <> 0 AS in_new
              FROM documents)
            SELECT url,
                   md5(CASE WHEN in_new
                       THEN {{NEW_HTML}}
                       ELSE {{OLD_HTML}} END) AS digest,
                   in_new AS from_new
            FROM s WHERE in_old OR in_new ORDER BY url
        """.format(
            NEW_HTML=_html_expr(
                "CASE WHEN doc_id % 5 = 0 THEN '"
                + _UPD.replace("'", "''") + "' ELSE '' END"
            ),
            OLD_HTML=_html_expr(),
        ))
def q_snapshot_upsert(spark, sf_dir):
    """Snapshot MERGE (Iceberg upsert semantics): recrawl captures win
    per url, un-recrawled pages survive — via the keys-only broadcast
    anti-join + union plan (the corpus payload is touched once,
    map-only; never a full-outer join of two payload sides). Verified
    at the whole-page digest grain: the oracle rebuilds BOTH page
    variants from the shared template expression, so survivor
    selection AND payload identity must agree byte-for-byte."""
    from mindocr_spark.operators.joins import upsert_latest
    from mindocr_spark.sources.pages import pages_snapshots

    old, new = pages_snapshots(spark, sf_dir)
    merged = upsert_latest(
        old.withColumn("from_new", F.lit(False)),
        new.withColumn("from_new", F.lit(True)),
        key="url",
    )
    return merged.select(
        "url", F.md5("html").alias("digest"), "from_new"
    ).orderBy("url")


# ROLLUP twin with grouping() flags; ordering null-proofed
@query("corpus_rollup", oracle=r"""
            WITH t AS (
              SELECT lang, source,
                     CASE WHEN trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+',' ','g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+',' ','g')),' '))
                     END AS nt
              FROM documents)
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens,
                   CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS mean_tokens,
                   CAST(grouping(lang) AS INT) AS lang_total,
                   CAST(grouping(source) AS INT) AS source_total
            FROM t GROUP BY ROLLUP (lang, source)
            ORDER BY lang_total, source_total,
                     coalesce(lang, ''), coalesce(source, '')
        """)
def q_corpus_rollup(spark, sf_dir):
    """Dataset-card rollup: doc counts, token sums, and mean doc
    length at EVERY grain of (lang, source) in one pass — Spark's
    ROLLUP produces the per-(lang,source), per-lang, and grand-total
    rows a corpus datasheet reports, with grouping() flags
    distinguishing real NULL keys from subtotal rows. One shuffle,
    map-side combinable partials at every grain (the partial+final
    AllReduce discipline of §2.4); the mean is one IEEE division of
    exact ints."""
    from mindocr_spark.functions.text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    base = docs.select("lang", "source", F.size(tokens_col("text")).alias("nt"))
    out = (
        base.rollup("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.grouping("lang").cast("int").alias("lang_total"),
            F.grouping("source").cast("int").alias("source_total"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double")
             / F.col("n_docs").cast("double")).alias("mean_tokens"),
            "lang_total",
            "source_total",
        )
    )
    # null-proof ordering: Spark sorts NULLS FIRST, DuckDB NULLS LAST —
    # coalesce the subtotal NULL keys so both engines agree
    return out.orderBy(
        "lang_total", "source_total",
        F.coalesce("lang", F.lit("")), F.coalesce("source", F.lit("")),
    )


# pivot = conditional aggregation, stated directly
@query("lang_pivot", oracle=r"""
            SELECT source,
                   CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_de,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_en,
                   CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_es,
                   CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_fr,
                   CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_zh
            FROM documents GROUP BY source ORDER BY source
        """)
def q_lang_pivot(spark, sf_dir):
    """Per-source language mix as a WIDE relation: pivot the lang key
    into columns (doc counts per source × language) — the
    corpus-datasheet cross-tab. Spark executes pivot as one groupBy
    with conditional aggregates (map-side combinable, no extra
    shuffle); the oracle states the same CASE-sum aggregation."""
    docs = _t(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    out = (
        docs.groupBy("source")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
    )
    sel = [F.col("source")] + [
        F.coalesce(F.col(lg), F.lit(0)).cast("bigint").alias(f"n_{lg}")
        for lg in langs
    ]
    return out.select(*sel).orderBy("source")


#: Interpolation weight for the bigram LM query.
_LM_LAMBDA = 0.7


@query("lm_backoff_logscore", oracle=r"""
            WITH t AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            reft AS (
              SELECT doc_id,
                     unnest(string_split(norm,' ')) AS word,
                     generate_subscripts(string_split(norm,' '), 1) AS pos
              FROM t WHERE lang = 'en' AND norm <> ''),
            uni AS (
              SELECT word AS token, count(*) AS cnt
              FROM reft GROUP BY word),
            refb AS (
              SELECT word AS w2,
                     lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM reft),
            bi AS (
              SELECT w1, w2, count(*) AS cnt
              FROM refb WHERE w1 IS NOT NULL GROUP BY w1, w2),
            reftr AS (
              SELECT word AS w3,
                     lag(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                     lag(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM reft),
            tri AS (
              SELECT w1, w2, w3, count(*) AS cnt
              FROM reftr WHERE w1 IS NOT NULL GROUP BY w1, w2, w3),
            stats AS (
              SELECT COALESCE(sum(cnt), 0) AS lm_total,
                     count(*) + 1 AS lm_v
              FROM uni),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(norm,' ')) AS word,
                     generate_subscripts(string_split(norm,' '), 1) AS pos
              FROM t WHERE norm <> ''),
            seq AS (
              SELECT doc_id, word AS w3,
                     lag(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                     lag(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM toks),
            j AS (
              SELECT s.doc_id, s.w1, s.w2, s.w3,
                     u3.cnt AS cw3, u2.cnt AS cw2,
                     b23.cnt AS c23, b12.cnt AS c12, tr.cnt AS c123,
                     lm_total, lm_v
              FROM seq s
              LEFT JOIN uni u3 ON u3.token = s.w3
              LEFT JOIN uni u2 ON u2.token = s.w2
              LEFT JOIN bi b23 ON b23.w1 = s.w2 AND b23.w2 = s.w3
              LEFT JOIN bi b12 ON b12.w1 = s.w1 AND b12.w2 = s.w2
              LEFT JOIN tri tr ON tr.w1 = s.w1 AND tr.w2 = s.w2
                               AND tr.w3 = s.w3
              CROSS JOIN stats),
            lvl0 AS (
              SELECT *,
                     CAST(COALESCE(cw3, 0) + 1 AS DOUBLE)
                       / CAST(lm_total + lm_v AS DOUBLE) AS p_uni
              FROM j),
            lvl1 AS (
              SELECT *,
                     CASE WHEN c23 IS NOT NULL AND cw2 > 0
                          THEN CAST(c23 AS DOUBLE) / CAST(cw2 AS DOUBLE)
                          ELSE CAST(0.4 AS DOUBLE) * p_uni END AS bi_level
              FROM lvl0),
            lvl2 AS (
              SELECT *,
                     CASE WHEN c123 IS NOT NULL AND c12 > 0
                          THEN CAST(c123 AS DOUBLE) / CAST(c12 AS DOUBLE)
                          ELSE CAST(0.4 AS DOUBLE) * bi_level END
                       AS tri_level
              FROM lvl1),
            sc AS (
              SELECT doc_id,
                     CASE WHEN c123 IS NOT NULL THEN 1 ELSE 0 END AS is_tri,
                     CAST(round(-ln(
                       CASE WHEN w2 IS NULL THEN p_uni
                            WHEN w1 IS NULL THEN bi_level
                            ELSE tri_level END), 9)
                       AS DECIMAL(28,9)) AS nls
              FROM lvl2),
            agg AS (
              SELECT doc_id, SUM(is_tri) AS hits, SUM(nls) AS s
              FROM sc GROUP BY doc_id),
            base AS (
              SELECT doc_id,
                     CAST(CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS INT)
                       AS n_tokens
              FROM t)
            SELECT b.doc_id, b.n_tokens,
                   CAST(COALESCE(a.hits, 0) AS BIGINT) AS n_trigram_hits,
                   CAST(COALESCE(a.s, CAST(0 AS DECIMAL(28,9)))
                        AS DOUBLE) AS neg_logscore_sum,
                   CASE WHEN b.n_tokens > 0
                        THEN CAST(a.s AS DOUBLE)
                             / CAST(b.n_tokens AS DOUBLE)
                   END AS logscore
            FROM base b LEFT JOIN agg a USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_lm_backoff_logscore(spark, sf_dir):
    """Trigram stupid-backoff fluency score (Brants et al. — the
    web-scale LM recipe: no discounting, fixed α=0.4 per backoff
    level, counts straight from the English reference slice). Five
    broadcast LM joins; bigram_logppl's determinism discipline."""
    from mindocr_spark.functions.lm import (
        bigram_counts,
        stupid_backoff_logscore,
        trigram_counts,
        unigram_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("lang") == "en")
    return stupid_backoff_logscore(
        docs.select("doc_id", "text"),
        unigram_counts(ref),
        bigram_counts(ref),
        trigram_counts(ref),
        alpha=0.4,
    ).orderBy("doc_id")


@query("lm_bigram_logppl", oracle=r"""
            WITH t AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            reft AS (
              SELECT doc_id,
                     unnest(string_split(norm,' ')) AS word,
                     generate_subscripts(string_split(norm,' '), 1) AS pos
              FROM t WHERE lang = 'en' AND norm <> ''),
            uni AS (
              SELECT word AS token, count(*) AS cnt
              FROM reft GROUP BY word),
            refb AS (
              SELECT word AS w2,
                     lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM reft),
            bi AS (
              SELECT w1, w2, count(*) AS cnt
              FROM refb WHERE w1 IS NOT NULL GROUP BY w1, w2),
            stats AS (
              SELECT COALESCE(sum(cnt), 0) AS lm_total,
                     count(*) + 1 AS lm_v
              FROM uni),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(norm,' ')) AS word,
                     generate_subscripts(string_split(norm,' '), 1) AS pos
              FROM t WHERE norm <> ''),
            seq AS (
              SELECT doc_id, word AS w2,
                     lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM toks),
            j AS (
              SELECT s.doc_id, s.w1, s.w2,
                     u.cnt AS cw, p.cnt AS cp, b.cnt AS cbi,
                     lm_total, lm_v
              FROM seq s
              LEFT JOIN uni u ON u.token = s.w2
              LEFT JOIN uni p ON p.token = s.w1
              LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w2
              CROSS JOIN stats),
            sc AS (
              SELECT doc_id,
                     CASE WHEN cbi IS NOT NULL THEN 1 ELSE 0 END AS is_hit,
                     CAST(round(-ln(
                       CASE WHEN w1 IS NULL
                       THEN CAST(COALESCE(cw, 0) + 1 AS DOUBLE)
                            / CAST(lm_total + lm_v AS DOUBLE)
                       ELSE __LAM__ * (CASE WHEN cp IS NOT NULL AND cp > 0
                              THEN CAST(COALESCE(cbi, 0) AS DOUBLE)
                                   / CAST(cp AS DOUBLE)
                              ELSE 0.0 END)
                            + __LAMC__ * (CAST(COALESCE(cw, 0) + 1 AS DOUBLE)
                                   / CAST(lm_total + lm_v AS DOUBLE))
                       END), 9) AS DECIMAL(28,9)) AS nlp
              FROM j),
            agg AS (
              SELECT doc_id, SUM(is_hit) AS hits, SUM(nlp) AS s
              FROM sc GROUP BY doc_id),
            base AS (
              SELECT doc_id,
                     CAST(CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS INT)
                       AS n_tokens
              FROM t)
            SELECT b.doc_id, b.n_tokens,
                   CAST(COALESCE(a.hits, 0) AS BIGINT) AS n_bigram_hits,
                   CAST(COALESCE(a.s, CAST(0 AS DECIMAL(28,9)))
                        AS DOUBLE) AS neg_logprob_sum,
                   CASE WHEN b.n_tokens > 0
                        THEN CAST(a.s AS DOUBLE)
                             / CAST(b.n_tokens AS DOUBLE)
                   END AS logppl
            FROM base b LEFT JOIN agg a USING (doc_id)
            ORDER BY b.doc_id
        """.replace("__LAM__", repr(_LM_LAMBDA))
         .replace("__LAMC__", repr(1.0 - _LM_LAMBDA)))
def q_lm_bigram_logppl(spark, sf_dir):
    """Interpolated-bigram LM gate (the CCNet-faithful scorer):
    p = λ·p_bi + (1−λ)·p_uni per token, unigram-only at document
    start. Three broadcast token joins; same determinism discipline
    as lm_logppl (pinned association, round(ln,9), DECIMAL sums,
    un-rounded final mean)."""
    from mindocr_spark.functions.lm import (
        bigram_counts,
        bigram_logppl,
        unigram_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("lang") == "en")
    return bigram_logppl(
        docs.select("doc_id", "text"),
        unigram_counts(ref),
        bigram_counts(ref),
        lam=_LM_LAMBDA,
    ).orderBy("doc_id")


# Kneser-Ney: same train/score CTE skeleton as the bigram
# oracle + left/right context-type tables and the discounted
# continuation mixture (association pinned to ((D·nr)/cp)·pc)
@query("lm_kn_logppl", oracle=r"""
            WITH t AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            reft AS (
              SELECT doc_id,
                     unnest(string_split(norm,' ')) AS word,
                     generate_subscripts(string_split(norm,' '), 1) AS pos
              FROM t WHERE lang = 'en' AND norm <> ''),
            uni AS (
              SELECT word AS token, count(*) AS cnt
              FROM reft GROUP BY word),
            refb AS (
              SELECT word AS w2,
                     lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM reft),
            bi AS (
              SELECT w1, w2, count(*) AS cnt
              FROM refb WHERE w1 IS NOT NULL GROUP BY w1, w2),
            left_t AS (
              SELECT w2, count(*) AS n_left FROM bi GROUP BY w2),
            right_t AS (
              SELECT w1, count(*) AS n_right, sum(cnt) AS cp
              FROM bi GROUP BY w1),
            kstats AS (
              SELECT (SELECT count(*) FROM bi) AS n_pairs,
                     (SELECT count(*) + 1 FROM uni) AS lm_v),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(norm,' ')) AS word,
                     generate_subscripts(string_split(norm,' '), 1) AS pos
              FROM t WHERE norm <> ''),
            seq AS (
              SELECT doc_id, word AS w2,
                     lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM toks),
            j AS (
              SELECT s.doc_id, s.w1, s.w2,
                     l.n_left, r.n_right, r.cp, b.cnt AS cbi,
                     n_pairs, lm_v
              FROM seq s
              LEFT JOIN left_t l ON l.w2 = s.w2
              LEFT JOIN right_t r ON r.w1 = s.w1
              LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w2
              CROSS JOIN kstats),
            sc AS (
              SELECT doc_id,
                     CASE WHEN cbi IS NOT NULL THEN 1 ELSE 0 END AS is_hit,
                     CAST(round(-ln(
                       CASE WHEN w1 IS NOT NULL AND cp IS NOT NULL
                                 AND cp > 0
                       THEN greatest(CAST(COALESCE(cbi, 0) AS DOUBLE)
                                     - CAST(0.75 AS DOUBLE),
                                     CAST(0 AS DOUBLE))
                              / CAST(cp AS DOUBLE)
                            + CAST(0.75 AS DOUBLE)
                              * CAST(n_right AS DOUBLE)
                              / CAST(cp AS DOUBLE)
                              * (CAST(COALESCE(n_left, 0) + 1 AS DOUBLE)
                                 / CAST(n_pairs + lm_v AS DOUBLE))
                       ELSE CAST(COALESCE(n_left, 0) + 1 AS DOUBLE)
                            / CAST(n_pairs + lm_v AS DOUBLE)
                       END), 9) AS DECIMAL(28,9)) AS nlp
              FROM j),
            agg AS (
              SELECT doc_id, SUM(is_hit) AS hits, SUM(nlp) AS s
              FROM sc GROUP BY doc_id),
            base AS (
              SELECT doc_id,
                     CAST(CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS INT)
                       AS n_tokens
              FROM t)
            SELECT b.doc_id, b.n_tokens,
                   CAST(COALESCE(a.hits, 0) AS BIGINT) AS n_bigram_hits,
                   CAST(COALESCE(a.s, CAST(0 AS DECIMAL(28,9)))
                        AS DOUBLE) AS neg_logprob_sum,
                   CASE WHEN b.n_tokens > 0
                        THEN CAST(a.s AS DOUBLE)
                             / CAST(b.n_tokens AS DOUBLE)
                   END AS logppl
            FROM base b LEFT JOIN agg a USING (doc_id)
            ORDER BY b.doc_id
        """)
def q_lm_kn_logppl(spark, sf_dir):
    """Kneser-Ney bigram LM gate (the KenLM-family estimator): absolute
    discounting + continuation probabilities, trained on the en slice
    and scored over the whole corpus. Same scale/determinism shape as
    the interpolated scorer; the oracle recomputes the left-context /
    right-context type tables and the discounted mixture exactly."""
    from mindocr_spark.functions.lm import (
        bigram_counts,
        kn_bigram_logppl,
        unigram_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("lang") == "en")
    return kn_bigram_logppl(
        docs.select("doc_id", "text"),
        unigram_counts(ref),
        bigram_counts(ref),
    ).orderBy("doc_id")


#: Training-sequence length for the sequence_pack query — small enough
#: that the synthetic docs (≈30-60 tokens) pack several per sequence
#: AND regularly straddle boundaries, so both branches are exercised.
_PACK_SEQ_LEN = 128


@query("sequence_pack", family="tokenizers", oracle=r"""
            WITH t AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            n AS (
              SELECT doc_id, lang,
                     CAST(CASE WHEN norm = '' THEN 0
                          ELSE len(string_split(norm,' ')) END AS INT)
                       AS n_tokens
              FROM t),
            c AS (
              SELECT doc_id, lang, n_tokens,
                     CASE WHEN doc_id IS NULL OR lang IS NULL THEN NULL
                          ELSE CAST(SUM(n_tokens) OVER (
                            PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                          ) AS BIGINT) END AS cum_tokens
              FROM n),
            p AS (
              SELECT doc_id, lang, n_tokens, cum_tokens,
                     CASE WHEN cum_tokens IS NOT NULL AND n_tokens > 0
                          THEN CAST(floor((cum_tokens - n_tokens)
                                          / __L__) AS BIGINT) END AS seq_first,
                     CASE WHEN cum_tokens IS NOT NULL AND n_tokens > 0
                          THEN CAST(floor((cum_tokens - 1)
                                          / __L__) AS BIGINT) END AS seq_last
              FROM c)
            SELECT doc_id, lang, n_tokens, cum_tokens, seq_first, seq_last,
                   CASE WHEN seq_first IS NOT NULL
                        THEN CAST((cum_tokens - n_tokens)
                                  - seq_first * __L__ AS BIGINT)
                   END AS seq_offset,
                   CASE WHEN seq_first IS NOT NULL
                        THEN CAST(seq_last - seq_first + 1 AS BIGINT)
                   END AS n_seqs
            FROM p ORDER BY doc_id
        """.replace("__L__", str(int(_PACK_SEQ_LEN))))
def q_sequence_pack(spark, sf_dir):
    """Concat-and-chunk packing bookkeeping: per document, which
    fixed-length training sequence(s) its tokens land in when each
    language's docs are concatenated in deterministic md5(id) order.
    Runs the shared distributed prefix-sum (parallel per-md5-bucket
    cumsums — never one global sorted task); the oracle is the plain
    one-window cumsum + identical integer math."""
    from mindocr_spark.functions.text import sequence_pack

    return sequence_pack(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        seq_len=_PACK_SEQ_LEN,
    ).select(
        "doc_id", "lang", "n_tokens", "cum_tokens",
        "seq_first", "seq_last", "seq_offset", "n_seqs",
    ).orderBy("doc_id")


# window/stride arithmetic restated with pure BIGINT math;
# DuckDB list slices are 1-based inclusive = Spark slice(x,s,n)
@query("context_windows", family="tokenizers", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents),
            toksrc AS (
              SELECT doc_id, string_split(norm, ' ') AS toks,
                     len(string_split(norm, ' ')) AS n
              FROM t WHERE norm <> ''),
            w AS (
              SELECT doc_id, toks, n,
                     unnest(generate_series(0,
                       CASE WHEN n > 64 THEN (n - 64 + 47) // 48
                            ELSE 0 END)) AS i
              FROM toksrc)
            SELECT doc_id,
                   CAST(i AS INT) AS win_idx,
                   CAST(i * 48 AS INT) AS tok_start,
                   CAST(least(i * 48 + 64, n) AS INT) AS tok_end,
                   CAST(least(i * 48 + 64, n) - i * 48 AS INT) AS n_win_tokens,
                   array_to_string(toks[CAST(i * 48 + 1 AS BIGINT):CAST(i * 48 + 64 AS BIGINT)], ' ')
                     AS window_text
            FROM w ORDER BY doc_id, win_idx
        """)
def q_context_windows(spark, sf_dir):
    """Stride context windows over long documents (the GPT-style
    chunking complement of `sequence_pack`): window 64, stride 48 —
    every doc longer than one window fans out to overlapping windows
    with exact token offsets and the window text itself. The oracle
    restates the window-count and slice arithmetic with
    generate_series + 1-based inclusive list slices (integer math on
    both sides, bit-identical)."""
    from mindocr_spark.functions.text import context_windows

    return context_windows(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        window=64, stride=48,
    ).orderBy("doc_id", "win_idx")


@query("bm25_prf", family="retrieval", oracle=_bm25_prf_oracle())
def q_bm25_prf_topk(spark, sf_dir):
    """Two-pass RM3-style pseudo-relevance feedback over the pinned
    BM25 query set: first pass retrieves 3 feedback docs per query,
    a score-weighted relevance model picks 8 expansion terms,
    lambda=0.6 interpolation (in EXACT DECIMAL) re-weights the
    expanded query, and a second weighted-BM25 pass ranks. The
    classic vocabulary-mismatch fix, whole chain exact
    (functions/search.bm25_prf_topk)."""
    from mindocr_spark.functions.search import bm25_prf_topk

    return bm25_prf_topk(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        _BM25_QUERIES,
        k=_BM25_K,
        fb_docs=3,
        fb_terms=8,
        orig_weight=0.6,
    ).select(
        "query_id",
        "doc_id",
        "n_terms_hit",
        F.col("score").cast("double").alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    ).orderBy("query_id", "rank")


@query("bm25_topk", family="retrieval",
       oracle="WITH " + _bm25_oracle_ctes() + f"""
            SELECT query_id, doc_id,
                   CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
                   CAST(score AS DOUBLE) AS score,
                   CAST(rank AS BIGINT) AS rank
            FROM rk WHERE rank <= {_BM25_K}
            ORDER BY query_id, rank""")
def q_bm25_topk(spark, sf_dir):
    """Inverted-index keyword retrieval: BM25-score a pinned query set
    against the corpus and keep the top-5 docs per query. The corpus
    side is tokenized scan-side and semi-joined against the BROADCAST
    query vocabulary before anything shuffles; df/N/avgdl are tiny
    aggregates; every float step is either correctly-rounded IEEE with
    pinned association or a round(·,9)-quantized ln, and per-term
    scores sum as DECIMAL — so the DuckDB twin lands on identical
    values (the ANN-IVF discipline)."""
    from mindocr_spark.functions.search import bm25_topk

    return (
        bm25_topk(
            _t(spark, sf_dir, "documents").select("doc_id", "text"),
            _BM25_QUERIES,
            k=_BM25_K,
        )
        .select(
            "query_id",
            "doc_id",
            "n_terms_hit",
            F.col("score").cast("double").alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


#: Pinned phrases for positional search: two frequent corpus bigrams,
#: a trigram with a DUPLICATE token (slot semantics, not bag-of-words),
#: and a phrase whose second token never occurs ('spill' is absent from
#: the corpus vocabulary — the query must yield zero rows, not error).
_PHRASES = {
    0: ["table", "hash"],
    1: ["slow", "query"],
    2: ["table", "table", "key"],
    3: ["fast", "spill"],
}


# consecutive-run counts per pinned phrase via list
# comprehension over the shared tokenization; arms generated
# from the SAME _PHRASES constant the Spark query uses
@query("phrase_search", family="retrieval", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents),
            tok AS (
              SELECT doc_id, string_split(norm, ' ') AS toks
              FROM t WHERE norm <> ''),
            c AS (__ARMS__)
            SELECT query_id, doc_id, n_occurrences
            FROM c WHERE n_occurrences >= 1
            ORDER BY query_id, doc_id
        """.replace("__ARMS__", " UNION ALL ".join(
            "SELECT %d AS query_id, doc_id, CAST(len(list_filter("
            "range(1, len(toks) - %d + 2), i -> %s)) AS INT)"
            " AS n_occurrences FROM tok WHERE len(toks) >= %d"
            % (qid, len(terms),
               " AND ".join(
                   "toks[i+%d] = '%s'" % (j, t.replace("'", "''"))
                   for j, t in enumerate(terms)),
               len(terms))
            for qid, terms in sorted(_PHRASES.items())
        )))
def q_phrase_search(spark, sf_dir):
    """Exact phrase retrieval over POSITIONAL postings: slot j's
    positions shift by −j and the phrase's start set is the
    intersection of all shifted lists — the classic Lucene positional
    plan, with the corpus side semi-joined against the broadcast
    phrase vocabulary before anything shuffles. The oracle counts
    consecutive token runs directly via DuckDB list comprehension, so
    the tokenization, the postings, the shift-intersect plan, AND the
    occurrence counts must all agree."""
    from mindocr_spark.functions.search import phrase_search

    return phrase_search(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        _PHRASES,
    ).orderBy("query_id", "doc_id")


@query("concordance", family="retrieval", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(text,'[ \t\n\r\f\x0B]+',' ','g'))
                       AS norm
              FROM documents),
            tok AS (
              SELECT doc_id, string_split(norm, ' ') AS toks
              FROM t WHERE norm <> ''),
            c AS (__ARMS__)
            SELECT query_id, doc_id, CAST(pos AS INT) AS pos,
                   coalesce(array_to_string(list_slice(
                     toks, greatest(1, pos - 3), pos - 1), ' '), '')
                     AS left_ctx,
                   array_to_string(list_slice(
                     toks, pos, pos + m - 1), ' ') AS phrase,
                   coalesce(array_to_string(list_slice(
                     toks, pos + m, least(len(toks), pos + m + 2)),
                     ' '), '') AS right_ctx
            FROM c ORDER BY query_id, doc_id, pos
        """.replace("__ARMS__", " UNION ALL ".join(
            "SELECT %d AS query_id, doc_id, toks, %d AS m,"
            " unnest(list_filter(range(1, len(toks) - %d + 2),"
            " i -> %s)) AS pos"
            " FROM tok WHERE len(toks) >= %d"
            % (qid, len(terms), len(terms),
               " AND ".join(
                   "toks[i+%d] = '%s'" % (j, t.replace("'", "''"))
                   for j, t in enumerate(terms)),
               len(terms))
            for qid, terms in sorted(_PHRASES.items())
        )))
def q_concordance(spark, sf_dir):
    """KWIC concordance: every pinned-phrase occurrence with ±3 tokens
    of context, edge-clamped — the shared positional-intersection core
    exploded to the occurrence grain, context sliced JVM-side."""
    from mindocr_spark.functions.search import concordance

    return concordance(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        _PHRASES, window=3,
    ).orderBy("query_id", "doc_id", "pos")


#: Pinned char dict (str2idx analog — reference: rec_transforms.py:222-246;
#: the reference ships 94-char en_dict.txt, mindocr/utils/dict/).
_CHAR_DICT = "abcdefghijklmnopqrstuvwxyz "


@query("char_dict_encode", family="tokenizers", oracle=f"""
            SELECT doc_id,
                   array_to_string(
                     list_filter(
                       list_transform(
                         string_split(substr(lower(text), 1, 20), ''),
                         c -> strpos('{_CHAR_DICT}', c)),
                       i -> i > 0),
                     ',') AS idx_str
            FROM documents ORDER BY doc_id
        """)
def q_char_dict_encode(spark, sf_dir):
    """Text → char-index sequence via broadcast dict; OOD chars skipped
    (RecCTCLabelEncode, reference: rec_transforms.py:104-132)."""
    d = _t(spark, sf_dir, "documents")
    idx = F.expr(
        "transform(split(substring(lower(text), 1, 20), ''), "
        f"c -> instr('{_CHAR_DICT}', c))"
    )
    kept = F.filter(idx, lambda i: i > 0)
    return d.select(
        "doc_id", F.concat_ws(",", kept).alias("idx_str")
    ).orderBy("doc_id")


@query("argmax_cls", oracle="""
            SELECT vec_id,
                   CAST(list_position(embedding,
                        list_aggregate(embedding, 'max')) AS BIGINT) AS argmax_idx,
                   round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) AS max_val
            FROM embeddings ORDER BY vec_id
        """)
def q_argmax_cls(spark, sf_dir):
    """Argmax over a score vector (ClsPostprocess, reference:
    cls_postprocess.py:15-27): class = position of max logit."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.array_position(F.col("embedding"), F.array_max("embedding"))
        .cast("bigint").alias("argmax_idx"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("max_val"),
    ).orderBy("vec_id")


@query("ctc_collapse", family="tokenizers", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ') AS l
              FROM documents)
            SELECT doc_id,
                   array_to_string(
                     list_filter(
                       list_filter(l, (x, i) -> i = 1 OR x != l[i - 1]),
                       x -> x != 'the'),
                     ' ') AS collapsed
            FROM t ORDER BY doc_id
        """)
def q_ctc_collapse(spark, sf_dir):
    """The CTC decode semantics (dedupe consecutive repeats → drop blank
    → join; reference: rec_postprocess.py:92-158) as pure array
    expressions, with 'the' as the blank token."""
    d = _t(spark, sf_dir, "documents")
    from mindocr_spark.functions.text import WS_CLASS

    toks = F.split(F.trim(F.regexp_replace("text", WS_CLASS, " ")), " ")
    dedup = F.filter(
        toks, lambda x, i: (i == 0) | (x != F.element_at(toks, i))
    )
    no_blank = F.filter(dedup, lambda x: x != "the")
    return d.select(
        "doc_id", F.concat_ws(" ", no_blank).alias("collapsed")
    ).orderBy("doc_id")


# template_cluster: whole-page bytes rebuilt via the shared
# chrome expression + the variant CASE; identical tag regex,
# signature md5 and cluster-size join in SQL
@query("template_cluster", oracle=f"""
            WITH h AS (
              SELECT {_URL_SQL} AS url,
                     {_html_expr(_tpl_case)} AS html
              FROM documents),
            s AS (
              SELECT url,
                     md5(array_to_string(regexp_extract_all(
                       lower(html), '__TAGRE__', 1), '>')) AS template_id,
                     CAST(len(regexp_extract_all(
                       lower(html), '__TAGRE__', 1)) AS BIGINT) AS n_tags
              FROM h),
            c AS (
              SELECT template_id, count(*) AS template_pages
              FROM s GROUP BY template_id)
            SELECT s.url, s.template_id, s.n_tags,
                   CAST(c.template_pages AS BIGINT) AS template_pages
            FROM s JOIN c USING (template_id) ORDER BY s.url
        """.replace("__TAGRE__", _TPL_TAG_RE))
def q_template_cluster(spark, sf_dir):
    """Page-template clustering over the four-variant corpus family:
    the opening-tag-sequence signature must collapse every page onto
    exactly its structural variant (four clusters with closed-form
    sizes) regardless of per-page text. Oracle: identical regex +
    md5 signature + cluster-size join in SQL."""
    from mindocr_spark.functions.structured import template_signature_cols
    from mindocr_spark.sources.pages import pages_from_documents_variants

    return template_signature_cols(
        pages_from_documents_variants(spark, sf_dir)
    ).orderBy("url")


# gate_attribution: gate predicates + CASE precedence chain
# recomputed in SQL (stop_ratio from the shared _STOP_RE device)
@query("gate_attribution", family="curation", oracle=r"""
            WITH built AS (
              SELECT doc_id, lang,
                     CASE WHEN doc_id % 13 = 0 THEN text || ' badword'
                          ELSE text END AS text
              FROM documents),
            q AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                       '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b'))
                       AS sh,
                     CASE WHEN trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+', ' ', 'g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+', ' ', 'g')), ' '))
                     END AS nt
              FROM built),
            g AS (
              SELECT b.doc_id,
                     -- every gate coalesces NULL to fail, exactly as
                     -- gate_attribution does ("no evidence ≠ pass")
                     coalesce(b.lang IN ('en', 'de', 'es', 'fr'),
                              FALSE) AS g1,
                     coalesce(length(b.text) >= 200, FALSE) AS g2,
                     coalesce(round(CAST(q.sh AS DOUBLE)
                       / CAST(nullif(q.nt, 0) AS DOUBLE), 6)
                       >= CAST(0.04 AS DOUBLE), FALSE) AS g3,
                     coalesce(NOT regexp_matches(lower(b.text),
                       '(\bbadword\b)'), FALSE) AS g4
              FROM built b JOIN q USING (doc_id))
            SELECT doc_id,
                   CASE WHEN NOT g1 THEN 'lang_keep'
                        WHEN NOT g2 THEN 'min_chars'
                        WHEN NOT g3 THEN 'stop_ratio'
                        WHEN NOT g4 THEN 'blockwords' END
                     AS first_failed_gate,
                   CAST((CASE WHEN g1 THEN 0 ELSE 1 END)
                      + (CASE WHEN g2 THEN 0 ELSE 1 END)
                      + (CASE WHEN g3 THEN 0 ELSE 1 END)
                      + (CASE WHEN g4 THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_failed,
                   CAST(CASE WHEN g1 AND g2 AND g3 AND g4
                             THEN 1 ELSE 0 END AS BIGINT) AS passed
            FROM g ORDER BY doc_id
        """)
def q_gate_attribution(spark, sf_dir):
    """Per-doc rejection attribution over an ordered gate chain (the
    funnel-observability complement of curate()'s survivor counts):
    language keep-list → length floor → stop-ratio floor → blockword
    scan, with a blockword planted on every 13th doc. first-failed
    precedence, fail-on-NULL, n_failed counting all gates, and the
    passed verdict are all recomputed as one SQL CASE chain."""
    from mindocr_spark.curate import gate_attribution
    from mindocr_spark.functions.text import blockword_pattern, quality_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    built = docs.select(
        "doc_id", "lang",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" badword")),
        ).otherwise(F.col("text")).alias("text"),
    )
    q = quality_cols(built).select("doc_id", "stop_ratio")
    d = built.join(q, "doc_id")
    pat = blockword_pattern(("badword",))
    gates = [
        ("lang_keep", F.col("lang").isin("en", "de", "es", "fr")),
        ("min_chars", F.length("text") >= F.lit(200)),
        ("stop_ratio", F.col("stop_ratio") >= F.lit(0.04)),
        ("blockwords", ~F.lower(F.col("text")).rlike(pat)),
    ]
    return gate_attribution(d, gates).orderBy("doc_id")


# selection_bias: gate chain + survivor set + drift tail in
# one SQL (the gate_attribution and unigram_drift devices
# composed exactly as the Spark query composes the operators)
@query("selection_bias", family="curation", oracle=r"""
            WITH built AS (
              SELECT doc_id, lang,
                     CASE WHEN doc_id % 13 = 0 THEN text || ' badword'
                          ELSE text END AS text
              FROM documents),
            q AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                       '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b'))
                       AS sh,
                     CASE WHEN trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+', ' ', 'g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text,
                            '[ \t\n\r\f\x0B]+', ' ', 'g')), ' '))
                     END AS nt
              FROM built),
            g AS (
              SELECT b.doc_id,
                     coalesce(b.lang IN ('en', 'de', 'es', 'fr'),
                              FALSE) AS g1,
                     coalesce(length(b.text) >= 200, FALSE) AS g2,
                     coalesce(round(CAST(q.sh AS DOUBLE)
                       / CAST(nullif(q.nt, 0) AS DOUBLE), 6)
                       >= CAST(0.04 AS DOUBLE), FALSE) AS g3,
                     coalesce(NOT regexp_matches(lower(b.text),
                       '(\bbadword\b)'), FALSE) AS g4
              FROM built b JOIN q USING (doc_id)),
            kept AS (
              SELECT b.doc_id, b.lang, b.text
              FROM built b JOIN g USING (doc_id)
              WHERE g1 AND g2 AND g3 AND g4),
            old_t AS (
              SELECT coalesce(lang, 'und') AS grp,
                     unnest(string_split(trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ')) AS token,
                     0 AS side
              FROM built),
            new_t AS (
              SELECT coalesce(lang, 'und') AS grp,
                     unnest(string_split(trim(regexp_replace(text,
                       '[ \t\n\r\f\x0B]+', ' ', 'g')), ' ')) AS token,
                     1 AS side
              FROM kept),
            allt AS (
              SELECT * FROM old_t UNION ALL SELECT * FROM new_t),
            counts AS (
              SELECT grp, token,
                     count(*) FILTER (WHERE side = 0) AS c_old,
                     count(*) FILTER (WHERE side = 1) AS c_new
              FROM allt GROUP BY grp, token),
            tot AS (
              SELECT grp, sum(c_old) AS n_old, sum(c_new) AS n_new,
                     count(*) AS v
              FROM counts GROUP BY grp),
            terms AS (
              SELECT c.grp, t.n_old, t.n_new, t.v,
                     CAST(round(
                       (CAST(c.c_new + 1 AS DOUBLE)
                          / CAST(t.n_new + t.v AS DOUBLE))
                       * round(ln(
                           (CAST(c.c_new + 1 AS DOUBLE)
                              / CAST(t.n_new + t.v AS DOUBLE))
                           / (CAST(c.c_old + 1 AS DOUBLE)
                              / CAST(t.n_old + t.v AS DOUBLE))), 9),
                       12) AS DECIMAL(28,12)) AS term
              FROM counts c JOIN tot t USING (grp))
            SELECT grp AS lang,
                   CAST(any_value(n_old) AS BIGINT) AS n_tokens_all,
                   CAST(any_value(n_new) AS BIGINT) AS n_tokens_kept,
                   CAST(any_value(v) AS BIGINT) AS vocab_size,
                   round(CAST(sum(term) AS DOUBLE), 6) + 0.0
                     AS kl_shift
            FROM terms GROUP BY grp ORDER BY lang
        """)
def q_selection_bias(spark, sf_dir):
    """Selection-bias audit — the composition the two new operators
    exist for: run the gate_attribution funnel, then measure
    KL(kept‖all) per language with unigram_drift. Quality gates that
    systematically shift the surviving token distribution (dropping
    short docs shifts vocabulary; blockword gates remove whole topics)
    show up as per-stratum divergence BEFORE training does. The
    oracle recomputes gates, survivor set, and drift in one SQL."""
    from mindocr_spark.curate import gate_attribution
    from mindocr_spark.functions.text import (
        blockword_pattern,
        quality_cols,
        unigram_drift,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    built = docs.select(
        "doc_id", "lang",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" badword")),
        ).otherwise(F.col("text")).alias("text"),
    )
    q = quality_cols(built).select("doc_id", "stop_ratio")
    d = built.join(q, "doc_id")
    gates = [
        ("lang_keep", F.col("lang").isin("en", "de", "es", "fr")),
        ("min_chars", F.length("text") >= F.lit(200)),
        ("stop_ratio", F.col("stop_ratio") >= F.lit(0.04)),
        ("blockwords", ~F.lower(F.col("text")).rlike(
            blockword_pattern(("badword",)))),
    ]
    verdicts = gate_attribution(d, gates).select("doc_id", "passed")
    kept = built.join(verdicts, "doc_id").where(F.col("passed") == 1)
    return (
        unigram_drift(built, kept, group_col="lang")
        .select(
            F.col("grp").alias("lang"),
            F.col("n_tokens_old").alias("n_tokens_all"),
            F.col("n_tokens_new").alias("n_tokens_kept"),
            "vocab_size",
            # round 6 (+0.0 signed-zero rule): the per-term 9-dp log
            # quantization can straddle a rounding boundary by one
            # engine ulp (ln differs in the last ulp between libm and
            # the JVM), leaving ~1e-12 sum drift — seen once at
            # sf0.001; the 6-dp checked surface absorbs it
            (F.round(F.col("kl_drift"), 6) + F.lit(0.0))
            .alias("kl_shift"),
        )
        .orderBy("lang")
    )


@query("curate_pipeline", family="curation", oracle=f"""
            WITH x AS (
              SELECT 'https://docs.example/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
                     '{_A}' || chr(10) || text AS etext
              FROM documents
              WHERE {_ANCHOR_LEN} + 1 + length(text) >= 300),
            d AS (
              SELECT url, etext,
                     min(url) OVER (PARTITION BY
                       md5(lower(trim(regexp_replace(etext,
                           '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))))) AS rep
              FROM x),
            c AS (
              SELECT url, lower(etext) AS lt, length(etext) AS n_chars
              FROM d WHERE url = rep)
            SELECT url,
                   CASE WHEN len(regexp_extract_all(lt, '[一-鿿]')) > 0 THEN 'zh'
                        WHEN greatest(
                          len(regexp_extract_all(lt, '\\b(the|and|is|of|to|in|that|it|for|was)\\b')),
                          len(regexp_extract_all(lt, '\\b(der|die|das|und|ist|nicht|ein|mit|von|zu)\\b')),
                          len(regexp_extract_all(lt, '\\b(el|la|los|las|es|y|de|que|en|un|una|por)\\b'))) = 0
                          THEN 'unknown'
                        WHEN len(regexp_extract_all(lt, '\\b(the|and|is|of|to|in|that|it|for|was)\\b')) = greatest(
                          len(regexp_extract_all(lt, '\\b(the|and|is|of|to|in|that|it|for|was)\\b')),
                          len(regexp_extract_all(lt, '\\b(der|die|das|und|ist|nicht|ein|mit|von|zu)\\b')),
                          len(regexp_extract_all(lt, '\\b(el|la|los|las|es|y|de|que|en|un|una|por)\\b')))
                          THEN 'en'
                        WHEN len(regexp_extract_all(lt, '\\b(der|die|das|und|ist|nicht|ein|mit|von|zu)\\b')) = greatest(
                          len(regexp_extract_all(lt, '\\b(the|and|is|of|to|in|that|it|for|was)\\b')),
                          len(regexp_extract_all(lt, '\\b(der|die|das|und|ist|nicht|ein|mit|von|zu)\\b')),
                          len(regexp_extract_all(lt, '\\b(el|la|los|las|es|y|de|que|en|un|una|por)\\b')))
                          THEN 'de'
                        ELSE 'es' END AS lang_pred,
                   CAST(n_chars AS BIGINT) AS n_chars
            FROM c ORDER BY url
        """)
def q_curate_pipeline(spark, sf_dir):
    """The full curation composite (extract → lang/quality gates → exact
    dedup) end-to-end, oracle-checked. MinHash near-dup removal is
    disabled here (threshold > 1) because its xxhash64 family has no SQL
    twin; the portable md5 variant is verified by `minhash_lsh_md5`."""
    from mindocr_spark.curate import CurateConfig, curate

    pages = pages_from_documents(spark, sf_dir).drop("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    curated, _funnel = curate(
        pages, CurateConfig(min_chars=300, neardup_threshold=2.0)
    )
    return curated.select(
        "url", "lang_pred", F.col("n_chars").cast("bigint").alias("n_chars")
    ).orderBy("url")


@query("curate_semantic", family="curation", oracle=(
            f"""
            WITH x AS (
              SELECT doc_id,
                     'https://docs.example/' || source || '/'
                       || CAST(doc_id AS VARCHAR) AS url,
                     '{_A}' || chr(10) || text AS etext
              FROM documents
              WHERE {_ANCHOR_LEN} + 1 + length(text) >= 300),
            d AS (
              SELECT doc_id, url, etext,
                     min(url) OVER (PARTITION BY
                       md5(lower(trim(regexp_replace(etext,
                           '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))))) AS rep
              FROM x),
            c AS (
              SELECT doc_id, url, etext, length(etext) AS n_chars
              FROM d WHERE url = rep),
            """
            + _embed_vec_ctes("etext", src="c") + """,
            e AS (SELECT vec_id, v FROM embv),
            """ + _IVF_TAIL_CTES + """,
            pairs AS (
              SELECT y.neighbor_id AS id_b
              FROM assign xx JOIN assign y USING (cid)
              WHERE xx.neighbor_id < y.neighbor_id
                AND round(list_dot_product(xx.cv, y.cv)
                          / (sqrt(list_dot_product(xx.cv, xx.cv))
                             * sqrt(list_dot_product(y.cv, y.cv))), 4)
                    >= 0.95)
            SELECT c.url, CAST(c.n_chars AS BIGINT) AS n_chars
            FROM c
            WHERE c.doc_id NOT IN (SELECT id_b FROM pairs)
            ORDER BY url
        """))
def q_curate_semantic(spark, sf_dir):
    """The curation composite with the SEMANTIC-dedup tail enabled:
    extract → gates → exact dedup → in-engine embedding
    (`text_embed_cols` — no external vectors anywhere) → SemDeDup at
    the published 0.95 threshold, min-id survivor. The oracle replays
    the whole chain — gates, exact-dedup election, the bit-identical
    embedding, the IVF build, the pair set — so every stage must agree
    for a single row to match. The contract passes the parsed doc_id
    as the semantic id (production defaults to xxhash64(url) — same
    seed-rule and survivor semantics over uniform ids)."""
    from mindocr_spark.curate import CurateConfig, curate

    pages = pages_from_documents(spark, sf_dir).drop("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    curated, _funnel = curate(
        pages,
        CurateConfig(min_chars=300, neardup_threshold=2.0,
                     semdedup_threshold=0.95),
        semdedup_id=F.element_at(F.split("url", "/"), -1).cast("bigint"),
    )
    return curated.select(
        "url", F.col("n_chars").cast("bigint").alias("n_chars")
    ).orderBy("url")


@query("dense_maxp_topk", family="similarity", oracle=_dense_maxp_oracle())
def q_dense_maxp_topk(spark, sf_dir):
    """Dense MaxP long-document retrieval, fully engine-native:
    content-defined passages (`cdc_chunks`, ~256-char expected) →
    in-engine passage AND query embeddings (`text_embed_cols`) →
    max-passage cosine per (query, doc) → top-5. The oracle replays
    the Horner chunk boundaries, the bit-identical embeddings, the
    round-4 cosines, the max-pool AND the rank tie-break — every
    composed stage must agree for one row to match."""
    from mindocr_spark.functions.search import dense_maxp_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dense_maxp_topk(
        docs, docs.where(F.col("doc_id") < 3), k=5
    ).orderBy("query_id", "rank")


def _maxp_quality_corpus(spark, sf_dir):
    """Planted-relevance retrieval fixture (the lsh_quality device
    applied to dense retrieval): an md5-sampled base slice of
    documents plus THREE graded token-prefix variants per base doc
    (fractions 3/6, 4/6, 5/6, floor 5 tokens) whose provenance is
    pure id arithmetic — variant v of doc d is d + v·10^6, so the
    relevant set of every query is KNOWN without labels. Returns
    (base, corpus)."""
    from mindocr_spark.functions.text import tokens_col

    base = (
        _t(spark, sf_dir, "documents")
        .where(
            (F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")),
                1, 1) == "0")
            & (F.length("text") >= 200)
            # the provenance arithmetic (variant = d + v*10^6) is
            # valid ONLY for d < 10^6 — enforce the domain in the
            # sample itself (both sides state the same filter), so a
            # larger tier audits a bounded sample instead of silently
            # colliding variant ids (the dense_maxp packing lesson)
            & (F.col("doc_id") >= 0) & (F.col("doc_id") < 1_000_000)
        )
        .select("doc_id", "text")
    )
    tk = base.select("doc_id", tokens_col("text").alias("toks"))
    v = F.col("v")
    variants = tk.crossJoin(
        spark.range(1, 4).select(F.col("id").cast("bigint").alias("v"))
    ).select(
        (F.col("doc_id") + v * F.lit(1_000_000)).alias("doc_id"),
        F.array_join(
            F.slice(
                F.col("toks"), F.lit(1),
                F.greatest(
                    F.lit(5),
                    F.expr("(size(toks) * (v + 2)) div 6"),
                ).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    return base, base.unionByName(variants)


@query("maxp_quality", oracle=_maxp_quality_oracle())
def q_maxp_quality(spark, sf_dir):
    """Retrieval-QUALITY audit of the in-engine embedder: recall@5 of
    (a) dense MaxP passage retrieval and (b) whole-document
    brute-force cosine against the planted graded-prefix relevance
    fixture (`_maxp_quality_corpus` — 3 known-relevant variants per
    query). `text_embed` is bit-exact by construction; this measures
    whether its VECTORS RANK: each query's prefix variants must crowd
    the top-5. One row per (query, method): n_caught of 3 + recall.
    The oracle replays the full chain for BOTH arms — chunking,
    embeddings, cosines, ranks, and the recall aggregation. A recall
    floor is asserted in pytest (tests/test_search.py)."""
    from mindocr_spark.functions.embed import embed_norm, text_embed_cols
    from mindocr_spark.functions.search import dense_maxp_topk
    from mindocr_spark.functions.similarity import cosine_topk

    base, corpus = _maxp_quality_corpus(spark, sf_dir)
    k = 5
    maxp = dense_maxp_topk(corpus, base, k=k).select(
        "query_id", "doc_id", F.lit("maxp").alias("method"))
    emb = text_embed_cols(corpus).where(
        embed_norm("embedding") > 0
    ).withColumnRenamed("doc_id", "vec_id")
    whole = cosine_topk(
        emb, emb.where(F.col("vec_id") < 1_000_000), k=k
    ).select(
        "query_id", F.col("neighbor_id").alias("doc_id"),
        F.lit("whole_doc").alias("method"))
    hits = maxp.unionByName(whole).where(
        F.pmod(F.col("doc_id"), F.lit(1_000_000)) == F.col("query_id"))
    grid = base.select(F.col("doc_id").alias("query_id")).crossJoin(
        spark.createDataFrame(
            [("maxp",), ("whole_doc",)], "method string"))
    counts = hits.groupBy("query_id", "method").agg(
        F.count(F.lit(1)).alias("n_caught"))
    return (
        grid.join(counts, ["query_id", "method"], "left")
        .select(
            "query_id", "method",
            F.coalesce("n_caught", F.lit(0)).cast("bigint")
            .alias("n_caught"),
            F.round(
                F.coalesce("n_caught", F.lit(0)).cast("double")
                / F.lit(3.0), 6).alias("recall"),
        )
        .orderBy("query_id", "method")
    )


@query("triplet_mining", family="similarity", oracle=(
            "WITH " + _embed_vec_ctes("text") + """,
            ev2 AS (SELECT vec_id, v FROM embv),
            cand AS (
              SELECT a.vec_id AS anchor_id, b.vec_id AS nb,
                     round(list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v))
                              * sqrt(list_dot_product(b.v, b.v))), 4)
                       AS c,
                     row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY round(list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v))
                              * sqrt(list_dot_product(b.v, b.v))), 4)
                         DESC, b.vec_id ASC) AS rank
              FROM ev2 a JOIN ev2 b ON a.vec_id != b.vec_id
              WHERE a.vec_id < 200),
            top AS (SELECT * FROM cand WHERE rank <= 10),
            pos AS (
              SELECT anchor_id, nb AS pos_id, c AS pos_sim
              FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                ORDER BY rank) AS r
                    FROM top WHERE c >= 0.95)
              WHERE r = 1),
            neg AS (
              SELECT anchor_id, nb AS neg_id, c AS neg_sim
              FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                ORDER BY rank) AS r
                    FROM top WHERE c < 0.9)
              WHERE r = 1)
            SELECT CAST(p.anchor_id AS BIGINT) AS anchor_id,
                   CAST(p.pos_id AS BIGINT) AS pos_id, p.pos_sim,
                   CAST(n.neg_id AS BIGINT) AS neg_id, n.neg_sim
            FROM pos p JOIN neg n USING (anchor_id)
            ORDER BY anchor_id
        """))
def q_triplet_mining(spark, sf_dir):
    """Contrastive triplet mining over the engine's OWN embeddings
    (text_embed over raw document text): per anchor, the best top-10
    candidate at cos ≥ 0.95 is the positive, the best strictly below
    0.9 the hard negative — the DPR/Sentence-BERT hard-negative
    recipe as one declarative plan. The oracle replays the embedding,
    the candidate top-10 truncation, and both rank-1 selections."""
    from mindocr_spark.functions.embed import text_embed_cols
    from mindocr_spark.functions.similarity import triplet_mining

    emb = text_embed_cols(
        _t(spark, sf_dir, "documents")
    ).withColumnRenamed("doc_id", "vec_id")
    return triplet_mining(
        emb, emb.where(F.col("vec_id") < 200)
    ).orderBy("anchor_id")


@query("bucketed_join", family="joins_agg", oracle="""
            SELECT d.lang, e.label,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
            GROUP BY d.lang, e.label ORDER BY lang, label
        """)
def q_bucketed_join(spark, sf_dir):
    """Co-located bucketed join — the pay-the-shuffle-once discipline
    for repeated large⋈large joins: documents and embeddings are
    persisted as bucketed catalog tables (8 buckets on their join
    keys, bucket-sorted), then joined with ZERO Exchange on either
    side (plan-asserted in pytest; the same join over plain parquet
    shows two). The oracle states the per-lang rollup of the plain
    join — bucketing must change the PLAN, never the rows. Iceberg
    analog: the write-side half of the bucket partition transform
    (SURVEY §1.4), here through Spark's native bucketing."""
    import hashlib
    import os

    from mindocr_spark.operators.joins import bucketed_join, write_bucketed

    # session- and tier-unique table names/path: two concurrent driver
    # or bench sessions (or overlapping sf tiers) must never overwrite
    # each other's bucketed tables mid-query — a clobber here yields
    # silently WRONG join results, not a clean failure.
    tag = hashlib.md5(
        f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:10]
    root = f"/tmp/mindocr_bucketed_{tag}"
    # pid-unique names accumulate across processes: sweep STALE
    # leftovers (mtime > 1 h, never this process's own tag) so
    # repeated bench/driver/pytest runs don't grow /tmp and the
    # warehouse without bound. Every call touches its own directory
    # before sweeping, so a directory is an hour old only when no
    # session has used it for an hour — never a live session's.
    import glob as _glob
    import shutil as _shutil
    import time as _time

    os.makedirs(root, exist_ok=True)
    os.utime(root)
    cutoff = _time.time() - 3600
    for d in _glob.glob("/tmp/mindocr_bucketed_*"):
        if d.endswith(tag):
            continue
        try:
            if os.path.getmtime(d) < cutoff:
                _shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue
    docs_tbl = f"mindocr_docs_bucketed_{tag}"
    emb_tbl = f"mindocr_emb_bucketed_{tag}"
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    write_bucketed(d, docs_tbl, "doc_id", 8, path=f"{root}/docs")
    write_bucketed(e, emb_tbl, "vec_id", 8, path=f"{root}/emb")
    j = bucketed_join(spark, docs_tbl, emb_tbl, "doc_id", "vec_id")
    return (
        j.groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("lang", "label",
                F.col("n_pairs").cast("bigint").alias("n_pairs"),
                F.col("sum_chars").cast("bigint").alias("sum_chars"))
        .orderBy("lang", "label")
    )


@query("attn_tokens", family="tokenizers", oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(coalesce(text, ''),'[ \t\n\r\f\x0B]+',' ','g')) AS norm
              FROM documents)
            SELECT doc_id,
                   CAST(CASE WHEN norm = '' THEN 2
                        ELSE len(string_split(norm,' ')) + 2 END AS BIGINT) AS seq_len,
                   CASE WHEN norm = '' THEN '<GO> <STOP>'
                        ELSE '<GO> ' || norm || ' <STOP>' END AS framed
            FROM t ORDER BY doc_id
        """)
def q_attn_tokens(spark, sf_dir):
    """GO/STOP sequence framing (RecAttnLabelEncode, reference:
    rec_transforms.py:135-219): wrap the token sequence in sentinels."""
    from mindocr_spark.functions.text import tokens_col

    d = _t(spark, sf_dir, "documents")
    # coalesce: concat propagates NULL while the oracle's CASE does not
    seq = F.concat(
        F.array(F.lit("<GO>")),
        tokens_col(F.coalesce(F.col("text"), F.lit(""))),
        F.array(F.lit("<STOP>")),
    )
    return d.select(
        "doc_id",
        F.size(seq).cast("bigint").alias("seq_len"),
        F.concat_ws(" ", seq).alias("framed"),
    ).orderBy("doc_id")


# the sketch value is engine-specific; the oracle checks the
# exact counts and ASSERTS the sketch's 10% accuracy envelope
# (within_tol must come back TRUE from the Spark side)
@query("approx_distinct", family="sketches", oracle="""
            SELECT event_type, COUNT(*) AS n,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS within_tol
            FROM events GROUP BY event_type ORDER BY event_type
        """)
def q_approx_distinct(spark, sf_dir):
    """Sketch aggregation (HLL++) made oracle-checkable: the sketch
    VALUE differs per engine, so the checked surface is (a) the exact
    distinct count alongside it and (b) `within_tol` — whether the
    Spark sketch lands within 5× its configured rsd of exact. The
    oracle asserts within_tol = TRUE, so sketch-accuracy regressions
    turn the row red; the raw sketch value and tighter accuracy curves
    stay in tests/test_sketches.py."""
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n"),
    )
    tol = (
        F.abs(F.col("approx_users") - F.col("exact_users")).cast("double")
        / F.col("exact_users").cast("double")
        <= 0.10
    )
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("exact_users").cast("bigint").alias("exact_users"),
        tol.alias("within_tol"),
    ).orderBy("event_type")


# ==========================================================================
# Layout / PDF block path (det→layout second payload)
# ==========================================================================


@query("layout_reading_order", oracle="""
            WITH ch AS (
              SELECT doc_id, length(text) AS L, length(text) // 4 AS q, text
              FROM documents)
            SELECT doc_id, rn, page, x0, snippet FROM (
              SELECT doc_id, CAST(1 AS BIGINT) AS rn, 1 AS page, 36.0 AS x0,
                     substr(text, 1, least(q, 10)) AS snippet FROM ch
              UNION ALL
              SELECT doc_id, 2, 1, 318.0, substr(text, q + 1, least(q, 10)) FROM ch
              UNION ALL
              SELECT doc_id, 3, 2, 36.0, substr(text, 2 * q + 1, least(q, 10)) FROM ch
              UNION ALL
              SELECT doc_id, 4, 2, 318.0,
                     substr(text, 3 * q + 1, least(L - 3 * q, 10)) FROM ch
            ) ORDER BY doc_id, rn
        """)
def q_layout_reading_order(spark, sf_dir):
    """2-D blocks → chrome filter → containment NMS → newspaper reading
    order (the sorted_boxes + lanms capabilities over PDF-style geometry)."""
    from mindocr_spark.operators.layout import (
        CHROME_KINDS,
        reading_order,
        suppress_contained,
        synth_layout_blocks,
    )

    blocks = synth_layout_blocks(spark, sf_dir)
    content = suppress_contained(blocks.where(~F.col("kind").isin(*CHROME_KINDS)))
    return (
        reading_order(content)
        .select(
            "doc_id",
            F.col("rn").cast("bigint").alias("rn"),
            F.col("page").cast("int").alias("page"),
            "x0",
            F.substring("text", 1, 10).alias("snippet"),
        )
        .orderBy("doc_id", "rn")
    )


@query("layout_assemble", oracle="""
            WITH ch AS (
              SELECT doc_id, length(text) AS L, length(text) // 4 AS q, text
              FROM documents)
            SELECT doc_id,
                   substr(text, 1, q) || chr(10) || chr(10)
                   || substr(text, q + 1, q) || chr(10) || chr(10)
                   || substr(text, 2 * q + 1, q) || chr(10) || chr(10)
                   || substr(text, 3 * q + 1, L - 3 * q) AS doc_text,
                   CAST(4 AS BIGINT) AS n_blocks
            FROM ch ORDER BY doc_id
        """)
def q_layout_assemble(spark, sf_dir):
    """Full layout path: blocks → per-doc assembled text."""
    from mindocr_spark.operators.layout import assemble_document, synth_layout_blocks

    return (
        assemble_document(synth_layout_blocks(spark, sf_dir))
        .select("doc_id", "doc_text", F.col("n_blocks").cast("bigint").alias("n_blocks"))
        .orderBy("doc_id")
    )


# every block window integral; nl = chr(10); optional arms as
# empty-string CASEs so one concat states the whole document
@query("extract_markdown", family="extraction", oracle="""
            WITH ch AS (
              SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds,
                     length(text) AS L, length(text) // 4 AS q, text
              FROM documents)
            SELECT doc_id,
                   '# Report ' || ds
                   || CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || chr(10) || '## Section ' || ds
                        ELSE '' END
                   || chr(10) || chr(10) || substr(text, 1, q)
                   || chr(10) || chr(10) || '- ' || substr(text, q + 1, 20)
                   || chr(10) || chr(10) || '- ' || substr(text, q + 21, 20)
                   || CASE WHEN doc_id % 4 = 1
                        THEN chr(10) || chr(10) || '```' || chr(10)
                             || substr(text, 2 * q + 1, 30)
                             || chr(10) || '```'
                        ELSE '' END
                   || CASE WHEN doc_id % 5 = 2
                        THEN chr(10) || chr(10) || '> '
                             || substr(text, 2 * q + 31, 25)
                        ELSE '' END
                   || chr(10) || chr(10) || substr(text, 3 * q + 1, L - 3 * q)
                     AS md_text,
                   CAST(5 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                          + CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END
                          + CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_blocks
            FROM ch ORDER BY doc_id
        """)
def q_extract_markdown(spark, sf_dir):
    """Layout → MARKDOWN corpus export: the rich block family (h1/h2/
    para/li/code/quote + chrome) through the kind-decorating assembler.
    Same one-shuffle plan as plain assembly; the oracle restates each
    doc's markdown arithmetically (every block window is integral)."""
    from mindocr_spark.operators.layout import (
        assemble_markdown,
        synth_rich_layout_blocks,
    )

    return (
        assemble_markdown(synth_rich_layout_blocks(spark, sf_dir))
        .select("doc_id", "md_text",
                F.col("n_blocks").cast("bigint").alias("n_blocks"))
        .orderBy("doc_id")
    )


@query("layout_from_bytes", oracle="""
            WITH ch AS (
              SELECT doc_id, length(text) AS L, length(text) // 4 AS q, text
              FROM documents)
            SELECT doc_id,
                   substr(text, 1, q) || chr(10) || chr(10)
                   || substr(text, q + 1, q) || chr(10) || chr(10)
                   || substr(text, 2 * q + 1, q) || chr(10) || chr(10)
                   || substr(text, 3 * q + 1, L - 3 * q) AS doc_text,
                   CAST(4 AS BIGINT) AS n_blocks
            FROM ch ORDER BY doc_id
        """)
def q_layout_from_bytes(spark, sf_dir):
    """End-to-end bytes→regions→text over the REAL second-payload codec:
    PDF 1.4 bytes (written distributed from documents) → xref walk +
    content-stream tokenize (mindocr_spark.pdf.parse_pdf) → containment
    NMS → newspaper reading order → assembly. The reference's full
    bytes-in pipeline contract (reference:
    tools/infer/text/predict_system.py:77-109, deploy/py_infer/src/
    parallel/parallel_pipeline.py:39-67); oracle reconstructs the
    assembled text directly from documents (writer+parser are exact
    inverses, proven per-byte in tests/test_pdf.py).

    Runs the FUSED single-stage plan (zero shuffles — all of a doc's
    blocks come from one payload row, so per-doc NMS/order/assembly
    belongs inside the parse stage, like the fused HTML extraction);
    the relational block operators are proven equal in tests/test_pdf
    and exercised by layout_assemble/layout_reading_order."""
    from mindocr_spark.pdf import pdf_extract_fused, synth_pdf_table

    return (
        pdf_extract_fused(synth_pdf_table(spark, sf_dir))
        .select("doc_id", "doc_text",
                F.col("n_blocks").cast("bigint").alias("n_blocks"))
        .orderBy("doc_id")
    )


# ==========================================================================
# Multimodal plumbing
# ==========================================================================


@query("multimodal_features", family="multimodal", oracle="""
            SELECT CAST(range AS BIGINT) AS id,
                   CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(33 * ((range * 37 + 7) % 29 + 2) AS BIGINT) AS n_bytes,
                   md5(repeat(md5('7:' || CAST(range AS VARCHAR)) || '|',
                              CAST((range * 37 + 7) % 29 + 2 AS INT))) AS checksum,
                   false AS failed
            FROM range(64) ORDER BY id
        """)
def q_multimodal_features(spark, sf_dir):
    """Binary-payload feature plumbing with the deterministic fake codec
    (real codecs stubbed, Spark-side contract fully real)."""
    from mindocr_spark.multimodal import (
        extract_media_features,
        fake_decode,
        synth_media_table,
    )

    media = synth_media_table(spark, n=64, seed=7)
    return (
        extract_media_features(media, decode=fake_decode)
        .select("id", "kind", "n_bytes", "checksum", "failed")
        .orderBy("id")
    )


@query("multimodal_real_codec", family="multimodal", oracle="""
            WITH ids AS (SELECT range AS id FROM range(64)),
            img AS (SELECT id, id % 5 + 3 AS side FROM ids WHERE id % 2 = 0),
            pix AS (
              SELECT i.id, i.side, x.range AS x, y.range AS y, c.range AS c
              FROM img i, range(7) x, range(7) y, range(3) c
              WHERE x.range < i.side AND y.range < i.side),
            imean AS (
              SELECT id, max(side) AS side,
                     round_even(avg(CAST((id*7 + x*3 + y*11 + c*29) % 256
                                    AS DOUBLE)), 6) AS mean_intensity
              FROM pix GROUP BY id),
            img_out AS (
              SELECT id, 'image' AS kind,
                     CAST(54 + side * (((3*side + 3) // 4) * 4) AS BIGINT) AS n_bytes,
                     mean_intensity
              FROM imean),
            aud AS (SELECT id, (id % 7 + 2) * 8 AS n FROM ids WHERE id % 2 = 1),
            smp AS (
              SELECT a.id, a.n, t.range AS t
              FROM aud a, range(64) t WHERE t.range < a.n),
            amean AS (
              SELECT id, max(n) AS n,
                     round_even(avg(CAST(((id*13 + t*17) % 256 - 128) * 137
                                    AS DOUBLE)), 6) AS mean_intensity
              FROM smp GROUP BY id),
            aud_out AS (
              SELECT id, 'audio' AS kind,
                     CAST(44 + 2 * n AS BIGINT) AS n_bytes, mean_intensity
              FROM amean)
            SELECT id, kind, n_bytes, mean_intensity, false AS failed
            FROM (SELECT * FROM img_out UNION ALL SELECT * FROM aud_out)
            ORDER BY id
        """)
def q_multimodal_real_codec(spark, sf_dir):
    """The REAL codec path: deterministic BMP/WAV payloads decoded by
    the stdlib byte parsers in multimodal.real_decode (struct-unpacked
    BMP rows, wave-module PCM frames — the DecodeImage contract,
    reference: mindocr/data/transforms/general_transforms.py:25-64).
    Decoded statistics (mean intensity, payload sizes) have an exact
    integer-arithmetic SQL oracle even though the payloads are real
    file bytes."""
    from mindocr_spark.multimodal import (
        extract_media_features,
        real_decode,
        synth_real_media_table,
    )

    media = synth_real_media_table(spark, n=64)
    return (
        extract_media_features(media, decode=real_decode)
        .select(
            "id", "kind",
            F.col("n_bytes").cast("bigint").alias("n_bytes"),
            "mean_intensity", "failed",
        )
        .orderBy("id")
    )


@query("multimodal_png", family="multimodal", oracle="""
            WITH ids AS (SELECT range AS id FROM range(64)),
            img AS (SELECT id, id % 5 + 3 AS side FROM ids),
            pix AS (
              SELECT i.id, x.range AS x, y.range AS y, c.range AS c
              FROM img i, range(7) x, range(7) y, range(3) c
              WHERE x.range < i.side AND y.range < i.side),
            imean AS (
              SELECT id,
                     round_even(avg(CAST((id*5 + x*7 + y*13 + c*31) % 256
                                    AS DOUBLE)), 6) AS mean_intensity
              FROM pix GROUP BY id)
            SELECT id, 'image' AS kind, mean_intensity, false AS failed
            FROM imean ORDER BY id
        """)
def q_multimodal_png(spark, sf_dir):
    """The COMPRESSED real-codec path: deterministic PNG payloads
    (genuine zlib DEFLATE, per-row rotating RFC 2083 filters) decoded
    by multimodal._decode_png — chunk walk with CRC verification,
    inflate, full five-filter reconstruction. The decoded mean is
    oracle-checked from the pixel formula: the only way Spark's value
    can match is a correct decompression + un-filtering, so the oracle
    verifies the codec itself. n_bytes is deliberately NOT in the
    contract (compressed size is a zlib implementation detail)."""
    from mindocr_spark.multimodal import (
        extract_media_features,
        real_decode,
        synth_real_png_table,
    )

    media = synth_real_png_table(spark, n=64)
    return (
        extract_media_features(media, decode=real_decode)
        .select("id", "kind", "mean_intensity", "failed")
        .orderBy("id")
    )


_MULTIMODAL_JPEG_ORACLE = """
    WITH ids AS (SELECT range AS id FROM range(64)),
    img AS (SELECT id, id % 3 + 1 AS tps FROM ids),
    tiles AS (
      SELECT i.id, ty.range AS ty, tx.range AS tx
      FROM img i, range(3) ty, range(3) tx
      WHERE ty.range < i.tps AND tx.range < i.tps),
    imean AS (
      SELECT id,
             round_even(avg(CAST(((id*11 + ty*23 + tx*37) % 128) * 2
                            AS DOUBLE)), 6) AS mean_intensity
      FROM tiles GROUP BY id)
    SELECT id, 'image' AS kind, mean_intensity, false AS failed
    FROM imean ORDER BY id"""


# compressed PNG codec path: the mean is only reachable via a
# working inflate + five-filter reconstruction — the formula
# below is the PIXEL source, not the byte stream
@query("multimodal_jpeg", family="multimodal", oracle=_MULTIMODAL_JPEG_ORACLE)
def q_multimodal_jpeg(spark, sf_dir):
    """The ENTROPY-CODED real-codec path: deterministic baseline JPEG
    payloads (genuine DCT → quantize → canonical-Huffman bitstream
    with byte stuffing) decoded by multimodal._decode_jpeg — segment
    walk, in-file DQT/DHT reconstruction, bit-level entropy decode,
    dequant + inverse zigzag + IDCT. The corpus is constant even-valued
    8×8 tiles (DC-only blocks, exact through the DC-16 quantizer), so
    the decoded mean is oracle-checked from the tile formula: Spark's
    value can only match through a working decode chain."""
    from mindocr_spark.multimodal import (
        extract_media_features,
        real_decode,
        synth_real_jpeg_table,
    )

    media = synth_real_jpeg_table(spark, n=64)
    return (
        extract_media_features(media, decode=real_decode)
        .select("id", "kind", "mean_intensity", "failed")
        .orderBy("id")
    )


@query("wds_roundtrip", family="curation", oracle=_MULTIMODAL_JPEG_ORACLE)
def q_wds_roundtrip(spark, sf_dir):
    """WebDataset tar-shard round trip: the real-JPEG corpus exported
    to deterministic tar shards (pinned tar metadata, 16 members each),
    re-ingested by the stdlib loader side, re-decoded — the decoded
    means can only match the tile formula if BOTH the tar round trip
    and the JPEG codec are correct. Same oracle surface as
    multimodal_jpeg, reached through the storage layer."""
    from mindocr_spark.multimodal import (
        export_webdataset,
        extract_media_features,
        ingest_webdataset,
        real_decode,
        synth_real_jpeg_table,
    )

    media = synth_real_jpeg_table(spark, n=64)
    back = ingest_webdataset(export_webdataset(media, shard_size=16))
    back = back.withColumn(
        "media_meta",
        F.named_struct(
            F.lit("kind"), F.lit("image"),
            F.lit("width"), F.lit(0), F.lit("height"), F.lit(0),
            F.lit("n_frames"), F.lit(1),
            F.lit("sample_rate"), F.lit(0),
            F.lit("codec"), F.lit("jpeg"),
        ),
    )
    return (
        extract_media_features(back, decode=real_decode)
        .select("id", "kind", "mean_intensity", "failed")
        .orderBy("id")
    )


@query("image_phash_pairs", family="multimodal", oracle="""
            WITH ids AS (SELECT range AS id FROM range(96)),
            pix AS (
              SELECT i.id, i.id // 3 AS b, i.id % 3 AS t,
                     y.range AS y, x.range AS x
              FROM ids i, range(8) y, range(8) x),
            gray0 AS (
              SELECT id, t, y, x,
                     (b*97 + x*(13 + b%11) + y*(31 + b%7)
                      + x*y*(3 + b%5)) % 256 AS g
              FROM pix),
            gray AS (
              SELECT id, y, x,
                     CASE WHEN (t = 1 AND x = 0 AND y = 0)
                            OR (t = 2 AND x = y AND x < 3)
                          THEN (g + 128) % 256 ELSE g END AS g
              FROM gray0),
            m AS (
              SELECT id, CAST(sum(g) AS DOUBLE) / 64.0 AS mean
              FROM gray GROUP BY id),
            bits AS (
              SELECT g.id, (y*8 + x) // 16 AS band, (y*8 + x) % 16 AS pos,
                     CASE WHEN CAST(g.g AS DOUBLE) > m.mean
                          THEN 1 ELSE 0 END AS bit
              FROM gray g JOIN m ON m.id = g.id),
            sig AS (
              SELECT id, band,
                     CAST(sum(bit * (1::BIGINT << pos)) AS INT) AS v
              FROM bits GROUP BY id, band),
            sigw AS (
              SELECT id,
                max(CASE WHEN band=0 THEN v END) AS h0,
                max(CASE WHEN band=1 THEN v END) AS h1,
                max(CASE WHEN band=2 THEN v END) AS h2,
                max(CASE WHEN band=3 THEN v END) AS h3
              FROM sig GROUP BY id)
            SELECT a.id AS id_a, c.id AS id_b,
                   CAST(bit_count(xor(a.h0, c.h0))
                      + bit_count(xor(a.h1, c.h1))
                      + bit_count(xor(a.h2, c.h2))
                      + bit_count(xor(a.h3, c.h3)) AS INT) AS hamming
            FROM sigw a JOIN sigw c ON a.id < c.id
            WHERE bit_count(xor(a.h0, c.h0)) + bit_count(xor(a.h1, c.h1))
                + bit_count(xor(a.h2, c.h2)) + bit_count(xor(a.h3, c.h3))
                <= 3
            ORDER BY id_a, id_b
        """)
def q_image_phash_pairs(spark, sf_dir):
    """Perceptual-hash near-dup IMAGE pairs over REAL BMP payloads:
    decode → exact channel-mean grayscale → 8×8 mean-pool → aHash as
    four 16-bit bands → banded equi-join candidates (pigeonhole recall
    guarantee for Hamming ≤ 3) → exact bit_count(xor) verify. The
    corpus plants near-dup triples (base / one-cell flip / three-cell
    flip) as a pure function of id, so the oracle recomputes the full
    signature and the exact all-pairs Hamming set from the pixel
    formula while Spark decodes real file bytes — the multimodal twin
    of simhash_neardup."""
    from mindocr_spark.functions.media_fp import (
        ahash_signatures,
        phash_near_dup_pairs,
        synth_phash_corpus,
    )

    sigs = ahash_signatures(synth_phash_corpus(spark, n=96))
    return phash_near_dup_pairs(sigs, max_hamming=3).orderBy(
        "id_a", "id_b"
    )


@query("media_dup_clusters", family="multimodal", oracle="""
            WITH RECURSIVE ids AS (SELECT range AS id FROM range(96)),
            pix AS (
              SELECT i.id, i.id // 3 AS b, i.id % 3 AS t,
                     y.range AS y, x.range AS x
              FROM ids i, range(8) y, range(8) x),
            gray0 AS (
              SELECT id, t, y, x,
                     (b*97 + x*(13 + b%11) + y*(31 + b%7)
                      + x*y*(3 + b%5)) % 256 AS g
              FROM pix),
            gray AS (
              SELECT id, y, x,
                     CASE WHEN (t = 1 AND x = 0 AND y = 0)
                            OR (t = 2 AND x = y AND x < 3)
                          THEN (g + 128) % 256 ELSE g END AS g
              FROM gray0),
            m AS (
              SELECT id, CAST(sum(g) AS DOUBLE) / 64.0 AS mean
              FROM gray GROUP BY id),
            bits AS (
              SELECT g.id, (y*8 + x) // 16 AS band, (y*8 + x) % 16 AS pos,
                     CASE WHEN CAST(g.g AS DOUBLE) > m.mean
                          THEN 1 ELSE 0 END AS bit
              FROM gray g JOIN m ON m.id = g.id),
            sig AS (
              SELECT id, band,
                     CAST(sum(bit * (1::BIGINT << pos)) AS INT) AS v
              FROM bits GROUP BY id, band),
            sigw AS (
              SELECT id,
                max(CASE WHEN band=0 THEN v END) AS h0,
                max(CASE WHEN band=1 THEN v END) AS h1,
                max(CASE WHEN band=2 THEN v END) AS h2,
                max(CASE WHEN band=3 THEN v END) AS h3
              FROM sig GROUP BY id),
            pairs AS (
              SELECT a.id AS id_a, c.id AS id_b
              FROM sigw a JOIN sigw c ON a.id < c.id
              WHERE bit_count(xor(a.h0, c.h0)) + bit_count(xor(a.h1, c.h1))
                  + bit_count(xor(a.h2, c.h2)) + bit_count(xor(a.h3, c.h3))
                  <= 3),
            sym AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            cc(id, comp) AS (
              SELECT id, id FROM ids
              UNION
              SELECT s.dst, c.comp FROM cc c JOIN sym s ON s.src = c.id
              WHERE c.comp < s.dst),
            lab AS (SELECT id, min(comp) AS component FROM cc GROUP BY id),
            szc AS (
              SELECT component, COUNT(*) AS cluster_size
              FROM lab GROUP BY component)
            SELECT id, component, cluster_size,
                   id = component AS is_survivor
            FROM lab JOIN szc USING (component)
            ORDER BY id
        """)
def q_media_dup_clusters(spark, sf_dir):
    """End-to-end multimodal dedup: perceptual-hash pairs → connected
    components (min-label propagation, the dup_components closure) →
    per-cluster size and survivor flag (min id keeps). The image twin
    of the text pipeline's pairs→components→survivor chain; oracle =
    the full signature derivation + a recursive min-reachability CTE.
    EAGER: label propagation iterates one Spark job per pass."""
    from mindocr_spark.functions.dedup import connected_components
    from mindocr_spark.functions.media_fp import (
        ahash_signatures,
        phash_near_dup_pairs,
        synth_phash_corpus,
    )

    from mindocr_spark.cache import tracked_persist

    # sigs feeds the pair join AND the vertices anchor — persist or
    # the codec-decode mapInPandas runs once per consumer
    sigs = tracked_persist(ahash_signatures(synth_phash_corpus(spark, n=96)))
    pairs = phash_near_dup_pairs(sigs, max_hamming=3)
    comp = connected_components(
        pairs.select("id_a", "id_b"),
        vertices=sigs.where(~F.col("failed")).select("id"),
        id_col="id",
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "component")
        .select(
            "id", "component", "cluster_size",
            (F.col("id") == F.col("component")).alias("is_survivor"),
        )
        .orderBy("id")
    )


@query("audio_fp_pairs", family="multimodal", oracle="""
            WITH ids AS (SELECT range AS id FROM range(96)),
            base AS (SELECT id, id // 3 AS b, id % 3 AS t FROM ids),
            h0 AS (
              SELECT id, b, t,
                     (((b * 48271 + 11) % 65536) | 1) & 32767 AS h
              FROM base),
            hv AS (
              SELECT id,
                     CASE WHEN t = 1
                          THEN xor(h, 1 << CAST(b % 14 + 1 AS INT))
                          WHEN t = 2
                          THEN xor(h, (1 << CAST(b % 7 + 1 AS INT))
                                      | (1 << CAST(b % 5 + 8 AS INT)))
                          ELSE h END AS h
              FROM h0),
            fr AS (
              SELECT hv.id, f.range AS f,
                     CASE WHEN (hv.h >> CAST(f.range AS INT)) & 1 = 1
                          THEN 1000 ELSE 10 END AS lvl
              FROM hv, range(16) f),
            gm AS (
              SELECT id,
                     CAST(sum(lvl) * 8 AS DOUBLE)
                       / CAST(128 AS DOUBLE) AS gmean
              FROM fr GROUP BY id),
            bits AS (
              SELECT fr.id, fr.f,
                     CASE WHEN CAST(fr.lvl AS DOUBLE) > gm.gmean
                          THEN 1 ELSE 0 END AS bit
              FROM fr JOIN gm ON gm.id = fr.id),
            sig AS (
              SELECT id,
                CAST(sum(CASE WHEN f < 8
                     THEN bit * (1::BIGINT << CAST(f AS INT))
                     ELSE 0 END) AS INT) AS f0,
                CAST(sum(CASE WHEN f >= 8
                     THEN bit * (1::BIGINT << CAST(f - 8 AS INT))
                     ELSE 0 END) AS INT) AS f1
              FROM bits GROUP BY id)
            SELECT a.id AS id_a, c.id AS id_b,
                   CAST(bit_count(xor(a.f0, c.f0))
                      + bit_count(xor(a.f1, c.f1)) AS INT) AS hamming
            FROM sig a JOIN sig c ON a.id < c.id
            WHERE bit_count(xor(a.f0, c.f0))
                + bit_count(xor(a.f1, c.f1)) <= 1
            ORDER BY id_a, id_b
        """)
def q_audio_fp_pairs(spark, sf_dir):
    """Acoustic-fingerprint near-dup AUDIO pairs over REAL WAV bytes:
    decode PCM → 16-frame loudness-envelope bits (frame mean
    |amplitude| vs clip mean — Haitsma–Kalker reduced to the envelope
    bit) → two 8-bit bands → banded join (pigeonhole recall for
    Hamming ≤ 1) → exact bit_count(xor) verify. The corpus plants
    variant triples (base / one-frame toggle / two-frame toggle) as a
    pure function of id, so the oracle recomputes the exact all-pairs
    set from the envelope formula while Spark decodes real file
    bytes."""
    from mindocr_spark.functions.media_fp import (
        audio_fp_near_dup_pairs,
        audio_fp_signatures,
        synth_audio_fp_corpus,
    )

    sigs = audio_fp_signatures(synth_audio_fp_corpus(spark, n=96))
    return audio_fp_near_dup_pairs(sigs, max_hamming=1).orderBy(
        "id_a", "id_b"
    )


# ==========================================================================
# Contract surface
# ==========================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full main-content
    extraction over the synthesized pages corpus."""
    _ensure_worker_imports(spark)
    return q_extract_fulltext(spark, "/root/testdata/sf0.001")


#: Operator families and their registry members, read off the
#: ``family=`` of each record — the coverage grid behind the
#: driver-gate window: every family must keep at least one
#: representative in the FIRST 50 registry entries (the slice the
#: round driver hard-checks), and `_driver_gate_order` consults this
#: table when it rotates never-checked queries into that window.
_FAMILIES: dict[str, set[str]] = {
    fam: {name for name, rec in _REGISTRY.items() if rec.family == fam}
    for fam in {rec.family for rec in _REGISTRY.values()} - {None}
}

#: Size of the driver's hard-checked head window.
_GATE_WINDOW = 50


def _correctness_artifacts() -> list[str]:
    """The committed CORRECTNESS_r*.json driver artifacts, sorted."""
    import glob
    import os as _os

    here = _os.path.dirname(_os.path.abspath(__file__))
    return sorted(glob.glob(_os.path.join(here, "CORRECTNESS_r*.json")))


def _driver_gate_order(
    reg: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Reorder the registry so the FIRST `_GATE_WINDOW` entries rotate
    driver-gate coverage across rounds: the round driver hard-checks
    only the head window, so without rotation the tail rides the
    self-run harness forever. Mechanics (all deterministic):

    - queries already covered by ANY committed CORRECTNESS_r*.json
      artifact form the `checked` set; the rest are the rotation POOL,
      ordered by md5(name) — a fixed pseudo-random order that mixes
      families and never changes between rounds;
    - the round number = 1 + the highest committed artifact round, and
      each round's window starts 40 entries further into the pool
      (circular), so every registry entry earns a driver-checked row
      within ~ceil(|pool|/40) rounds;
    - after placing 40 pool entries, any family (`_FAMILIES`) not yet
      represented in the head gets one already-checked anchor; slots
      still free go to MORE pool entries. The head therefore always
      spans every family AND maximizes never-checked coverage.

    With no artifacts (a fresh checkout) the head is one anchor per
    family — its first member in registry order — then registry
    order, so the window still spans every family."""
    import hashlib
    import json as _json
    import os as _os
    import re as _re

    checked: set[str] = set()
    rounds = []
    for p in _correctness_artifacts():
        try:
            with open(p) as f:
                checked |= set(_json.load(f))
            m = _re.search(r"r(\d+)", _os.path.basename(p))
            if m:
                rounds.append(int(m.group(1)))
        except (OSError, ValueError):
            continue
    if not rounds or not checked:
        anchors = [next(n for n in reg if n in members)
                   for _, members in sorted(_FAMILIES.items())
                   if members & set(reg)]
        return {n: reg[n] for n in [*anchors, *reg]}
    rnd = max(rounds) + 1
    pool = sorted(
        (n for n in reg if n not in checked),
        key=lambda n: hashlib.md5(n.encode()).hexdigest(),
    )
    rotated_target = 40
    rotated: list[str] = []
    if pool:
        start = (rotated_target * (rnd - 5)) % len(pool)
        take = min(rotated_target, len(pool))
        rotated = [pool[(start + i) % len(pool)] for i in range(take)]
    # Family anchors must FIT inside the window: if the rotated slice
    # under-covers so many families that anchors would overflow slot
    # 50 (where they would be silently truncated, voiding the
    # every-family guarantee), shrink the rotated slice and recompute
    # — each pass drops one rotated entry, so the loop terminates
    # with anchors intact and >= 50 - |families| rotated entries.
    while True:
        covered = set(rotated)
        anchors: list[str] = []
        for fam, members in sorted(_FAMILIES.items()):
            if covered & members:
                continue
            cands = sorted(members & checked & set(reg))
            if cands:
                anchors.append(cands[0])
                covered.add(cands[0])
        if len(rotated) + len(anchors) <= _GATE_WINDOW or not rotated:
            break
        rotated.pop()
    head = rotated + anchors
    covered = set(head)
    fill = [n for n in pool if n not in covered]
    for n in fill:
        if len(head) >= _GATE_WINDOW:
            break
        head.append(n)
        covered.add(n)
    ordered = {n: reg[n] for n in head[:_GATE_WINDOW]}
    for n, f in reg.items():
        if n not in ordered:
            ordered[n] = f
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in driver-gate order (see
    `_driver_gate_order`); each one is oracle-paired."""
    return _driver_gate_order(
        {name: rec.builder for name, rec in _REGISTRY.items()}
    )


def oracle_sql() -> dict[str, str]:
    """The DuckDB-runnable twin of every registered query."""
    return {name: rec.oracle for name, rec in _REGISTRY.items()}
