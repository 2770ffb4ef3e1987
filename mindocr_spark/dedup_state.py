"""dedup_state — incremental cross-corpus deduplication.

A continuously-ingesting pipeline must dedup each new increment against
the ALREADY-COMMITTED corpus, not just within its own batch. The
committed side is represented by a log-structured state table (the
same manifest-pointer commit protocol as the WAP sink — commit = the
atomic appearance of one checksummed manifest file, object-store-safe,
no renames) holding three components per committed doc:

- ``fingerprints`` (id, fingerprint)      — exact content addressing
- ``signatures``   (id, perm, minh)       — tall MinHash signatures
- ``bands``        (id, band, bucket)     — precomputed LSH band keys

Bands are stored precomputed so each increment's candidate join is
new-bands ⋈ committed-bands on (band, bucket) — at a 10^12-doc
committed corpus, recomputing bands from signatures would cost a full
shuffle over the whole state per increment; here the committed side is
a pre-keyed scan. On a real cluster the state table is bucketed by
its join key ((band, bucket) for bands, fingerprint for fingerprints)
so the increment join is shuffle-free on the big side.

Reference analog: resume-from-committed-state discipline
(reference: tools/train.py:111-122) and CollectNode's completeness
bookkeeping against already-collected results (reference:
deploy/py_infer/src/parallel/module/common/collect_node.py:72-99).

Semantics: the committed corpus is IMMUTABLE — when a new doc
collides (exact fingerprint match, or any LSH-estimated Jaccard ≥
threshold against a committed doc), the NEW doc is always the victim.
Within-increment dedup runs first (the existing batch passes), then
the survivors are filtered cross-corpus, and only the final survivors'
corpus rows + state rows are appended — all in ONE manifest commit, so
a crash anywhere leaves either the full increment or none of it, and
a committed run_id replays as a no-op (no doc deduped twice or
missed).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mindocr_spark.functions.dedup import (
    band_buckets,
    bucket_agg_md5,
    bucket_agg_xxhash64,
    minhash_signatures,
    minhash_signatures_md5,
)
from mindocr_spark.functions.text import fingerprint_md5
from mindocr_spark.operators.pipeline import (
    _FS,
    _commit,
    _load_manifests,
    _manifest_name,
    _manifest_seq,
    _pick_snapshot,
)

_COMPONENTS = ("corpus", "fingerprints", "signatures", "bands")


@dataclass(frozen=True)
class MinHashParams:
    """The signature family an incremental corpus is committed under.
    MUST stay fixed for the lifetime of a state table (signatures from
    different families never match); the params are recorded in every
    manifest and verified on each commit."""

    family: str = "xxhash64"  # or "md5" (engine-portable, oracle-able)
    n_perm: int = 64
    bands: int = 16
    k: int = 3

    def signatures(self, df: DataFrame, text_col: str,
                   id_col: str) -> DataFrame:
        """Tall (id, perm, minh-as-string) signatures. minh is cast to
        string so both families share one state schema (equality, the
        only operation the estimate join needs, is preserved)."""
        if self.family == "md5":
            sig = minhash_signatures_md5(
                df, n_perm=self.n_perm, k=self.k,
                text_col=text_col, id_col=id_col,
            )
        elif self.family == "xxhash64":
            sig = minhash_signatures(
                df, n_perm=self.n_perm, k=self.k,
                text_col=text_col, id_col=id_col,
            )
        else:
            raise ValueError(f"unknown minhash family {self.family!r}")
        return sig.withColumn("minh", F.col("minh").cast("string"))

    def bucket_agg(self):
        return (bucket_agg_md5() if self.family == "md5"
                else bucket_agg_xxhash64())

    def band_buckets(self, sig: DataFrame, id_col: str) -> DataFrame:
        return band_buckets(
            sig, self.n_perm, self.bands, self.bucket_agg(), id_col
        ).withColumn("bucket", F.col("bucket").cast("string"))


class DedupLog:
    """Log-structured committed dedup state under one root directory::

        root/_manifests/manifest-<seq>-<run_id>.json   (checksummed)
        root/_increments/<run_id>/{corpus,fingerprints,signatures,bands}

    Each manifest records TWO run lists: ``increments`` — the LIVE
    directories readers scan — and ``all_runs``, the cumulative ledger
    of every run_id ever committed. They coincide until
    :meth:`compact` folds many live increments into one consolidated
    directory: the ledger keeps growing (so replaying an absorbed
    run_id stays a no-op) while the live list shrinks back to one
    entry. Without compaction a streaming pipeline committing
    thousands of micro-batches leaves thousands of small parquet
    directories that EVERY subsequent increment's candidate join must
    union-scan — the classic small-files decay of log-structured
    tables, fixed the same way Iceberg/Delta fix it (rewrite + atomic
    pointer swing). Same single-writer contract and crash matrix as
    write_results_wap: an increment directory with no manifest is
    invisible and swept by a later commit. Snapshot selection and
    commit-and-expire are the WAP protocol's own helpers
    (`operators.pipeline._pick_snapshot` and `_commit`), so both tables
    share one retention policy."""

    def __init__(self, spark: SparkSession, root: str,
                 keep_manifests: int = 8):
        """`keep_manifests` is the snapshot-retention window (Iceberg
        expire-snapshots semantics): the newest K manifests survive
        each commit, and every increment directory ANY retained
        manifest references stays on disk — so compaction-absorbed
        dirs linger until the manifests naming them age out, and
        ``read(..., seq=...)`` time-travels anywhere in the window."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs = _FS(spark, self.root)
        self.keep_manifests = max(1, keep_manifests)
        # Retained-manifest cache, validated by a names-only directory
        # listing: manifest BODIES are re-fetched (K small-object GETs
        # + md5 verification per access on an object store — the cost
        # that matters for a per-micro-batch commit loop) only when the
        # listing differs from the cached snapshot. One LIST per access
        # is the price of staying correct when several DedupLog
        # instances point at the same root (a reader constructed before
        # another instance's commit must see that commit).
        self._mcache: list[dict] | None = None
        self._mnames: list[str] | None = None

    # -- manifest plumbing (shares the WAP protocol's validity rules) --

    def _list_manifest_names(self) -> list[str]:
        return sorted(
            n for n in self.fs.list_names(f"{self.root}/_manifests")
            if _manifest_seq(n) is not None
        )

    def _manifests(self) -> list[dict]:
        names = self._list_manifest_names()
        if self._mcache is None or names != self._mnames:
            self._mcache = _load_manifests(self.fs, self.root)
            self._mnames = names
        return self._mcache

    def refresh(self) -> None:
        """Drop the manifest cache (re-read on next access)."""
        self._mcache = None
        self._mnames = None

    def current(self) -> dict | None:
        m = self._manifests()
        return m[-1] if m else None

    def committed_runs(self) -> list[str]:
        """Every run_id ever committed (the idempotence ledger) —
        compaction absorbs directories, never history."""
        cur = self.current()
        if cur is None:
            return []
        return list(cur.get("all_runs", cur["increments"]))

    def live_increments(self) -> list[str]:
        """The increment directories readers actually scan — shrinks
        when :meth:`compact` folds them together."""
        cur = self.current()
        return list(cur["increments"]) if cur else []

    def params(self) -> MinHashParams | None:
        cur = self.current()
        return MinHashParams(**cur["params"]) if cur else None

    # -- readers --

    def snapshots(self) -> list[dict]:
        """Retained snapshots, ascending seq — each entry is a manifest
        body (seq, run_id, increments, all_runs, params, counters)."""
        return self._manifests()

    def read(self, component: str,
             seq: int | None = None) -> DataFrame | None:
        """Union of a component across every LIVE increment (None if
        the log is empty). One multi-path parquet scan — partition
        pruning and pushdown apply as usual. Passing `seq` time-travels
        to that snapshot's increment set; it must be inside the
        retained window (LookupError otherwise)."""
        manifests = self._manifests()
        if not manifests:
            return None
        runs = _pick_snapshot(manifests, seq, self.root)["increments"]
        return self.spark.read.parquet(
            *[f"{self.root}/_increments/{r}/{component}" for r in runs])

    # -- commit --

    def commit_increment(
        self,
        run_id: str,
        frames: dict[str, DataFrame],
        params: MinHashParams,
        counters: dict | None = None,
    ) -> bool:
        """Write one increment (all four components) and commit it with
        a single manifest — the whole increment appears atomically or
        not at all. Returns False (no-op) if run_id is already
        committed: the crash-replay contract is that re-running a
        finished increment changes nothing."""
        if set(frames) != set(_COMPONENTS):
            raise ValueError(f"frames must be exactly {_COMPONENTS}")
        cur = self.current()
        if cur is not None:
            if run_id in self.committed_runs():
                return False
            if cur["params"] != params.__dict__:
                raise ValueError(
                    f"state at {self.root} is committed under "
                    f"{cur['params']}; cannot append with "
                    f"{params.__dict__} (signatures would never match)"
                )
        inc = f"{self.root}/_increments/{run_id}"
        for name, df in frames.items():
            df.write.mode("overwrite").parquet(f"{inc}/{name}")
        self._commit_manifest(
            run_id,
            increments=(cur["increments"] if cur else []) + [run_id],
            params=params,
            counters=counters,
            cur=cur,
        )
        return True

    def _commit_manifest(
        self,
        run_id: str,
        increments: list[str],
        params: MinHashParams,
        counters: dict | None = None,
        cur: dict | None = None,
    ) -> None:
        """Publish a new snapshot naming the live increment set through
        the shared `_commit`: one create-once manifest, then expiry of
        every manifest and increment dir outside the newest
        `keep_manifests`, swept from the instance cache with no manifest
        body re-read, and the cache's names taken from the commit
        (three listings in all: the cache check and `_commit`'s two).
        `cur` is the caller's already-loaded current manifest."""
        prior_runs = (
            list(cur.get("all_runs", cur["increments"])) if cur else []
        )
        body = {
            "increments": list(increments),
            "all_runs": prior_runs + [run_id],
            "params": dict(params.__dict__),
            "counters": counters or {},
        }
        self._mcache = _commit(
            self.fs, self.root, run_id, body, self._manifests(),
            self.keep_manifests, "_increments", lambda m: m["increments"],
        )
        # the retained manifests are exactly the files the sweep left,
        # so the cache validates clean on the next access without a
        # listing or a body re-read here
        self._mnames = [_manifest_name(m["seq"], m["run_id"])
                        for m in self._mcache]

    def compact(self, target_partitions: int | None = None) -> bool:
        """Fold every live increment into ONE consolidated increment
        and swing the manifest pointer to it — same data, one directory
        per component, committed atomically (readers see either the old
        increment set or the compacted one, never a mix). Returns False
        when there is nothing to fold (0 or 1 live increments).

        The compacted run_id is derived from the manifest seq (unique
        per log lifetime, never collides with the caller's namespace);
        the absorbed run_ids stay on the ``all_runs`` ledger so
        replaying any of them remains a no-op. `target_partitions`
        coalesces each component on write — at streaming micro-batch
        scale the per-increment files are tiny and the default
        partitioning would preserve the small-files problem inside the
        compacted directory.

        Crash matrix: during the consolidated write → orphan dir, old
        snapshot intact, swept by the next commit; after the manifest
        create → the absorbed dirs are garbage, swept by the sweep
        below it or the next commit."""
        cur = self.current()
        if cur is None or len(cur["increments"]) <= 1:
            return False
        run_id = f"compact-{cur['seq'] + 1:010d}"
        inc = f"{self.root}/_increments/{run_id}"
        for name in _COMPONENTS:
            df = self.read(name)
            if target_partitions is not None:
                df = df.coalesce(target_partitions)
            df.write.mode("overwrite").parquet(f"{inc}/{name}")
        self._commit_manifest(
            run_id,
            increments=[run_id],
            params=MinHashParams(**cur["params"]),
            counters={"compacted": cur["increments"]},
            cur=cur,
        )
        return True


def state_frames(
    docs: DataFrame,
    params: MinHashParams,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """The four state components for a batch of (about-to-be-committed)
    docs. `corpus` keeps every input column; the id column is
    normalized to `id` in the three index components so heterogeneous
    corpora (url-keyed pages, doc_id-keyed documents) share one state
    schema."""
    from mindocr_spark.cache import tracked_persist

    idc = F.col(id_col).cast("string").alias("id")
    # sig feeds both the signatures and the bands components — persist
    # it or the shingle+minhash groupBy runs once per consumer (callers
    # run under dedup_increment's persist_scope, which owns release)
    sig = tracked_persist(params.signatures(docs, text_col, id_col))
    return {
        "corpus": docs,
        "fingerprints": docs.select(
            idc, fingerprint_md5(text_col).alias("fingerprint")
        ),
        "signatures": sig.select(idc, "perm", "minh"),
        "bands": params.band_buckets(sig, id_col).select(
            idc, "band", "bucket"
        ),
    }


def cross_corpus_flags(
    new_docs: DataFrame,
    log: DedupLog,
    params: MinHashParams,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Annotate every new doc with its dedup verdict against BOTH the
    batch and the committed corpus:

    - ``is_rep``      — smallest-id representative of its exact
                        fingerprint cluster WITHIN the increment;
    - ``near_batch``  — LSH-estimated Jaccard ≥ threshold against some
                        SMALLER-id doc of the same increment (greedy
                        min-id-survives rule, applied per candidate
                        pair — the same victim rule as the cross pass,
                        which makes the corpus approximately batching-
                        independent: the pair {base, near} yields the
                        same survivor whether the two arrive together
                        or in separate increments. Chains a~b~c where
                        a≁c remain greedy — b and c both drop in one
                        batch, while split batches would keep c — the
                        standard greedy/connected-component gap every
                        single-pass LSH dedup has);
    - ``exact_cross`` — fingerprint already committed;
    - ``near_cross``  — some committed doc's LSH-estimated Jaccard ≥
                        threshold (candidates from the new-bands ⋈
                        committed-bands key join — never all-pairs);
    - ``kept``        — is_rep ∧ ¬near_batch ∧ ¬exact_cross ∧
                        ¬near_cross.

    Empty state (first increment) ⇒ only the within-batch passes apply.
    The returned frame keeps all input columns plus the flags.
    """
    from mindocr_spark.cache import tracked_persist
    from mindocr_spark.functions.dedup import _lsh_pairs_from_signatures

    # a family/shape mismatch would not fail loudly — the (band,
    # bucket) join keys simply never match and every cross-corpus
    # duplicate silently reports kept=True — so refuse it here, the
    # same check commit_increment applies on the write side
    committed_params = log.params()
    if committed_params is not None and committed_params != params:
        raise ValueError(
            f"state at {log.root} is committed under "
            f"{committed_params.__dict__}; flags computed with "
            f"{params.__dict__} would never match it — pass the "
            f"log's params (log.params())"
        )

    fp = new_docs.withColumn("fingerprint", fingerprint_md5(text_col))
    w = Window.partitionBy("fingerprint")
    flagged = fp.withColumn(
        "is_rep", F.col(id_col) == F.min(id_col).over(w)
    )

    # one signature pass feeds the within-batch self-join, the cross
    # candidate join and the estimate join
    sig = tracked_persist(params.signatures(new_docs, text_col, id_col))

    # within-batch near pass: the shared LSH tail (band self-join →
    # estimate), victim = the larger id of each ≥-threshold pair
    batch_pairs = _lsh_pairs_from_signatures(
        sig, params.bucket_agg(), params.n_perm, params.bands,
        threshold, id_col,
    )
    nb = (
        batch_pairs.select(F.col("id_b").alias("__nbid")).distinct()
        .withColumn("near_batch", F.lit(True))
    )
    flagged = flagged.join(
        nb, flagged[id_col] == F.col("__nbid"), "left"
    ).drop("__nbid").fillna(False, ["near_batch"])

    state_fp = log.read("fingerprints")
    if state_fp is None:
        return (
            flagged.withColumn("exact_cross", F.lit(False))
            .withColumn("near_cross", F.lit(False))
            .withColumn("kept", F.col("is_rep") & ~F.col("near_batch"))
        )

    committed_fps = state_fp.select("fingerprint").distinct()
    flagged = flagged.join(
        committed_fps.withColumn("exact_cross", F.lit(True)),
        "fingerprint", "left",
    ).fillna(False, ["exact_cross"])

    # near-dup candidates: key-partitioned join on (band, bucket); the
    # committed side is a pre-keyed scan of the state's bands component
    new_bands = params.band_buckets(sig, id_col)
    cand = (
        new_bands.withColumnRenamed(id_col, "new_id")
        .join(
            log.read("bands").withColumnRenamed("id", "old_id"),
            on=["band", "bucket"],
        )
        .select(F.col("new_id").cast("string").alias("new_id"), "old_id")
        .distinct()
    )
    state_sig = log.read("signatures")
    est = (
        cand.join(
            sig.select(
                F.col(id_col).cast("string").alias("new_id"),
                "perm", F.col("minh").alias("mh_new"),
            ),
            "new_id",
        )
        .join(
            state_sig.select(
                F.col("id").alias("old_id"), "perm",
                F.col("minh").alias("mh_old"),
            ),
            ["old_id", "perm"],
        )
        .groupBy("new_id", "old_id")
        .agg(F.sum((F.col("mh_new") == F.col("mh_old")).cast("int"))
             .alias("n_match"))
        .withColumn(
            "est_jaccard",
            F.round(
                F.col("n_match").cast("double") / F.lit(float(params.n_perm)),
                6,
            ),
        )
    )
    near_ids = (
        est.where(F.col("est_jaccard") >= threshold)
        .select(F.col("new_id")).distinct()
        .withColumn("near_cross", F.lit(True))
    )
    flagged = flagged.join(
        near_ids.withColumnRenamed("new_id", "__nid"),
        flagged[id_col].cast("string") == F.col("__nid"),
        "left",
    ).drop("__nid").fillna(False, ["near_cross"])
    return flagged.withColumn(
        "kept",
        F.col("is_rep") & ~F.col("near_batch")
        & ~F.col("exact_cross") & ~F.col("near_cross"),
    )


def dedup_increment(
    docs: DataFrame,
    log: DedupLog,
    run_id: str,
    params: MinHashParams = MinHashParams(),
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> bool:
    """One increment end-to-end: flag → filter survivors → append
    corpus + state in one manifest commit. Returns False if `run_id`
    was already committed (idempotent replay)."""
    from mindocr_spark.cache import persist_scope

    if run_id in log.committed_runs():
        return False
    committed_params = log.params()
    if committed_params is not None:
        params = committed_params  # the log's family always wins
    from mindocr_spark.cache import tracked_persist

    with persist_scope():
        flags = cross_corpus_flags(
            docs, log, params, threshold=threshold,
            text_col=text_col, id_col=id_col,
        )
        # four component writes consume plans rooted here — persist so
        # the window + cross joins + estimate agg run once, not 4×
        survivors = tracked_persist(
            flags.where("kept").select(*docs.columns)
        )
        return log.commit_increment(
            run_id, state_frames(survivors, params, text_col, id_col), params
        )


def curate_increment(
    pages: DataFrame,
    log: DedupLog,
    run_id: str,
    cfg=None,
    params: MinHashParams = MinHashParams(),
    threshold: float = 0.5,
) -> bool:
    """The production composition: full within-batch curation
    (extract → lang/quality gates → exact + near dedup, curate.py) and
    THEN the cross-corpus pass against the committed log — the batch
    passes bound the within-increment work, the state join bounds the
    cross-corpus work, and the commit is one atomic manifest."""
    from mindocr_spark.cache import persist_scope
    from mindocr_spark.curate import CurateConfig, curate

    if run_id in log.committed_runs():
        return False
    with persist_scope():
        curated, _funnel = curate(pages, cfg or CurateConfig())
        return dedup_increment(
            curated, log, run_id, params=params, threshold=threshold,
            text_col="text", id_col="url",
        )
