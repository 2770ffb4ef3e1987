"""The one manifest log shared by WAP tables and the DedupLog:
`_pick_snapshot` (snapshot selection) and `_commit` (commit plus one
retention sweep), in memory with no JVM, and a load-count check of the
two WAP writers on a real table."""

import pytest

from mindocr_spark.operators.pipeline import (
    _DATA_DIR,
    _commit,
    _load_manifests,
    _pick_snapshot,
)


def _data_dir_of(m):  # a WAP manifest names one data dir
    return [m["data_dir"]]


def _live_increments_of(m):  # a DedupLog manifest names a list
    return m["increments"]


class MemFS:
    """The four `_FS` primitives over a dict of file path → bytes; a
    directory exists while some file lives under it."""

    def __init__(self):
        self.files: dict[str, bytes] = {}
        self.reads = 0
        self.listed: list[str] = []

    def write_bytes(self, path, data):
        self.files[path] = data

    def read_bytes(self, path):
        self.reads += 1
        return self.files[path]

    def list_names(self, path):
        self.listed.append(path)
        pre = path + "/"
        return sorted({p[len(pre):].split("/", 1)[0] for p in self.files
                       if p.startswith(pre)})

    def delete(self, path):
        for p in [p for p in self.files
                  if p == path or p.startswith(path + "/")]:
            del self.files[p]

    def mkdir(self, path):
        self.files[f"{path}/part-0.parquet"] = b"x"


def _commit_logged(fs, run_id, fields, keep, data_subdir, live_dirs_of):
    """One commit as a writer makes it: load once, then `_commit`
    without another read."""
    prior = _load_manifests(fs, "t")
    reads = fs.reads
    retained = _commit(fs, "t", run_id, fields, prior, keep, data_subdir,
                       live_dirs_of)
    assert fs.reads == reads, "_commit re-read a manifest"
    return retained


def test_commit_sweeps_wap_shape():
    """WAP tables: one data dir per manifest. An orphan stage dir, a
    torn higher-seq manifest and everything past `keep` are swept; the
    retained snapshots' dirs survive."""
    fs = MemFS()
    for r in ("r1", "r2"):
        fs.mkdir(f"t/{_DATA_DIR}/{r}")
        _commit_logged(fs, r, {"data_dir": r}, 2, _DATA_DIR, _data_dir_of)
    fs.mkdir(f"t/{_DATA_DIR}/orphan")
    fs.write_bytes("t/_manifests/manifest-0000000003-rX.json", b'{"seq": 3')
    fs.mkdir(f"t/{_DATA_DIR}/r3")

    retained = _commit_logged(fs, "r3", {"data_dir": "r3"}, 2, _DATA_DIR,
                              _data_dir_of)

    assert [(m["seq"], m["run_id"]) for m in retained] == [(2, "r2"),
                                                           (4, "r3")]
    assert [(m["seq"], m["run_id"]) for m in _load_manifests(fs, "t")] \
        == [(2, "r2"), (4, "r3")]
    assert fs.list_names(f"t/{_DATA_DIR}") == ["r2", "r3"]
    assert fs.list_names("t/_manifests") == [
        "manifest-0000000002-r2.json", "manifest-0000000004-r3.json"]


def test_commit_sweeps_dedup_log_shape():
    """DedupLog: a manifest names a list of increment dirs. Dirs a
    compaction absorbed stay while a retained manifest names them and
    go when it ages out; an orphan goes at once."""
    fs = MemFS()
    inc = "_increments"

    def commit(run_id, increments):
        fs.mkdir(f"t/{inc}/{run_id}")
        return _commit_logged(fs, run_id, {"increments": increments}, 2,
                              inc, _live_increments_of)

    commit("a", ["a"])
    commit("b", ["a", "b"])
    fs.mkdir(f"t/{inc}/orphan")
    commit("c", ["c"])  # compaction of a + b
    assert fs.list_names(f"t/{inc}") == ["a", "b", "c"]

    retained = commit("d", ["c", "d"])
    assert [m["run_id"] for m in retained] == ["c", "d"]
    assert fs.list_names(f"t/{inc}") == ["c", "d"]
    assert [m["seq"] for m in _load_manifests(fs, "t")] == [3, 4]


def test_commit_lists_each_directory_once():
    """`_commit` lists ``_manifests`` once — the same names allocate the
    seq and drive the sweep — and the data subdir once."""
    fs = MemFS()
    for r in ("r1", "r2", "r3"):
        fs.mkdir(f"t/{_DATA_DIR}/{r}")
        prior = _load_manifests(fs, "t")
        fs.listed.clear()
        retained = _commit(fs, "t", r, {"data_dir": r}, prior, 2,
                           _DATA_DIR, _data_dir_of)
        assert sorted(fs.listed) == ["t/_data", "t/_manifests"]
    assert [m["run_id"] for m in retained] == ["r2", "r3"]
    assert fs.list_names(f"t/{_DATA_DIR}") == ["r2", "r3"]


def test_dedup_log_commit_caches_what_it_wrote():
    """A DedupLog commit lists ``_manifests`` for its cache check and
    once in `_commit`, never again to refresh the cache; the cached
    snapshots are the same dicts, md5 included, that a reload returns,
    and the next access validates the cache without reading a body."""
    from mindocr_spark.dedup_state import DedupLog, MinHashParams

    fs = MemFS()
    log = object.__new__(DedupLog)  # the manifest plumbing, no JVM
    log.spark, log.root, log.fs, log.keep_manifests = None, "t", fs, 2
    log.refresh()
    for run_id in ("a", "b", "c"):
        cur = log.current()  # as commit_increment loads it
        fs.mkdir(f"t/_increments/{run_id}")
        fs.listed.clear()
        log._commit_manifest(
            run_id, (cur["increments"] if cur else []) + [run_id],
            MinHashParams(), cur=cur)
        assert sorted(fs.listed) == [
            "t/_increments", "t/_manifests", "t/_manifests"]
        reads = fs.reads
        log.current()
        assert fs.reads == reads, "the cache was re-read after a commit"
    assert [m["run_id"] for m in log.snapshots()] == ["b", "c"]
    loaded = _load_manifests(fs, "t")
    assert sorted(log.snapshots()[-1]) == sorted(loaded[-1])
    assert log.snapshots() == loaded


def test_pick_snapshot():
    ms = [{"seq": 3, "run_id": "a"}, {"seq": 5, "run_id": "b"}]
    assert _pick_snapshot(ms, None, "t")["run_id"] == "b"
    assert _pick_snapshot(ms, 3, "t")["run_id"] == "a"
    with pytest.raises(LookupError, match=r"retained: \[3, 5\]"):
        _pick_snapshot(ms, 1, "t")
    with pytest.raises(FileNotFoundError, match="no committed WAP snapshot"):
        _pick_snapshot([], None, "t")


def test_wap_writers_load_manifests_once(spark, tmp_path, monkeypatch):
    """A publish and a compaction each load the manifest list once: the
    retention sweep runs from the list the writer already holds."""
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators import pipeline as P

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    assert P.write_results_wap(
        P.run_extraction(pages_dataframe(spark, 20, seed=5)).repartition(4),
        out, metrics, run_id="r1")

    calls = []
    real = P._load_manifests

    def counted(fs, path):
        calls.append(path)
        return real(fs, path)

    monkeypatch.setattr(P, "_load_manifests", counted)

    assert P.write_results_wap(
        P.run_extraction(pages_dataframe(spark, 20, seed=6)).repartition(4),
        out, metrics, run_id="r2")
    assert len(calls) == 1

    calls.clear()
    assert P.compact_published(spark, out, run_id="c1",
                               target_bytes=1 << 30)
    assert len(calls) == 1
    monkeypatch.undo()

    snaps = P.list_snapshots(spark, out)
    assert [s["run_id"] for s in snaps] == ["r2", "c1"]
    assert P.read_published(spark, out).count() == 20
