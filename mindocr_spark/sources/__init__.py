"""sources — table readers/writers for the extraction engine.

The reference supports four source formats (folder+TSV, LMDB, SynthText
.mat, unlabeled folder — reference: mindocr/data/det_dataset.py:112-158,
mindocr/data/rec_lmdb_dataset.py:13-196, mindocr/data/predict_dataset.py:14-60)
and one canonical result sink (the ``img \\t json([...])`` TSV,
reference: tools/infer/text/predict_system.py:131-152). Here everything is
a DataFrame scan/write; the TSV golden contract survives as the
golden-fixture format.
"""

from collections.abc import Callable

from mindocr_spark.sources.pages import (
    PAGES_TEMPLATE_ANCHOR,
    pages_from_documents,
    read_pages,
    write_pages_partitioned,
)


def content_keyed_fixture_dir(
    prefix: str,
    sf_dir: str,
    modules: tuple[str, ...],
    build: Callable[[str], None],
) -> str:
    """Idempotent fixture cache under /tmp, keyed by a CONTENT HASH of
    (sf_dir + the listed module files): editing any generator module
    invalidates stale fixtures instead of silently reusing bytes built
    by older code. Shared by the WARC and JSONL fixture writers (the
    pkg-zip staleness lesson, applied once). Concurrent callers with
    the same key are serialized on ``<out_dir>.lock``, so the fixture
    is built once."""
    import fcntl
    import hashlib
    import os

    h = hashlib.md5(sf_dir.encode())
    # key on the source TABLES' identity too (name/size/mtime): the same
    # path can be regenerated with different contents (the sf1 rehearsal
    # does exactly that), and a path-only key would silently serve
    # fixtures built from the old data
    try:
        for name in sorted(os.listdir(sf_dir)):
            if name.endswith(".parquet"):
                st = os.stat(os.path.join(sf_dir, name))
                h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    except OSError:
        pass
    for mod_file in modules:
        try:
            with open(mod_file, "rb") as fh:
                h.update(fh.read())
        except OSError:
            # zipimported module: the zip's own name is already a
            # content hash (session._pkg_zip_path), so the path is an
            # equivalent staleness key
            h.update(mod_file.encode())
    out_dir = f"/tmp/{prefix}_{h.hexdigest()[:10]}"
    marker = os.path.join(out_dir, "_FIXTURE_COMPLETE")
    # one builder per key across processes: a second caller waits for
    # the first build and then finds its marker
    with open(f"{out_dir}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(marker):
            build(out_dir)
            with open(marker, "w") as fh:
                fh.write("ok")
    return out_dir
from mindocr_spark.sources.golden_tsv import read_golden_tsv, write_golden_tsv
from mindocr_spark.sources.lineage import (
    committed_partition_keys,
    resume_filter,
)

__all__ = [
    "PAGES_TEMPLATE_ANCHOR",
    "pages_from_documents",
    "read_pages",
    "write_pages_partitioned",
    "read_golden_tsv",
    "write_golden_tsv",
    "committed_partition_keys",
    "resume_filter",
]
