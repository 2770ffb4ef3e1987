"""Driver-memory sizing of ``get_spark``: a host-sized default that the
environment variable overrides; and where the shipped package zip is
built."""

import os

from mindocr_spark.session import driver_memory, host_memory_mb


def test_driver_memory_is_a_quarter_of_the_host():
    assert driver_memory(16 * 1024, env={}) == "4096m"
    assert driver_memory(16093, env={}) == "4023m"  # a 15.7 GiB host


def test_driver_memory_is_capped_at_16g():
    assert driver_memory(128 * 1024, env={}) == "16384m"
    assert driver_memory(64 * 1024, env={}) == "16384m"


def test_driver_memory_env_override_wins():
    assert driver_memory(16 * 1024, env={"SPARK_GRAFT_DRIVER_MEM": "40g"}) == "40g"
    assert driver_memory(128 * 1024, env={"SPARK_GRAFT_DRIVER_MEM": "2g"}) == "2g"


def test_session_driver_memory_is_the_sized_default(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == driver_memory(host_memory_mb())


def test_package_zip_lands_in_tmpdir(tmp_path, monkeypatch):
    import tempfile

    from mindocr_spark.session import _pkg_zip_path

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    path = _pkg_zip_path()
    assert os.path.dirname(path) == str(tmp_path)
    assert os.path.isfile(path)
