"""tools/table_maintenance.py driven in process: every subcommand
against a small published WAP table, asserting the printed JSON."""

import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "table_maintenance", os.path.join(ROOT, "tools",
                                          "table_maintenance.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_table_maintenance_cli(spark, tmp_path, monkeypatch, capsys):
    from mindocr_spark import session
    from mindocr_spark.corpus import pages_dataframe
    from mindocr_spark.operators.pipeline import (
        run_extraction,
        write_results_wap,
    )

    table, metrics = str(tmp_path / "t"), str(tmp_path / "m")
    result = run_extraction(pages_dataframe(spark, 20, seed=4))
    assert write_results_wap(result.repartition(4), table, metrics,
                             run_id="r1")
    columns = result.columns

    tool = _load_tool()
    # the test session, not a reconfigured one (get_spark would reset
    # shared confs such as the shuffle partition count)
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)

    def run(*args):
        monkeypatch.setattr(sys, "argv", ["table_maintenance.py", *args])
        assert tool.main() == 0
        return [json.loads(line)
                for line in capsys.readouterr().out.splitlines()]

    [snap] = run("snapshots", table)
    assert (snap["seq"], snap["run_id"], snap["data_dir"]) == (1, "r1", "r1")
    assert snap["counters"]["docs"] == 20

    assert run("read", table, "1") == [
        {"seq": 1, "rows": 20, "columns": columns}]

    assert run("compact", table, "c1") == [
        {"committed": True, "run_id": "c1"}]
    snaps = run("snapshots", table)
    assert [(s["seq"], s["run_id"]) for s in snaps] == [(1, "r1"), (2, "c1")]
    assert snaps[1]["compaction_of"] == 1
    assert snaps[1]["counters"]["files_after"] \
        < snaps[1]["counters"]["files_before"]
    assert run("read", table) == [
        {"seq": "latest", "rows": 20, "columns": columns}]

    [schema] = run("schema", table)
    assert [f["name"] for f in schema["schema"]] == columns
    assert [f["id"] for f in schema["schema"]] == list(
        range(1, len(columns) + 1))
