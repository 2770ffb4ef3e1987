"""``sources.content_keyed_fixture_dir`` under concurrency: two processes
asking for the same key at once build the fixture once, and both get
the complete directory."""

import os
import shutil
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CALLER = textwrap.dedent("""
    import os, sys, time
    from mindocr_spark.sources import content_keyed_fixture_dir

    sf_dir, log = sys.argv[1], sys.argv[2]

    def build(out_dir):
        with open(log, "a") as fh:
            fh.write(f"{os.getpid()}\\n")
        os.makedirs(out_dir, exist_ok=True)
        time.sleep(1.0)  # hold the build open so the callers overlap
        with open(os.path.join(out_dir, "data.txt"), "w") as fh:
            fh.write("payload")

    out = content_keyed_fixture_dir("fixture_lock_test", sf_dir, (), build)
    with open(os.path.join(out, "data.txt")) as fh:
        assert fh.read() == "payload"
    assert os.path.exists(os.path.join(out, "_FIXTURE_COMPLETE"))
    print(out)
""")


def test_concurrent_callers_build_once(tmp_path):
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    log = tmp_path / "builds.log"
    env = {**os.environ, "PYTHONPATH": REPO}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CALLER, str(sf_dir), str(log)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            env=env,
        )
        for _ in range(2)
    ]
    results = [p.communicate(timeout=120) for p in procs]
    outs = {out.strip() for out, _ in results}
    try:
        for p, (_, err) in zip(procs, results):
            assert p.returncode == 0, err
        assert len(outs) == 1
        assert len(log.read_text().split()) == 1
    finally:
        for out in outs:
            if out:
                shutil.rmtree(out, ignore_errors=True)
                if os.path.exists(f"{out}.lock"):
                    os.remove(f"{out}.lock")
