"""spark-submit artifact: the --py-files zip must be importable."""

from __future__ import annotations

import subprocess
import sys


def test_pyfiles_zip_importable(tmp_path):
    from tools.package_pyfiles import build

    out = build(str(tmp_path))
    # import the engine from the zip in a FRESH interpreter whose path
    # contains only the zip (plus stdlib) for the package root
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import fscrawler_spark, fscrawler_spark.plans.wave_loop, "
        "fscrawler_spark.operators.similarity, fscrawler_spark.cli; "
        "print('ok')" % out
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=str(tmp_path),  # away from the repo so the zip is the source
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "ok"


def test_end_to_end_example_runs(tmp_path):
    """examples/end_to_end.py: the switching-user tour (WARC in ->
    crawl -> curate -> pack -> WARC out) runs green in a fresh
    process and its stage counts are internally consistent."""
    import json
    import os
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "examples/end_to_end.py", str(tmp_path / "tour")],
        capture_output=True, text=True, cwd="/root/repo", timeout=420,
        env={**os.environ, "SPARK_DRIVER_MEM": "2g"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    s = json.loads(r.stdout.strip().splitlines()[-1])
    assert s["pages_crawled"] > 0
    assert s["docs_kept_after_dedup"] <= s["pages_crawled"]
    assert s["funnel"]["0_raw"] == s["pages_crawled"]
    assert s["training_sequences"] > 0
    assert s["warc_out_segments"] >= 1
