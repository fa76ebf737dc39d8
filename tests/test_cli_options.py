"""CLI option precedence (r03 advisory): an explicitly passed flag
beats the config value, which beats the default — plus the argparse
wiring that makes "not given" distinguishable (default=None)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from fscrawler_spark.cli import _crawl_job, _flag_over_config, main
from fscrawler_spark.plans.job import CrawlJob


def test_flag_beats_config_beats_default():
    cfg = {"use_bloom": True}
    # flag given -> flag wins over config
    assert _flag_over_config(cfg, "use_bloom", False, False) is False
    # flag not given -> config wins over default
    assert _flag_over_config(cfg, "use_bloom", None, False) is True
    # neither -> default
    assert _flag_over_config({}, "use_bloom", None, False) is False


def test_crawl_job_takes_only_given_keys():
    """The crawl's CrawlJob restates no default: with no flag and no
    config key it IS CrawlJob(); a config key, then a flag, override."""
    import argparse

    none = argparse.Namespace(budget=None, waves=None, global_budget=None, bloom=None)
    assert _crawl_job({}, none) == CrawlJob()
    cfg = {"max_waves": 7, "use_bloom": True, "wave_cap": 9}
    assert _crawl_job(cfg, none) == CrawlJob(max_waves=7, use_bloom=True, wave_cap=9)
    flags = argparse.Namespace(budget=2, waves=3, global_budget=None, bloom=False)
    assert _crawl_job(cfg, flags) == CrawlJob(
        politeness_budget=2, max_waves=3, use_bloom=False, wave_cap=9
    )


def test_frontier_flag_removed(monkeypatch):
    """The frontier layout comes only from config
    (frontier_compact_every); the old --frontier flag is rejected."""
    monkeypatch.setattr("fscrawler_spark.cli.cmd_crawl", lambda a: None)
    with pytest.raises(SystemExit):
        main(["crawl", "--pages", "p.parquet", "--checkpoint", "/tmp/ck",
              "--frontier", "full"])


def test_prefilter_store_memory_raises():
    """The prefilter bank has one home, the checkpoint table."""
    with pytest.raises(ValueError):
        CrawlJob(prefilter_store="memory")
    assert CrawlJob().prefilter_store == "table"


def test_budget_waves_bloom_flags_are_none_markers(monkeypatch):
    """--budget/--waves/--bloom must also default to None (r03 advisory
    applied to every flag with a config twin): explicit flags win over
    config, and --no-bloom is distinguishable from 'not given'."""
    captured = {}
    monkeypatch.setattr(
        "fscrawler_spark.cli.cmd_crawl", lambda a: captured.update(vars(a))
    )
    base = ["crawl", "--pages", "p.parquet", "--checkpoint", "/tmp/ck"]
    main(base)
    assert captured["budget"] is None
    assert captured["waves"] is None
    assert captured["bloom"] is None
    main(base + ["--waves", "3", "--budget", "2", "--bloom"])
    assert (captured["waves"], captured["budget"], captured["bloom"]) == (3, 2, True)
    main(base + ["--no-bloom"])
    assert captured["bloom"] is False
    # an explicit False flag must beat a True config value
    assert _flag_over_config({"use_bloom": True}, "use_bloom", False, False) is False
    # and config still beats the default when no flag is given
    assert _flag_over_config({"max_waves": 7}, "max_waves", None, 50) == 7


def test_media_subcommand_end_to_end(spark, tmp_path, capsys, monkeypatch):
    """`media --op info/thumbnails` runs the real codecs over a media
    parquet: a JPEG, a GIF and a corrupt blob in one table."""
    import numpy as np

    from fscrawler_spark.functions import multimodal as MM
    from fscrawler_spark.functions.gif import encode_gif
    from fscrawler_spark.functions.jpeg import encode_jpeg
    from fscrawler_spark import session as S

    monkeypatch.setattr(S, "get_spark", lambda *a, **k: spark)
    import fscrawler_spark.cli as cli
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)

    rng = np.random.Generator(np.random.PCG64(77))
    jpg = encode_jpeg(rng.integers(0, 256, (8, 12, 3), dtype=np.uint8),
                      quality=100)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    gif = encode_gif(pal[rng.integers(0, 16, (6, 10))])
    src = str(tmp_path / "media.parquet")
    spark.createDataFrame(
        [(1, "u1", "image", jpg, {}), (2, "u2", "image", gif, {}),
         (3, "u3", "image", jpg[:10], {})],
        MM.MEDIA_SCHEMA,
    ).write.parquet(src)

    out = str(tmp_path / "info.parquet")
    main(["media", "--input", src, "--op", "info", "--out", out])
    rows = {r["media_id"]: r for r in spark.read.parquet(out).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (12, 8)
    assert (rows[2]["width"], rows[2]["height"]) == (10, 6)
    assert rows[3]["width"] is None  # corrupt blob contained

    tout = str(tmp_path / "thumbs.parquet")
    main(["media", "--input", src, "--op", "thumbnails",
          "--max-px", "4", "--thumb-codec", "jpeg", "--out", tout])
    thumbs = spark.read.parquet(tout).collect()
    assert {r["media_id"] for r in thumbs} == {1, 2}
    assert all(bytes(r["thumb"])[:3] == b"\xff\xd8\xff" for r in thumbs)
    capsys.readouterr()  # drain the JSON summaries


def test_media_meta_subcommand(spark, tmp_path, capsys, monkeypatch):
    """`media --op meta` catalogs compressed containers (MP3/MP4/Ogg)
    the engine never entropy-decodes."""
    from fscrawler_spark.functions import mediameta as MD
    from fscrawler_spark.functions import multimodal as MM
    import fscrawler_spark.cli as cli

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)

    src = str(tmp_path / "media.parquet")
    spark.createDataFrame(
        [(1, "u1", "audio", MD.synth_mp3(20, 128, 44100, 2), {}),
         (2, "u2", "video",
          MD.synth_mp4(6.5, 1000, 640, 480, sps=MD.encode_sps(640, 480)),
          {}),
         (3, "u3", "audio", MD.synth_ogg("opus", 48000 * 2), {}),
         (4, "u4", "audio", b"\x00garbage\x00" * 4, {})],
        MM.MEDIA_SCHEMA,
    ).write.parquet(src)

    out = str(tmp_path / "meta.parquet")
    main(["media", "--input", src, "--op", "meta", "--out", out])
    rows = {r["media_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[1]["container"] == "mp3"
    assert rows[1]["duration_sec"] == 20 * 1152 / 44100
    assert rows[2]["codec"] == "avc1/h264"
    assert (rows[2]["width"], rows[2]["height"]) == (640, 480)
    assert rows[3]["codec"] == "opus" and rows[3]["duration_sec"] == 2.0
    assert rows[4]["container"] is None  # contained
    capsys.readouterr()


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF001 = "/root/testdata/sf0.001"
DOCS = f"{SF001}/documents.parquet"

# Runs cli.main once per op in one process, so the ops share one JVM
# (main never stops the session); prints one tagged JSON line per op
# with its stdout and the traceback it raised, if any.
_RUN_OPS = """
import contextlib, io, json, sys, traceback
from fscrawler_spark.cli import main
for key, argv in json.loads(sys.argv[1]).items():
    out, err = io.StringIO(), None
    try:
        with contextlib.redirect_stdout(out):
            main(argv)
    except (Exception, SystemExit):
        err = traceback.format_exc()
    print("CLI-OP " + json.dumps({"key": key, "stdout": out.getvalue(), "error": err}))
"""


@pytest.fixture(scope="module")
def cli_ops(tmp_path_factory):
    """Every op of the three CLI tests below, each through cli.main as
    `python -m fscrawler_spark.cli` would run it, in ONE fresh process
    (one JVM start instead of thirteen).  `python -m` itself stays
    covered by test_cli_process_subcommand."""
    base = tmp_path_factory.mktemp("cli_ops")

    def text(op, *extra):
        return ["text", "--input", DOCS, "--op", op, "--out", str(base / op), *extra]

    def profile(op, *extra):
        return ["profile", "--input", f"{SF001}/events.parquet", "--op", op,
                "--out", str(base / f"profile_{op}"), *extra]

    ops = {
        "classify": text("classify"),
        "prep": text("prep"),
        "hll": profile("hll"),
        "cms": profile("cms"),
        "quantiles": profile("quantiles", "--lo", "0.0", "--hi", "1000.0",
                             "--bins", "100"),
        "lmscore": text("lmscore"),
        "pack": text("pack", "--cap", "64"),
        "mixture": text("mixture", "--targets", "en=4000,de=1500,es=1500,fr=1500,zh=1500"),
        "funnel": text("funnel"),
        "segdedup": text("segdedup"),
        "chunks": text("chunks", "--cap", "16", "--stride", "12"),
        "containment": ["dedup", "--input", DOCS, "--method", "containment",
                        "--threshold", "0.8", "--max-df", "100",
                        "--out", str(base / "contain")],
        "waterfill": ["frontier", "--input", DOCS, "--op", "waterfill",
                      "--group-col", "source", "--budget", "100",
                      "--out", str(base / "wf")],
    }
    r = subprocess.run(
        [sys.executable, "-c", _RUN_OPS,
         json.dumps({k: ["--cores", "4", *v] for k, v in ops.items()})],
        capture_output=True, text=True, cwd=ROOT, timeout=900,
        env={**os.environ, "SPARK_DRIVER_MEM": "2g"},
    )
    done = {}
    for line in r.stdout.splitlines():
        if line.startswith("CLI-OP "):
            rec = json.loads(line[len("CLI-OP "):])
            done[rec["key"]] = rec
    return {"dir": base, "ops": done, "stderr": r.stderr[-2000:]}


def _payload(cli_ops, key):
    """The op's final JSON line, as the CLI printed it."""
    assert key in cli_ops["ops"], cli_ops["stderr"]
    rec = cli_ops["ops"][key]
    assert rec["error"] is None, rec["error"][-2000:]
    return json.loads(rec["stdout"].strip().splitlines()[-1])


def _parquet_rows(path):
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


def test_cli_text_ops(cli_ops):
    """`text` subcommand drives classify/prep end-to-end (the
    spark-submit surface)."""
    for op, min_rows in [("classify", 400), ("prep", 1)]:
        payload = _payload(cli_ops, op)
        assert payload["rows"] >= min_rows, (op, payload)
        assert _parquet_rows(cli_ops["dir"] / op) == payload["rows"]


def test_cli_profile_ops(cli_ops):
    """`profile` subcommand drives hll/cms/quantiles end-to-end, and
    `text --op lmscore` rides the same surface."""
    for op, min_rows in [
        ("hll", 1),
        ("cms", 30),  # sf0.001 has 15 distinct users -> <= 60 cells
        ("quantiles", 1),
    ]:
        payload = _payload(cli_ops, op)
        assert payload["rows"] >= min_rows, (op, payload)
        assert _parquet_rows(cli_ops["dir"] / f"profile_{op}") == payload["rows"]
    assert _payload(cli_ops, "lmscore")["rows"] >= 40


def test_cli_session8_ops(cli_ops):
    """`text --op pack/mixture/funnel/segdedup/chunks`, `dedup --method
    containment` and the `frontier` subcommand, each end-to-end."""
    base = cli_ops["dir"]
    p = _payload(cli_ops, "pack")
    assert p["rows"] >= 16  # at least one sequence per bucket
    # every packed sequence holds >= 1 doc and the doc total re-adds
    tot = duckdb.sql(
        f"SELECT sum(n_docs), min(n_docs) FROM read_parquet('{base / 'pack'}/*.parquet')"
    ).fetchone()
    assert tot[0] == 500 and tot[1] >= 1

    assert _payload(cli_ops, "mixture")["rows"] == 5
    assert _payload(cli_ops, "funnel")["rows"] == 3
    assert _payload(cli_ops, "segdedup")["rows"] == 500  # report total over documents
    assert _payload(cli_ops, "chunks")["rows"] >= 500

    p = _payload(cli_ops, "containment")
    assert p["pairs"] >= 0 and p["dropped"] <= p["pairs"]

    assert _payload(cli_ops, "waterfill")["rows"] == 20
    alloc = duckdb.sql(
        f"SELECT sum(alloc) FROM read_parquet('{base / 'wf'}/*.parquet')"
    ).fetchone()[0]
    assert alloc <= 100


def test_cli_process_subcommand(spark, tmp_path):
    """`process` drives the staged index pipeline end-to-end from a
    fresh process; every page lands INDEXED (or tagged ERROR, never
    dropped)."""
    import json as _json
    import subprocess
    import sys

    from fscrawler_spark import schemas
    from fscrawler_spark.datagen import generate_pages

    pages, _, _ = generate_pages("tiny", seed=42)
    rows = [tuple(r.get(f.name) for f in schemas.PAGES.fields) for r in pages]
    inp = str(tmp_path / "pages")
    spark.createDataFrame(rows, schemas.PAGES).write.parquet(inp)
    r = subprocess.run(
        [sys.executable, "-m", "fscrawler_spark.cli", "--cores", "4",
         "process", "--input", inp, "--out", str(tmp_path / "staged")],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    payload = _json.loads(r.stdout.strip().splitlines()[-1])
    assert payload["rows"] == len(pages)
    assert set(payload["stages"]) <= {"INDEXED", "ERROR"}
    assert payload["stages"].get("INDEXED", 0) >= len(pages) - 10
