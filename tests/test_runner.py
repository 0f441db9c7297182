"""End-to-end spark-submit deployment test (north rule: "deployed via
spark-submit --py-files").

Proves the real deployment path, not an import shim: the primary script
and the --py-files zip are copied/built into a scratch dir and submitted
from THERE, so `serialization_agents_spark` can only resolve from the
shipped artifact — a packaging slip (missing module, wrong zip layout)
fails this test, not the first cluster run."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

sys.path.insert(0, "/root/repo")

from serialization_agents_spark import synth  # noqa: E402


def _spark_submit() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(cand):
        pytest.skip("spark-submit launcher not found in this environment")
    return cand


def test_runner_cli_parses_and_validates():
    from serialization_agents_spark.runner import build_arg_parser

    p = build_arg_parser()
    a = p.parse_args(
        ["--pages", "/p", "--authority", "/a", "--out-dir", "/o",
         "--dates", "2024-01-01", "2024-01-31", "--agents-table", "t"]
    )
    assert a.master == "inherit" and a.dates == ["2024-01-01", "2024-01-31"]
    with pytest.raises(SystemExit):
        p.parse_args(["--pages", "/p"])  # authority + out-dir required


def test_summary_counts_match_written_stages(spark, tmp_path, capsys):
    """The summary's row counts come from the stage writes' observed
    counters on a computed run and from counting on a resumed run; both
    must equal the rows on disk."""
    from serialization_agents_spark import runner

    pages_dir, auth_dir = str(tmp_path / "pages"), str(tmp_path / "authority")
    synth.synth_pages(spark, n_pages=60, n_auth=30, partitions=2).write.parquet(pages_dir)
    synth.synth_authority(spark, n_auth=30).write.parquet(auth_dir)
    out_dir = str(tmp_path / "out")
    argv = ["--pages", pages_dir, "--authority", auth_dir, "--out-dir", out_dir]
    conf = spark.conf.getAll  # runner's get_spark reuses this session
    try:
        summaries = []
        for _ in range(2):
            assert runner.main(argv) == 0
            summaries.append(json.loads(capsys.readouterr().out.splitlines()[-1]))
    finally:
        for k, v in conf.items():
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
    computed, resumed = summaries
    assert computed["stages_computed"] and not resumed["stages_computed"]
    assert resumed["cc_iterations"] is None
    for key, stage in [("n_triples", "triples"), ("n_entities", "canonical"),
                       ("n_agents", "agents")]:
        want = spark.read.parquet(os.path.join(out_dir, stage)).count()
        assert computed[key] == resumed[key] == want, key


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    # Inputs written with the session fixture (cheap), consumed by a
    # SEPARATE spark-submit JVM below.
    pages_dir = str(tmp_path / "pages")
    auth_dir = str(tmp_path / "authority")
    synth.synth_pages(spark, n_pages=300, n_auth=60, partitions=4).write.parquet(
        pages_dir
    )
    synth.synth_authority(spark, n_auth=60).write.parquet(auth_dir)

    # Build the artifact and stage the launch dir OUTSIDE the repo.
    from tools.package_pyfiles import PACKAGE, build_zip

    launch = tmp_path / "launch"
    launch.mkdir()
    zip_path = str(launch / f"{PACKAGE}.zip")
    build_zip(zip_path)
    names = zipfile.ZipFile(zip_path).namelist()
    assert f"{PACKAGE}/runner.py" in names and f"{PACKAGE}/synth.py" in names
    shutil.copy(f"/root/repo/{PACKAGE}/runner.py", launch / "runner.py")

    out_dir = str(tmp_path / "out")
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith("SPARK_GRAFT")  # runner must not need them
    }
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(launch / "runner.py"),
            "--pages", pages_dir,
            "--authority", auth_dir,
            "--out-dir", out_dir,
            "--run-id", "submit-e2e",
        ],
        cwd=str(launch), env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary["n_triples"] > 0 and summary["n_entities"] > 0
    assert summary["stages_computed"] and not summary["stages_resumed"]

    # The stage outputs the summary reports must actually be on disk.
    got = spark.read.parquet(os.path.join(out_dir, "triples"))
    assert got.count() == summary["n_triples"]
    assert os.path.exists(os.path.join(out_dir, "_metrics"))

    # Re-submit with the same --out-dir: every stage resumes, and the
    # triple count is unchanged (checkpoint-resume, north-rule clause).
    proc2 = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(launch / "runner.py"),
            "--pages", pages_dir,
            "--authority", auth_dir,
            "--out-dir", out_dir,
            "--run-id", "submit-e2e",
        ],
        cwd=str(launch), env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    summary2 = json.loads(
        [l for l in proc2.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary2["n_triples"] == summary["n_triples"]
    assert "triples" in summary2["stages_resumed"]
