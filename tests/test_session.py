"""One engine conf: the test session, an in-process CLI run and a
spark-submit CLI launch all run ``session.engine_conf``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
from pathlib import Path

import pyspark
import pytest

from jira_duplicate_detection_turkcell__spark import cli, session
from tests.conftest import SESSION_SIZING

REPO = Path(__file__).resolve().parent.parent


def test_test_session_holds_engine_conf(spark):
    launched = dict(spark.sparkContext.getConf().getAll())
    for k, v in session.engine_conf(None, **SESSION_SIZING).items():
        if k.endswith(".extraJavaOptions"):
            # Spark prepends its JVM module flags to both keys
            assert launched[k].endswith(f" {v}"), k
        else:
            assert launched[k] == v, k
    assert session.conf_diff(spark) == {}


def test_conf_diff_reports_override_that_attach_keeps(spark):
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "64MB")
    try:
        assert session.attach() is spark
        assert spark.conf.get(key) == "64MB"
        assert session.conf_diff(spark) == {key: "64MB"}
    finally:
        spark.conf.set(key, session.TUNING_CONF[key])
    assert session.conf_diff(spark) == {}


def _last_record(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("launch", ["engine", "bare"])
def test_spark_submit_cli_matches_in_process(spark, tmp_path, capsys, launch):
    """The deployment shape: ``cli.py dedup`` under spark-submit, with the
    package zip built by make_pyfiles.sh. Launched with ``submit_args`` it
    runs the whole engine conf; launched bare, ``attach`` applies the
    runtime SQL tuning and ``conf_diff`` names the static keys that did not
    hold. Either way the clusters equal an in-process run's. The launched
    JVM is sized small so it fits beside the test session's."""
    zip_path = tmp_path / "jdt_spark.zip"
    subprocess.run(
        ["bash", str(REPO / "scripts" / "make_pyfiles.sh"), str(zip_path)],
        check=True, cwd=tmp_path, capture_output=True,
    )
    if launch == "engine":
        args = session.submit_args(
            2, str(zip_path),
            {"spark.driver.memory": "2g", "spark.memory.offHeap.size": "1g"},
        )
    else:
        args = ["--master", "local[2]", "--py-files", str(zip_path)]
    spark_submit = shutil.which("spark-submit") or str(
        Path(pyspark.__file__).parent / "bin" / "spark-submit"
    )

    def argv(tag: str) -> list[str]:
        return ["dedup", "--synth-n", "300", "--output", str(tmp_path / f"{tag}_out"),
                "--checkpoint-dir", str(tmp_path / f"{tag}_ckpt")]

    # the workers must import the engine from the zip, not from the source
    # tree this process put on PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [spark_submit, *args, str(REPO / "jira_duplicate_detection_turkcell__spark" / "cli.py"),
         *argv("submit")],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    submitted = _last_record(out.stdout)

    cli.main(argv("in_process"))
    in_process = _last_record(capsys.readouterr().out)

    if launch == "engine":
        assert submitted["conf_diff"] == {}
    else:
        assert set(submitted["conf_diff"]) == {
            k for k in session.TUNING_CONF if not spark.conf.isModifiable(k)
        }
    assert in_process["conf_diff"] == {}
    assert (submitted["docs"], submitted["clusters"]) == (
        in_process["docs"], in_process["clusters"]
    )


def test_repeated_cli_run_reuses_generated_code(spark, tmp_path, capsys):
    """The engine's plan set fits Spark's generated-class cache
    (``spark.sql.codegen.cache.maxEntries``): a second run of the same
    checkpointed ``dedup``, into a fresh store and output, reuses the
    classes the first compiled. ``--substring`` runs every stage, ~141
    classes; at Spark's default cache of 100 the LRU cycle makes the second
    run recompile ~135 of them, and a per-run literal (a path, a timestamp)
    baked into generated code would recompile every class holding it. A
    repeat may still compile a few classes (0-18 seen): AQE plans some
    stages differently from run to run, as the order in which concurrent
    query stages finish changes the codegen stage ids in class names and
    some join choices."""
    records = []
    for tag in ("first", "second"):
        cli.main(["dedup", "--synth-n", "300", "--substring",
                  "--output", str(tmp_path / f"{tag}_out"),
                  "--checkpoint-dir", str(tmp_path / f"{tag}_ckpt")])
        records.append(_last_record(capsys.readouterr().out))
    first, second = records
    assert second["codegen_compiles"] < 40, (first["codegen_compiles"], second)
    assert (second["docs"], second["clusters"]) == (first["docs"], first["clusters"])
