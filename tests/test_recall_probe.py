"""The planted-recall harness (``scripts/recall_probe.py``) at a tiny n:
the text-probe and hyperplane modes find every planted pair, and a run
under other arguments synthesizes its own data instead of scoring
against a standing scratch written for another planted set."""

from __future__ import annotations

import importlib.util
import os


def _harness():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "recall_probe.py")
    spec = importlib.util.spec_from_file_location("recall_probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_recall_probe_modes_and_scratch_isolation(spark, tmp_path):
    rp = _harness()
    text_args = ["--mode", "text-probe", "--n", "1000", "--m", "40",
                 "--bands", "6", "--rows", "2", "--scratch", str(tmp_path)]
    first = rp.run(spark, text_args + ["--k", "10"])
    assert first["planted_recall"] == "10/10"
    assert first["pairs"] == 10

    hp = rp.run(spark, ["--mode", "hyperplane", "--n", "1000", "--k", "10",
                        "--scratch", str(tmp_path)])
    assert hp["planted_recall"] == "10/10"

    # --k 8 plants other seeds: scored against the first run's batch
    # it would miss them, so K/K here shows the data was not reused
    second = rp.run(spark, text_args + ["--k", "8"])
    assert second["data"] != first["data"]
    assert second["planted_recall"] == "8/8"
    assert spark.read.parquet(f"{first['data']}/batch").count() == 40
