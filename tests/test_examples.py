"""The examples/ scripts must keep running — they are the migration story."""

from __future__ import annotations

import pathlib
import runpy
import sys

EXAMPLES = pathlib.Path(__file__).resolve().parent.parent / "examples"


def _run(name, sf_dir):
    argv = sys.argv
    sys.argv = [name, sf_dir]
    try:
        runpy.run_path(str(EXAMPLES / f"{name}.py"), run_name="__main__")
    finally:
        sys.argv = argv


def test_batch_etl_example(spark, sf_dir):
    _run("batch_etl", sf_dir)


def test_streaming_sessions_example(spark, sf_dir):
    _run("streaming_sessions", sf_dir)


def test_corpus_pipeline_example(spark, sf_dir):
    _run("corpus_pipeline", sf_dir)


def test_timeseries_example(spark, sf_dir):
    _run("timeseries", sf_dir)


def test_lake_maintenance_example(spark, sf_dir):
    _run("lake_maintenance", sf_dir)


def test_product_analytics_example(spark, sf_dir):
    _run("product_analytics", sf_dir)


def test_corpus_diagnostics_example(spark, sf_dir):
    _run("corpus_diagnostics", sf_dir)


def test_experimentation_example(spark, sf_dir):
    _run("experimentation", sf_dir)


def test_statistics_toolkit_example(spark, sf_dir):
    _run("statistics_toolkit", sf_dir)


def test_governed_lake_example(spark, sf_dir):
    _run("governed_lake", sf_dir)


def test_physical_layout_example(spark, sf_dir):
    _run("physical_layout", sf_dir)


def test_model_inference_example(spark, sf_dir):
    _run("model_inference", sf_dir)
