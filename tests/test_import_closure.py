"""The pipeline's import closure: the bulk and streaming entry points load only
the modules the paper's pipeline needs, so modules outside it can be deleted
without touching the pipeline."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PIPELINE_MODULES = {
    "plans.pipeline", "plans.parse",
    "operators.pip_knn", "operators.tile_assign", "operators.geometry",
    "functions.spark_udfs", "functions.hexgrid", "functions.s2quad",
    "functions.tiles", "functions.geodesy", "functions.textmeta",
    "sources.snapshot", "streaming.stream",
    "synth", "schemas", "session",
}
PACKAGES = {"", "plans", "operators", "functions", "sources", "streaming"}


def test_pipeline_imports_stay_inside_the_pipeline_modules():
    code = (
        "import sys\n"
        "import extractors_metadata_spark.plans.pipeline\n"
        "import extractors_metadata_spark.streaming.stream\n"
        "print('\\n'.join(m for m in sys.modules "
        "if m.split('.')[0] == 'extractors_metadata_spark'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    loaded = {m.partition(".")[2] for m in out.split()}
    assert "plans.pipeline" in loaded and "streaming.stream" in loaded
    assert loaded <= PIPELINE_MODULES | PACKAGES, sorted(loaded - PIPELINE_MODULES - PACKAGES)
