import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bioanalyzer_backend_spark.datagen import synth
from bioanalyzer_backend_spark.plans import pipeline as P
from bioanalyzer_backend_spark.session import build_session

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session("pytest", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def artifacts_dir():
    return P.ensure_artifacts()


@pytest.fixture(scope="session")
def synth_images() -> pd.DataFrame:
    table, meta = synth.generate(3000, seed=42)
    imgs = pd.DataFrame(table)
    m = pd.DataFrame(meta)
    return imgs.merge(m, on="image_id")


@pytest.fixture(scope="session")
def synth_images_df(spark, synth_images):
    pdf = synth_images[["image_id", "bytes", "w", "h", "fmt", "caption",
                        "phash"]]
    return spark.createDataFrame(
        pdf, schema=("image_id string, bytes binary, w int, h int, "
                     "fmt string, caption string, phash long"))
