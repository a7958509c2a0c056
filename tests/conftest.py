import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# worker runtime fixes (zipimport cache backport + malloc tuning + Unix
# domain sockets) BEFORE the JVM launches — saves ~137 ms per Spark task
# and ~45 ms per Python stage across the whole suite
from sparksketch import workerenv  # noqa: E402
workerenv.configure()

SF_DIR = os.environ.get("SPARKSKETCH_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[4]")
         .appName("sparksketch-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def grouped_reference():
    """Driver-side grouped build to check ``grouped_sketch`` against:
    ``{key tuple: (sketch bytes, rows)}`` from ``toPandas()``, a
    ``groupby(dropna=False)`` and one ``spec.empty()`` + ``spec.update``
    per group.  NULL and NaN keys both become ``None``."""
    def build(df, group_cols, spec, cols):
        pdf = spec.prepare(df, cols, keep=group_cols).toPandas()
        out = {}
        for key, sub in pdf.groupby(list(group_cols), dropna=False):
            sk = spec.empty()
            spec.update(sk, sub)
            key = tuple(None if v is None or v != v else v for v in key)
            out[key] = (sk.to_bytes(), len(sub))
        return out
    return build
