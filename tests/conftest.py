from __future__ import annotations

import pandas as pd
import pytest

from racing_telemetry_pipeline_spark.datagen import write_transcripts
from racing_telemetry_pipeline_spark.oracle import run_oracle
from racing_telemetry_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def raw_unit(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("raw_unit")
    # two files so ingest-ordinal spans file boundaries
    return write_transcripts(str(d), "sf-unit", rows_per_file=1500)


@pytest.fixture(scope="session")
def raw_small(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("raw_small")
    return write_transcripts(str(d), "sf-small", rows_per_file=100_000)


@pytest.fixture(scope="session")
def oracle_unit(raw_unit) -> dict[str, pd.DataFrame]:
    return run_oracle(raw_unit)


@pytest.fixture(scope="session")
def oracle_small(raw_small) -> dict[str, pd.DataFrame]:
    return run_oracle(raw_small)


def assert_pdf_equal(spark_df, oracle_pdf: pd.DataFrame, sort_cols: list[str], atol=0.0):
    """Order-insensitive equality between a Spark result and the oracle."""
    got = spark_df.toPandas()
    want = oracle_pdf.copy()
    got = got[sorted(got.columns)].sort_values(sort_cols, kind="stable").reset_index(drop=True)
    want = want[sorted(want.columns)].sort_values(sort_cols, kind="stable").reset_index(drop=True)
    assert list(got.columns) == list(want.columns), (got.columns, want.columns)
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            g = g.astype(float)
            w = w.astype(float)
            pd.testing.assert_series_equal(
                g, w, check_names=False, rtol=0.0, atol=atol, check_exact=(atol == 0.0)
            )
        else:
            if str(g.dtype).startswith("datetime") or str(w.dtype).startswith("datetime"):
                g = pd.to_datetime(g).astype("datetime64[us]")
                w = pd.to_datetime(w).astype("datetime64[us]")
            gi = g.isna()
            wi = w.isna()
            assert gi.equals(wi), f"null mask mismatch in {c}"
            assert (g[~gi].astype(str) == w[~wi].astype(str)).all(), f"value mismatch in {c}"
