"""Oracle replay of two operator families at sf0.001:

- the codec round-trip stages (operators/multimodal.py, webp.py, flac.py)
  and the container synthesis/parse chains;
- the entries that run the window scans of operators/windows.py (the
  affine block scan, the two-phase prefix sums, the bucketed global lag)
  and the keyed prefix sum under the stock fixture.

Each entry runs through the registry and must match its DuckDB oracle on
row count, column names and the order-insensitive value hash of
``tools/check_correctness.py``. Both sides are fetched through pandas, the
path the oracle replay compares.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from test_oracle_types import SF_DIR
from tools.check_correctness import table_hash

CODEC_ENTRIES = [
    "mm_wav_native_decode",
    "mm_png_native_decode",
    "mm_gif_native_decode",
    "mm_jpeg_native_decode",
    "mm_resize_nearest_native",
    "mm_jpeg_color_decode",
    "mm_jpeg_progressive_decode",
    "mm_avi_frame_sample",
    "mm_webp_lossless_decode",
    "mm_flac_native_decode",
    "mm_audio_features",
    "mm_container_headers",
    "mm_gif_jpeg_headers",
    "s_binaryfile_scan",
]

WINDOW_ENTRIES = [
    "w_ema_scan",
    "w_prefix_sum",
    "stock_fixture_daily_label",
    "w1_scalable_global_lag",
    "w_rolling_active_users",
    "ml_auc_exact",
    "ml_ks_2sample",
    "ml_lift_table",
]


def _fingerprint(pdf) -> tuple[int, list[str], str]:
    cols = list(pdf.columns)
    rows = list(pdf.itertuples(index=False, name=None))
    return len(rows), sorted(cols), table_hash(rows, cols)


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for f in sorted(os.listdir(SF_DIR)):
        table, ext = os.path.splitext(f)
        if ext == ".parquet":
            path = os.path.join(SF_DIR, f)
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata missing: {SF_DIR}"
)
@pytest.mark.parametrize("name", CODEC_ENTRIES + WINDOW_ENTRIES)
def test_codec_entry_matches_oracle(spark, oracle, name):
    got = _fingerprint(entrymod.queries()[name](spark, SF_DIR).toPandas())
    want = _fingerprint(oracle.execute(entrymod.oracle_sql()[name]).df())
    assert got[0] == want[0], f"rows {got[0]} != oracle {want[0]}"
    assert got[1] == want[1]
    assert got[2] == want[2], "value hash differs from oracle"
