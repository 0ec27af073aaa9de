"""The scaling-soak tool's harmonize entry (r8): the SPECIAL wiring —
untimed fixture prep populating the per-dir cache, a runner returning the
harmonized activities frame — must keep working against bench's staging
fixtures, or the soak rows in SCALE.md stop being reproducible."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def test_soak_harmonize_entries_prepare_and_run(spark, sf_dir, tmp_path,
                                                monkeypatch):
    from tools import scaling_soak as soak

    # the soak derives staging/table paths from the data dir; point a fake
    # "replica dir" at the sf0.001 tables and isolate the cache
    monkeypatch.setattr(soak, "_HB_PREPARED", {})
    data_dir = str(tmp_path / "soakdata")
    import shutil

    shutil.copytree(sf_dir, data_dir)

    prep_b, run_b = soak.SPECIAL["harmonize_bucket"]
    prep_b(spark, data_dir, 9901.0)
    assert data_dir in soak._HB_PREPARED
    sources, tables = soak._HB_PREPARED[data_dir]
    assert sources and set(tables) == {"activities", "substances",
                                       "properties"}
    try:
        assert run_b(spark, data_dir).count() > 0
    finally:
        from chemharmony_spark.cache import release_caches

        release_caches()
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
