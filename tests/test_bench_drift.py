"""The bench/soak IO-aware drift control (r9; r8 verdict task 1).

BENCH_r08's official record carried a ~12 s phantom regression on the
harmonize entries that the CPU-bound calibration probe could not flag
(``load_flagged: []`` despite 1.8-2.3x inflation, proven phantom by an
idle-host rerun): multi-GB prep writes were still draining to the shared
/tmp volume while the entries timed, and a fixed CPU plan cannot see
writeback stalls. These tests pin the new machinery: the probe itself
(a timed cache-dropped read of a fixed file), the flagging rule, the
sync-and-settle helper, and — the "done" criterion — that an IO-loaded
run flags the harmonize entries (on injected probe samples; the live
write-load drill is ``tools/io_drill.py``).

No SparkSession needed: the machinery is pure os/time code by design so
it can run (and be tested) without touching the JVM.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import (  # noqa: E402
    IO_DRIFT_FACTOR,
    _ensure_io_probe_file,
    _io_flags,
    _io_probe,
    _settle_io,
)


def test_ensure_io_probe_file_builds_once(tmp_path):
    path = str(tmp_path / "probe.bin")
    got = _ensure_io_probe_file(path, mb=8)
    assert got == path
    assert os.path.getsize(path) == 8 << 20
    mtime = os.path.getmtime(path)
    _ensure_io_probe_file(path, mb=8)  # idempotent: no rebuild
    assert os.path.getmtime(path) == mtime
    # a truncated/stale file IS rebuilt (size mismatch)
    with open(path, "wb") as f:
        f.write(b"x")
    _ensure_io_probe_file(path, mb=8)
    assert os.path.getsize(path) == 8 << 20


def test_io_probe_returns_positive_seconds(tmp_path):
    path = _ensure_io_probe_file(str(tmp_path / "probe.bin"), mb=8)
    _io_probe(path)  # discard the first touch (allocator/metadata warmup)
    samples = [_io_probe(path) for _ in range(3)]
    assert all(0 < s < 30 for s in samples), samples


def test_io_flags_threshold():
    probes = {
        "q01": 0.06, "q12": 0.07, "q30": 0.05,
        "harmonize_e2e_bucket": 1.4,   # 20x the median: writeback stall
        "harmonize_e2e_bucket2": 0.9,
    }
    import statistics

    ref = statistics.median(probes.values())
    flagged = _io_flags(probes, ref)
    assert flagged == ["harmonize_e2e_bucket", "harmonize_e2e_bucket2"]
    # idle spread (measured up to ~1.7x after warmup) must NOT flag
    assert _io_flags({"a": 0.05, "b": 0.085, "c": 0.06}, 0.06) == []
    # the factor is part of the contract the record is read against
    assert IO_DRIFT_FACTOR == 2.5


def test_settle_io_drains_and_returns():
    # settle on an (approximately) idle host returns fast and syncs
    waited = _settle_io(max_wait_sec=10.0)
    assert 0 <= waited <= 10.5
    with open("/proc/meminfo") as f:
        backlog_kb = sum(
            int(line.split()[1]) for line in f
            if line.startswith(("Dirty:", "Writeback:"))
        )
    # after a successful settle the backlog is under the floor (unless the
    # host is being actively written, in which case the timeout path above
    # already proved settle doesn't hang)
    assert backlog_kb < 64 * 1024 or waited >= 10.0


def test_io_loaded_run_flags_the_loaded_entries():
    """The r8 verdict's 'done' criterion: a deliberately IO-loaded run
    must flag the entries timed under the load, and the retry loop must
    clear the flag once the probe reads in band again. Runs on injected
    probe samples: whether a live write load slows the probe past the
    factor depends on the disk (BENCH_r08's shared volume: 20x; a fast
    disk under ``dd oflag=direct``: ~2.1x), so a live assertion would pass
    or fail with disk speed. The live drill is ``tools/io_drill.py``."""
    import statistics

    from bench import _wait_for_idle_band

    # quiet headline entries, then the BENCH_r08 writeback stall
    probes = {"q01": 0.041, "q12": 0.038, "q30": 0.044,
              "harmonize_e2e_bucket": 0.9}
    ref = statistics.median(probes.values())
    assert _io_flags(probes, ref) == ["harmonize_e2e_bucket"]
    # a loaded sample below the factor is not flagged: the probe reads
    # only write pressure that slows reads by more than 2.5x
    assert _io_flags({"q01": 0.041, "q12": 0.038, "q30": 0.044,
                      "harmonize_e2e_bucket": 0.086}, 0.041) == []

    # the retry pass: the host stays loaded for two samples, then settles
    samples = iter([0.9, 0.8, 0.05])
    settles = []
    ok, c, i = _wait_for_idle_band(
        0.3, ref, calibrate=lambda: 0.3, probe=lambda: next(samples),
        max_wait_sec=30.0,
        settle=lambda max_wait_sec=0: settles.append(max_wait_sec) or 0.0)
    assert ok and (c, i) == (0.3, 0.05)
    assert len(settles) == 3  # settled before every sample
    # the re-run's sample replaces the loaded one (per-entry minimum):
    # the entry is no longer flagged against the same reference
    probes["harmonize_e2e_bucket"] = min(probes["harmonize_e2e_bucket"], i)
    assert _io_flags(probes, ref) == []


def test_drop_page_cache_reports_capability():
    """SOAK_COLD=1's primitive: returns True only when the drop actually
    happened (root + /proc/sys/vm/drop_caches); as root, a dropped cache
    must make a just-written file's re-read hit the device (measurably
    slower than a warm re-read of the same bytes)."""
    from bench import _drop_page_cache

    ok = _drop_page_cache()
    assert isinstance(ok, bool)
    if os.geteuid() == 0 and os.path.exists("/proc/sys/vm/drop_caches"):
        assert ok


def test_wait_for_idle_band_returns_when_idle_and_bounds_when_not():
    """r10 (r9 verdict task 3): the retry loop's gate. With samples inside
    the band it returns immediately; with samples that can never enter the
    band it returns (False, ...) within the bound instead of hanging —
    the flags then stand as the explicit invalid markers."""
    from bench import CAL_DRIFT_FACTOR, _wait_for_idle_band

    no_settle = lambda max_wait_sec=0: 0.0
    # idle host: first samples are inside the band -> immediate True
    ok, c, i = _wait_for_idle_band(
        0.3, 0.06, calibrate=lambda: 0.3, probe=lambda: 0.06,
        max_wait_sec=5.0, settle=no_settle)
    assert ok and c == 0.3 and i == 0.06
    # sustained contention: calibration 3x the reference, never in band
    t0 = time.time()
    ok, c, i = _wait_for_idle_band(
        0.3, 0.06, calibrate=lambda: 0.9, probe=lambda: 0.06,
        max_wait_sec=2.0, settle=no_settle)
    assert not ok and c == 0.9
    assert time.time() - t0 < 10.0  # bounded, with slack for the sleeps
    # the band uses the SAME thresholds that flag entries
    assert CAL_DRIFT_FACTOR == 1.2


def test_drift_retry_loop_contract_fields_exist():
    """The retry knobs are part of the record's contract: bounded passes,
    bounded idle wait, and both default on (a zero retry budget would
    silently restore the r9 behavior of recording loaded timings)."""
    from bench import DRIFT_IDLE_WAIT_SEC, DRIFT_MAX_RETRIES

    assert DRIFT_MAX_RETRIES >= 1
    assert 0 < DRIFT_IDLE_WAIT_SEC <= 600
