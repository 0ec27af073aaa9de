"""Live IO-load drill for bench.py's IO probe: does a concurrent direct-IO
write slow the page-cache-dropped read probe enough to flag an entry?

    python tools/io_drill.py [--dir DIR]

Times three quiet probes, then the worst probe taken while ``dd
oflag=direct`` writes 8000 MB to the same volume (bypassing the page
cache, so the device stays busy while dd runs), and applies bench.py's
flagging rule (``IO_DRIFT_FACTOR`` x the median). Prints the samples as
one JSON line; exits 0 if the loaded entry is flagged, 1 if not.

Whether it flags depends on the disk: on BENCH_r08's shared volume a
writeback stall read 20x the quiet probe, on a fast local disk the same
load has read ~2.1x, under the 2.5x factor. The test suite checks the
flagging rule and the retry loop on injected samples
(tests/test_bench_drift.py); this drill measures what a given disk does.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
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

PROBE_MB = 64  # a quick-to-build probe file (bench.py's default is 128)
LOAD_MB = 8000  # enough direct-IO writing to outlast the loaded probes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", help="volume to probe (default: the temp dir)")
    args = ap.parse_args()

    with tempfile.TemporaryDirectory(dir=args.dir) as tmp:
        path = _ensure_io_probe_file(os.path.join(tmp, "probe.bin"),
                                     mb=PROBE_MB)
        _io_probe(path)  # warmup
        probes = {name: _io_probe(path) for name in ("q01", "q12", "q30")}
        load_file = os.path.join(tmp, "load.bin")
        proc = subprocess.Popen(
            ["dd", "if=/dev/zero", f"of={load_file}", "bs=4M",
             f"count={LOAD_MB // 4}", "oflag=direct"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        try:
            time.sleep(0.5)  # let dd reach steady device pressure
            t0 = time.time()
            worst = 0.0
            # keep the worst adjacent sample; stop once the stall is
            # unambiguous or dd finishes
            while (proc.poll() is None and time.time() - t0 < 30
                   and worst < 1.0):
                worst = max(worst, _io_probe(path))
            probes["harmonize_e2e_bucket"] = worst
        finally:
            proc.kill()
            proc.wait()
            _settle_io()

    ref = statistics.median(probes.values())
    flagged = "harmonize_e2e_bucket" in _io_flags(probes, ref)
    print(json.dumps({"probes_s": probes, "median_s": ref,
                      "loaded_over_median": round(worst / ref, 2),
                      "factor": IO_DRIFT_FACTOR, "flagged": flagged}))
    return 0 if flagged else 1


if __name__ == "__main__":
    sys.exit(main())
