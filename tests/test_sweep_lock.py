"""The one sweep-lock liveness rule that run_oracle_chunked.py (the lock's
writer) and bench.py (its reader) share, checked on hand-written locks
without starting a sweep."""

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from run_oracle_chunked import live_sweep_pid  # noqa: E402

_DEAD_PID = "99999999"  # above the kernel's largest pid_max


def test_live_sweep_pid(tmp_path):
    lock = tmp_path / "sweep.lock"
    me = str(os.getpid())
    my_cmd = Path("/proc/self/cmdline").read_bytes().replace(b"\0", b" ").decode().strip()

    assert live_sweep_pid(lock) is None  # no lock
    lock.write_text(f"{me}\n{my_cmd}")
    assert live_sweep_pid(lock) == me  # live pid running the recorded cmdline
    lock.write_text(f"{me}\npython tools/run_oracle_chunked.py --sf /tmp/sfscale1000")
    assert live_sweep_pid(lock) is None  # pid recycled by another process
    lock.write_text(f"{_DEAD_PID}\n{my_cmd}")
    assert live_sweep_pid(lock) is None  # holder is gone
    lock.write_text(me)
    assert live_sweep_pid(lock) == me  # pid-only lock: liveness alone
