"""Run the full-catalog oracle sweep in CHUNKS, each in a fresh process.

A single-process sweep over ~180 scale-up oracles accumulates process
memory (Spark JVM native buffers + DuckDB pools + allocator
fragmentation) until even KB-scale mallocs fail on a no-swap box —
observed twice at 100x around query ~55 regardless of DuckDB's own
memory_limit. Chunking restarts the whole lifecycle every N queries, so
each chunk starts from a clean slate; results aggregate to one summary.

Usage:
    python tools/run_oracle_chunked.py --sf /tmp/sfscale100 \
        --exclude a,b,c --chunk-size 40
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

# One sweep at a time, and no bench.py while one runs: r7's three at-scale
# incidents (disk-full killing Spark shuffle spills, 22 GiB DuckDB OOMs, a
# contaminated BENCH_r07) all trace to two sweep runners + bench sharing one
# disk/CPU simultaneously. bench.py refuses to start while this lock exists.
SWEEP_LOCK = Path("/tmp/spark_graft_sweep.lock")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, load_all  # noqa: E402


def _cmdline(pid: str) -> str:
    """The process's command line, space-joined; "" if it cannot be read."""
    try:
        raw = Path(f"/proc/{pid}/cmdline").read_bytes()
    except OSError:
        return ""
    return raw.replace(b"\0", b" ").decode(errors="replace").strip()


def live_sweep_pid(lock: Path) -> str | None:
    """The pid of the live sweep holding ``lock``, or None if the lock is
    missing or stale.

    A lock holds the holder's pid on line 1 and its cmdline on line 2. A
    lock with a recorded cmdline belongs to a live sweep only while its pid
    still runs that cmdline, so a recycled pid does not keep it alive; a
    pid-only lock is honored on liveness alone."""
    try:
        lines = lock.read_text().splitlines()
    except FileNotFoundError:
        return None
    pid = lines[0].strip() if lines else ""
    if not pid or not Path(f"/proc/{pid}").exists():
        return None
    recorded_cmd = lines[1].strip() if len(lines) > 1 else ""
    if recorded_cmd and recorded_cmd != _cmdline(pid):
        return None
    return pid


def _stream_child(proc, out_path: Path, poll_sec: float = 0.5) -> list[str]:
    """Tail the child's stdout FILE live until the child has exited and the
    file is drained. Returns the collected lines.

    Binary mode: text-mode tell() is an opaque cookie, so the
    rewind-on-partial-line trick needs byte offsets. A trailing partial line
    is normally rewound and re-read until its newline arrives — but a child
    that died after a block-buffered partial flush (SIGKILL) leaves it
    unterminated forever, so the partial branch must ALSO poll the child: if
    it has exited and the bytes didn't grow across a poll, the partial IS
    the tail (r8 advice: the truthy-partial branch must not starve the exit
    check, or a dead sweep hangs the parent)."""
    out_lines: list[str] = []
    with open(out_path, "rb") as reader:
        done = False
        last_partial = -1
        while True:
            pos = reader.tell()
            raw = reader.readline()
            if raw:
                if raw.endswith(b"\n"):
                    line = raw.decode(errors="replace")
                    sys.stdout.write(line)
                    sys.stdout.flush()
                    out_lines.append(line)
                    last_partial = -1
                elif not done:
                    if proc.poll() is not None and len(raw) == last_partial:
                        done = True  # next pass consumes the tail
                    last_partial = len(raw)
                    reader.seek(pos)
                    time.sleep(poll_sec)
                else:  # child exited mid-line: take what's there
                    out_lines.append(raw.decode(errors="replace"))
                continue
            if done:
                break
            if proc.poll() is not None:
                done = True  # one more pass to drain the tail
                continue
            time.sleep(poll_sec)
    return out_lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/sfscale100")
    ap.add_argument("--exclude", default="")
    ap.add_argument("--chunk-size", type=int, default=40)
    args = ap.parse_args()

    lock = SWEEP_LOCK
    pid = live_sweep_pid(SWEEP_LOCK)
    if pid:
        if os.environ.get("SPARK_GRAFT_SWEEP_PARALLEL"):
            # deliberate split sweep: take a pid-suffixed lock so bench
            # still sees a live sweep; the operator is responsible for
            # also splitting the resource caps (SPARK_GRAFT_DUCK_MEM /
            # _SPILL / _TMP) so the halves can't jointly fill the box
            lock = SWEEP_LOCK.with_name(f"{SWEEP_LOCK.stem}.{os.getpid()}.lock")
        else:
            print(
                f"another sweep (pid {pid}) holds {SWEEP_LOCK}; refusing to "
                "run two at once (r7: concurrent sweeps filled the disk)",
                file=sys.stderr,
            )
            return 2
    elif SWEEP_LOCK.exists():
        # stale-lock recovery: the owning process may have been killed
        print(f"removing stale sweep lock {SWEEP_LOCK}", flush=True)
        SWEEP_LOCK.unlink(missing_ok=True)
    # the format live_sweep_pid reads: pid, then the holder's cmdline
    lock.write_text(f"{os.getpid()}\n{_cmdline('self')}")

    # purge spill dirs left by dead check_oracle processes (they are
    # per-pid — see check_oracle.make_con — so a killed chunk's spill
    # would otherwise sit on disk for the rest of the sweep)
    import glob
    import shutil

    base = os.environ.get("SPARK_GRAFT_DUCK_TMP", "/tmp/duck_spill")
    for d in glob.glob(f"{base}.*"):
        pid = d.rsplit(".", 1)[-1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)

    load_all()
    excluded = {n for n in args.exclude.split(",") if n}
    names = sorted(n for n in {**QUERIES, **EXTRA_QUERIES} if n not in excluded)
    chunks = [
        names[i : i + args.chunk_size] for i in range(0, len(names), args.chunk_size)
    ]
    total_pass = total_fail = total_skip = 0
    accounted: set[str] = set()
    crashed_chunks = 0
    here = Path(__file__).resolve().parent
    for i, chunk in enumerate(chunks, 1):
        print(f"--- chunk {i}/{len(chunks)} ({len(chunk)} queries)", flush=True)
        # stream stdout live (a 1000x chunk can run >30 min — a silent
        # capture makes progress unobservable) while still collecting it
        # for the PASS/FAIL accounting below.
        #
        # Child I/O goes to FILES, not pipes, for two observed failure modes:
        # 1. a stderr PIPE that nobody drains while we block on stdout fills
        #    at ~64KB and deadlocks the child (r7 advice #1);
        # 2. the child's Spark JVM inherits the stdout pipe write-end, so if
        #    the python child dies but the JVM lingers (observed r7: zombie
        #    check_oracle + orphaned JVM at ppid=1), the pipe never hits EOF
        #    and the parent blocks forever on a dead sweep.
        # Polling a file has neither problem: EOF is "child exited and no
        # new bytes", regardless of who still holds the fd.
        out_path = Path(tempfile.mkstemp(prefix=f"oracle_chunk{i}_out_")[1])
        err_path = Path(tempfile.mkstemp(prefix=f"oracle_chunk{i}_err_")[1])
        with open(out_path, "w") as out_f, open(err_path, "w") as err_f:
            proc = subprocess.Popen(
                [sys.executable, str(here / "check_oracle.py"), "--sf", args.sf, *chunk],
                stdout=out_f,
                stderr=err_f,
            )
            out_lines = _stream_child(proc, out_path)
        out = "".join(out_lines)
        err = err_path.read_text()
        out_path.unlink(missing_ok=True)
        err_path.unlink(missing_ok=True)
        if proc.returncode not in (0, 1):  # 1 = some FAILs; >1 = crash
            sys.stderr.write((err or "")[-2000:])
            print(f"chunk {i} crashed (rc={proc.returncode})", flush=True)
            crashed_chunks += 1
        for line in out.splitlines():
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "SKIP"):
                accounted.add(parts[1].rstrip(":"))
            if line.startswith("PASS "):
                total_pass += 1
            elif line.startswith("FAIL "):
                total_fail += 1
            elif line.startswith("SKIP "):
                total_skip += 1
    # a crashed chunk's remaining queries produce no PASS/FAIL/SKIP line —
    # name them explicitly so a partial sweep is loud, not inferable from
    # the "of N" denominator alone
    unaccounted = [n for n in names if n not in accounted]
    if unaccounted:
        print(f"UNACCOUNTED ({len(unaccounted)}): {', '.join(unaccounted)}")
    print(
        f"TOTAL: {total_pass} pass, {total_fail} fail, {total_skip} rows-only"
        f" of {len(names)}"
        + (f" ({crashed_chunks} chunk(s) crashed)" if crashed_chunks else "")
    )
    lock.unlink(missing_ok=True)
    return 1 if (total_fail or unaccounted or crashed_chunks) else 0


if __name__ == "__main__":
    raise SystemExit(main())
