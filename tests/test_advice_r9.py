"""Regression pins for the r8 ADVICE findings fixed in round 9.

1. run_oracle_chunked._stream_child must terminate (and keep the tail) when
   the child dies leaving an unterminated trailing line — the truthy-partial
   readline branch used to starve the exit check and hang the sweep parent.
2. bench.py's sweep-lock guard must not refuse under an unrelated process
   that recycled the recorded PID (locks now record the holder's cmdline),
   and must survive the lock vanishing between glob and read.
3. _cnt_aba_sql fails loudly on a non-period-2 trigram ('aaa'), whose
   collapse identity would silently undercount.
"""

import os
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import run_oracle_chunked as roc  # noqa: E402


def test_stream_child_consumes_tail_of_killed_child(tmp_path):
    """Child writes one full line + a partial line, then exits without a
    trailing newline: the parent loop must terminate quickly and keep both
    the full line and the partial tail."""
    out_path = tmp_path / "child.out"
    with open(out_path, "w") as out_f:
        proc = subprocess.Popen(
            [
                sys.executable,
                "-c",
                "import sys; sys.stdout.write('PASS q1 (3 rows) [0.1s]\\n"
                "FAIL q2: par'); sys.stdout.flush()",
            ],
            stdout=out_f,
        )
        proc.wait()
        lines = roc._stream_child(proc, out_path, poll_sec=0.05)
    assert lines == ["PASS q1 (3 rows) [0.1s]\n", "FAIL q2: par"]


def test_stream_child_waits_for_slow_full_lines(tmp_path):
    """A partial line that later completes is NOT truncated."""
    out_path = tmp_path / "child.out"
    with open(out_path, "w") as out_f:
        proc = subprocess.Popen(
            [
                sys.executable,
                "-c",
                "import sys, time\n"
                "sys.stdout.write('PASS q1 (1 ro'); sys.stdout.flush()\n"
                "time.sleep(0.4)\n"
                "sys.stdout.write('ws) [0.1s]\\n'); sys.stdout.flush()\n",
            ],
            stdout=out_f,
        )
        lines = roc._stream_child(proc, out_path, poll_sec=0.05)
        proc.wait()
    assert lines == ["PASS q1 (1 rows) [0.1s]\n"]


# The lock tests call bench's sweep-lock guard in-process: it is the first
# thing bench.main() does, so running the whole bench would only add its
# Spark queries to the test.
_LOCK = "/tmp/spark_graft_sweep.lock"


def test_bench_ignores_pid_reuse_with_mismatched_cmdline(monkeypatch):
    """A lock that records a cmdline is only honored if the live process
    still matches it — here the recorded holder is a fake sweep cmdline but
    the pid belongs to this pytest process, so bench must treat the lock as
    stale and recover it."""
    import bench

    if os.path.exists(_LOCK):
        pytest.skip("a real sweep is running")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    Path(_LOCK).write_text(
        f"{os.getpid()}\npython tools/run_oracle_chunked.py --sf /tmp/sfscale1000"
    )
    try:
        bench.sweep_guard()
        assert not os.path.exists(_LOCK)  # recovered as stale
    finally:
        Path(_LOCK).unlink(missing_ok=True)


def test_bench_refuses_when_recorded_cmdline_matches(monkeypatch, capsys):
    """Same pid, but the recorded cmdline matches the live process: a real
    sweep — bench must refuse (exit 2)."""
    import bench

    if os.path.exists(_LOCK):
        pytest.skip("a real sweep is running")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    my_cmd = (
        Path(f"/proc/{os.getpid()}/cmdline")
        .read_bytes()
        .replace(b"\0", b" ")
        .decode(errors="replace")
        .strip()
    )
    Path(_LOCK).write_text(f"{os.getpid()}\n{my_cmd}")
    try:
        with pytest.raises(SystemExit) as exc:
            bench.sweep_guard()
        assert exc.value.code == 2
        assert "sweep" in capsys.readouterr().err
    finally:
        Path(_LOCK).unlink(missing_ok=True)


def test_cnt_aba_sql_rejects_period1_pattern():
    from etl_for_dumdums_spark.catalog.textops import _cnt_aba_sql

    with pytest.raises(AssertionError):
        _cnt_aba_sql("aaa")
    # the legitimate shape still builds
    assert "chr(1)" in _cnt_aba_sql(" a ")


_RANGE_JOIN_FORM = """
    WITH e AS (SELECT event_id, event_type, ts FROM events{where}),
    f AS (
      SELECT e1.event_id, e1.event_type, count(e2.event_id) AS n_follow
      FROM e e1 LEFT JOIN e e2
        ON e1.event_type = e2.event_type
       AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
      GROUP BY e1.event_id, e1.event_type)
    SELECT event_type, count(*) AS n_events,
           round(avg(n_follow), 4) AS avg_follows,
           max(n_follow) AS max_follows,
           CAST(sum(n_follow) AS BIGINT) AS total_pairs
    FROM f GROUP BY event_type ORDER BY event_type
"""


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_range_interval_window_oracle_equals_join_form(sf_dir):
    """The r9 RANGE-frame window rewrite of join_range_interval's oracle
    (O(n log n) instead of the inequality self-join that timed out at the
    1000x-sampled replica) must be value-identical to the join form."""
    import duckdb

    from etl_for_dumdums_spark.catalog.joins import _range_interval_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    join_form = con.execute(_RANGE_JOIN_FORM.format(where="")).fetchall()
    window_form = con.execute(_range_interval_sql()).fetchall()
    assert window_form == join_form


def test_range_interval_window_oracle_tie_and_boundary_semantics():
    """Strictness boundaries: equal-ts peers are NOT followers (join form
    uses e2.ts > e1.ts); an event exactly 1h later IS (<=). Synthetic
    micro-corpus hits both edges."""
    import duckdb

    from etl_for_dumdums_spark.catalog.joins import _range_interval_sql

    con = duckdb.connect()
    con.execute("""
        CREATE VIEW events AS SELECT * FROM (VALUES
          (1, 'a', TIMESTAMP '2024-01-01 00:00:00'),
          (2, 'a', TIMESTAMP '2024-01-01 00:00:00'),  -- tie with 1: not a follower
          (3, 'a', TIMESTAMP '2024-01-01 01:00:00'),  -- exactly +1h from 1/2: follower
          (4, 'a', TIMESTAMP '2024-01-01 01:00:00.000001'),  -- +1h+1us from 1/2: not
          (5, 'b', TIMESTAMP '2024-01-01 00:30:00')   -- other type
        ) AS t(event_id, event_type, ts)
    """)
    join_form = con.execute(_RANGE_JOIN_FORM.format(where="")).fetchall()
    window_form = con.execute(_range_interval_sql()).fetchall()
    assert window_form == join_form
    # ('a', 4 events, ...): events 1,2 each see only #3 (tie excluded, +1h
    # included, +1h+1us excluded); #3 sees #4; #4 sees none -> total 3
    a_row = [r for r in window_form if r[0] == "a"][0]
    assert a_row[1] == 4 and a_row[4] == 3
