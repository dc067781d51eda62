"""Every query name that the Makefile, tools/probe_scale.py and bench.py
list must be registered in the registry its tool looks it up in. A stale
name is not harmless: spot_check_scale.py dies on a KeyError,
run_oracle_chunked.py ignores an unknown --exclude entry without a word,
and bench.py drops an unregistered headline name from its timed set. No
Spark session is started."""

from __future__ import annotations

import re
import sys
from pathlib import Path

from etl_for_dumdums_spark.catalog import (
    EXTRA_QUERIES,
    QUERIES,
    SAMPLED_QUERIES,
    load_all,
)

REPO = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(REPO), str(REPO / "tools")]

import bench  # noqa: E402
import probe_scale  # noqa: E402

load_all()


def _makefile_vars() -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for line in (REPO / "Makefile").read_text().splitlines():
        m = re.match(r"(ORACLE_\w+_EXCLUDE) = (.*)", line)
        if m:
            out[m.group(1)] = [
                n
                for n in m.group(2).split(",")
                if not n.startswith("$(")  # the 1000x list extends the 100x one
            ]
    return out


def _makefile_recipe(target: str) -> list[str]:
    """The recipe lines of one target, continuation lines joined."""
    text = (REPO / "Makefile").read_text().replace("\\\n", " ")
    body = text.split(f"\n{target}:\n", 1)[1]
    return re.findall(r"^\t(.*)$", body.split("\n\n", 1)[0], flags=re.M)


def test_oracle_excludes_are_registered():
    lists = _makefile_vars()
    assert set(lists) == {"ORACLE_100X_EXCLUDE", "ORACLE_1000X_EXCLUDE"}
    for var, names in lists.items():
        assert names, var
        stale = set(names) - set(QUERIES) - set(EXTRA_QUERIES)
        assert not stale, (var, stale)


def test_spot_check_names_are_registered():
    recipes = _makefile_recipe("oracle-1000x-spot")
    assert recipes
    for cmd in recipes:
        words = cmd.split()
        assert words[:2] == ["python", "tools/spot_check_scale.py"], cmd
        names = [w for w in words[2:] if re.fullmatch(r"[a-z]\w*", w)]
        assert names, cmd
        registry = (
            SAMPLED_QUERIES if "--sampled" in words else {**QUERIES, **EXTRA_QUERIES}
        )
        assert set(names) <= set(registry), set(names) - set(registry)


def test_probe_scale_default_set_is_registered():
    stale = set(probe_scale.DEFAULT_SET) - set(QUERIES) - set(EXTRA_QUERIES)
    assert not stale, stale


def test_bench_headline_is_registered():
    stale = set(bench.HEADLINE) - set(QUERIES) - set(EXTRA_QUERIES)
    assert not stale, stale
