"""CLI end-to-end: ``python -m map_reduce_framework_spark wc ...`` over
real files produces the reference's mr-out tree with correct counts."""

from __future__ import annotations

import glob
import os
import re
from collections import Counter

import pytest

from map_reduce_framework_spark.__main__ import main


@pytest.fixture(autouse=True)
def _session_conf_restored(spark):
    """``main`` builds its session with ``get_spark``, and
    ``getOrCreate`` on the live test session applies the CLI's SQL confs
    to it (``--n-reduce 3`` or ``SPARK_GRAFT_CPUS`` shuffle partitions).
    Put back every runtime conf the test changed, so tests after this
    file run at conftest's settings whatever their order. (Static keys
    such as ``spark.master`` are echoed into the session's map too, but
    the running context keeps its own and they cannot be reset.)"""

    def runtime_confs():
        return {
            k: v for k, v in spark.conf.getAll.items()
            if spark.conf.isModifiable(k)
        }

    before = runtime_confs()
    yield
    for key, value in runtime_confs().items():
        if key not in before:
            spark.conf.unset(key)
        elif value != before[key]:
            spark.conf.set(key, before[key])
    assert runtime_confs() == before


def test_cli_wc_end_to_end(spark, tmp_path):
    texts = {
        "a.txt": "the quick brown fox the lazy dog the end\n",
        "b.txt": "quick quick dog-pound; 42 dogs\n",
    }
    for fname, body in texts.items():
        (tmp_path / fname).write_text(body)
    out = str(tmp_path / "out")
    main(["wc", *(str(tmp_path / f) for f in texts), "-o", out, "--n-reduce", "3"])

    want = Counter(
        w
        for body in texts.values()
        for run in re.findall(r"[^\W\d_]+", body, re.UNICODE)
        for w in ([run] if run.isalpha() else [])  # letter-only runs
    )
    # non-alpha runs re-split into alpha segments (compat._letter_runs)
    for body in texts.values():
        for run in re.findall(r"[^\W\d_]+", body, re.UNICODE):
            if not run.isalpha():
                for seg in re.findall(r"[^\W\d_]+", run):
                    if seg.isalpha():
                        want[seg] += 1

    got = Counter()
    files = sorted(glob.glob(os.path.join(out, "mr-out-*")))
    assert len(files) == 3  # --n-reduce pins the reducer/file count
    for p in files:
        prev_key = None
        for line in open(p, encoding="utf-8"):
            k, _, v = line.rstrip("\n").partition(" ")
            got[k] += int(v)
            assert prev_key is None or k >= prev_key  # key-sorted (A7)
            prev_key = k
    assert got == want


def test_cli_query_subcommand(tmp_path, capsys):
    """The analytics surface is reachable from the CLI: --list enumerates
    the registry and a run writes the query result as csv."""
    import csv

    from map_reduce_framework_spark.__main__ import main

    main(["query", "--list"])
    listed = capsys.readouterr().out.split()
    assert "q1_pricing_summary" in listed and len(listed) > 150

    out = str(tmp_path / "q1")
    main([
        "query", "q1_pricing_summary",
        "--sf-dir", "/root/testdata/sf0.001",
        "-o", out, "--format", "csv", "--cpus", "4",
    ])
    import glob

    files = glob.glob(out + "/*.csv")
    assert files
    rows = []
    for f in files:
        with open(f) as fh:
            rows.extend(list(csv.DictReader(fh)))
    assert len(rows) == 6  # q1's 4-group pricing summary at this sf
    assert "sum_qty" in rows[0]


def test_cli_wc_module_entry_point(tmp_path):
    """``python -m map_reduce_framework_spark wc`` in a fresh process (its
    own ``get_spark`` session) writes the reference's ``mr-out-*`` lines."""
    import subprocess
    import sys
    from pathlib import Path

    (tmp_path / "a.txt").write_text("the quick the\n")
    (tmp_path / "b.txt").write_text("quick dog\n")
    out = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable, "-m", "map_reduce_framework_spark", "wc",
            str(tmp_path / "a.txt"), str(tmp_path / "b.txt"),
            "-o", str(out), "--n-reduce", "2", "--cpus", "2",
        ],
        cwd=Path(__file__).resolve().parents[1],
        env={**os.environ, "SPARK_DRIVER_MEMORY": "1g"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    files = sorted(out.glob("mr-out-*"))
    assert len(files) == 2
    lines = [line for f in files for line in f.read_text().splitlines()]
    assert sorted(lines) == ["dog 1", "quick 2", "the 2"]
