"""CLI integration: the S3/S4 sink path end-to-end through
``python -m btd.cli`` in a fresh process (the CLI stops its session,
so it must not share the test session)."""

from __future__ import annotations

import glob
import gzip
import os
import subprocess
import sys

import pytest

SAMPLE = "/root/reference/assets/sample.txt"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.reference_sample
def test_cli_dedup_gzip_reference_bytes(tmp_path):
    """analyze dedup --text-output: gzip part file whose LINES are the
    reference's dedup output bytes — descending (s,p,o), cleared
    context double-space shape — from a duplicated input."""
    inp = tmp_path / "in.txt"
    lines = open(SAMPLE).read().splitlines()
    inp.write_text("\n".join(lines + lines) + "\n")  # every row duplicated
    out = tmp_path / "out"
    r = subprocess.run(
        [
            sys.executable, "-m", "btd.cli", "analyze", "dedup",
            "--input", str(inp), "--text-output", str(out), "--cores", "4",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    parts = glob.glob(f"{out}/part-*.txt.gz")
    assert len(parts) == 1  # one reducer's worth, like the reference
    got = gzip.open(parts[0], "rt").read().splitlines()

    # python oracle: parse (s,p,o) with the reference regex, distinct,
    # descending sort, reference toString with cleared context
    import re

    from btd.parse import NQUAD_LINE_REGEX

    rx = re.compile(NQUAD_LINE_REGEX)
    spo = {m.group(1, 2, 3) for m in map(rx.match, lines) if m}
    expected = [f"{s} {p} {o}  ." for s, p, o in sorted(spo, reverse=True)]
    assert got == expected


def test_cli_curate_chain(tmp_path):
    """curate subcommand end-to-end in a fresh process: quality filter
    + exact dedup + near-dup group removal + weighted source mixing
    over the sf0.001 documents, written as parquet. Row count must
    shrink monotonically through the chain and the mix must keep only
    manifest sources."""
    out = tmp_path / "curated"
    r = subprocess.run(
        [
            sys.executable, "-m", "btd.cli", "curate",
            "--documents", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--near-dup-threshold", "0.5",
            "--mix", "src0=1.0,src1=0.5",
            "--cores", "4",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "out=" in r.stdout, r.stdout
    import duckdb

    rows = duckdb.sql(
        f"SELECT source, COUNT(*) AS n FROM '{out}/*.parquet' GROUP BY source"
    ).fetchall()
    srcs = {s for s, _ in rows}
    assert srcs <= {"src0", "src1"} and "src0" in srcs
    n_out = sum(n for _, n in rows)
    assert 0 < n_out < 500  # filtered + mixed strictly below input
