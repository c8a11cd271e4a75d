"""Every registry row is checked in-repo: ``tools/check_oracle.py`` runs all
``queries()`` entries on Spark and every ``oracle_sql()`` twin on DuckDB over
the sf0.001 tables, and each oracle row must match (row count, column names,
order-insensitive value hash). The contract dicts must stay aligned."""

import os
import subprocess
import sys

import __spark_entry__ as entry_mod
from test_plan_quality import SF  # the sf0.001 tables

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_oracle_row_matches():
    """~4 min: a fresh Spark JVM and DuckDB, as the tool runs by hand. A
    missing table dir fails here rather than skipping."""
    assert os.path.isdir(SF), f"oracle tables not found at {SF}"
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "check_oracle.py"), SF],
        cwd=REPO, capture_output=True, text=True, timeout=1800,
    )
    report = proc.stdout + proc.stderr[-3000:]
    assert proc.returncode == 0, report
    assert proc.stdout.rstrip().endswith("all queries match"), report
    matched = [
        line.split()[0] for line in proc.stdout.splitlines()
        if line.split()[1:2] == ["OK"]
    ]
    assert sorted(matched) == sorted(entry_mod.oracle_sql()), report


def test_oracle_sql_subset_and_order():
    qs = list(entry_mod.queries())
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    # oracle_sql iterates in the same priority order as queries()
    pos = {n: i for i, n in enumerate(qs)}
    idxs = [pos[n] for n in os_]
    assert idxs == sorted(idxs)
    # the deliberate rows-only set stays at exactly two full-config pipeline rows
    rows_only = [n for n in qs if n not in os_]
    assert sorted(rows_only) == [
        "dedup_pipeline_clusters",
        "dedup_pipeline_clusters_per_source",
    ]
