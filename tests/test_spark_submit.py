"""Launch-mode criterion: the engine runs via ``spark-submit --py-files``
(BASELINE north_star) — the package zip is self-contained and the
production entry script completes with committed output + lineage."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_py_files_end_to_end(tmp_path):
    from data_caterer_spark.config import package_zip

    zip_path = package_zip()
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "man")
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "run_pipeline.py"),
            "--synthesize", "120",
            "--output", out_dir,
            "--manifest", man_dir,
            "--n-groups", "2",
        ],
        capture_output=True,
        text=True,
        timeout=400,
        cwd=str(tmp_path),  # launched from outside the repo working dir
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    out = f"read_parquet('{out_dir}/**/*.parquet', hive_partitioning=1)"
    rows = duckdb.sql(f"SELECT count(*) FROM {out}").fetchall()[0][0]
    man = duckdb.sql(
        f"SELECT group_id, rows_in, rows_kept, rule_hits FROM "
        f"read_parquet('{man_dir}/*.parquet') ORDER BY group_id"
    ).fetchall()
    assert rows > 0
    assert [m[0] for m in man] == [0, 1]
    assert sum(m[1] for m in man) == rows
    assert all(0 < m[2] <= m[1] for m in man)
    # the entry script declares the plan's rule ids, so the histogram
    # rides the write; it must equal the hits exploded from the output
    hits: dict[str, int] = {}
    for m in man:
        for rid, n in json.loads(m[3]).items():
            hits[rid] = hits.get(rid, 0) + n
    exploded = dict(
        duckdb.sql(
            f"SELECT rid, count(*) FROM (SELECT unnest(rule_hits) AS rid "
            f"FROM {out}) GROUP BY rid"
        ).fetchall()
    )
    assert hits == exploded and hits
