"""tools/crosscheck.py rejects query names the registry does not have."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_query_name_fails_before_spark_starts(sf_dir):
    run = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "crosscheck.py"), sf_dir,
         "maef_channel_report", "maef_chanel_report"],
        capture_output=True, text=True, timeout=120,
    )
    assert run.returncode != 0
    assert run.stdout.strip() == "crosscheck: unknown query name(s): maef_chanel_report"
    assert "SparkContext" not in run.stderr
