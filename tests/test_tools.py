"""The measurement and checking scripts under tools/ import as modules
without starting Spark: each keeps its work in main()."""

from __future__ import annotations

import subprocess
import sys

from .conftest import REPO


def test_tools_import_without_starting_spark():
    code = (
        "import sys; sys.path[:0] = [sys.argv[1]]\n"
        "import build_local_fs_jar, drive_contract, profile_query, scale_probe\n"
        "import sig_index_bytes\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "assert SparkContext._gateway is None\n"
    )
    subprocess.run(
        [sys.executable, "-c", code, str(REPO / "tools")],
        check=True,
        cwd=REPO,
        timeout=120,
    )
