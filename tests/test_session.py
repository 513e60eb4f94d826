"""``session.get_session``: a driver started outside the repo still runs
the queries whose Python workers import the package."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_workers_import_the_package_from_another_directory(tmp_path, sf_dir):
    # The driver adds the repo to its own sys.path only, as a harness
    # importing the package from elsewhere does; the workers learn the
    # package root from the session.
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from spark_lever_spark import registry
        from spark_lever_spark.session import get_session

        spark = get_session(
            master="local[2]", extra_conf={{"spark.driver.memory": "1g"}}
        )
        q = registry.all_queries()["multimodal_pgm_real_decode"]
        print(len(q.fn(spark, {sf_dir!r}).collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert int(run.stdout.split()[-1]) > 0
