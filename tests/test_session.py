"""``session.get_session``: a driver started outside the repo still runs
the queries whose Python workers import the package, and a recurring
query mix stays compiled."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap
from pathlib import Path

from spark_lever_spark import registry

REPO = Path(__file__).resolve().parents[1]


def _query_mix() -> tuple[str, ...]:
    """perfbench's query-mix: ``OLAP_MIX + LLM_MIX`` in perfbench/querymix.py."""
    tree = ast.parse((REPO / "perfbench" / "querymix.py").read_text())
    mixes = {
        node.targets[0].id: ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name)
        and node.targets[0].id in ("OLAP_MIX", "LLM_MIX")
    }
    return mixes["OLAP_MIX"] + mixes["LLM_MIX"]


def test_second_pass_of_the_query_mix_compiles_nothing(spark, sf_dir):
    # One pass of the mix generates 240-285 distinct whole-stage-codegen
    # classes; with Spark's default cache of 100 compiled classes every
    # pass evicted and recompiled all of them, and with stage ids in the
    # class names a pass on which AQE numbered the stages in another
    # order recompiled that query.
    queries = registry.all_queries()
    mix = _query_mix()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for name in mix:
            queries[name].fn(spark, sf_dir).toPandas()
        return compiles.getCount() - before

    first = one_pass()
    second = one_pass()
    assert second == 0, (
        f"the second pass over {len(mix)} queries compiled {second} classes"
        f" (the first compiled {first})"
    )


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
