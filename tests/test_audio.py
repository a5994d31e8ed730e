"""Worker-import pin: the package-root cloudpickle by-value
registration is what lets pandas UDFs run on Python workers that cannot
import the package. (The module keeps the name it had when this test
drove the audio metadata UDF; it now drives the ChatGPT ingest UDF.)"""

import os


def test_udf_runs_when_workers_cannot_import_package(tmp_path):
    """An application that puts the repo on its own sys.path and runs
    from another directory, with no PYTHONPATH: the Python workers cannot
    import the package, so the pandas UDF (ingest_chatgpt's module-level
    _bfs_flatten) must reach them by value."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    export = os.path.join(root, "tests", "fixtures", "ingest", "chatgpt_export.json")
    script = f"""
import sys
sys.path.insert(0, {root!r})
from conversation_analysis_tools_spark.session import get_spark
from conversation_analysis_tools_spark.sources.conversations import ingest_chatgpt
spark = get_spark(master="local[1]", shuffle_partitions=1)
print("rows", ingest_chatgpt(spark, {export!r})[1].count())
spark.stop()
"""
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
    assert run.stdout.split()[-2:] == ["rows", "7"]
