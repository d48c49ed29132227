"""Python worker daemon for the traced run.

Spark starts it in place of ``pyspark.daemon`` (``spark.python.daemon.module``)
when this directory is on the workers' ``PYTHONPATH``. It installs the span
wrappers of ``perfbench_spans`` once, then serves tasks exactly as
``pyspark.daemon`` does; every forked worker inherits the wrappers. Task
records go to the directory named by ``PERFBENCH_TRACE_DIR``.
"""

import os

import perfbench_spans
import pyspark.daemon

if __name__ == "__main__":
    perfbench_spans.install_worker(os.environ["PERFBENCH_TRACE_DIR"])
    pyspark.daemon.manager()
