"""``python -m engine.pydaemon <worker module>``: the daemon that get_spark
sets as ``spark.python.daemon.module``. It installs the zip re-read fix of
``engine.pydaemon`` and runs ``pyspark.daemon`` as ``__main__``; ``sys.argv``
keeps the worker module Spark passes."""

import runpy

from engine.pydaemon import install

install()
runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
