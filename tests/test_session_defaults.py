"""get_spark's defaults: the driver heap follows host memory, Python
workers start from the engine's daemon module, and streaming checkpoints
rename through the Hadoop FileSystem."""

from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

from minispark_spark import session
from minispark_spark.session import default_driver_mem, get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "spark.python.daemon.module"
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def test_default_driver_mem_is_a_quarter_of_host_memory_within_bounds():
    value = default_driver_mem()
    assert value.endswith("m")
    mb = int(value[:-1])
    assert 1024 <= mb <= 16 * 1024
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    assert mb == 1024 or mb <= host_mb // 4


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_get_spark_sets_the_worker_daemon_module(spark, monkeypatch):
    assert spark.sparkContext.getConf().get(DAEMON) == "minispark_spark.worker_daemon"
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder()))
    assert get_spark(extra_conf={DAEMON: "pyspark.daemon"})[DAEMON] == "pyspark.daemon"


def test_streaming_checkpoints_use_the_filesystem_manager(spark, tmp_path, monkeypatch):
    # FileContext.rename forks `readlink` for both ends of every checkpoint
    # rename when the native Hadoop library is absent; FileSystem.rename
    # does not.
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri())
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path, hadoop_conf
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder()))
    assert get_spark()[CHECKPOINT_MANAGER].endswith(".FileSystemBasedCheckpointFileManager")
    custom = "com.example.ObjectStoreCheckpointFileManager"
    assert get_spark(extra_conf={CHECKPOINT_MANAGER: custom})[CHECKPOINT_MANAGER] == custom


def test_package_import_loads_no_pyspark():
    # python -m minispark_spark.worker_daemon runs the package __init__
    # before it filters the worker's path, so neither may import pyspark.
    code = (
        "import sys, minispark_spark, minispark_spark.worker_daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"
