"""session.prepare() on a session that refuses some confs, and the
static conf build_spark sets."""

from __future__ import annotations

import warnings

from datapipeline_scraping_spark import session


class _Conf:
    def __init__(self, refused):
        self.refused = refused
        self.set_keys = {}

    def set(self, k, v):
        if k in self.refused:
            raise RuntimeError(f"Cannot modify the value of a static config: {k}")
        self.set_keys[k] = v


class _Session:
    def __init__(self, refused):
        self.conf = _Conf(refused)


def test_prepare_warns_once_per_refused_key_and_never_raises(monkeypatch):
    monkeypatch.setattr(session, "_UNSET_WARNED", set())
    refused = "spark.sql.session.timeZone"
    stub = _Session({refused})
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        assert session.prepare(stub) is stub
        session.prepare(stub)
    msgs = [str(w.message) for w in got if w.category is RuntimeWarning]
    assert len(msgs) == 1 and refused in msgs[0]
    # every other key is still applied
    assert set(stub.conf.set_keys) == set(session._RUNTIME_CONF) - {refused}


def test_build_spark_turns_off_column_call_sites(spark):
    """build_spark sets PySpark's DataFrame-error call-site capture off
    (a static conf), so Column calls skip its py4j round trips."""
    from pyspark.errors.utils import is_debugging_enabled

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    assert is_debugging_enabled() is False


def test_build_spark_parallelism_follows_a_local_master():
    """``master="local[N]"`` sets the default parallelism to N, whatever
    SPARK_GRAFT_CPUS defaults to. A fresh interpreter: the test
    session already owns this process's SparkContext."""
    import os
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = (
        "from datapipeline_scraping_spark.session import build_spark\n"
        "s = build_spark(master='local[2]', extra_conf="
        "{'spark.driver.memory': '1g'})\n"
        "print(s.sparkContext.defaultParallelism)\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == "2"
