"""Session conf sizing (no Spark needed): a ``local[N]`` master gets N
shuffle partitions and N ParallelGC threads — never more GC threads than
its share of cores."""

from __future__ import annotations

import pytest

from opentelemetry_collector_spark.session import session_conf


def _gc_threads(conf: dict) -> int:
    opts = conf["spark.driver.extraJavaOptions"].split()
    (flag,) = [o for o in opts if o.startswith("-XX:ParallelGCThreads=")]
    return int(flag.split("=")[1])


@pytest.mark.parametrize("n", [1, 4])
def test_local_n_gets_n_gc_threads_and_partitions(n):
    conf = session_conf(f"local[{n}]")
    assert _gc_threads(conf) == n
    assert conf["spark.sql.shuffle.partitions"] == str(n)
