"""Durable engine scratch root.

/tmp is tmpfiles-purged on some hosts MID-RUN (observed r7: one purge
event deleted live streaming checkpoints and shuffle scratch, failing
220 queries in a single replica run). Anything with a lifetime longer
than one statement — streaming checkpoints, materialized-view parquet,
query-result caches, staged sinks — therefore defaults under the user's
home instead of /tmp. Override the root with HIVE_SPARK_SCRATCH.

(The qtest harness's literal `/tmp/hive_spark_qtest_tmp` paths are NOT
routed through here: reference scripts name /tmp paths verbatim and
each script rebuilds its inputs, so a purge between scripts is
harmless there.)
"""

from __future__ import annotations

import atexit
import os
import shutil


def _root() -> str:
    return os.environ.get(
        "HIVE_SPARK_SCRATCH",
        os.path.join(os.path.expanduser("~"), ".hive_spark_scratch", "engine"),
    )


def scratch_dir(*parts: str) -> str:
    d = os.path.join(_root(), *parts)
    os.makedirs(d, exist_ok=True)
    return d


def process_dir(name: str) -> str:
    """`<root>/<name>_<pid>`: scratch private to this process, so that
    concurrent sessions (tests, a replica sweep, the driver) never rmtree
    each other's live files. It is not created here — its first writer
    makes it — and it is removed when the process exits."""
    pid = os.getpid()
    d = os.path.join(_root(), f"{name}_{pid}")

    def remove() -> None:
        if os.getpid() == pid:  # not in a forked child
            shutil.rmtree(d, ignore_errors=True)

    atexit.register(remove)
    return d
