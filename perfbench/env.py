"""Hermetic run root, core-count guard, environment record and session.

Every path a run touches lives under one temporary root inside the
checkout, which is deleted when the run ends: the fixture, the wire-log
cache, Spark's local and temp dirs, the event log, and every stream,
checkpoint and store.  A leftover cache from an earlier run therefore
cannot make one run differ from the next.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

#: gitignored parent of the per-run roots, relative to the checkout
RUNS_DIR = ".perfbench_runs"
#: gitignored directory for the span files of traced runs
OUT_DIR = ".perfbench_out"
#: default Spark core count when ``SPARK_GRAFT_CPUS`` is unset
DEFAULT_CPUS = 4


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_cpus() -> int:
    """Cores for ``local[N]``: ``SPARK_GRAFT_CPUS`` if set, else at most
    :data:`DEFAULT_CPUS`.  Raises ``ValueError`` when the setting exceeds
    the cores this process may run on, or is not a positive integer."""
    n = nproc()
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return min(n, DEFAULT_CPUS)
    try:
        cpus = int(raw)
    except ValueError:
        raise ValueError(f"SPARK_GRAFT_CPUS={raw!r} is not an integer") from None
    if cpus < 1 or cpus > n:
        raise ValueError(f"SPARK_GRAFT_CPUS={cpus} is outside 1..nproc ({n})")
    return cpus


class RunRoot:
    """Per-run temporary root; points the engine's caches and Spark's
    scratch space at it on entry and deletes it on exit."""

    _ENV = ("TMPDIR", "SPARK_GRAFT_WIRE_CACHE", "SPARK_LOCAL_DIRS",
            "SPARK_GRAFT_CPUS", "PYTHONPATH")

    def __init__(self, checkout: str, cpus: int) -> None:
        self.checkout = checkout
        self.cpus = cpus
        self.path = os.path.join(checkout, RUNS_DIR, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self._saved: dict[str, str | None] = {}

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def __enter__(self) -> "RunRoot":
        for d in ("tmp", "local", "wire", "jvm"):
            os.makedirs(self.sub(d), exist_ok=True)
        self._saved = {k: os.environ.get(k) for k in self._ENV}
        py_path = os.environ.get("PYTHONPATH")
        os.environ.update({
            "TMPDIR": self.sub("tmp"),
            "SPARK_GRAFT_WIRE_CACHE": self.sub("wire"),
            "SPARK_LOCAL_DIRS": self.sub("local"),
            "SPARK_GRAFT_CPUS": str(self.cpus),
            # Python workers import the engine and the digest checker
            "PYTHONPATH": self.checkout + (os.pathsep + py_path if py_path else ""),
        })
        tempfile.tempdir = None  # re-read TMPDIR
        return self

    def __exit__(self, *exc) -> None:
        for k, v in self._saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run still uses it, or it is already gone


def open_session(root: RunRoot, trace: bool):
    """A ``local[N]`` session from the engine's own factory, with its
    scratch space and (when tracing) its event log under ``root``."""
    from postgres_debezium_clickhouse_spark.session import get_spark

    conf = {
        "spark.local.dir": root.sub("local"),
        "spark.sql.warehouse.dir": root.sub("warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={root.sub('jvm')} -XX:-UsePerfData "
            f"-Dderby.system.home={root.sub('jvm')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(root.sub("eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.dir": "file://" + root.sub("eventlog"),
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{root.cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment(spark, seed: int, cpus: int, load: tuple[float, ...]) -> dict:
    """What a reader needs to compare two results; ``load`` is the load
    average taken before the JVM started."""
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": cpus,
        "spark_version": spark.version,
        "seed": seed,
        "loadavg": [round(x, 2) for x in load],
    }
