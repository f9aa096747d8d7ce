"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling,
Arrow for the few vectorized-Python stages); local[*] in the sandbox.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

#: applications the package was shipped to, by ``applicationId`` (an
#: ``id(sparkContext)`` can be reused by a context created after a stop)
_PY_FILES_SENT: set[str] = set()


def ensure_py_files(spark: SparkSession) -> None:
    """Ship the jsi_spark package to Python workers (the
    ``spark-submit --py-files`` mechanism, applied programmatically).

    Required for stages that run Python on executors (pandas UDFs,
    mapInPandas) when the driver process wasn't launched from the repo
    root: cloudpickle serializes those closures by reference, so the
    worker must be able to ``import jsi_spark``. Idempotent per session.
    """
    key = spark.sparkContext.applicationId
    if key in _PY_FILES_SENT:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # the package was itself imported from a --py-files zip (e.g. a
        # spark-submit child): re-ship THAT zip rather than walking a
        # zip path, which silently yields an empty archive
        src = pkg_dir
        while src and not src.lower().endswith(".zip"):
            parent = os.path.dirname(src)
            if parent == src:
                break
            src = parent
        if not (src and os.path.isfile(src)):
            raise RuntimeError(
                f"jsi_spark imported from {pkg_dir!r}: cannot locate "
                "the enclosing archive to ship to executors")
        spark.sparkContext.addPyFile(src)
        _PY_FILES_SENT.add(key)
        return
    # fresh, uniquely named zip per driver process — a pid-keyed name
    # reused across process generations can resurrect a stale archive
    # missing newer modules (observed: empty zips breaking executor
    # imports after pid recycling)
    fd, zip_path = tempfile.mkstemp(prefix="jsi_spark_pyfiles_",
                                    suffix=".zip")
    os.close(fd)
    n = 0
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
                    n += 1
    if n == 0:
        raise RuntimeError(f"no .py files under {pkg_dir!r} — refusing "
                           "to ship an empty package to executors")
    spark.sparkContext.addPyFile(zip_path)
    _PY_FILES_SENT.add(key)


def get_spark(app_name: str = "jsi-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local mode: ~cores; on a real cluster this would be
        # 2-3x total executor cores (overridden via config)
        n = master[master.index("[") + 1:-1] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The compiled validators are enormous predicate trees; the
        # constraint-propagation rule's cost is superlinear in tree
        # size (it exists as a flag for exactly this, SPARK-19846) and
        # re-runs on every action. It only infers IsNotNull/filter
        # facts we already state explicitly, so it buys these plans
        # nothing — measured: per-pass driver cost 5.1-9.6 s with it,
        # 4.8-5.4 s (and stable) without.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()
