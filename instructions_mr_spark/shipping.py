"""Ship this package to Spark executors' Python workers.

mapInArrow/applyInPandas closures are cloudpickled *by reference* to
their defining module, so executor Python workers must be able to
``import instructions_mr_spark``.  That holds when the driver's cwd is
the repo root (cwd is on the worker path in local mode) but breaks
the moment a host application starts Spark from anywhere else.

``ensure_shipped(spark)`` zips the package once and registers it via
``sparkContext.addPyFile`` — on a real cluster this is also exactly
how the package reaches remote executors.  Idempotent per application.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_APPS: set[str] = set()


def _package_zip() -> str:
    import instructions_mr_spark

    pkg_dir = os.path.dirname(os.path.abspath(instructions_mr_spark.__file__))
    sources: list[str] = []
    for root, _dirs, files in os.walk(pkg_dir):
        sources.extend(os.path.join(root, fn) for fn in files if fn.endswith(".py"))
    # Content-addressed name: a stale cached zip would ship OLD code to
    # the workers after any source edit (observed: freshly-added
    # operator kwargs missing inside mapInPandas when the driver ran
    # outside the repo, because the repo-cwd fallback masked it).
    newest = max(int(os.path.getmtime(p) * 1000) for p in sources)
    out = os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"instructions_mr_spark-{instructions_mr_spark.__version__}-{newest}-{len(sources)}.zip",
    )
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in sorted(sources):
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
        os.replace(tmp, out)
    return out


def ensure_shipped(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED_APPS.add(app_id)
