"""SparkSession factory with engine-tuned defaults."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_sources(pkg_dir: str) -> list[tuple[str, str]]:
    """(absolute path, archive name) of every package .py file, sorted."""
    out = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join("oshdb_spark", os.path.relpath(full, pkg_dir))
                out.append((full, rel))
    return sorted(out, key=lambda fr: fr[1])


def package_zip(tmp_dir: str | None = None) -> str:
    """Path of a zip of the oshdb_spark sources in ``tmp_dir`` (default:
    the temp dir), named by a hash of those sources.

    Every process with the same sources shares one file: it is written
    once, through a private temp file renamed into place (``os.replace``
    is atomic), so concurrent writers never expose a partial zip and
    repeated runs leave no per-process copies behind.
    """
    import hashlib

    import oshdb_spark

    pkg_dir = os.path.dirname(os.path.abspath(oshdb_spark.__file__))
    sources = _package_sources(pkg_dir)
    h = hashlib.sha256()
    for full, rel in sources:
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    tmp_dir = tmp_dir or tempfile.gettempdir()
    zpath = os.path.join(tmp_dir, f"oshdb_spark_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        fd, part = tempfile.mkstemp(suffix=".zip.part", dir=tmp_dir)
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
                for full, rel in sources:
                    z.write(full, rel)
            os.replace(part, zpath)
        except BaseException:
            os.unlink(part)
            raise
    return zpath


def ensure_package_on_workers(spark: SparkSession | None = None) -> None:
    """Ship oshdb_spark to executor Pythons via addPyFile (idempotent).

    Engine pandas UDFs reference module functions; workers deserialize them
    by importing the module, which fails when the driver was launched from
    outside the repo (no PYTHONPATH).  Equivalent of `spark-submit
    --py-files dist/oshdb_spark.zip`, done lazily for embedded use.
    """
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return
    sc = spark.sparkContext
    if getattr(sc, "_oshdb_spark_shipped", False):
        return
    sc.addPyFile(package_zip())
    sc._oshdb_spark_shipped = True


def get_spark(
    app_name: str = "oshdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Tuned local session.

    Defaults follow the scale playbook: AQE on (runtime coalesce + skew-join
    splitting — the engine's dense-city cells are deliberately skewed), Arrow
    for all pandas-UDF exchange, shuffle partitions sized to cores (not 200).
    On a real cluster the same conf applies per-executor; nothing here is
    local-mode-specific except the master URL.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # spill-aware partition sizing without per-job tuning: AQE starts
        # each shuffle at 4x the target partition count and coalesces down
        # to size, so a 10x-bigger input gets proportionally more (smaller)
        # partitions instead of spilling through a fixed count (the 16M-doc
        # lesson in BENCH.md section 0).  SPARK_GRAFT_AQE_INIT_PARTS
        # overrides (used by the A/B smear check in BENCH.md section 1).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_AQE_INIT_PARTS",
                str(max(shuffle_partitions * 4, 128)),
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
