"""SparkSession factory with scale-appropriate defaults, and the Python
worker's zip re-read guard (installed when the package is imported)."""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession


def install_zip_reread_guard() -> None:
    """Stop reused Python workers re-reading unchanged zip archives.

    Every Python task starts with pyspark's ``setup_spark_files``, which
    calls ``importlib.invalidate_caches()``. On CPython 3.11 that
    makes every cached ``zipimporter`` re-read its whole archive
    directory: a warm worker holds ~16 importers into pyspark.zip (1 328
    entries), 0.1–0.2 s of every task, paid before any UDF runs. The
    guard lets an importer re-read only when its archive's (mtime_ns,
    size, inode) differs from what that importer last read, so a zip
    added or rewritten by ``addPyFile``/``--py-files`` is still re-read.
    The first engine task in a worker still re-reads (it installs the
    guard by unpickling its closure). Idempotent (the installed method
    carries ``_stamp_guard``); a no-op where zipimport has no such
    method."""
    import zipimport

    cls = getattr(zipimport, "zipimporter", None)
    reread = getattr(cls, "invalidate_caches", None)
    if reread is None or getattr(reread, "_stamp_guard", False):
        return

    def invalidate_caches(importer) -> None:
        # stat before the read: a rewrite racing the read leaves the old
        # stamp, so the next call reads again
        try:
            st = os.stat(importer.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is not None and getattr(importer, "_read_stamp", None) == stamp:
            return
        reread(importer)
        importer._read_stamp = stamp

    invalidate_caches._stamp_guard = True
    try:
        cls.invalidate_caches = invalidate_caches
    except TypeError:  # a builtin (C) zipimporter type
        pass


#: AF_UNIX's limit on a socket path (sun_path, with its NUL byte).
_UNIX_PATH_MAX = 108
_socket_dir: str | None = None


def _python_socket_dir() -> str | None:
    """The private (mode 0700) directory of this process's Python-worker
    Unix sockets, made once per process (the JVM that uses it lives as
    long as the process) and removed at exit; None when no short
    enough directory can be made. pyspark names each socket
    ``<dir>/.<uuid4>.sock`` (43 bytes past the directory), so a socket
    under a deep ``java.io.tmpdir`` overflows AF_UNIX's 108 bytes and
    the session fails to start: the directory goes under /tmp, or the
    temp dir when /tmp is missing."""
    global _socket_dir
    if _socket_dir is None:
        import atexit
        import shutil
        import tempfile

        base = "/tmp" if os.access("/tmp", os.W_OK) else None
        path = tempfile.mkdtemp(prefix="pysock-", dir=base)
        if len(path) + 43 >= _UNIX_PATH_MAX:
            os.rmdir(path)
            return None
        atexit.register(shutil.rmtree, path, True)
        _socket_dir = path
    return _socket_dir


def get_spark(
    master: str | None = None,
    app_name: str = "rsgislib_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession.

    Local mode defaults: AQE on (runtime re-plan + skew-join backstop;
    explicit salting remains the primary skew strategy per SURVEY §4.2),
    Arrow enabled (all custom kernels run as Arrow-batched pandas UDFs),
    shuffle partitions sized to cores (not the 200 default). A local
    master talks to its Python workers over Unix domain sockets in
    :func:`_python_socket_dir`: over TCP, every Python task waited ~40 ms
    on a delayed-ACK stall for its first Arrow batch (~1.5 ms over the
    socket; a warm 1-task ``mapInArrow`` took 155 → 117 ms on a 4-core
    host).
    """
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # Python workers must be able to import this package (broadcasts pickle
    # kernel classes). Local mode: workers inherit the driver env, so extend
    # PYTHONPATH before the JVM starts. Cluster mode: ship with
    # ``spark-submit --py-files rsgislib_spark.zip`` instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )
    # One BLAS thread per python worker: N workers × OpenBLAS's spinning
    # thread pool oversubscribes the box and ANTI-scales (measured:
    # image_features 32-core slower than 8-core before this). Kernels are
    # small-matrix; per-worker threading only ever hurts here.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus * 2 if n == "*" else max(int(n) * 2, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # the socket directory must exist on the executors' host
    sock_dir = _python_socket_dir() if master.startswith("local") else None
    if sock_dir is not None:
        b = b.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", sock_dir
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
