"""Worker-process environment tuning for PySpark sessions.

Three independent, measured fixes (see worker_site/sitecustomize.py and
BENCH.md for the numbers):

1. zipimport cache fix — CPython 3.11's ``zipimporter.invalidate_caches``
   re-reads whole zip directories on every call and pyspark calls it once
   per task: ~137 ms/task of pure overhead.  Shipped to workers as a
   ``sitecustomize`` on PYTHONPATH (the daemon inherits the driver
   process's environment in local mode, and PythonWorkerFactory appends
   the inherited PYTHONPATH to the workers' own).

2. glibc malloc tuning — the vectorized sketch kernels allocate MB-scale
   numpy temporaries per Arrow batch; with the default
   MALLOC_MMAP_THRESHOLD_ those come from fresh mmaps whose teardown
   triggers cross-core TLB shootdowns, serializing otherwise
   embarrassingly-parallel workers.  Raising the threshold keeps the
   temporaries on the (reused) heap.  Measured: local[4] one-pass
   4-sketch build 2.4 s -> 2.1 s and N->4N scaling efficiency +0.05.

3. Unix domain sockets — over the Python worker's TCP socket every
   Python stage waits about 45 ms for its first input batch; over a Unix
   domain socket the wait is about 1 ms.  ``PYSPARK_UDS_MODE=true`` is
   the default of ``spark.python.unix.domain.socket.enabled`` on both the
   JVM and the Python side, so it moves the daemon and worker sockets,
   the driver's ``toArrow()``/``toPandas()`` collects and the accumulator
   server.  Spark names each socket ``<dir>/.<uuid4>.sock`` and ``<dir>``
   defaults to ``java.io.tmpdir``; Linux caps a socket path at 107 bytes,
   so a long tmpdir would fail session start with ``AF_UNIX path too
   long``.  ``<dir>`` is therefore pinned through ``PYSPARK_SUBMIT_ARGS``
   to a short owner-only (0700) directory, which also keeps out other
   users (pyspark's Unix socket connections carry no auth secret), and
   removed at process exit.  When no such directory can be made the
   sockets stay on TCP and one warning is logged.  Measured (4-vCPU
   host, perfbench ``--seconds 11``, 10 alternating pairs): ``views_rw``
   median read call 110.8 -> 65.8 ms (10/10 pairs) and append+compact
   throughput 158k -> 205k rows/s; ``build_hot`` flat within its noise.

``configure()`` must run BEFORE the first SparkSession is created in the
process (the JVM snapshots the environment at launch).  It is a no-op on
re-invocation and safe when the JVM already exists (workers simply keep
the previous environment).
"""
from __future__ import annotations

import atexit
import logging
import os
import shlex
import shutil
import sys
import tempfile

_SITE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "worker_site")

_SOCK_DIR_CONF = "spark.python.unix.domain.socket.dir"
# Spark's socket name under <dir> is "/." + uuid4 + ".sock"; Linux's
# sun_path holds 107 bytes plus the terminating NUL
_SOCK_NAME_LEN = len("/.") + 36 + len(".sock")
_SUN_PATH_MAX = 107
_sock_dir: str | None = None


def configure(env: dict | None = None) -> dict:
    """Install worker-env tuning into ``env`` (default: os.environ).

    Returns the mapping for convenience, so callers building a subprocess
    environment can do ``workerenv.configure(dict(os.environ))``.
    """
    e = os.environ if env is None else env
    pp = e.get("PYTHONPATH", "")
    if _SITE_DIR not in pp.split(os.pathsep):
        e["PYTHONPATH"] = (pp + os.pathsep + _SITE_DIR) if pp else _SITE_DIR
    e.setdefault("SPARKSKETCH_ZIPIMPORT_FIX", "1")
    # keep numpy batch temporaries on the reused heap (no mmap/munmap +
    # TLB-shootdown churn); trim kept high so freed batches are reused
    e.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    e.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    if env is not None or not _jvm_running():
        _unix_sockets(e)
    return e


def _jvm_running() -> bool:
    # a running JVM keeps its launch environment and submit args, so
    # setting the mode now would reach only the Python side
    ctx = sys.modules.get("pyspark.core.context")
    return ctx is not None and ctx.SparkContext._gateway is not None


def _unix_sockets(e) -> None:
    """Turn on Spark's Unix domain sockets in ``e`` unless the caller set
    ``PYSPARK_UDS_MODE`` to anything but true, pinning their directory
    unless the caller's submit args already do."""
    if e.get("PYSPARK_UDS_MODE", "true").lower() != "true":
        return
    args = e.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    if f"{_SOCK_DIR_CONF}=" not in args:
        d = _socket_dir()
        if d is None:
            if "PYSPARK_UDS_MODE" not in e:
                logging.getLogger("sparksketch").warning(
                    "no directory short enough for Unix domain socket "
                    "paths; PySpark stays on TCP sockets")
            return
        conf = shlex.quote(f"{_SOCK_DIR_CONF}={d}")
        e["PYSPARK_SUBMIT_ARGS"] = f"--conf {conf} {args}"
    e.setdefault("PYSPARK_UDS_MODE", "true")


def _socket_dir() -> str | None:
    """This process's owner-only socket directory, made on first use in
    the temp dir or /tmp (whichever gives socket paths within the limit)
    and removed at exit; None when neither does."""
    global _sock_dir
    if _sock_dir is None:
        for base in dict.fromkeys((tempfile.gettempdir(), "/tmp")):
            try:
                d = tempfile.mkdtemp(prefix="sparksketch-", dir=base)
            except OSError:
                continue
            if len(os.fsencode(d)) + _SOCK_NAME_LEN <= _SUN_PATH_MAX:
                atexit.register(shutil.rmtree, d, True)
                _sock_dir = d
                break
            os.rmdir(d)
    return _sock_dir
