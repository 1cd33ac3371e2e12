"""Start-up hook for Spark's Python worker processes.

``session.get_spark`` puts this directory on the workers'
``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so every daemon that
forks task workers or data-source planner workers imports this module
at interpreter start. The directory holds no package: it exposes only
this module.

Every task and every planner call runs
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 that makes each
``zipimport.zipimporter`` re-read its archive's whole central
directory, and a worker holds one importer per imported sub-package of
``pyspark.zip`` (1.3k entries each time: about 16 reads a call at
about 9 ms each on a 4-vCPU VM). Here an importer re-reads only when
the archive's ``(st_mtime_ns, st_size)`` differs from the stat taken
before its last read, or when the stat fails — relying on an
archive's stat changing whenever its bytes do.

Afterwards the next ``sitecustomize`` on ``sys.path``, if any, runs as
it would have without this one.
"""

import functools
import os
import sys
import zipimport


_invalidate_caches = zipimport.zipimporter.invalidate_caches


@functools.wraps(_invalidate_caches)
def _invalidate_changed_caches(self):
    try:
        st = os.stat(self.archive)
        key = st.st_mtime_ns, st.st_size
    except OSError:
        key = None
    if key is not None and key == getattr(self, "_read_key", None):
        return
    _invalidate_caches(self)
    self._read_key = key


def _run_next_sitecustomize():
    from importlib.machinery import PathFinder
    from importlib.util import module_from_spec

    here = os.path.dirname(os.path.abspath(__file__))
    entries = [os.path.abspath(p or os.curdir) for p in sys.path]
    if here not in entries:
        return
    rest = sys.path[len(entries) - entries[::-1].index(here):]
    spec = PathFinder.find_spec(__name__, rest)
    if spec is None or spec.loader is None:
        return
    module = module_from_spec(spec)
    sys.modules[__name__] = module
    spec.loader.exec_module(module)


zipimport.zipimporter.invalidate_caches = _invalidate_changed_caches
_run_next_sitecustomize()
