"""Dead-letter counter for Spark's Python workers, used by traced runs.

A traced run puts this directory on ``PYTHONPATH`` and names a counter file
in ``PERFBENCH_DEAD_LETTERS`` before Spark starts, so every Python worker
Spark launches imports this module first.  Each construction of
``codecs.UnsupportedMediaError`` (the codecs' single failure type, which
the multimodal stages turn into a dropped row) appends one byte to the
file; its size is the dead-letter count.
"""

import os

_PATH = os.environ.get("PERFBENCH_DEAD_LETTERS")

if _PATH:
    from procurement_system_bigdata_spark.operators import codecs as _codecs

    _init = _codecs.UnsupportedMediaError.__init__

    def _counting_init(self, *args, **kwargs):
        fd = os.open(_PATH, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, b"1")
        finally:
            os.close(fd)
        _init(self, *args, **kwargs)

    _codecs.UnsupportedMediaError.__init__ = _counting_init
