"""PySpark worker daemon that forks kernel workers from a warm process.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
JVM starts it (``python -m bucketizers_spark.plans.pydaemon``) in place of
``pyspark.daemon``. It imports the kernel stack once — numpy, pandas,
pyarrow and ``pyspark.worker`` — freezes the garbage collector and then
runs the stock ``pyspark.daemon.manager``, which forks one worker per
Python task slot. Each worker therefore starts with those modules loaded
and shares their pages with the daemon and its siblings copy-on-write,
instead of importing its own copy after the fork.

``gc.freeze()`` moves every object allocated so far into the permanent
generation: the collections each worker runs never visit them, so they
never write to those objects' GC headers and never copy the pages the
headers sit on. See the "Settings rationale" of ``plans/session.py`` for
the memory measured with and without it.
"""

from __future__ import annotations

import gc


def main() -> None:
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon  # imports pyspark.worker

    gc.collect()  # so that no garbage is frozen for good
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
