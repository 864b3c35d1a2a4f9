"""Build the JVM class-data archive that benchmark runs start from.

``run.py`` runs this once per checkout, as a child process, when the
archive is missing: a JVM started with ``-XX:ArchiveClassesAtExit`` runs
every registered workload's loop at a tiny size, and dumps every class it
loaded when it exits.

    python3 perfbench/jvm_archive.py
"""

from __future__ import annotations

import os
import shutil

import run
import workloads
from spans import BatchClock


def main() -> None:
    run.prepare_environment()
    tmp = run.CLASS_ARCHIVE + ".tmp"
    scratch = os.path.join(run.WORK, "runs", f"jvm-archive-{os.getpid()}")
    spark = run.start_session(f"-XX:ArchiveClassesAtExit={tmp}")
    try:
        for name in run.registered_workloads():
            wl = workloads.WORKLOADS[name](run.WORK, seed=0, seconds=1, scale=0.02)
            wl.make_inputs(spark)
            target = wl.create(spark, os.path.join(scratch, wl.name))
            wl.load(spark, target, BatchClock(None, wl.batch_span))
    finally:
        run.stop_jvm(spark)  # the archive is written as the JVM exits
        shutil.rmtree(scratch, ignore_errors=True)
    os.rename(tmp, run.CLASS_ARCHIVE)


if __name__ == "__main__":
    main()
