"""Overlap independent driver-submitted Spark actions (guide §2.6).

Spark's scheduler runs several jobs at once inside one application;
actions are sequential only because driver code calls them sequentially.
Verbs that end in a fan of small INDEPENDENT writes (a rebuild staging
its codebook artifacts into the sibling tmp table) submit them
from driver threads so the tail of one job back-fills with the next
job's tasks. ``InheritableThread`` keeps JVM thread-locals (job
descriptions, scheduler pool) correct per job.

Use ONLY for actions with no ordering dependency and disjoint output
paths — never across a commit point (a sentinel write must strictly
follow every staged write), and never for two writers of the same dir.
"""

from __future__ import annotations

from collections.abc import Callable


def overlap(*actions: Callable[[], None]) -> None:
    """Run the given thunks concurrently; re-raise the first failure
    after every thread has stopped (no write may still be in flight when
    the caller proceeds toward its commit point)."""
    if len(actions) == 1:
        actions[0]()
        return
    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def _wrap(fn: Callable[[], None]) -> Callable[[], None]:
        def run() -> None:
            try:
                fn()
            except BaseException as ex:
                errs.append(ex)

        return run

    threads = [InheritableThread(target=_wrap(fn)) for fn in actions]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        raise errs[0]
