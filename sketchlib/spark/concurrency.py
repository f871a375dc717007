"""Driver-side overlap of independent Spark job chains.

Two independent actions submitted from two driver threads let the second
chain's map tasks back-fill executors while the first chain's stages drain.
:func:`run_concurrently` is the one way sketchlib (and its gates) does
that, so every branch behaves the same:

* each branch runs through ``pyspark.util.inheritable_thread_target``, so
  its jobs carry the caller's job group, job description and tags — a
  caller's ``setJobGroup`` / ``cancelJobGroup`` covers every branch job;
* every branch runs to its end, and one ``RuntimeError`` names each branch
  that failed, chained to the first failure.  Siblings of a failed branch
  are not cancelled (their side effects, e.g. committed checkpoint units,
  stay valid).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Mapping


def run_concurrently(branches: Mapping[str, Callable[[], Any]],
                     max_workers: int | None = None) -> dict[str, Any]:
    """Run every ``{label: thunk}`` branch in its own driver thread and
    return ``{label: result}`` in the order of ``branches``.

    ``max_workers`` (default: one thread per branch) caps how many branches
    run at once; ``max_workers=1`` runs them one after another, in order."""
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    if not branches:
        return {}
    # ``active()`` falls back to the default session, so a branch that
    # itself calls run_concurrently passes the properties on too
    try:
        session = SparkSession.active()
    except PySparkRuntimeError:  # no Spark session: no jobs to attribute
        session = None

    def wrap(thunk):
        # one copy of the caller's local properties and session tags per
        # branch, taken now in the caller's thread: the JVM installs the
        # copy itself in the branch thread, and a branch mutates its own
        # (the SQL execution id of each job it runs)
        return inheritable_thread_target(session)(thunk) if session else thunk

    with ThreadPoolExecutor(max_workers=max_workers or len(branches)) as pool:
        futures = {label: pool.submit(wrap(thunk))
                   for label, thunk in branches.items()}
    failed = [(label, f.exception()) for label, f in futures.items()
              if f.exception() is not None]
    if failed:
        raise RuntimeError(
            f"{len(failed)} of {len(futures)} concurrent branch(es) failed: "
            + "; ".join(f"{label}: {type(e).__name__}: {e}"
                        for label, e in failed)) from failed[0][1]
    return {label: f.result() for label, f in futures.items()}
