"""Concurrent driver jobs (guide §2.6: overlap independent jobs).

Spark's scheduler runs several jobs at once inside one application;
actions are only sequential because driver code calls them
sequentially. For INDEPENDENT actions — writes of disjoint paths,
trainings of unrelated models — submitting them from a small driver
thread pool lets the next job's tasks back-fill executor cores freed
by the current job's tail, so N small jobs cost ~max instead of ~sum.

Used by the mart COW habitat (state-piece writes per epoch), the
ANN index builders (IVF + PQ trainings) and the warehouse build (its
independent steps). Each thunk must own its own
persists (the :mod:`.caching` registry is thread-local); exceptions
propagate to the caller.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor


def run_parallel(thunks, max_workers: int = 8) -> list:
    """Run the thunks concurrently, returning their results in input
    order; a single thunk (or none) runs inline without a pool."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(thunks))) as pool:
        return [f.result() for f in [pool.submit(t) for t in thunks]]
