"""lucene_rust_spark — PySpark-native Lucene-analog engine.

Process-level allocator configuration (applies to the driver AND to every
Spark Python worker, which imports this package when unpickling the
engine's kernels):

The engine's kernels allocate large short-lived numpy/Arrow buffers every
batch. glibc's default malloc serves >128 KB allocations with mmap and
returns them to the OS on free, so each batch re-faults its working set
from scratch. On lazily-backed VMs (overcommitted hosts, ballooned or
snapshot-restored guests) a first-touch anonymous page fault can cost
hundreds of microseconds, which makes per-batch re-faulting the single
largest cost in the build pipeline (measured: >50% of DWPT kernel wall
time on such a host; see OPTIMIZATION_r07.md §2). Raising the mmap/trim
thresholds keeps large buffers on the reusable heap — each worker faults
its peak working set once and reuses it for every later batch and task.
The same reasoning routes Arrow allocations to the system (glibc)
allocator instead of jemalloc, whose decay timer returns dirty pages to
the OS between batches.

Memory cost: each long-lived worker retains its peak per-batch working
set (tens to a few hundred MB) instead of returning it — the standard
throughput configuration for pooled workers.
"""

import ctypes
import os
import sys

# The engine's PySpark daemon (pydaemon.py) imports this package before it
# forks the workers; it must stay light and keep the allocator the
# environment gave it, which the variables below already set for its
# workers (the JVM that starts it inherited them from the driver).
_IN_DAEMON = "lucene_rust_spark.pydaemon" in getattr(sys, "orig_argv", ())

if not _IN_DAEMON:
    # children (JVM -> python workers) inherit these before their first malloc
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

    try:  # this process (may already have a live malloc: use mallopt, not env)
        _libc = ctypes.CDLL("libc.so.6")
        _libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        _libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:  # non-glibc platform: defaults apply
        pass

    try:
        import pyarrow as _pa

        _pa.set_memory_pool(_pa.system_memory_pool())
    except Exception:
        pass
