"""Box-speed stamp: thousands of zlib compress+decompress round trips per
second across ``nproc`` processes, the resource the extraction kernel is
bound on. Print it next to a baseline so runs on other hosts compare.

    python3 perfbench/boxspeed.py
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time
import zlib

DATA = b"abcdefgh" * 4000


def work(k: int) -> int:
    x = 0
    for _ in range(k):
        x += len(zlib.decompress(zlib.compress(DATA, 6)))
    return x


def box_speed(nproc: int, total: int = 64000) -> float:
    with mp.get_context("spawn").Pool(nproc) as pool:
        pool.map(work, [50] * nproc)  # start and warm the workers
        t0 = time.perf_counter()
        pool.map(work, [total // nproc] * nproc, chunksize=1)
        dt = time.perf_counter() - t0
    return total / dt / 1000


if __name__ == "__main__":
    n = len(os.sched_getaffinity(0))
    print(f"{box_speed(n):.2f} k zlib round trips/s on {n} processes")
