"""Supplementary CPU-kernel scaling probe.

The end-to-end local[N] scaling numbers on this sandbox are polluted
by VM-level effects (TLB-shootdown storms on JVM buffer unmaps,
time-varying host contention — see BENCH/BASELINE.md). This probe
isolates the engine's two hot compute kernels and measures their pure
multiprocessing scaling, demonstrating that the *code* scales and the
wall-clock ceiling is the box:

- AES-GCM envelope encrypt kernel (the Arrow-UDF inner function)
- Morton bucket+interleave kernel

Prints one JSON line with per-level throughput and N→4N efficiencies.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS_PER_TASK = 4000
AVG_LEN = 6000


def _encrypt_task(seed: int) -> float:
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    from pi2spark.crypto import make_encrypt_udf

    rng = np.random.default_rng(seed)
    subjects = pa.array([f"org{i % 40}/r{i % 9}" for i in range(ROWS_PER_TASK)])
    texts = pa.array(["x" * int(l) for l in rng.integers(18, AVG_LEN * 2, ROWS_PER_TASK)])
    keys = {s: AESGCM.generate_key(bit_length=256) for s in set(subjects.to_pylist())}
    fn = make_encrypt_udf(keys, "content").func
    nbytes = pc.sum(pc.binary_length(texts)).as_py()
    t0 = time.time()
    fn(subjects, texts)
    return nbytes / (time.time() - t0)


def _morton_task(seed: int) -> float:
    import numpy as np
    import pandas as pd

    from pi2spark.zorder import make_curve_udf

    rng = np.random.default_rng(seed)
    n = ROWS_PER_TASK * 8
    cols = ["repo", "lang", "path"]
    bounds = {c: sorted({f"v{int(x):06d}" for x in rng.integers(0, 60000, 4000)}) for c in cols}
    data = [pd.Series([f"v{int(x):06d}" for x in rng.integers(0, 60000, n)]) for _ in cols]
    fn = make_curve_udf(bounds, cols, 16, "morton").func
    t0 = time.time()
    fn(*data)
    return n / (time.time() - t0)


def scale(task, levels=(1, 2, 4, 8, 16, 32), tasks_per_core: int = 4) -> dict:
    out = {}
    for n in levels:
        jobs = n * tasks_per_core
        with mp.Pool(n) as pool:
            t0 = time.time()
            pool.map(task, range(jobs))
            wall = time.time() - t0
        out[n] = round(jobs / wall, 2)  # tasks/sec
    return out


def main() -> None:
    enc = scale(_encrypt_task)
    mor = scale(_morton_task)

    def eff(d):
        return {
            f"{n}->{4*n}": round(d[4 * n] / (4 * d[n]), 3)
            for n in (1, 2, 4, 8)
            if 4 * n in d
        }

    print(
        json.dumps(
            {
                "unit": "tasks/sec (higher=better)",
                "encrypt_kernel": enc,
                "encrypt_efficiency": eff(enc),
                "morton_kernel": mor,
                "morton_efficiency": eff(mor),
            }
        )
    )


if __name__ == "__main__":
    main()
