"""Seeded benchmark inputs and the cached DuckDB reference answers.

The inputs are key-offset replicas of the repository's fixtures, made with
``tools_scale_gen.replicate``: every column of one foreign-key domain gets
the same ``replica * stride`` offset, so referential integrity holds and
every per-key distribution is the fixture's own, and the fixed dims (region,
nation) stay single-copy. The benchmark keeps its own copy of the sf0.01
fixtures under ``fixtures/`` so that it reads nothing outside its checkout.
The benchmark seed sets the stride pad and a row permutation inside every
part file. Everything here is cached under the work directory and runs
outside any timed region.

Reference answers depend only on the multiset of rows, so they are cached by
(fixture, replicas, pad); a row permutation cannot change them. With one
replica the pad has no effect and is normalised to 0.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq
from tools_scale_gen import KEY_DOMAINS, replicate

#: directory holding the benchmark's fixture copies (``sf0.01``).
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def key_pad(seed: int, replicas: int) -> int:
    """The key-stride pad the seed sets; it only matters with >1 replica."""
    return (seed * 7919) % 1000 if replicas > 1 else 0


def make_inputs(work: str, src: str, replicas: int, seed: int) -> str:
    """Generated parquet directory for (fixture dir ``src``, replicas, seed);
    built once."""
    out = os.path.join(work, "data", f"{os.path.basename(src)}_r{replicas}_s{seed}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        replicate(src, tmp, replicas, key_pad(seed, replicas))
    for t_idx, table in enumerate(KEY_DOMAINS):
        for name in sorted(os.listdir(os.path.join(tmp, f"{table}.parquet"))):
            path = os.path.join(tmp, f"{table}.parquet", name)
            part = pq.read_table(path)
            replica = int(name[5:9])  # part-<replica>.parquet
            perm = np.random.default_rng([seed, t_idx, replica]).permutation(part.num_rows)
            pq.write_table(part.take(perm), path)
    os.rename(tmp, out)
    return out


def reference_answers(
    work: str, data: str, src: str, replicas: int, seed: int, oracles: dict[str, str]
) -> dict[str, object]:
    """DuckDB answers of ``oracles`` over ``data``, canonicalised, cached on
    disk by (fixture, replicas, pad) and the oracle texts."""
    from tests.parity import canonicalize, run_oracle

    pad = key_pad(seed, replicas)
    digest = hashlib.sha256(repr(sorted(oracles.items())).encode()).hexdigest()[:16]
    path = os.path.join(work, "oracle", f"{os.path.basename(src)}_r{replicas}_p{pad}_{digest}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    answers = {name: canonicalize(run_oracle(sql, data)) for name, sql in oracles.items()}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(answers, f)
    os.rename(path + ".tmp", path)
    return answers
