"""Output checks for the benchmark.

Two ways to decide that an output is correct:

* ``oracle``: run the output's DuckDB oracle SQL over the same input tables
  and compare, using the repository's own checker (``tools/check_oracle.py``).
* ``digest``: compare the output's row count and an order-independent hash
  of its rows against a reference digest taken from an output that passed
  the oracle. A mismatch is not yet a failure: the output then goes to the
  oracle, which has the last word.
"""
import os
import re
import subprocess
import sys

import numpy as np
import pandas as pd


def _mix(h):
    """splitmix64 finalizer: a second, independent 64-bit hash of each row."""
    with np.errstate(over="ignore"):
        z = h + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def digest(path):
    """Row count, column names and two order-independent sums of 64-bit
    row hashes of the parquet output at ``path``. Columns are taken in name
    order; each row hashes its values (numbers by value, everything else by
    its string form), so the digest does not depend on row order or on how
    the output was split into files."""
    df = pd.read_parquet(path)
    cols = sorted(df.columns)
    h = pd.util.hash_pandas_object(df[cols], index=False).to_numpy(dtype="uint64")
    return {"rows": int(len(df)), "columns": cols,
            "h1": f"{int(h.sum(dtype='uint64')):016x}",
            "h2": f"{int(_mix(h).sum(dtype='uint64')):016x}"}


def oracle(sf_dir, out_dir, names, checker, timeout):
    """Runs the DuckDB oracle on ``names`` (outputs under ``out_dir``,
    with their SQL in ``out_dir/oracle_sql.json``). Returns the set of
    names that passed, and the checker's output for the record."""
    if not names:
        return set(), ""
    try:
        p = subprocess.run([sys.executable, checker, sf_dir, out_dir, ",".join(sorted(names))],
                           capture_output=True, text=True, timeout=timeout)
        text = p.stdout + p.stderr
    except subprocess.TimeoutExpired as e:
        text = f"oracle timed out after {timeout:.0f} s\n{e.stdout or ''}"
    ok = {m.group(1) for m in re.finditer(r"^OK\s+(\S+)", text, re.M)}
    return ok & set(names), text


def check(out_dir, names, reference, sf_dir, checker, timeout):
    """Checks each output in ``names`` by digest against ``reference``
    (name -> digest); outputs without a matching digest go to the oracle.
    Returns {name: "digest" | "oracle" | "failed"}."""
    verdict, suspects = {}, []
    for n in names:
        path = os.path.join(out_dir, n)
        got = digest(path) if os.path.isdir(path) else None
        if got is not None and reference.get(n) == got:
            verdict[n] = "digest"
        else:
            suspects.append(n)
    passed, _ = oracle(sf_dir, out_dir, suspects, checker, timeout)
    for n in suspects:
        verdict[n] = "oracle" if n in passed else "failed"
    return verdict
