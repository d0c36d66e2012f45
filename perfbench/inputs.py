"""Seeded benchmark inputs: synthetic pages written as parquet files.

A seed selects a disjoint range of row ids for
``fixtures.pages.generate_pages_pandas``, which is a pure function of the
row id.  Every seed therefore has the same grammar mix and the same Zipf
host skew, with different content (urls, hosts per row, line text and
``warc_ts``, which is set by the row id).

Files are generated with pandas + pyarrow before Spark starts, so
generation costs no Spark time and is not part of ``setup_s``.  They are
cached by seed, size and ``source_key()``, so a second run with the same
seed over the same sources reuses them.
"""

from __future__ import annotations

import functools
import hashlib
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# seeds map to [base, base + ROWS_PER_SEED); 1000 distinct bases keep
# ids below 2^30, so warc_ts (BASE_TS + id seconds) stays in this century
ROWS_PER_SEED = 1 << 20
SEED_SLOTS = 1000
WORKERS = 4  # child processes that write input files

PAGES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        # tz-aware so Spark reads TIMESTAMP (not TIMESTAMP_NTZ), matching
        # schemas.PAGES_SCHEMA, which the stream source imposes
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


@functools.cache
def source_key() -> str:
    """Short hash of the engine's and the benchmark's Python sources.

    Cached inputs and references carry it in their names, so a change to
    the page generator, an engine or the benchmark never reuses a cache
    entry another version of the code made.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for pkg in ("opentelemetry_collector_spark", "perfbench"):
        for d, dirs, names in os.walk(os.path.join(root, pkg)):
            dirs[:] = sorted(x for x in dirs if x not in ("tests", "__pycache__"))
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(d, n)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def row_base(seed: int) -> int:
    return (seed % SEED_SLOTS) * ROWS_PER_SEED


def pages_table(seed: int, start: int, n: int) -> pa.Table:
    """Pages for row ids ``row_base(seed) + [start, start + n)``."""
    import numpy as np

    from opentelemetry_collector_spark.fixtures.pages import generate_pages_pandas

    if start + n > ROWS_PER_SEED:
        raise ValueError(f"{start + n} rows exceed the per-seed range {ROWS_PER_SEED}")
    base = row_base(seed) + start
    pdf = generate_pages_pandas(np.arange(base, base + n, dtype=np.uint64))
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, schema=PAGES_ARROW_SCHEMA, preserve_index=False)


def write_page_files(out_dir: str, seed: int, n_files: int, pages_per_file: int) -> None:
    """``n_files`` parquet files ``part-NNNNN.parquet`` of ``pages_per_file``
    consecutive rows each, written by up to ``WORKERS`` child processes.

    Reuses a complete earlier write (marked by ``_DONE``) of the same seed,
    size and sources (``source_key``, part of ``out_dir``).
    """
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-m", "perfbench.inputs", out_dir, str(seed), str(pages_per_file)]
            + [str(i) for i in range(w, n_files, WORKERS)],
            cwd=root,
        )
        for w in range(min(WORKERS, n_files))
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"input generation failed: exit codes {codes}")
    open(done, "w").close()


def _write(out_dir: str, seed: int, pages_per_file: int, indices) -> None:
    for i in indices:
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(pages_table(seed, i * pages_per_file, pages_per_file), path)


if __name__ == "__main__":
    # python -m perfbench.inputs OUT_DIR SEED PAGES_PER_FILE INDEX...
    _write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), [int(i) for i in sys.argv[4:]])
