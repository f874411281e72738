"""Drive the production extraction job: materialize a corpus, run the
job through ``run_extract.main``, and simulate a crash for resume."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import workloads
from workloads import Corpus

N_BUCKETS = 16
# inputs are split into files like real multi-file tables, so scans run on every slot
DOC_FILES = 8
PAGE_FILES = 4


@dataclass(frozen=True)
class Paths:
    docs: str
    pages: str
    out: str


def materialize(corpus: Corpus, root: str) -> Paths:
    """Write the documents and the rendered page store as parquet under
    ``root`` (with pyarrow; the program only ever reads these files)."""
    shutil.rmtree(root, ignore_errors=True)
    paths = Paths(os.path.join(root, "docs"), os.path.join(root, "pages"), os.path.join(root, "out"))
    _write_split(corpus.docs, paths.docs, DOC_FILES)
    _write_split(workloads.render_pages(corpus.page_nums, corpus.corrupt), paths.pages, PAGE_FILES)
    return paths


def _write_split(table, dest: str, n_files: int) -> None:
    os.makedirs(dest)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(dest, f"part-{i:05d}.parquet"))


def run_extract(paths: Paths, corpus: Corpus, resume: bool = False) -> tuple[float, dict]:
    """One production job through ``run_extract.main`` on the warm
    session; returns (wall seconds, the job's JSON report). The wall
    runs from the call to the return, i.e. past the last manifest."""
    from tesseract_glue_spark import run_extract

    argv = [
        "--input", paths.docs, "--pages", paths.pages, "--output", paths.out,
        "--buckets", str(N_BUCKETS),
    ]
    if corpus.shape.salt:
        argv += ["--salt", str(corpus.shape.salt)]
    if resume:
        argv.append("--resume")
    buf = io.StringIO()
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(buf):
        rc = run_extract.main(argv)
    wall = time.perf_counter() - t0
    if rc != 0:
        raise RuntimeError(f"run_extract exited {rc}: {buf.getvalue()}")
    return wall, json.loads(buf.getvalue().strip().splitlines()[-1])


def crash(out_dir: str, rng: np.random.Generator) -> tuple[list[int], int]:
    """Simulate a crash after a finished job: for a seeded quarter of the
    buckets delete the manifest and a seeded part (at least one, not
    always all) of the data files. Returns (crashed buckets, number of
    documents actually lost)."""
    from tesseract_glue_spark.sources import manifests

    buckets = sorted(int(b) for b in rng.choice(N_BUCKETS, size=N_BUCKETS // 4, replace=False))
    lost = 0
    for b in buckets:
        os.remove(os.path.join(out_dir, manifests.MANIFEST_DIR, f"bucket-{b:05d}.json"))
        bdir = os.path.join(out_dir, manifests.DATA_DIR, f"bucket={b}")
        files = sorted(f for f in os.listdir(bdir) if f.endswith(".parquet"))
        k = int(rng.integers(1, len(files) + 1))
        for f in rng.choice(files, size=k, replace=False):
            p = os.path.join(bdir, str(f))
            lost += pq.read_metadata(p).num_rows
            os.remove(p)
    return buckets, lost


def out_bytes(out_dir: str) -> int:
    """Bytes of the data files under the output's data directory."""
    from tesseract_glue_spark.sources import manifests

    total = 0
    for dirpath, _dirs, files in os.walk(os.path.join(out_dir, manifests.DATA_DIR)):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total
