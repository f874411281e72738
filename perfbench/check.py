"""Correctness gate: read a finished job's output back and compare every
document with the generator's expectation.

A document fails when it is missing, written more than once, its span
sequence differs in ``(kind, text, media_ref, offset)`` or order, or its
``status`` / ``ocr_pages`` / ``ocr_empty_pages`` differ. Rows for ids the
generator never made, and a manifest ``n_docs`` sum that differs from the
input document count, count as failures too.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

DATA_DIR = "data"
MANIFEST_DIR = "_manifests"
SPAN_FIELDS = ("kind", "text", "media_ref", "offset")
DOC_FIELDS = ("status", "ocr_pages", "ocr_empty_pages")


@dataclass
class Verdict:
    n_expected: int
    missing: int = 0
    duplicated: int = 0
    unexpected: int = 0
    span_mismatch: int = 0
    field_mismatch: int = 0
    manifest_docs: int = 0
    failed: int = 0

    @property
    def ok(self) -> bool:
        return self.failed == 0

    def as_dict(self) -> dict:
        return asdict(self)


def read_output(out_dir: str) -> pa.Table:
    """All data files of a job output (hidden and ``_``-prefixed files
    such as ``_SUCCESS`` are skipped)."""
    return ds.dataset(
        os.path.join(out_dir, DATA_DIR), format="parquet", partitioning="hive"
    ).to_table(columns=["doc_id", "spans", *DOC_FIELDS])


def manifest_doc_count(out_dir: str) -> int:
    total = 0
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as fh:
                total += int(json.load(fh)["n_docs"])
    return total


def _flat(spans: pa.ChunkedArray) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """(per-doc span counts, span field columns as numpy arrays)."""
    arr = spans.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(arr), 0).to_numpy().astype(np.int64)
    flat = arr.flatten()
    cols = {}
    for f in SPAN_FIELDS:
        col = flat.field(f)
        if f == "offset":
            col = col.cast(pa.int64())
        cols[f] = col.to_numpy(zero_copy_only=False)
    return lens, cols


def compare(expected: pa.Table, out: pa.Table) -> Verdict:
    """Per-document comparison; ``expected`` is sorted by unique doc_id."""
    v = Verdict(n_expected=expected.num_rows)
    exp_ids = expected.column("doc_id").to_numpy()
    out = out.take(pc.sort_indices(out, [("doc_id", "ascending")]))
    out_ids = out.column("doc_id").to_numpy()

    uniq, counts = np.unique(out_ids, return_counts=True)
    dup_ids = uniq[counts > 1]
    v.unexpected = int(np.count_nonzero(~np.isin(uniq, exp_ids)))
    pos = np.searchsorted(out_ids, exp_ids)
    if len(out_ids):
        clipped = np.minimum(pos, len(out_ids) - 1)
        present = (pos < len(out_ids)) & (out_ids[clipped] == exp_ids)
    else:
        clipped, present = pos, np.zeros(len(exp_ids), bool)
    dup = np.isin(exp_ids, dup_ids)
    v.missing = int(np.count_nonzero(~present))
    v.duplicated = int(np.count_nonzero(dup))
    bad = ~present | dup

    idx = np.flatnonzero(present)
    e = expected.take(pa.array(idx))
    o = out.take(pa.array(clipped[idx]))
    field_bad = np.zeros(len(idx), bool)
    for f in DOC_FIELDS:
        field_bad |= e.column(f).to_numpy(zero_copy_only=False) != o.column(f).to_numpy(zero_copy_only=False)

    e_len, e_cols = _flat(e.column("spans"))
    o_len, o_cols = _flat(o.column("spans"))
    span_bad = e_len != o_len
    same = ~span_bad
    e_doc = np.repeat(np.arange(len(idx)), e_len)
    e_keep = same[e_doc]
    o_keep = same[np.repeat(np.arange(len(idx)), o_len)]
    diff = np.zeros(int(e_keep.sum()), bool)
    for f in SPAN_FIELDS:
        diff |= e_cols[f][e_keep] != o_cols[f][o_keep]
    span_bad[np.unique(e_doc[e_keep][diff])] = True

    v.span_mismatch = int(np.count_nonzero(span_bad))
    v.field_mismatch = int(np.count_nonzero(field_bad))
    bad[idx] |= span_bad | field_bad
    v.failed = int(np.count_nonzero(bad)) + v.unexpected
    return v


def check_output(out_dir: str, expected: pa.Table) -> Verdict:
    """Compare a job output directory (data + manifests) with ``expected``."""
    v = compare(expected, read_output(out_dir))
    v.manifest_docs = manifest_doc_count(out_dir)
    if v.manifest_docs != v.n_expected:
        v.failed += max(1, abs(v.manifest_docs - v.n_expected))
    return v
