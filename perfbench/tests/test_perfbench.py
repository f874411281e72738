"""Self-tests of the benchmark: generator, expectation, failure counter,
and the command's printed metrics.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The last three tests start Spark (about three minutes together).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import workloads  # noqa: E402
from workloads import Shape  # noqa: E402

TINY = {
    "tiny_distinct": Shape(n_docs=60, media_per_doc=3),
    "tiny_skew": Shape(
        n_docs=300, mean_spans=8, media_frac=0.3, pool=40, hot_docs=2, hot_spans=1500, salt=8
    ),
}


@pytest.fixture
def tiny(monkeypatch):
    for name, shape in TINY.items():
        monkeypatch.setitem(workloads.WORKLOADS, name, shape)
    return sorted(TINY)


def _media_refs(corpus) -> set:
    flat = corpus.docs.column("spans").combine_chunks().flatten()
    return set(flat.field("media_ref").to_pylist()) - {""}


def _span_counts(corpus) -> dict:
    lens = pc.list_value_length(corpus.docs.column("spans").combine_chunks()).to_pylist()
    return dict(zip(corpus.docs.column("doc_id").to_pylist(), lens))


def test_same_seed_gives_same_bytes(tiny):
    for name in tiny:
        a, b = workloads.generate(name, 5), workloads.generate(name, 5)
        pages_a = workloads.render_pages(a.page_nums, a.corrupt)
        pages_b = workloads.render_pages(b.page_nums, b.corrupt)
        assert workloads.digest(a, pages_a) == workloads.digest(b, pages_b)
        assert a.expected.equals(b.expected)


def test_other_seed_moves_refs_counts_and_hot_docs(tiny):
    for name in tiny:
        a, b = workloads.generate(name, 5), workloads.generate(name, 6)
        assert workloads.digest(a) != workloads.digest(b)
        assert _media_refs(a) != _media_refs(b)
    a, b = workloads.generate("tiny_skew", 5), workloads.generate("tiny_skew", 6)
    ca, cb = _span_counts(a), _span_counts(b)
    assert sorted(ca.values()) != sorted(cb.values())
    hot = TINY["tiny_skew"].hot_spans
    hot_a = {d for d, n in ca.items() if n == hot}
    hot_b = {d for d, n in cb.items() if n == hot}
    assert len(hot_a) == len(hot_b) == 2 and hot_a != hot_b


def _docs(rows) -> pa.Table:
    struct = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "spans": pa.array(
                [
                    [{"kind": k, "text": t, "media_ref": m, "offset": i} for i, (k, t, m) in enumerate(r[1])]
                    for r in rows
                ],
                pa.list_(struct),
            ),
        }
    )


def test_expectation_matches_hand_built_corpus():
    # page 1 renders text, 7 is blank, 13 has no page (dangling),
    # 2 has a page row of junk bytes (corrupt)
    docs = _docs(
        [
            (10, [("text", "alpha beta", ""), ("media", "", "img_00000001"),
                  ("text", "gamma", ""), ("media", "", "img_00000007")]),
            (20, [("media", "", "img_00000013"), ("text", "delta", "")]),
            (30, [("media", "", "img_00000002")]),
            (40, []),
        ]
    )
    got = workloads.expectation(docs, frozenset({2})).to_pylist()
    span = lambda k, t, m, o: {"kind": k, "text": t, "media_ref": m, "offset": o}  # noqa: E731
    assert got == [
        {"doc_id": 10,
         "spans": [span("text", "alpha beta", "", 0),
                   span("media", "page 1 glyph 2135 lorem ipsum dolor", "img_00000001", 1),
                   span("text", "gamma", "", 2),
                   span("media", "", "img_00000007", 3)],
         "ocr_pages": 2, "ocr_empty_pages": 1, "status": "ok"},
        {"doc_id": 20,
         "spans": [span("media", "", "img_00000013", 0), span("text", "delta", "", 1)],
         "ocr_pages": 0, "ocr_empty_pages": 0, "status": "partial"},
        {"doc_id": 30, "spans": [span("media", "", "img_00000002", 0)],
         "ocr_pages": 0, "ocr_empty_pages": 0, "status": "partial"},
        {"doc_id": 40, "spans": [], "ocr_pages": 0, "ocr_empty_pages": 0, "status": "ok"},
    ]


def test_generated_expectation_is_expectation_of_generated_docs(tiny):
    for name in tiny:
        c = workloads.generate(name, 3)
        docs = c.docs.take(pc.sort_indices(c.docs, [("doc_id", "ascending")]))
        assert workloads.expectation(docs, c.corrupt).equals(c.expected)
        assert set(c.corrupt) <= set(int(n) for n in c.page_nums)


def _write_output(table: pa.Table, out_dir: str, n_buckets: int = 4) -> None:
    """The job's output layout: data/bucket=<b>/*.parquet + manifests."""
    buckets = table.column("doc_id").to_numpy() % n_buckets
    for b in range(n_buckets):
        part = table.filter(pa.array(buckets == b))
        d = os.path.join(out_dir, check.DATA_DIR, f"bucket={b}")
        os.makedirs(d)
        pq.write_table(part, os.path.join(d, "part-00000.parquet"))
        m = os.path.join(out_dir, check.MANIFEST_DIR)
        os.makedirs(m, exist_ok=True)
        with open(os.path.join(m, f"bucket-{b:05d}.json"), "w") as fh:
            json.dump({"bucket": b, "n_docs": part.num_rows}, fh)


def _with_spans(table: pa.Table, row: int, mutate) -> pa.Table:
    rows = table.to_pylist()
    rows[row]["spans"] = mutate(rows[row]["spans"])
    return pa.Table.from_pylist(rows, schema=table.schema)


def _with_status_flipped(table: pa.Table, row: int) -> pa.Table:
    status = table.column("status").to_pylist()
    status[row] = "ok" if status[row] == "partial" else "partial"
    return table.set_column(table.schema.get_field_index("status"), "status", pa.array(status))


def test_failure_counter_fires_on_each_kind_of_error(tiny, tmp_path):
    c = workloads.generate("tiny_distinct", 9)
    good = c.expected
    _write_output(good, str(tmp_path / "good"))
    assert check.check_output(str(tmp_path / "good"), good).failed == 0

    def text_changed(spans):
        spans[0] = {**spans[0], "text": spans[0]["text"] + "x"}
        return spans

    cases = {
        "span_text": (_with_spans(good, 3, text_changed), "span_mismatch"),
        "span_order": (_with_spans(good, 4, lambda s: s[1:] + s[:1]), "span_mismatch"),
        "span_dropped": (_with_spans(good, 5, lambda s: s[:-1]), "span_mismatch"),
        "status": (_with_status_flipped(good, 6), "field_mismatch"),
        "missing": (good.slice(1), "missing"),
        "duplicated": (pa.concat_tables([good, good.slice(2, 1)]), "duplicated"),
    }
    for name, (table, counter) in cases.items():
        out = str(tmp_path / name)
        _write_output(table, out)
        v = check.compare(good, check.read_output(out))
        assert v.failed == 1 and getattr(v, counter) == 1, (name, v)


def test_manifest_count_mismatch_fails(tiny, tmp_path):
    c = workloads.generate("tiny_distinct", 9)
    out = str(tmp_path / "out")
    _write_output(c.expected, out)
    os.remove(os.path.join(out, check.MANIFEST_DIR, "bucket-00001.json"))
    assert check.check_output(out, c.expected).failed > 0


@pytest.fixture
def spark(tmp_path, monkeypatch):
    import session

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    monkeypatch.setattr("tempfile.tempdir", None)
    monkeypatch.setattr(session, "SCRATCH", str(tmp_path / "scratch"))
    run_dir = session.make_run_dir("selftest")
    s = session.start_spark(run_dir, event_log=False)
    yield s
    s.stop()


def test_failure_counter_fires_on_corrupted_copy_of_real_output(tiny, spark, tmp_path):
    import jobs

    c = workloads.generate("tiny_skew", 4)
    paths = jobs.materialize(c, str(tmp_path / "corpus"))
    jobs.run_extract(paths, c)
    assert check.check_output(paths.out, c.expected).as_dict()["failed"] == 0

    copy = str(tmp_path / "copy")
    shutil.copytree(paths.out, copy)
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(os.path.join(copy, check.DATA_DIR))
        for f in fs if f.endswith(".parquet")
    )
    table = pq.read_table(files[0])
    row = int(np.argmax(pc.list_value_length(table.column("spans")).to_numpy()))

    def text_changed(spans):
        spans[-1] = {**spans[-1], "text": spans[-1]["text"] + " corrupted"}
        return spans

    pq.write_table(_with_spans(table, row, text_changed), files[0])
    v = check.check_output(copy, c.expected)
    assert v.failed == 1 and v.span_mismatch == 1, v


def _gated_run(monkeypatch, steals, seconds, job_s=0.0):
    """A ``run.Run`` whose jobs, checks and host labels are stand-ins;
    sample i reads ``steals[i]`` as its steal share."""
    import types

    import run

    steal_iter = iter(steals)

    class Label:
        def __init__(self):
            self.steal = next(steal_iter)

        def finish(self):
            return {"load1": 0.0, "steal_frac": self.steal}

    def job(resume=False, group=None):
        time.sleep(job_s)
        return 1.0, {"n_docs": 10}

    monkeypatch.setattr(run.sysmon, "HostLabel", Label)
    monkeypatch.setattr(run.jobs, "out_bytes", lambda out: 1000)
    monkeypatch.setattr(run.jobs, "crash", lambda out, rng: ([0], 1))
    r = run.Run.__new__(run.Run)
    r.args = types.SimpleNamespace(seconds=seconds)
    r.rng, r.details = None, {}
    r.corpus = types.SimpleNamespace(n_docs=10)
    r.paths = types.SimpleNamespace(out="unused")
    r.job, r.verify = job, lambda what: None
    rss = types.SimpleNamespace(reset=lambda: None, peak_mb=lambda: 1.0, peak_processes=lambda: {})
    return run, r, rss


def test_samples_under_steal_are_retaken(monkeypatch):
    run, r, rss = _gated_run(monkeypatch, [0.5, 0.05, 0.01], seconds=1e-9)
    q = r.measure(rss, deadline=time.monotonic() + 60)
    assert len(r.details["samples"]) == 3 and r.details["kept_samples"] == [2]
    assert q["docs_per_s"]["n"] == 1


def test_without_clean_samples_the_tolerable_ones_are_kept(monkeypatch):
    run, r, rss = _gated_run(monkeypatch, [0.5, 0.05] * 50, seconds=1.0, job_s=0.01)
    r.measure(rss, deadline=time.monotonic() + 0.1)
    n = len(r.details["samples"])
    assert n >= 2 and r.details["kept_samples"] == list(range(1, n, 2))


def test_run_without_a_tolerable_sample_is_invalid(monkeypatch):
    run, r, rss = _gated_run(monkeypatch, [0.5] * 100, seconds=1.0, job_s=0.01)
    with pytest.raises(run.NoisyHost):
        r.measure(rss, deadline=time.monotonic() + 0.1)
    assert r.details["samples"] and not r.details["kept_samples"]


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = _bench_json()["command"] + list(args)
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_command_prints_every_metric(trace, section):
    bench = _bench_json()
    workload = bench["workloads"][0]["name"]
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in _bench_json()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    workload = _bench_json()["workloads"][0]["name"]
    p = _run(str(tmp_path), "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "metrics" not in p.stdout
