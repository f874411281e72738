"""Per-layer measurements for the traced run.

* :func:`staged_pass` runs the extraction one layer at a time through the
  program's public stage functions. Each layer's span times a ``noop``
  write of that stage over the previous stage's checkpointed output;
  the checkpoint itself is a child span, so it is not in the layer's
  self time.
* :func:`kernel_timings` / :func:`strip_timings` time the imaging,
  engine and HTML functions in-process over the workload's own pages
  and text spans.
* :func:`exchange_metrics` reads Spark's own task metrics for the
  production jobs back from the event log.

Which end-to-end metric each layer should move, on which workload:

* ``scan_s``, ``explode_s``, ``media_spans``, ``distinct_refs``,
  ``ocr_pages_per_media_span``, ``stitch_s``, ``reassemble_s`` and the
  exchange metrics: ``docs_per_s`` on span_skew (stitch/reassemble also
  ``peak_rss_mb``);
* ``ocr_stage_s``, ``ocr_busy_*``, ``ocr_pages_max_over_mean`` and the
  per-page imaging/engine timings: ``docs_per_s`` on ocr_distinct, with
  no change on span_skew;
* ``strip_us_per_span``: the web extraction path, which neither workload
  runs end to end;
* ``write_s``, ``resume_filter_s``, ``resume_rework_frac``: ``resume_s``
  and ``out_bytes_per_doc`` on both workloads.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import jobs
import workloads
from tracer import Tracer

LAYERS = (
    "sources.tables.scan",
    "operators.extract.explode",
    "operators.extract.ocr_stage",
    "operators.extract.stitch",
    "operators.extract.reassemble",
    "sources.manifests.write",
)
OCR_LAYER = "operators.extract.ocr_stage"
PROD_GROUP = "perfbench-prod"
OTHER_GROUP = "perfbench-other"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def staged_pass(spark, tracer: Tracer, corpus, paths: jobs.Paths) -> tuple[int, dict]:
    """One traced extraction job, layer by layer; writes ``paths.out``
    like the production job. Returns (job id, counters)."""
    from tesseract_glue_spark import ExtractionConfig
    from tesseract_glue_spark.operators import extract as X
    from tesseract_glue_spark.sources import manifests as M
    from tesseract_glue_spark.sources.tables import read_documents, read_pages

    cfg = ExtractionConfig(salt_reassembly=corpus.shape.salt).validated()
    job = tracer.new_job()
    span = lambda name: tracer.span(name, job)  # noqa: E731
    c: dict = {}
    with span("job"):
        with span("sources.tables.scan"):
            docs = read_documents(spark, paths.docs)
            pages = read_pages(spark, paths.pages)
            noop(docs)
            noop(pages)
            with span("checkpoint"):
                docs = docs.localCheckpoint(eager=True)
                pages = pages.localCheckpoint(eager=True)
        with span("operators.extract.explode"):
            spans = X.explode_spans(docs)
            noop(spans)
            with span("checkpoint"):
                spans = spans.localCheckpoint(eager=True)
        with span("counters"):
            c["media_spans"] = spans.where(F.col("kind") == "media").count()
            c["distinct_refs"] = X.distinct_media_refs(spans).count()
        with span(OCR_LAYER):
            ocr = X.ocr_media(spans, pages, cfg)
            noop(ocr)
            with span("checkpoint"):
                ocr = ocr.localCheckpoint(eager=True)
        with span("counters"):
            c["ocr_partitions"] = [r.asDict() for r in X.ocr_partition_metrics(ocr).collect()]
        with span("operators.extract.stitch"):
            stitched = X.stitch(spans, ocr, cfg)
            noop(stitched)
            with span("checkpoint"):
                stitched = stitched.localCheckpoint(eager=True)
        with span("operators.extract.reassemble"):
            extracted = X.reassemble(stitched, cfg)
            noop(extracted)
            with span("checkpoint"):
                extracted = extracted.localCheckpoint(eager=True)
        with span("sources.manifests.write"):
            M.write_extracted(extracted, paths.out, n_buckets=jobs.N_BUCKETS)
    return job, c


def traced_resume(spark, tracer: Tracer, corpus, paths: jobs.Paths, rng) -> tuple[int, dict]:
    """Crash the output, time ``resume_filter`` alone, then finish with
    the production resume job. Returns (job id, counters)."""
    from tesseract_glue_spark.sources import manifests as M
    from tesseract_glue_spark.sources.tables import read_documents

    job = tracer.new_job()
    c: dict = {}
    with tracer.span("resume", job):
        with tracer.span("crash", job):
            _buckets, c["lost_docs"] = jobs.crash(paths.out, rng)
        with tracer.span("sources.manifests.resume_filter", job):
            todo = M.resume_filter(read_documents(spark, paths.docs), paths.out, n_buckets=jobs.N_BUCKETS)
            noop(todo)
        with tracer.span("counters", job):
            c["reworked_docs"] = todo.count()
        with tracer.span("run_extract.resume", job):
            jobs.run_extract(paths, corpus, resume=True)
    return job, c


def ocr_counters(parts: list[dict], ocr_stage_s: float, n_slots: int) -> dict:
    pages = [p["n_pages"] for p in parts]
    total = sum(pages)
    dangling = sum(p["n_dangling"] for p in parts)
    decode_errors = sum(p["n_decode_errors"] for p in parts)
    busy = sum(p["proc_us_total"] for p in parts) / 1e6
    return {
        "ocr_busy_s": busy,
        "ocr_busy_frac": busy / (ocr_stage_s * n_slots),
        "ocr_pages_max_over_mean": max(pages) / (total / len(pages)),
        "ocr_ok_frac": (total - dangling - decode_errors) / total,
        "ocr_dangling": dangling,
        "ocr_decode_errors": decode_errors,
    }


def _sample_pages(corpus, k: int, seed: int) -> list[bytes]:
    ok = [int(n) for n in corpus.page_nums if int(n) not in corpus.corrupt]
    rng = np.random.default_rng([seed, 1])
    nums = rng.choice(ok, size=min(k, len(ok)), replace=False)
    return [workloads.page_bytes(int(n), False) for n in nums]


def kernel_timings(corpus, seed: int, k: int = 150, reps: int = 3) -> dict:
    """Mean microseconds per page of each public OCR-path function over a
    seeded sample of the workload's decodable pages, in the order
    ``operators.extract.ocr_one_page`` calls them; the median of
    ``reps`` passes. Steps that only run on some pages (shear estimate,
    deskew, XY-cut) are still divided by all pages, so the steps add up
    to about ``ocr_one_page_us``."""
    from tesseract_glue_spark import ExtractionConfig
    from tesseract_glue_spark.engine import get_engine
    from tesseract_glue_spark.imaging import kernels as K
    from tesseract_glue_spark.imaging.codecs import decode_image
    from tesseract_glue_spark.imaging.render import PAYLOAD_ROWS
    from tesseract_glue_spark.operators.extract import ocr_one_page

    cfg = ExtractionConfig().validated()
    engine = get_engine(cfg)
    pages = _sample_pages(corpus, k, seed)
    steps = ("decode", "otsu", "shear", "deskew", "xycut", "recognize", "ocr_one_page")
    per_rep: dict[str, list[float]] = {s: [] for s in steps}
    clock = time.perf_counter
    for _ in range(reps):
        acc = dict.fromkeys(steps, 0.0)
        for b in pages:
            t0 = clock()
            gray = K.to_grayscale(decode_image(b))
            t1 = clock()
            body = gray[PAYLOAD_ROWS:]
            ink, thr = K.otsu_binarize_with_threshold(body)
            t2 = clock()
            acc["decode"] += t1 - t0
            acc["otsu"] += t2 - t1
            if ink.any():
                shear = K.estimate_shear(ink)
                t3 = clock()
                acc["shear"] += t3 - t2
                if abs(shear) > 1e-3:
                    body = K.deskew(body, shear)
                    ink = body <= thr
                t4 = clock()
                acc["deskew"] += t4 - t3
                K.xy_cut(ink)
                acc["xycut"] += clock() - t4
            t5 = clock()
            engine.recognize(gray)
            acc["recognize"] += clock() - t5
        t6 = clock()
        for b in pages:
            ocr_one_page(engine, cfg, b)
        acc["ocr_one_page"] = clock() - t6
        for s in steps:
            per_rep[s].append(1e6 * acc[s] / len(pages))
    return {
        (f"{s}_us_per_page" if s != "ocr_one_page" else "ocr_one_page_us"): statistics.median(v)
        for s, v in per_rep.items()
    }


def strip_timings(corpus, k: int = 400, reps: int = 3) -> dict:
    """Mean microseconds of ``web.html_main.extract_main`` per text span
    over the workload's own text spans, each wrapped as an HTML page in
    the generator's chrome; the median of ``reps`` passes. Checks that
    every page strips back to the wrapped text."""
    from tesseract_glue_spark.web.html_main import extract_main

    plain = corpus.text_samples(k)
    texts = [workloads.HTML_PREFIX + t + workloads.HTML_SUFFIX for t in plain]
    stripped = [extract_main(t)["main_text"] for t in texts]
    if stripped != plain:
        raise AssertionError("extract_main did not return the wrapped text")
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for t in texts:
            extract_main(t)
        runs.append(1e6 * (time.perf_counter() - t0) / len(texts))
    return {"strip_us_per_span": statistics.median(runs)}


def exchange_metrics(event_dir: str, n_prod_jobs: int) -> dict:
    """Shuffle bytes written, disk spill, JVM GC time and task count per
    production job, summed from the event log's task-end events of the
    jobs submitted under ``PROD_GROUP``, and the largest peak execution
    memory (the heap that Spark's sorts, joins and aggregations hold) of
    any one of those tasks."""
    stage_group: dict[int, str] = {}
    tot = {"shuffle": 0, "spill": 0, "gc_ms": 0, "tasks": 0, "peak_exec": 0}
    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if not logs:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    for path in logs:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd" and stage_group.get(ev.get("Stage ID")) == PROD_GROUP:
                    m = ev.get("Task Metrics") or {}
                    tot["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tot["spill"] += m.get("Disk Bytes Spilled", 0)
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["tasks"] += 1
                    tot["peak_exec"] = max(tot["peak_exec"], m.get("Peak Execution Memory", 0))
    n = max(n_prod_jobs, 1)
    return {
        "shuffle_write_mb": tot["shuffle"] / 2**20 / n,
        "spill_mb": tot["spill"] / 2**20 / n,
        "gc_s": tot["gc_ms"] / 1000 / n,
        "task_count": tot["tasks"] / n,
        "task_peak_exec_mb": tot["peak_exec"] / 2**20,
    }
