"""Benchmark of the production extraction job (see BENCHMARK.json).

    python3 perfbench/run.py --workload ocr_distinct --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the repository. One run:

1. set-up (reported as ``setup_s``): start a local Spark session sized
   for the host, generate the workload from ``--seed``, write it as
   parquet, and warm up with a fixed ``WARM_JOBS`` production jobs and
   one crash-and-resume;
2. closed loop for ``--seconds`` seconds: a full production job
   (``run_extract.main`` on the warm session), a simulated crash of a
   seeded quarter of the buckets, and the resume job; every output is
   read back untimed and checked document by document against the
   generator's expectation;
3. with ``--trace 1`` the loop instead alternates a production job with
   a layer-by-layer traced job and the run prints the per-layer metrics.

Timings are medians over the loop's samples; each sample is labelled
with the 1-minute load and the hypervisor steal share, and samples
taken under steal are retaken (see ``STEAL_CLEAN``). The last line of
standard output is the JSON result; everything else goes to standard
error, and per-sample details to ``.perfbench/results/``.

Self-tests: ``python3 -m pytest perfbench/tests -q -p no:cacheprovider``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402

import check  # noqa: E402
import jobs  # noqa: E402
import session  # noqa: E402
import sysmon  # noqa: E402
import workloads  # noqa: E402

# Warm-up: a fixed number of jobs (the cold one included), then one
# crash-and-resume. Walls were measured to keep falling for about eight
# jobs; two jobs plus a resume keep one run under a minute on a 4-core VM.
WARM_JOBS = 2

# Host noise. Hypervisor steal marks the times other guests load the
# host, and walls follow it: on a 4-core VM, samples with 3-14% steal
# ran 20-40% slower than samples with under 1%, and bursts of 20-30%
# moved whole runs by 15-50%. So the loop goes on until the samples
# with at most STEAL_CLEAN steal add up to ``--seconds``, and reports
# only those. No sample starts later than MEASURE_UNTIL_S after the run
# began, so a run ends within about 70 s. If by then no sample is
# clean, the run reports those with at most STEAL_MAX steal (the bounds
# in BENCHMARK.json were set from runs with up to about 15%); a run
# without even one of those is invalid and exits with NOISY_HOST_EXIT,
# printing no result.
STEAL_CLEAN = 0.02
STEAL_MAX = 0.15
MEASURE_UNTIL_S = 60.0
NOISY_HOST_EXIT = 3


class NoisyHost(RuntimeError):
    pass


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0]
        return {"q1": v, "median": v, "q3": v, "n": len(values)}
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"q1": q1, "median": med, "q3": q3, "n": len(values)}


class Run:
    """One benchmark invocation: set-up, measurement, result."""

    def __init__(self, args) -> None:
        self.args = args
        self.tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.run_dir = session.make_run_dir(self.tag)
        self.rng = np.random.default_rng([args.seed, 7])
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.details: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        """Session start, overlapped with generating and writing the
        corpus (the JVM start mostly waits), then ``WARM_JOBS`` warm-up
        jobs and one crash-and-resume."""
        t0 = time.perf_counter()
        host = sysmon.HostLabel()
        started: dict = {}

        def start() -> None:
            try:
                started["spark"] = session.start_spark(self.run_dir, event_log=bool(self.args.trace))
            except BaseException as exc:  # re-raised on the main thread
                started["error"] = exc
            started["t"] = time.perf_counter()

        starter = threading.Thread(target=start, name="spark-start")
        starter.start()
        try:
            self.corpus = workloads.generate(self.args.workload, self.args.seed)
            self.paths = jobs.materialize(self.corpus, os.path.join(self.run_dir, "corpus"))
            t_corpus = time.perf_counter()
        finally:
            starter.join()
            self.spark = started.get("spark")
        if "error" in started:
            raise started["error"]
        walls = [self.job()[0] for _ in range(WARM_JOBS)]
        jobs.crash(self.paths.out, self.rng)
        resume_wall = self.job(resume=True)[0]
        setup_s = time.perf_counter() - t0
        self.details["setup"] = {
            "session_s": started["t"] - t0,
            "corpus_s": t_corpus - t0,
            "warm_walls": walls,
            "warm_resume_s": resume_wall,
            "setup_s": setup_s,
            "digest": workloads.digest(self.corpus),
            "n_docs": self.corpus.n_docs,
            "n_pages": int(len(self.corpus.page_nums)),
            "slots": session.slots(),
            **host.finish(),
        }
        log(f"setup {setup_s:.2f}s: {self.details['setup']}")
        return setup_s

    def job(self, resume: bool = False, group: str | None = None) -> tuple[float, dict]:
        if group:
            self.spark.sparkContext.setJobGroup(group, group)
        return jobs.run_extract(self.paths, self.corpus, resume=resume)

    def verify(self, what: str) -> None:
        """Untimed read-back of the output; counts documents checked and failed."""
        v = check.check_output(self.paths.out, self.corpus.expected)
        self.attempted += v.n_expected
        self.failed += min(v.failed, v.n_expected)
        if not v.ok:
            log(f"FAILED check after {what}: {v.as_dict()}")

    # -- untraced -------------------------------------------------------
    def measure(self, rss: sysmon.RssSampler, deadline: float) -> dict:
        """Closed loop until the samples with at most ``STEAL_CLEAN``
        steal add up to ``--seconds``, or ``deadline`` (a
        ``time.monotonic`` value) has passed; quartiles of the kept
        samples (see ``STEAL_CLEAN``)."""
        samples = []
        clean_s = 0.0
        while clean_s < self.args.seconds and time.monotonic() < deadline:
            t0 = time.perf_counter()
            host = sysmon.HostLabel()
            rss.reset()
            wall, report = self.job()
            peak, peak_procs = rss.peak_mb(), rss.peak_processes()
            size = jobs.out_bytes(self.paths.out)
            self.verify("job")
            _buckets, lost = jobs.crash(self.paths.out, self.rng)
            rwall, _ = self.job(resume=True)
            self.verify("resume")
            samples.append(
                {
                    "wall_s": wall,
                    "docs_per_s": self.corpus.n_docs / wall,
                    "resume_s": rwall,
                    "lost_docs": lost,
                    "peak_rss_mb": peak,
                    "peak_rss_by_process_mb": peak_procs,
                    "out_bytes_per_doc": size / self.corpus.n_docs,
                    "job_report_docs": report["n_docs"],
                    **host.finish(),
                }
            )
            if samples[-1]["steal_frac"] <= STEAL_CLEAN:
                clean_s += time.perf_counter() - t0
            log(f"sample {samples[-1]}")
        steal = [s["steal_frac"] for s in samples]
        kept = [i for i, v in enumerate(steal) if v <= STEAL_CLEAN] or [
            i for i, v in enumerate(steal) if v <= STEAL_MAX
        ]
        self.details["samples"] = samples
        self.details["kept_samples"] = kept
        if not kept:
            raise NoisyHost(f"all {len(samples)} samples had more than {STEAL_MAX} steal")
        return {
            key: quartiles([samples[i][key] for i in kept])
            for key in ("docs_per_s", "resume_s", "peak_rss_mb", "out_bytes_per_doc")
        }

    # -- traced ---------------------------------------------------------
    def measure_traced(self) -> dict:
        import layers
        from tracer import Tracer

        tracer = Tracer()
        untraced, staged, counters = [], [], []
        t0 = time.perf_counter()
        while not staged or time.perf_counter() - t0 < self.args.seconds:
            wall, _ = self.job(group=layers.PROD_GROUP)
            untraced.append(wall)
            self.verify("job")
            self.spark.sparkContext.setJobGroup(layers.OTHER_GROUP, layers.OTHER_GROUP)
            job, c = layers.staged_pass(self.spark, tracer, self.corpus, self.paths)
            self.verify("traced job")
            staged.append(job)
            counters.append(c)
        rjob, rc = layers.traced_resume(self.spark, tracer, self.corpus, self.paths, self.rng)
        self.verify("traced resume")

        n_prod = len(untraced)
        selfs = [tracer.self_times(j) for j in staged]
        med = lambda name: statistics.median(s.get(name, 0.0) for s in selfs)  # noqa: E731
        job_walls = [tracer.duration(j, "job") for j in staged]
        layer_self = {name: med(name) for name in layers.LAYERS}
        total_self = sum(layer_self.values())
        ocr_share = layer_self[layers.OCR_LAYER] / total_self
        other_share = max(v for k, v in layer_self.items() if k != layers.OCR_LAYER) / total_self
        c = counters[-1]
        ocr_stage_s = layer_self[layers.OCR_LAYER]
        traced_dps = self.corpus.n_docs / statistics.median(job_walls)
        untraced_dps = self.corpus.n_docs / statistics.median(untraced)
        metrics = {
            "scan_s": layer_self["sources.tables.scan"],
            "explode_s": layer_self["operators.extract.explode"],
            "media_spans": c["media_spans"],
            "distinct_refs": c["distinct_refs"],
            "ocr_pages_per_media_span": c["distinct_refs"] / c["media_spans"],
            "ocr_stage_s": ocr_stage_s,
            **layers.ocr_counters(c["ocr_partitions"], ocr_stage_s, session.slots()),
            "stitch_s": layer_self["operators.extract.stitch"],
            "reassemble_s": layer_self["operators.extract.reassemble"],
            "write_s": layer_self["sources.manifests.write"],
            "resume_filter_s": tracer.self_times(rjob)["sources.manifests.resume_filter"],
            "resume_rework_frac": rc["reworked_docs"] / max(rc["lost_docs"], 1),
            "ocr_self_share": ocr_share,
            "max_other_self_share": other_share,
            "checkpoint_s": med("checkpoint"),
            "traced_docs_per_s": traced_dps,
            "trace_overhead_frac": 1 - traced_dps / untraced_dps,
        }
        metrics.update(layers.kernel_timings(self.corpus, self.args.seed))
        metrics.update(layers.strip_timings(self.corpus))
        self.details["layer_self_s"] = layer_self
        self.details["untraced_walls"] = untraced
        self.details["traced_walls"] = job_walls
        self.stop_spark()
        metrics.update(layers.exchange_metrics(os.path.join(self.run_dir, "events"), n_prod))
        trace_path = os.path.join(session.RESULTS, f"trace-{self.tag}.json")
        tracer.dump(trace_path)
        self.details["trace_file"] = os.path.relpath(trace_path, session.ROOT)
        return metrics

    # -- teardown -------------------------------------------------------
    def stop_spark(self) -> None:
        """Stop the session, the gateway JVM and every process under us."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap_descendants()

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate whatever still runs under this process and wait for it."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = sysmon.descendants(os.getpid())
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def metric_units(section: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(session.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # standard output carries only the result line: the JVM, the Python
    # workers and the job's own report lines all write to fd 1 otherwise
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    deadline = time.monotonic() + MEASURE_UNTIL_S
    run = Run(args)
    try:
        with sysmon.RssSampler() as rss:
            setup_s = run.setup()
            if args.trace:
                values = run.measure_traced()
            else:
                q = run.measure(rss, deadline)
                run.details["quartiles"] = q
                values = {k: v["median"] for k, v in q.items()}
                values.update(setup_s=setup_s, docs_ok_frac=1 - run.failed / run.attempted)
    except NoisyHost as exc:
        log(f"run invalid, no result: {exc}")
        return NOISY_HOST_EXIT
    finally:
        run.stop_spark()
        run.cleanup()
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in metric_units(section).items()}

    run.details["failed"], run.details["attempted"] = run.failed, run.attempted
    run.details["metrics"] = metrics
    with open(os.path.join(session.RESULTS, f"run-{run.tag}.json"), "w") as fh:
        json.dump(run.details, fh, indent=1)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
