"""Benchmark for osm2orc_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (see perfbench/README.md):

  osm_pipeline     PBF and changeset XML through the sources into ORC, then
                   the README's SQL over that ORC
  corpus_headline  headline registry queries over the sf0.001 test tables

Set-up (session start plus untimed priming runs) is timed as setup_s.
Then the workload repeats for --seconds (at least twice) and wall_s is the
median run.  With --trace 1 the session also keeps an event log, and one
more run follows with every call into the package timed and its Spark jobs
tagged; the per-layer metrics are printed instead of the end-to-end ones.
Outputs are checked once per invocation; the last line of stdout is the
JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median
from collections import Counter

from common import (ROOT, WORK, RssPeak, Tracer, pin_host, rollup, start_spark,
                    stop_everything, summarise_event_log)
from workloads import MODULES

MIN_RUNS = 2  # wall_s is a median, so the timed window holds at least two runs

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
    "correct_ratio": "ratio",
}

PER_LAYER = {
    "sources.pbf.decode_s": "s",
    "sources.pbf.rows_s": "s",
    "sources.pbf.tasks": "count",
    "sources.pbf_codec.blobs": "count",
    "sources.pbf.entities_per_s": "1/s",
    "sources.changeset_xml.parse_s": "s",
    "sources.changeset_xml.tasks": "count",
    "sources.changeset_xml.changesets_per_s": "1/s",
    "sinks.orc.encode_s": "s",
    "sinks.orc.embed_metadata_s": "s",
    "sinks.orc.files": "count",
    "sinks.orc.stripes": "count",
    "sinks.orc.bytes": "bytes",
    "sinks.orc.bytes_per_row": "bytes",
    "sinks.orc.read_orc_s": "s",
    "sinks.orc.scan_rows": "count",
    "sinks.orc.scan_bytes": "bytes",
    "sinks.orc.rows_read_per_row_out": "ratio",
    "queries.osm_corpus.build_s": "s",
    **{
        f"{m}.{k}": u
        for m in MODULES
        for k, u in (("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"),
                     ("exec_s", "s"), ("shuffle_bytes", "bytes"),
                     ("max_task_over_median", "ratio"))
    },
    "operators.cache.persisted_after": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "trace.wall_s": "s",
    "trace.base_wall_s": "s",
    "trace.span_overhead_s": "s",
}


class Ops:
    """Counts operations; an exception counts the operation as failed
    and the run goes on."""

    def __init__(self):
        self.runs, self.raised = Counter(), Counter()

    def __call__(self, name, fn, *args):
        self.runs[name] += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — counted, reported, not fatal
            self.raised[name] += 1
            print(f"perfbench: {name} failed: {e!r}", file=sys.stderr)
            return None

    def totals(self, wrong: set[str]) -> tuple[int, int]:
        """(attempted, failed); every run of an operation whose checked
        result is wrong counts as failed."""
        failed = sum(self.runs[n] if n in wrong else self.raised[n] for n in self.runs)
        return sum(self.runs.values()), failed


class Ctx:
    def __init__(self, args, run_dir: str):
        self.seed, self.size, self.run_dir = args.seed, args.size, run_dir
        self.break_check = args.break_check
        self.ops = Ops()


def workload_class(name: str):
    if name == "osm_pipeline":
        from osm import OsmPipeline
        return OsmPipeline
    from corpus import Corpus
    return Corpus


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["osm_pipeline", "corpus_headline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "smoke"], default="bench")
    p.add_argument("--break-check", action="store_true",
                   help="corrupt one expected result (to test the check)")
    return p.parse_args(argv)


def measure(args, run_dir: str) -> dict:
    ctx = Ctx(args, run_dir)
    phases = {"start": time.perf_counter()}
    wl = workload_class(args.workload)(ctx)  # generates inputs; not timed
    rss, spark = RssPeak(), None
    try:
        t0 = phases["inputs"] = time.perf_counter()
        spark = start_spark(run_dir, bool(args.trace))
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        phases["setup"] = time.perf_counter()
        walls: list[float] = []
        with rss.active():
            start = time.perf_counter()
            while len(walls) < MIN_RUNS or time.perf_counter() - start < args.seconds:
                t = time.perf_counter()
                wl.run_once()
                walls.append(time.perf_counter() - t)
        phases["runs"] = time.perf_counter()
        if args.trace:
            tr = Tracer(spark)
            wl.probe(tr)
            t = time.perf_counter()
            wl.trace(tr)
            traced_wall = time.perf_counter() - t
            layers = wl.layer_values(tr)
            phases["trace"] = time.perf_counter()
        wrong = wl.check()
        phases["check"] = time.perf_counter()
    finally:
        if spark is not None:
            stop_everything(spark)
        rss.close()
    phases["stop"] = time.perf_counter()
    marks = list(phases.items())
    print("perfbench: phase seconds " + " ".join(
        f"{k}={t - marks[i][1]:.1f}" for i, (k, t) in enumerate(marks[1:])),
        "walls=" + ",".join(f"{w:.2f}" for w in walls),
        f"rss_sampler_cpu={rss.cpu_s:.2f}", file=sys.stderr)
    attempted, failed = ctx.ops.totals(wrong)
    if args.trace:
        groups = summarise_event_log(run_dir)
        spark_all = rollup(groups, bool)  # every tagged job of the traced run
        values = dict.fromkeys(PER_LAYER, 0)
        values.update(layers)
        values.update(wl.layer_counts(groups))
        values.update({
            "spark.jobs": spark_all["jobs"],
            "spark.tasks": spark_all["tasks"],
            "spark.task_s": spark_all["task_s"],
            "spark.spill_bytes": spark_all["spill_bytes"],
            "spark.failed_tasks": spark_all["failed_tasks"],
            "trace.wall_s": traced_wall,
            "trace.base_wall_s": median(walls),
            "trace.span_overhead_s": traced_wall - median(walls),
        })
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "peak_rss_mb": rss.peak,
            "correct_ratio": (attempted - failed) / attempted,
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "osm2orc_spark", "__init__.py")):
        print(f"perfbench: no osm2orc_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    pin_host(run_dir)
    try:
        result = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
