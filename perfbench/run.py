"""Crawl-engine benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload frontier_rounds --seed 1 \
        --seconds 20 --trace 0

Runs the named workload on inputs generated from --seed: set-up, then
whole operations until --seconds have passed (at least one), each checked
against its oracle. Prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, from untraced operations; with --trace 1 they are
the per-layer ones, from traced operations compared with the untraced
walls earlier runs recorded (spans are written to
.perfbench_work/spans-<workload>-<seed>.json). Exit status 1 when any
operation failed its gate, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (ROOT, WORK, job_group, median, pin_env,  # noqa: E402
                    start_spark, stop_spark)
from spans import Tracer, patched, self_times  # noqa: E402

SETUP_REPS = 3
# the root span of each measured unit (a round, or a whole refine chain)
# -> its unattributed-time and Spark-job-count metrics
ROOTS = {"scheduler.run_round": ("scheduler.unattributed_s",
                                 "scheduler.jobs_per_round"),
         "refine.chain": ("refine.unattributed_s", "refine.jobs_per_chain")}


def trace_targets():
    """(owner, attribute, span name, sink): the functions run_round calls by
    their `ccspark.scheduler` module-global names, the seen-set and
    snapshot-table methods, and the WARC record reader."""
    import ccspark.scheduler as sched
    import ccspark.warc as warc
    from ccspark.seen import SeenSet
    from ccspark.tables import SnapshotTable
    return [
        (sched, "canonicalize", "udfs.canonicalize", False),
        (sched, "batch_dedup", "scheduler.batch_dedup", False),
        (sched, "robots_admission_filter", "politeness.robots_admission",
         False),
        (sched, "schedule_frontier", "politeness.schedule_frontier", False),
        (sched, "with_fetch_offsets", "politeness.fetch_offsets", False),
        (sched, "with_fetch_sim", "fetchsim.with_fetch_sim", False),
        (sched, "discovered_docs", "fetchsim.discovered_docs", False),
        (sched, "extract_links", "extract.extract_links", False),
        (SeenSet, "filter_new", "seen.filter_new", False),
        (SeenSet, "add", "seen.add", False),
        (SnapshotTable, "commit", "tables.commit", True),
        (SnapshotTable, "read_chain", "tables.read_chain", False),
        (warc, "warc_records", "warc.records", False),
    ]


class Harness:
    """What a workload needs from the runner: a per-round timer and, while
    `traced_now` is set, spans and the patched layer functions."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.tracer = Tracer()
        self.traced_now = False
        self.units = 0

    def span(self, name: str):
        return (self.tracer.span(name) if self.traced_now
                else contextlib.nullcontext())

    def patches(self):
        return (patched(self.tracer, trace_targets()) if self.traced_now
                else contextlib.nullcontext())

    @contextlib.contextmanager
    def unit(self, root: str, key: str):
        """One measured unit (`key` names its place in an operation, e.g.
        the round number): timed, tagged with a Spark job group of its own,
        and traced under span `root` when tracing is on."""
        self.units += 1
        rec = {"traced": self.traced_now, "key": key}
        with job_group(self.spark,
                       f"{self.workload}-{self.units}-{key}") as jobs:
            t0 = time.perf_counter()
            try:
                with self.span(root), self.patches():
                    yield rec
                rec["wall_s"] = time.perf_counter() - t0
            finally:
                self.tracer.release()
            rec["jobs"] = jobs()

    def round_hook(self, run_round, r, cand, key):
        with self.unit("scheduler.run_round", key) as rec:
            rec["out"] = run_round(r, cand)
        return rec


def workloads():
    from corpus import CorpusRefine
    from crawl import CrawlFixture, FrontierRounds
    return {w.name: w for w in (FrontierRounds, CrawlFixture, CorpusRefine)}


def run_op(wl) -> dict:
    """One operation; an exception fails every unit it covers."""
    try:
        res = wl.op()
    except Exception:
        traceback.print_exc()
        return {"attempted": wl.units_per_op, "failed": wl.units_per_op,
                "problems": [("op", "raised")], "error": True}
    print("op " + json.dumps({
        "units": [{k: u[k] for k in ("key", "traced", "wall_s", "jobs",
                                     "bytes_written") if k in u}
                  for u in res["units"]], "resume_s": res["resume_s"]}),
        file=sys.stderr)
    return res


def untraced_record(path: str, ops: list[dict] | None = None) -> dict:
    """Untraced unit walls and Spark job counts by unit key, as recorded
    under WORK by earlier untraced runs of this workload; `ops` (untraced)
    are added and the record rewritten."""
    ref: dict[str, dict[str, list]] = {}
    if os.path.exists(path):
        with open(path) as fh:
            ref = json.load(fh)
    if ops:
        for u in (u for o in ops for u in o["units"]):
            r = ref.setdefault(u["key"], {"wall_s": [], "jobs": []})
            r["wall_s"].append(u["wall_s"])
            r["jobs"].append(u["jobs"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(ref, fh)
    return ref


def per_layer(spec: dict, wl, ops: list[dict], ref: dict,
              tracer: Tracer) -> dict:
    """Per-layer metrics of a traced run. Self times are seconds per
    traced unit (round or refine chain); a layer the workload never
    enters reads 0."""
    spans = tracer.spans
    st = self_times(spans)
    roots = [s for s in spans if s["parent"] is None and s["name"] in ROOTS]
    out = {m["name"]: 0.0 for m in spec["per_layer"]}
    for s in spans:
        key = s["name"] + ".self_s"
        if key in out:
            out[key] += st[s["id"]] / len(roots)
    for s in roots:
        out[ROOTS[s["name"]][0]] += st[s["id"]] / len(roots)
    units = [u for o in ops for u in o["units"]]
    out["trace.op_wall_s"] = sum(u["wall_s"] for u in units) / len(units)
    out["trace.overhead_s"] = sum(
        u["wall_s"] - median(ref[u["key"]]["wall_s"]) for u in units
    ) / len(units)
    # untraced counts: the tracer's own cache-and-count jobs excluded
    out[ROOTS[roots[0]["name"]][1]] = sum(
        median(ref[u["key"]]["jobs"]) for u in units) / len(units)
    out.update(wl.layer_counts(ops, spans))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's tests")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ccspark", "__init__.py")):
        print(f"no ccspark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    known = workloads()
    if args.workload not in known:
        print(f"unknown workload {args.workload!r}; one of {sorted(known)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    pin_env()

    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    h = Harness(spark, args.workload)
    ops: list[dict] = []
    ref_path = os.path.join(WORK, "untraced-walls",
                            f"{args.workload}-{args.scale}.json")
    try:
        wl = known[args.workload](spark, args.seed, args.scale, h)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.build()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.answers()
        setup_s = session_s + median(reps) + (time.perf_counter() - t0)

        # a traced run compares its traced walls with the untraced ones
        # earlier untraced runs in this checkout recorded; without any
        # record it measures one untraced operation itself first
        ref = untraced_record(ref_path) if args.trace else {}
        if args.trace and not ref:
            ops.append(run_op(wl))
            ref = untraced_record(ref_path, [o for o in ops
                                             if not o.get("error")])
        h.traced_now = bool(args.trace)
        t_start = time.perf_counter()
        measured: list[dict] = []
        while (not measured
               or time.perf_counter() - t_start < args.seconds):
            measured.append(run_op(wl))
        h.traced_now = False
        ops += measured
        if args.trace:
            h.tracer.dump(os.path.join(
                WORK, f"spans-{args.workload}-{args.seed}.json"))
        else:
            untraced_record(ref_path, [o for o in ops if not o.get("error")])
    finally:
        stop_spark(spark)

    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["failed"] for o in ops)
    for o in ops:
        for where, msg in o.get("problems", []):
            print(f"GATE {args.workload} seed={args.seed} {where}: {msg}",
                  file=sys.stderr)
    good = [o for o in measured if not o.get("error")]
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    if not good or (args.trace and not ref):
        values = {}
    elif args.trace:
        values = per_layer(spec, wl, good, ref, h.tracer)
    else:
        values = dict(wl.end_to_end(good), setup_s=setup_s)
    print(f"# {args.workload} seed={args.seed}: {len(good)} operations, "
          f"failed_ops_frac={failed / attempted:.4f} "
          f"({failed} of {attempted} {wl.unit_name} ops failed)")
    print(json.dumps({
        "correct": failed == 0 and bool(good),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0 if failed == 0 and good else 1


if __name__ == "__main__":
    sys.exit(main())
