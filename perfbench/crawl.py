"""The crawl workloads. One operation is an episode: a new `CrawlEngine`
over a fresh state directory runs `rounds` measured rounds, each carrying
the state the rounds before it left; then a resume probe and the gates.
The first episode of a run is the process's first crawl work, so its
rounds include the JVM's code generation and the Python workers'
start-up, as every fresh crawl process pays them.

frontier_rounds (in BENCHMARK.json): round 1 of a crawl fed by
`benchflow.synthetic_candidates` over N_HOSTS hosts. Round k takes the id
range [base + k*step, base + k*step + n) with step = n * (1 - OVERLAP).
The episode starts from the seen set round 0's batch leaves (built
through `SeenSet.add`), so round 1 re-discovers a fixed share of its
batch (the seen set drops it), and most hosts overflow their politeness
budget. The seed picks `base`, i.e. which disjoint slice of the id space,
hence which URLs; the shape (zipf hosts, 8% relative URLs) is the
generator's and does not depend on the seed. Synthetic URLs match no
document, so the discovery join and link extraction see empty inputs,
while canonicalize, politeness, the seen set and the snapshot tables
carry every row.

crawl_fixture (not in BENCHMARK.json, see README.md): rounds 0-2 over
`fixtures.make_crawl_fixture(n_docs, seed)`, checked exactly against
`oracle.run_oracle` at the same seed. A round schedules only hundreds of
URLs, so its wall is the engine's per-round fixed cost.
"""

from __future__ import annotations

import json
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from common import (WORK, GateError, dir_bytes, fresh_dir, median,
                    median_wall, table_bytes)

# resume probes: untimed warm-up calls, then the timed ones
RESUME_WARMUP, RESUME_REPS = 3, 15
# per-round counts that must repeat exactly for one seed
ROUND_KEYS = ("candidates_in", "new_seen", "dup_dropped", "scheduled",
              "frontier_depth")
# the per-round metrics run_oracle reproduces exactly
ORACLE_KEYS = ("candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "seen_total", "new_domains",
               "scheduled", "frontier_depth", "pages_discovered")


class CrawlWorkload:
    unit_name = "round"
    rounds = 2
    sizes: dict = {}
    param_overrides: dict = {}

    def __init__(self, spark, seed: int, scale: str, harness):
        from ccspark.params import CrawlParams
        self.spark = spark
        self.seed = seed
        self.size = self.sizes[scale]
        self.params = CrawlParams(rounds=self.rounds, **self.param_overrides)
        self.units_per_op = self.rounds
        self.h = harness
        self.dir = os.path.join(WORK, self.name, scale)
        self.inputs: dict | None = None

    def answers(self) -> None:
        """Oracle answers, computed once per run (none by default)."""

    def _engine(self):
        from ccspark.scheduler import CrawlEngine
        return CrawlEngine(self.spark, self.state, self.inputs["documents"],
                           self.inputs["seeds"], self.inputs["robots"],
                           params=self.params)

    def _prepare(self) -> int:
        """State the episode starts from; returns its first round."""
        return 0

    def op(self) -> dict:
        self.state = fresh_dir(os.path.join(self.dir, "state"))
        first = self._prepare()
        self.eng = self._engine()
        cand = None
        rounds = []
        for r in range(first, first + self.rounds):
            before = table_bytes(self.state)
            rec = self.h.round_hook(self.eng.run_round, r,
                                    self._candidates(r, cand), f"r{r}")
            after = table_bytes(self.state)
            cand = rec.pop("out")
            rec["bytes_written"] = {t: after[t] - before.get(t, 0)
                                    for t in after
                                    if after[t] != before.get(t, 0)}
            rounds.append(rec)
        log = self.eng.store.round_metrics()
        for rec, m in zip(rounds, log):
            rec["metrics"] = m
        res = {"units": rounds, "attempted": self.rounds,
               "state_bytes": dir_bytes(self.state),
               "filter_bytes": dir_bytes(os.path.join(self.state, "bloom")),
               "scheduled": sum(m["scheduled"] for m in log),
               "resume_s": self._resume_probe(log[-1]["round"] + 1),
               "problems": self._gate(log)}
        res["failed"] = len({r for r, _ in res["problems"]})
        return res

    def _resume_probe(self, next_round: int) -> float:
        """Median of RESUME_REPS timings, after RESUME_WARMUP untimed
        calls, of: open a new engine over the state, resume, and
        materialize the resumed candidates."""
        def resume():
            nxt, cand = self._engine().resume_round()
            if nxt != next_round or cand is None:
                raise GateError(f"resume_round returned round {nxt}")
            cand.count()
        return median_wall(resume, RESUME_REPS, RESUME_WARMUP)

    def layer_counts(self, ops: list[dict], spans: list[dict]) -> dict:
        """Per-layer counts and ratios of traced rounds, from the round log,
        the state directory and the spans."""
        rounds = [u for o in ops for u in o["units"]]
        ms = [u["metrics"] for u in rounds]
        n_in = sum(m["candidates_in"] for m in ms)
        kept = sum(m["dup_dropped"] + m["new_seen"] for m in ms)
        # rows entering politeness: the carried frontier plus the round's
        # new URLs, i.e. what is left afterwards plus what was scheduled
        frontier_in = sum(m["frontier_depth"] + m["scheduled"] for m in ms)
        pages = sum(m["pages_discovered"] for m in ms)
        links = sum(s.get("rows_out", 0) for s in spans
                    if s["name"] == "extract.extract_links")
        return {
            "udfs.canonicalize.rows_out_frac":
                sum(m["candidates_in"] - m["malformed_dropped"] for m in ms)
                / n_in if n_in else 0.0,
            "seen.dedup_rate":
                sum(m["dup_dropped"] for m in ms) / kept if kept else 0.0,
            "politeness.scheduled_frac":
                sum(m["scheduled"] for m in ms) / frontier_in
                if frontier_in else 0.0,
            "seen.filter_bytes": median(o["filter_bytes"] for o in ops),
            "tables.commits_per_round":
                sum(1 for s in spans if s["name"] == "tables.commit")
                / len(rounds),
            "tables.bytes_written_per_round":
                sum(sum(u["bytes_written"].values()) for u in rounds)
                / len(rounds),
            "extract.links_per_page": links / pages if pages else 0.0,
        }

    def end_to_end(self, ops: list[dict]) -> dict:
        rounds = [u for o in ops for u in o["units"]]
        walls = [u["wall_s"] for u in rounds]
        return {
            "throughput_per_s": sum(u["metrics"]["scheduled"] for u in rounds)
            / sum(walls),
            "op_s_p50": median(walls),
            "resume_s": median(o["resume_s"] for o in ops),
            "state_bytes_per_unit": median(o["state_bytes"] / o["scheduled"]
                                           for o in ops),
        }


def _empty_inputs(d: str) -> dict[str, str]:
    """Empty documents table, empty seed list and empty robots cache:
    every host then gets the default crawl delay."""
    from ccspark.fixtures import SPAN_TYPE
    paths = {t: os.path.join(d, f"{t}.parquet")
             for t in ("documents", "seeds", "robots")}
    pq.write_table(pa.table({
        "doc_id": pa.array([], pa.string()),
        "page_url": pa.array([], pa.string()),
        "spans": pa.array([], pa.list_(SPAN_TYPE))}), paths["documents"])
    pq.write_table(pa.table({"url": pa.array([], pa.string())}),
                   paths["seeds"])
    pq.write_table(pa.table({
        "host": pa.array([], pa.string()),
        "crawl_delay": pa.array([], pa.float64()),
        "disallow": pa.array([], pa.list_(pa.string())),
        "allow": pa.array([], pa.list_(pa.string())),
        "fetched_at": pa.array([], pa.timestamp("ms"))}), paths["robots"])
    return paths


class FrontierRounds(CrawlWorkload):
    name = "frontier_rounds"
    sizes = {"full": {"n": 2_000}, "tiny": {"n": 1_000}}
    # 40 zipf hosts under a 6 s round, i.e. a 40-URL budget per host at the
    # default 0.15 s delay: most hosts overflow it, so politeness keeps
    # the best 40 of each and the frontier holds the rest
    N_HOSTS = 40
    param_overrides = {"round_seconds": 6.0}
    rounds = 1
    OVERLAP = 0.25

    def build(self) -> None:
        self.inputs = _empty_inputs(fresh_dir(os.path.join(self.dir, "in")))

    def _candidates(self, r: int, prev=None):
        from ccspark.benchflow import synthetic_candidates
        n = self.size["n"]
        start = self.seed * 1_000_000_000 + r * int(n * (1 - self.OVERLAP))
        return synthetic_candidates(self.spark, n, n_hosts=self.N_HOSTS,
                                    start=start)

    def _prepare(self) -> int:
        """The seen set after round 0: round 0's batch canonicalized,
        deduplicated and added through the seen set's own API, so the
        measured round 1 probes a populated filter and drops the
        re-discovered share of its batch. (A full round 0 would double
        the run: on a fresh JVM each round costs ~30 s of compilation.)"""
        from ccspark.scheduler import batch_dedup, canonicalize
        from ccspark.seen import SeenSet, with_bucket
        from ccspark.tables import SnapshotStore
        seen = SeenSet(SnapshotStore(self.spark, self.state),
                       partitions=self.params.seen_partitions)
        seen.add(with_bucket(batch_dedup(canonicalize(self._candidates(0), 0)),
                             partitions=seen.partitions), 0)
        return 1

    def _gate(self, log) -> list[tuple[int, str]]:
        """No URL scheduled twice; every host within its per-round budget;
        seen_total equal to the distinct seen URLs; per-round counts and
        scheduled checksums equal to any earlier run of this seed. A
        run-wide violation fails every round."""
        from pyspark.sql import functions as F
        p = self.params
        problems = []
        sched = self.eng.scheduled_tbl.read_chain()
        per_host = (sched.groupBy("fetch_round", "host_key").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("url", "fetch_offset_ms"),
                         F.lit(2_147_483_647))).alias("h"))
            .collect())
        sums: dict[int, list[int]] = {}
        for row in per_host:
            acc = sums.setdefault(row.fetch_round, [0, 0])
            acc[0] += row.n
            acc[1] += row.h
        n_sched = sum(n for n, _ in sums.values())
        n_urls = sched.select("url").distinct().count()
        if n_sched != n_urls:
            problems.append(f"{n_sched - n_urls} URLs scheduled twice")
        if n_sched != sum(m["scheduled"] for m in log):
            problems.append("scheduled rows differ from the round log")
        # the engine computes floor(round_seconds / delay) in doubles
        budget = math.floor(p.round_seconds / p.default_crawl_delay)
        over = sum(1 for row in per_host if row.n > budget)
        if over:
            problems.append(f"{over} host-rounds over the {budget} budget")
        seen = self.eng.seen.seen_df().agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url").alias("d")).collect()[0]
        if not (seen.n == seen.d == log[-1]["seen_total"]):
            problems.append(f"seen_total {log[-1]['seen_total']} vs "
                            f"{seen.d} distinct of {seen.n} seen rows")
        problems += self._check_repeat({
            str(m["round"]): [m[k] for k in ROUND_KEYS]
            + sums.get(m["round"], [0, 0]) for m in log})
        return [(m["round"], msg) for msg in problems for m in log]

    def _check_repeat(self, rounds: dict) -> list[str]:
        """Per-round counts and checksums must equal those recorded by any
        earlier run of this seed and size in this checkout (under WORK)."""
        path = os.path.join(WORK, "fingerprints", f"{self.name}-n"
                            f"{self.size['n']}-h{self.N_HOSTS}-{self.seed}.json")
        known = {}
        if os.path.exists(path):
            with open(path) as fh:
                known = json.load(fh)
        bad = [f"round {r}: {v} differs from the recorded {known[r]}"
               for r, v in rounds.items() if r in known and known[r] != v]
        if not bad:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                json.dump({**known, **rounds}, fh)
        return bad


class CrawlFixture(CrawlWorkload):
    name = "crawl_fixture"
    sizes = {"full": {"n_docs": 1000}, "tiny": {"n_docs": 120}}
    rounds = 3

    def build(self) -> None:
        from ccspark.fixtures import make_crawl_fixture
        self.inputs = make_crawl_fixture(
            fresh_dir(os.path.join(self.dir, "fx")),
            n_docs=self.size["n_docs"], seed=self.seed)

    def answers(self) -> None:
        from ccspark.oracle import run_oracle
        o = run_oracle(self.inputs["documents"], self.inputs["seeds"],
                       self.inputs["robots"], self.params)
        self.want = {
            "scheduled": [[(c["url"], c["priority"]) for c in rnd]
                          for rnd in o.scheduled],
            "seen": dict(o.seen),
            "metrics": [{k: m[k] for k in ORACLE_KEYS} for m in o.metrics],
        }

    def _candidates(self, r: int, prev):
        from ccspark.scheduler import seeds_to_candidates
        if r == 0:
            return seeds_to_candidates(
                self.spark.read.parquet(self.inputs["seeds"]))
        return prev

    def _gate(self, log) -> list[tuple[int, str]]:
        """Per round: scheduled rows in total order and the round metrics
        equal the oracle's; a seen-set mismatch fails every round."""
        n = len(log)
        bad = []
        got: dict[int, list] = {}
        for row in (self.eng.scheduled_rounds()
                    .select("fetch_round", "url", "priority").collect()):
            got.setdefault(row.fetch_round, []).append((row.url, row.priority))
        for r in range(n):
            if got.get(r, []) != self.want["scheduled"][r]:
                bad.append((r, "scheduled ordering differs from the oracle"))
            if {k: log[r][k] for k in ORACLE_KEYS} != self.want["metrics"][r]:
                bad.append((r, "round metrics differ from the oracle"))
        seen = {row.url: row.first_round for row in
                self.eng.seen.seen_df().select("url", "first_round").collect()}
        if seen != self.want["seen"]:
            bad += [(r, "seen set differs from the oracle") for r in range(n)]
        return bad
