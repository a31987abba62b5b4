#!/usr/bin/env python3
"""Lake lifecycle and serving benchmark for DataLakeEngine.

    python3 lakebench/run.py --workload lake_lifecycle --seed 1 --seconds 12 --trace 0
    python3 lakebench/run.py --repeat 10 --workload lake_serving --seconds 12

Run from the repository root. One client thread drives the engine in a
closed loop on Spark local[nproc]. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before it
carries host witnesses and sample counts. Untraced runs report the
end-to-end metrics, traced runs (--trace 1) the per-layer ones and write
their spans under lakebench/results/. See lakebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from gen import LOOKUP_KINDS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RESULTS = HERE / "results"

BATCH_ROWS = 120
READ_ROUNDS = 5  # per timed lifecycle cycle
CYCLE_SECONDS = 8  # --seconds per timed lifecycle cycle
ROUND_SECONDS = 2  # --seconds per measured serving round
MIN_ROUNDS = 3  # measured serving rounds
FRESH_POLLS = 10
VECTORS = 128
VECTOR_CELLS = 8

E2E = {
    "setup_s": "s",
    "ingest_records_per_s": "1/s",
    "ingest_p50_s": "s",
    "freshness_p50_s": "s",
    "lookup_p50_s": "s",
    "search_p50_s": "s",
    "reads_per_s": "1/s",
    "bytes_per_user_byte": "ratio",
}
LAYER_OPS = (
    "ingest_batch",
    "publish_versioned",
    "index_incremental",
    "search_tf",
    "search_bm25",
    "search_metadata",
    "vector_search_batch",
    "query_by_id",
    "get_content",
    "sql",
    "process",
    "maintain",
    "merge_versioned",
    "build_vector_index",
)
LAKE_COUNTS = {"lake.meta_files": "_meta", "lake.raw_files": "raw", "lake.search_index_files": "_search_index"}
WORKLOADS = ("lake_lifecycle", "lake_serving")


def layer_units() -> dict[str, str]:
    from probe import COUNTERS

    unit = {"wall_s": "s", "exec_cpu_s": "s", "driver_s": "s", "shuffle_bytes": "B", "input_bytes": "B"}
    out = {f"engine.{op}.{k}": unit.get(k, "count") for op in LAYER_OPS for k in COUNTERS}
    out.update(dict.fromkeys(LAKE_COUNTS, "count"))
    out["host.peak_rss_mb"] = "MB"
    return out


class Run:
    """One workload run: the engine, the model, and the tallies. Only
    measured calls (after set-up) land in the latency lists."""

    def __init__(self, spark, eng, rec, model) -> None:
        self.spark, self.eng, self.rec, self.model = spark, eng, rec, model
        self.attempted = 0
        self.errors: list[str] = []
        self.last_wall: float | None = None
        self.ingest: list[float] = []
        self.ingest_rows = 0
        self.fresh: list[float] = []
        self.maint: list[float] = []
        self.merge_plan: tuple[list, list] | None = None  # (table, keyed batch)
        self.rounds: list[dict[str, float]] = []  # per read round: kind -> wall
        self.vectors: list[list[float]] = []

    def fail(self, what: str) -> None:
        self.errors.append(what[:300])

    def op(self, name: str, fn, check=None, what: str = ""):
        """Call the engine once; an exception or a failed check counts
        as one failed operation. Returns the result, or None, and leaves
        the call's wall time in `last_wall` (None if it raised). The
        check runs outside the timed region."""
        self.attempted += 1
        self.last_wall = None
        try:
            out = self.rec.call(name, fn)
        except Exception as e:  # noqa: BLE001 - a failing op is a result
            self.fail(f"{name}{what}: {type(e).__name__}: {e}")
            return None
        self.last_wall = self.rec.walls[name][-1]
        if check is not None and not check(out):
            self.fail(f"{name}{what}: wrong result")
            return None
        return out

    # -- writes -------------------------------------------------------------
    def ingest_batch(self, b, measure: bool) -> tuple[list[str], float]:
        from gen import RULES

        t0 = time.perf_counter()
        ids = self.op(
            "ingest_batch",
            lambda: self.eng.ingest_batch(
                b.records, data_type=b.data_type, owner=b.owner, tags=b.tags, validate=RULES[b.data_type]
            ),
            check=lambda ids: self.model.accept(b, ids),
            what=f" cycle {b.cycle}",
        )
        if measure and self.last_wall is not None:
            self.ingest.append(self.last_wall)
            self.ingest_rows += len(b.records)
        return ids or [], t0

    def await_fresh(self, cycle: int, ids: list[str], t0: float, measure: bool) -> None:
        """Search the cycle's unique token until every accepted id is
        returned; freshness runs from the ingest call to that reply."""
        from gen import fresh_token

        want = set(ids)
        self.attempted += 1
        for _ in range(FRESH_POLLS):
            try:
                got = self.rec.call("search_tf", lambda: self.eng.search(fresh_token(cycle)).select("id").collect())
            except Exception as e:  # noqa: BLE001
                self.fail(f"freshness cycle {cycle}: {type(e).__name__}: {e}")
                return
            got = {r.id for r in got}
            if not got <= want:
                self.fail(f"freshness cycle {cycle}: foreign ids returned")
                return
            if got == want and want:
                if measure:
                    self.fresh.append(time.perf_counter() - t0)
                return
        self.fail(f"freshness cycle {cycle}: not searchable after {FRESH_POLLS} polls")

    def maintenance(self, accounts: list, rows: list) -> None:
        """Publish the keyed `accounts` table, `maintain`, then
        `merge_versioned` of a keyed batch into it; the merged table is
        checked against the model outside the timed region."""
        eng = self.eng
        acct = self.spark.createDataFrame(accounts, "k long, tier string, balance double")
        if self.op("publish_versioned", lambda: eng.publish_versioned("accounts", acct)) is not None:
            self.model.merge(accounts)
        t0 = time.perf_counter()
        self.op("maintain", eng.maintain, lambda r: isinstance(r, dict))
        src = self.spark.createDataFrame(rows, "k long, tier string, balance double")
        if self.op("merge_versioned", lambda: eng.merge_versioned("accounts", src, "k")) is not None:
            self.model.merge(rows)
        self.maint.append(time.perf_counter() - t0)
        got = {r.k: (r.tier, r.balance) for r in eng.read_versioned("accounts").collect()}
        self.attempted += 1
        if got != self.model.accounts:
            self.fail("merge_versioned: table differs from model")

    # -- reads --------------------------------------------------------------
    def read_round(self, ops: list, key_id, measure: bool, group: str | None = None) -> None:
        """One read round from a plan; `key_id` maps a plan key to a
        record id. Unmeasured rounds are checked but not kept. With
        `group`, each read is its own span group."""
        walls = {}
        for op in ops:
            if group:
                self.rec.open_group(group)
            self.read(op, key_id)
            if group:
                self.rec.close_group()
            if self.last_wall is not None:
                walls[op[0]] = self.last_wall
        if measure:
            self.rounds.append(walls)

    def read(self, op: list, key_id) -> None:
        m, eng = self.model, self.eng
        kind = op[0]
        self.last_wall = None
        if kind in LOOKUP_KINDS:
            rid = key_id(op)
            d = m.docs.get(rid)
            if d is None:
                self.attempted += 1
                self.fail(f"{kind}: plan key {op[1:]} has no accepted record")
            elif kind == "query_by_id":
                ok = lambda rows: (  # noqa: E731
                    len(rows) == 1
                    and rows[0].id == rid
                    and rows[0].data_type == d.data_type
                    and rows[0].owner == d.owner
                    and list(rows[0].tags or []) == d.tags
                    and rows[0].size_bytes == len(d.payload.encode())
                )
                self.op(kind, lambda: eng.query_by_id(rid).collect(), ok)
            else:
                ok = lambda rows: (  # noqa: E731
                    len(rows) == 1 and rows[0].payload == d.payload and rows[0].data_type == d.data_type
                )
                self.op(kind, lambda: eng.get_content(rid).collect(), ok)
            return
        if kind == "search_metadata":
            want = m.ids_tagged(op[1], op[2])
            self.op(
                kind,
                lambda: eng.search_metadata(data_type=op[1], tags=[op[2]]).collect(),
                lambda rows: len(rows) == len(want) and {r.id for r in rows} == want,
            )
        elif kind in ("search_tf", "search_bm25"):
            # bm25 must return the same id set as tf, which is the model's
            want = m.ids_with_token(op[1])
            rank = kind.split("_")[1]
            self.op(
                kind,
                lambda: eng.search(op[1], rank=rank).collect(),
                lambda rows: {r.id for r in rows} == want and (rank == "tf" or len(rows) == len(want)),
                f" {op[1]}",
            )
        elif kind == "vector_search_batch":
            queries = list(enumerate(op[1]))
            self.op(
                kind,
                lambda: eng.vector_search_batch(queries, k=5, nprobe=VECTOR_CELLS).collect(),
                lambda rows: self.vectors_ok(queries, rows),
            )
        elif kind == "sql":
            n, b = m.type_counts(op[1])
            q = (
                "SELECT count(*) AS n, sum(size_bytes) AS b FROM lake_meta "
                f"WHERE data_type = '{op[1]}' AND status = 'ingested'"
            )
            self.op(kind, lambda: eng.sql(q).collect(), lambda rows: (rows[0].n, rows[0].b or 0) == (n, b))
        else:
            raise ValueError(f"unknown read {kind!r}")

    def vectors_ok(self, queries, rows, k: int = 5) -> bool:
        """Exact top-k cosine over the whole corpus (every cell probed);
        ties within 1e-6 may come back in either order."""
        for qid, q in queries:
            qn = math.sqrt(sum(x * x for x in q))
            score = {
                vid: sum(a * b for a, b in zip(v, q)) / (math.sqrt(sum(a * a for a in v)) * qn)
                for vid, v in enumerate(self.vectors)
            }
            best = sorted(score.values(), reverse=True)[:k]
            got = [r for r in rows if r.query_id == qid]
            if len(got) != k:
                return False
            for r, s in zip(sorted(got, key=lambda r: r.rk), best):
                if abs(score[r.vec_id] - s) > 1e-6 or abs(r.score - score[r.vec_id]) > 1e-5:
                    return False
        return True


# -- workloads ----------------------------------------------------------------


def lake_lifecycle(run: Run, seed: int, seconds: int) -> float:
    """Writes beside reads on a growing lake; returns the measure start.
    Set-up ends with a warm-up cycle (made and checked, not timed), so
    the write calls the timed cycles make have run once. A cycle ingests
    a batch, runs index_incremental and the freshness search; a timed
    cycle then makes READ_ROUNDS read rounds. The run's first round is
    the JVM's first call of each read kind, which the median over rounds
    absorbs.
    The work is fixed by --seconds (one timed cycle per CYCLE_SECONDS),
    not by the clock, so every run ends with a lake of the same size.
    The maintenance round is left to traced runs (see run_once)."""
    from gen import lifecycle_plan

    eng, rec, m = run.eng, run.rec, run.model
    timed = max(1, seconds // CYCLE_SECONDS)
    plan = lifecycle_plan(seed, 1 + timed, BATCH_ROWS, READ_ROUNDS)
    run.merge_plan = (plan["accounts"], plan["merges"][1])
    t_measure = time.perf_counter()
    for c, b in enumerate(plan["batches"]):
        measure = c > 0
        if c == 1:
            t_measure = time.perf_counter()
        rec.open_group("cycle")
        ids, t0 = run.ingest_batch(b, measure)
        run.op("index_incremental", eng.index_incremental, lambda n: n == len(ids), f" cycle {c}")
        run.await_fresh(c, ids, t0, measure)
        for ops in plan["reads"][c]:
            run.read_round(ops, lambda op: m.by_cycle.get(op[1], [None] * BATCH_ROWS)[op[2]], measure)
        rec.close_group()
    return t_measure


def lake_serving(run: Run, seed: int, seconds: int) -> float:
    """Reads only, on a lake that set-up builds: ingest, process (which
    indexes), vector index, then one warm-up read round. Its write-path
    metrics are single cold samples from that build, the JVM's first
    Spark jobs. The measured read rounds are fixed by --seconds (one per
    ROUND_SECONDS, at least MIN_ROUNDS), not by the clock, so a slow
    host does not cut them short at a point where reads still warm up."""
    from gen import serving_plan

    eng, rec, m = run.eng, run.rec, run.model
    plan = serving_plan(seed, BATCH_ROWS, 1 + max(MIN_ROUNDS, seconds // ROUND_SECONDS), VECTORS)
    run.vectors = plan["vectors"]
    rec.open_group("build")
    starts = [run.ingest_batch(b, True) for b in plan["batches"]]
    run.op("process", lambda: eng.process().count(), lambda n: n == len(m.docs))
    for b, (ids, ts) in zip(plan["batches"], starts):
        run.await_fresh(b.cycle, ids, ts, True)
    vecs = run.spark.createDataFrame(list(enumerate(plan["vectors"])), "vec_id long, embedding array<double>")
    run.op("build_vector_index", lambda: eng.build_vector_index(vecs, n_cells=VECTOR_CELLS))
    eng.register_table("lake_meta", eng.meta())
    rec.close_group()
    key = lambda op: m.order[op[1]]  # noqa: E731
    run.read_round(plan["rounds"][0], key, measure=False, group="read")
    t_measure = time.perf_counter()
    for ops in plan["rounds"][1:]:
        run.read_round(ops, key, measure=True, group="read")
    return t_measure


# -- one run ------------------------------------------------------------------


def start_spark(work: Path):
    from serverless_datalake_aws_spark.session import get_session
    from probe import nproc

    # C1 only: a run's JVM lives about a minute, too short for C2 to
    # settle, so with it each run times a different point of the JIT's
    # warm-up; with C1 alone per-round read times are flat after the
    # first round and runs agree more closely (lakebench/README.md)
    opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    return get_session(
        app_name="lakebench",
        cpus=nproc(),
        extra_conf={"spark.driver.extraJavaOptions": opts},
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM: the gateway JVM exits when its
    stdin closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    from bench import _cpu_probe
    from probe import Recorder, dir_stats, nproc, rss_peak_mb, self_times, steal_s, tail

    la0 = list(os.getloadavg())
    probe_pre = _cpu_probe()
    steal0, cpu0, wall0 = steal_s(), os.times(), time.perf_counter()
    work = HERE / "work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every temporary file inside the working tree; SPARK_LOCAL_DIRS
    # overrides spark.local.dir, so it is set rather than inherited
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    # spark-class starts a launcher JVM before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={work / 'tmp'}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    t_setup = time.perf_counter()
    from gen import LakeModel
    from serverless_datalake_aws_spark.engine import DataLakeEngine

    spark = start_spark(work)
    t_session = time.perf_counter()
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        run = Run(spark, DataLakeEngine(spark, str(work / "lake")), Recorder(spark, trace), LakeModel())
        t_measure = {"lake_lifecycle": lake_lifecycle, "lake_serving": lake_serving}[workload](run, seed, seconds)
        setup_s = t_measure - t_setup
        lake_bytes, files = dir_stats(str(work / "lake"))
        # the maintenance round feeds no end-to-end metric, and its cold
        # calls (about 10 s) would not fit the run budget, so only traced
        # runs make it, after the end-to-end figures are taken
        if trace and run.merge_plan:
            run.rec.open_group("maintenance")
            run.maintenance(*run.merge_plan)
            run.rec.close_group()
        rss = rss_peak_mb([os.getpid(), jvm_pid])
    finally:
        t_end = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        t_down = time.perf_counter()
    cpu1, steal1, wall1 = os.times(), steal_s(), time.perf_counter()
    probe_post = _cpu_probe()

    # per round: the time spent in lookups and in searches
    lookups = [sum(w for k, w in r.items() if k in LOOKUP_KINDS) for r in run.rounds]
    searches = [sum(w for k, w in r.items() if k not in LOOKUP_KINDS) for r in run.rounds]
    reads = sum(len(r) for r in run.rounds)
    ingest_tail, ingest_pct = tail(run.ingest) if run.ingest else (0.0, 0)
    fresh_tail, fresh_pct = tail(run.fresh) if run.fresh else (0.0, 0)
    lookup_tail, lookup_pct = tail(lookups) if lookups else (0.0, 0)
    search_tail, search_pct = tail(searches) if searches else (0.0, 0)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    e2e = {
        "setup_s": setup_s,
        "ingest_records_per_s": run.ingest_rows / sum(run.ingest) if run.ingest else 0.0,
        "ingest_p50_s": med(run.ingest),
        "freshness_p50_s": med(run.fresh),
        "lookup_p50_s": med(lookups),
        "search_p50_s": med(searches),
        # reads of a round over the median round's read time
        "reads_per_s": reads / len(run.rounds) / med([a + b for a, b in zip(lookups, searches)]) if reads else 0.0,
        "bytes_per_user_byte": lake_bytes / max(1, run.model.payload_bytes()),
    }
    # tails and per-kind medians: in the detail line, not in the result
    # line (below 22 samples a tail is the median, see probe.tail)
    tails = {
        "ingest_tail_s": [ingest_tail, ingest_pct, len(run.ingest)],
        "freshness_tail_s": [fresh_tail, fresh_pct, len(run.fresh)],
        "lookup_tail_s": [lookup_tail, lookup_pct, len(lookups)],
        "search_tail_s": [search_tail, search_pct, len(searches)],
    }
    kinds = sorted({k for r in run.rounds for k in r})
    per_kind = {k: med([r[k] for r in run.rounds if k in r]) for k in kinds}
    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "e2e": e2e,
        "samples": {"ingest": len(run.ingest), "freshness": len(run.fresh), "read_rounds": len(run.rounds)},
        "maintenance_s": run.maint,
        "tails": tails,
        "read_kind_p50_s": per_kind,
        "attempted": run.attempted,
        "failed": len(run.errors),
        "ops_failed_ratio": len(run.errors) / max(1, run.attempted),
        "peak_rss_mb": rss,
        "phase_s": {"session": t_session - t_setup, "teardown": t_down - t_end},
        "op_walls_s": {k: [len(v), sum(v)] for k, v in run.rec.walls.items()},
        "lookup_s": lookups,
        "search_s": searches,
        "errors": run.errors[:20],
        "host": {
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_start": la0,
            # over the run: this process and its JVM (a waited-for child),
            # and CPU time stolen by other guests, per CPU
            "run_wall_s": wall1 - wall0,
            "run_cpu_s": sum(cpu1[:4]) - sum(cpu0[:4]),
            "steal_s_per_cpu": (steal1 - steal0) / nproc(),
            "cpu_probe_pre": probe_pre,
            "cpu_probe_post": probe_post,
        },
    }
    if trace:
        layers = run.rec.layer_metrics(list(LAYER_OPS))
        for name, top in LAKE_COUNTS.items():
            layers[name] = files.get(top, 0)
        layers["host.peak_rss_mb"] = rss
        detail["layers"] = layers
        detail["self_s"] = self_times(run.rec.spans)
        base = RESULTS / f"{workload}-s{seed}-n{seconds}-t0.json"
        if base.exists():
            untraced = json.loads(base.read_text())["e2e"]
            detail["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
        else:
            detail["tracing_overhead"] = f"no untraced run of this seed in {base.parent.name}/"
    RESULTS.mkdir(exist_ok=True)
    (RESULTS / f"{workload}-s{seed}-n{seconds}-t{int(trace)}.json").write_text(json.dumps(detail, indent=1))
    if trace:
        spans = {"spans": run.rec.spans, "self_s": detail["self_s"]}
        (RESULTS / f"trace-{workload}-s{seed}-n{seconds}.json").write_text(json.dumps(spans))
    return detail


def result_line(detail: dict, trace: bool, attempted: int, failed: int) -> dict:
    if trace:
        units = layer_units()
        metrics = {k: {"value": detail["layers"][k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": detail["e2e"][k], "unit": u} for k, u in E2E.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


# -- repeat mode -----------------------------------------------------------------


def repeat(workloads: list[str], n: int, seconds: int, trace: int, first_seed: int) -> None:
    """Run each workload n times with seeds first_seed.. and print, per
    metric, the median and the interquartile spread as a share of it,
    with each run's wall time and host witnesses."""
    summary = {}
    for w in workloads:
        values: dict[str, list[float]] = {}
        runs = []
        failed = 0
        for seed in range(first_seed, first_seed + n):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed)]
            cmd += ["--seconds", str(seconds), "--trace", str(trace)]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            wall = time.perf_counter() - t0
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
                failed += 1
                continue
            res = json.loads(lines[-1])
            failed += res["failed"]
            runs.append({"seed": seed, "wall_s": round(wall, 1), **json.loads(lines[-2])["host"]})
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{w} seed {seed} ({wall:.0f} s): {json.dumps(vals)}", flush=True)
        rows = {}
        for k, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            rows[k] = {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None, "n": len(vs)}
            print(f"{w:15s} {k:32s} median {q2:12.4f}  spread {rows[k]['spread'] or 0:7.3f}")
        summary[w] = {"failed": failed, "metrics": rows, "runs": runs}
    RESULTS.mkdir(exist_ok=True)
    (RESULTS / f"repeat-t{trace}-n{seconds}-s{first_seed}.json").write_text(json.dumps(summary, indent=1))
    print(json.dumps(summary))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="lake_lifecycle", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="run each workload N times (seeds --seed..)")
    args = ap.parse_args()
    if not (ROOT / "serverless_datalake_aws_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"lakebench: the engine package and bench.py must sit beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    workloads = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if args.repeat:
        repeat(workloads, args.repeat, args.seconds, args.trace, args.seed)
        return 0
    if len(workloads) != 1:
        ap.error("--workload all needs --repeat")
    detail = run_once(workloads[0], args.seed, args.seconds, bool(args.trace))
    print(json.dumps({k: v for k, v in detail.items() if k not in ("layers",)}))
    print(json.dumps(result_line(detail, bool(args.trace), detail["attempted"], detail["failed"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
