"""RoadGrinder benchmark: batch grind and streaming geocode, end to end.

    python3 perfbench/run.py --workload grind_uniform --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from
--seed, sets up a local Spark session, and times the product path:
`RoadGrinderPipeline.create_output()` + `grind()` on the grind workloads,
`streaming_geocode_match` drains on `stream_geocode`. Every output is
checked against the package's DuckDB oracles. The last stdout line is
one JSON object: end-to-end metrics with --trace 0, per-layer metrics
(from a second, traced session in the same run) with --trace 1.
Everything it writes lives under `.bench_work/` in the repository root.

See perfbench/README.md for the workloads, metrics and the layer map.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import roadgrinder_spark  # noqa: E402,F401  (fail fast outside a checkout)

import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

#: local[N] over every core this process may use; memory fits a 16 GB box
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "3g"
OFFHEAP_MEM = "2g"
#: set-up repetitions per run; setup_s takes their median
SETUP_REPS = 3
GEOCODE_RADIUS_M = 200.0

#: warmup = untimed ops run before the window (part of set-up): the JIT
#: keeps speeding ops up for about five grinds or three drains
WORKLOADS = {
    "grind_uniform": {"kind": "grind", "orders": 20_000, "hot": 0.0, "warmup": 4},
    "grind_hotspot": {"kind": "grind", "orders": 20_000, "hot": 0.3, "warmup": 4},
    "stream_geocode": {"kind": "stream", "orders": 10_000, "files": 20, "warmup": 3},
}

#: checkpoint stage of RoadGrinderPipeline.grind -> layer op it times
STAGE_OPS = {
    "roads": "spans.unpack_roads",
    "addrpnts": "spans.unpack_addrpnts",
    "geocode_roads": "roadgrinder.geocode_roads",
    "scratch": "roadgrinder.scratch",
    "altnames_roads": "roadgrinder.altnames_roads",
    "altnames_addrpnts": "roadgrinder.altnames_addrpnts",
    "matches": "join.geocode_match",
    "nearest_road": "join.knn",
}
OPS = list(STAGE_OPS.values()) + ["pipeline.checkpoint", "pipeline.final_write"]
OP_FIELDS = {
    "wall_s": "s",
    "busy_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "tasks": "count",
    "failed_tasks": "count",
    "rows_out": "rows",
}
EXTRA_LAYER_METRICS = {
    "join.geocode_candidates_per_point": "rows/point",
    "join.knn_candidates_per_point": "rows/point",
    "join.geocode_task_skew": "ratio",
    "join.knn_task_skew": "ratio",
    "pipeline.jobs": "count",
    "pipeline.write_amplification": "ratio",
    "streaming.add_batch_s": "s",
    "streaming.machinery_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "session.build_s": "s",
    "setup.derive_pack_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_s": "s",
}
LAYER_UNITS = {
    **{f"{op}.{f}": u for op in OPS for f, u in OP_FIELDS.items()},
    **EXTRA_LAYER_METRICS,
}
E2E_UNITS = {
    "op_s": "s",
    "op_tail_s": "s",
    "points_per_s": "1/s",
    "matched_per_s": "1/s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
    "setup_s": "s",
}


# ---------------------------------------------------------------------------
# process environment and the Spark session
# ---------------------------------------------------------------------------


def prepare_env() -> None:
    """Keep every file the run writes (Python, JVM, Spark, DuckDB temp
    files) under WORK."""
    if WORK.exists():
        shutil.rmtree(WORK)
    for d in ("tmp", "spark-local", "trace", "events"):
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_OFFHEAP_MEM"] = OFFHEAP_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(traced: bool):
    from roadgrinder_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # the default keeps 100 progress entries; a drain has more batches
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if traced:
        conf.update(tracing.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = str(WORK / "events")
    return build_session(
        app_name="roadgrinder-bench", master=f"local[{CPUS}]", extra_conf=conf
    )


def stop_jvm() -> None:
    """Stop the gateway JVM PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def tail_percentile(n: int) -> int:
    """Highest percentile (multiple of 5) with at least ten samples
    beyond it; below 20 samples the maximum."""
    if n < 20:
        return 100
    return 5 * math.floor(20 * (1 - 10 / n))


def percentile(values: list[float], q: int) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, math.ceil(q / 100 * len(v)) - 1)]


class Counts:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    def __init__(self, spark, spec: dict, seed: int):
        self.spec, self.seed = spec, seed
        self.inputs = str(WORK / "inputs")
        self.stats: gen.GenStats | None = None
        self.use(spark)

    def use(self, spark) -> None:
        """Run on `spark` from now on; spans go to a tracer of that session."""
        self.spark = spark
        self.tracer = tracing.Tracer(spark)

    def points(self) -> int:
        return self.stats.points

    def discard(self, op: dict) -> None:
        shutil.rmtree(op["out"], ignore_errors=True)


class GrindWorkload(Workload):
    """Closed loop, one client: one grind at a time into a fresh output dir."""

    def __init__(self, spark, spec: dict, seed: int):
        super().__init__(spark, spec, seed)
        self.docs_path = str(WORK / "documents")

    def prepare(self) -> None:
        """Input generation + derive + pack into the documents table."""
        from roadgrinder_spark import datagen
        from roadgrinder_spark.operators import spans

        self.stats = gen.generate(
            self.inputs, self.seed, self.spec["orders"], self.spec["hot"]
        )
        docs = spans.pack_documents(
            datagen.derive_roads(self.spark, self.inputs),
            datagen.derive_addrpnts(self.spark, self.inputs),
        )
        docs.write.mode("overwrite").parquet(self.docs_path)

    def set_oracle(self, orc: oracle.Oracle) -> None:
        self.oracle = orc
        self.expected = orc.expected(oracle.GRIND_TABLES, GEOCODE_RADIUS_M)

    def run_op(self, run: str) -> dict:
        """One grind; returns its wall time and match count."""
        from roadgrinder_spark.plans.pipeline import GrinderConfig, RoadGrinderPipeline

        out = str(WORK / "out" / run)
        cfg = GrinderConfig(
            output_dir=out, run_id=run, geocode_radius_m=GEOCODE_RADIUS_M
        )
        docs = self.spark.read.parquet(self.docs_path)
        group = tracing.group_id(run, "pipeline.final_write")
        t0 = time.perf_counter()
        with self.tracer.span("grind", run, group):
            pipe = RoadGrinderPipeline(self.spark, cfg)
            pipe.create_output()
            res = pipe.grind(docs)
        wall = time.perf_counter() - t0
        return {"run": run, "out": out, "wall_s": wall, "matched": res.metrics["matched"]}

    def check(self, op: dict) -> bool:
        bad = self.oracle.grind_mismatches(op["out"], self.expected)
        if bad:
            print(f"# MISMATCH {op['run']}: {bad}", file=sys.stderr)
        return not bad

    def e2e(self, ops: list[dict]) -> tuple[dict, str]:
        walls = [o["wall_s"] for o in ops]
        med = statistics.median(walls)
        matched = statistics.median(o["matched"] for o in ops)
        q = tail_percentile(len(walls))
        return (
            {
                "op_s": med,
                "op_tail_s": percentile(walls, q),
                "points_per_s": self.points() / med,
                "matched_per_s": matched / med,
            },
            f"op = one grind of {self.points()} points; {len(walls)} samples; "
            f"op_tail_s = p{q}; " + " ".join(f"{w:.2f}" for w in walls),
        )

    # -- traced run ---------------------------------------------------------
    @contextmanager
    def traced(self):
        """CheckpointManager.stage wrapped in a span + the stage op's job group."""
        from roadgrinder_spark.plans.pipeline import CheckpointManager

        orig = CheckpointManager.stage

        def stage(ckpt, name, fingerprint, fn):
            run = os.path.basename(os.path.dirname(ckpt.root))
            op = STAGE_OPS.get(name, f"stage.{name}")
            with self.tracer.span(f"stage.{name}", run, tracing.group_id(run, op)):
                return orig(ckpt, name, fingerprint, fn)

        CheckpointManager.stage = stage
        try:
            yield
        finally:
            CheckpointManager.stage = orig

    def layer_metrics(self, log: tracing.EventLog, ops: list[dict]) -> dict:
        """Per-layer metrics of each traced grind; the median over grinds."""
        import inspect

        from roadgrinder_spark.plans.pipeline import CheckpointManager

        lines, first = inspect.getsourcelines(CheckpointManager.stage)
        stage_src = os.path.realpath(inspect.getsourcefile(CheckpointManager))
        stage_lines = range(first, first + len(lines))

        def is_checkpoint(props: dict) -> bool:
            # read-back schema jobs carry no SQL execution; lineage jobs
            # carry CheckpointManager.stage as their call site
            if props.get(tracing.EXEC_KEY) is None:
                return True
            site = props.get(tracing.CALLSITE_KEY) or ""
            path, _, line = site.partition(" at ")[2].rpartition(":")
            return (
                bool(path)
                and os.path.realpath(path) == stage_src
                and line.isdigit()
                and int(line) in stage_lines
            )

        per_run = []
        for op in ops:
            run = op["run"]
            groups = {tracing.group_id(run, o) for o in STAGE_OPS.values()}

            def in_run(props, run=run):
                return (props.get(tracing.GROUP_KEY) or "").startswith(run + tracing.SEP)

            m = {}
            manifest = _manifest_rows(op["out"])
            stage_span_total = 0.0
            for name, layer in STAGE_OPS.items():
                gid = tracing.group_id(run, layer)
                spans = self.tracer.of(run, f"stage.{name}")
                span_s = sum(s["end"] - s["start"] for s in spans)
                stage_span_total += span_s
                ck = tracing.summarize(
                    log, lambda p, g=gid: p.get(tracing.GROUP_KEY) == g and is_checkpoint(p)
                )
                st = tracing.summarize(
                    log,
                    lambda p, g=gid: p.get(tracing.GROUP_KEY) == g and not is_checkpoint(p),
                )
                _put_op(m, layer, st, span_s - ck.job_wall_s, manifest.get(name, 0))
                if layer == "join.geocode_match":
                    m["join.geocode_candidates_per_point"] = st.join_rows / self.points()
                    m["join.geocode_task_skew"] = st.task_skew
                elif layer == "join.knn":
                    m["join.knn_candidates_per_point"] = st.join_rows / self.points()
                    m["join.knn_task_skew"] = st.task_skew
            ck = tracing.summarize(
                log, lambda p, gs=groups: p.get(tracing.GROUP_KEY) in gs and is_checkpoint(p)
            )
            _put_op(m, "pipeline.checkpoint", ck, ck.job_wall_s, sum(manifest.values()))
            grind_span = sum(s["end"] - s["start"] for s in self.tracer.of(run, "grind"))
            fw_gid = tracing.group_id(run, "pipeline.final_write")
            fw = tracing.summarize(log, lambda p, g=fw_gid: p.get(tracing.GROUP_KEY) == g)
            out_rows = sum(
                _parquet_rows(os.path.join(op["out"], t)) for t in oracle.GRIND_TABLES
            )
            _put_op(m, "pipeline.final_write", fw, grind_span - stage_span_total, out_rows)
            m["pipeline.jobs"] = tracing.summarize(log, in_run).jobs
            m["pipeline.write_amplification"] = dir_bytes(op["out"]) / dir_bytes(
                self.docs_path
            )
            per_run.append(m)
        return _median_dicts(per_run)


class StreamWorkload(Workload):
    """Closed loop, one client: drain a backlog of point files, one file
    per micro-batch, against a static GeocodeRoads built in set-up."""

    def __init__(self, spark, spec: dict, seed: int):
        super().__init__(spark, spec, seed)
        self.src = str(WORK / "stream_src")
        self.static = None

    def prepare(self) -> None:
        """Input generation + backlog files + persisted static roads side."""
        from pyspark import StorageLevel

        from roadgrinder_spark import datagen
        from roadgrinder_spark.operators import roadgrinder as rg
        from roadgrinder_spark.streaming.geocode import POINTS_STREAM_SCHEMA

        self.stats = gen.generate(self.inputs, self.seed, self.spec["orders"])
        pts = datagen.derive_addrpnts(self.spark, self.inputs).select(
            *[f.name for f in POINTS_STREAM_SCHEMA.fields]
        )
        pts.repartition(self.spec["files"], "objectid").write.mode("overwrite").parquet(
            self.src
        )
        if self.static is not None:
            self.static.unpersist()
        self.static = rg.explode_aliases(
            datagen.derive_roads(self.spark, self.inputs)
        ).geocode_roads.persist(StorageLevel.MEMORY_AND_DISK)
        self.static.count()

    def set_oracle(self, orc: oracle.Oracle) -> None:
        self.oracle = orc
        self.expected = orc.expected(["StreamMatches"], GEOCODE_RADIUS_M)["StreamMatches"]

    def run_op(self, run: str) -> dict:
        """One availableNow drain of the whole backlog with a fresh checkpoint.
        Spark runs the query's jobs under its run id as their job group."""
        from roadgrinder_spark.streaming.geocode import streaming_geocode_match

        out = str(WORK / "out" / run)
        t0 = time.perf_counter()
        with self.tracer.span("drain", run):
            q = streaming_geocode_match(
                self.spark,
                self.src,
                self.static,
                os.path.join(out, "matches"),
                os.path.join(out, "checkpoint"),
                max_files_per_trigger=1,
                shuffle_sides=True,
            )
            q.awaitTermination()
        wall = time.perf_counter() - t0
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "run": run,
            "out": out,
            "wall_s": wall,
            "query_run_id": str(q.runId),
            "durations": [p["durationMs"] for p in batches],
        }

    def check(self, op: dict) -> bool:
        got = oracle.fingerprint(
            self.oracle.con,
            oracle.parquet_sql(os.path.join(op["out"], "matches"), oracle.STREAM_COLS),
        )
        op["matched"] = got[1]
        ok = got == self.expected and len(op["durations"]) == self.spec["files"]
        if not ok:
            print(f"# MISMATCH {op['run']}: {len(op['durations'])} batches", file=sys.stderr)
        return ok

    def e2e(self, ops: list[dict]) -> tuple[dict, str]:
        lat = [d["triggerExecution"] / 1000.0 for o in ops for d in o["durations"]]
        drain = statistics.median(o["wall_s"] for o in ops)
        matched = statistics.median(o["matched"] for o in ops)
        q = tail_percentile(len(lat))
        return (
            {
                "op_s": statistics.median(lat),
                "op_tail_s": percentile(lat, q),
                "points_per_s": self.points() / drain,
                "matched_per_s": matched / drain,
            },
            f"op = one micro-batch of ~{self.points() // self.spec['files']} points; "
            f"{len(lat)} batches in {len(ops)} drains; op_tail_s = p{q}",
        )

    def traced(self):
        return nullcontext()

    def layer_metrics(self, log: tracing.EventLog, ops: list[dict]) -> dict:
        per_run = []
        for op in ops:
            m = {}
            st = tracing.summarize(
                log, lambda p, g=op["query_run_id"]: p.get(tracing.GROUP_KEY) == g
            )
            d = op["durations"]
            add_batch = sum(x.get("addBatch", 0) for x in d) / 1000.0
            _put_op(m, "join.geocode_match", st, add_batch, op["matched"])
            m["join.geocode_candidates_per_point"] = st.join_rows / self.points()
            m["join.geocode_task_skew"] = st.task_skew

            def med(f):
                return statistics.median(f(x) for x in d) / 1000.0

            m["streaming.add_batch_s"] = med(lambda x: x.get("addBatch", 0))
            m["streaming.machinery_s"] = med(
                lambda x: x["triggerExecution"] - x.get("addBatch", 0)
            )
            m["streaming.query_planning_s"] = med(lambda x: x.get("queryPlanning", 0))
            m["streaming.wal_commit_s"] = med(
                lambda x: x.get("walCommit", 0) + x.get("commitOffsets", 0)
            )
            per_run.append(m)
        return _median_dicts(per_run)


def _put_op(m: dict, op: str, st: tracing.OpStats, wall_s: float, rows_out: int) -> None:
    m[f"{op}.wall_s"] = wall_s
    m[f"{op}.busy_s"] = st.busy_s
    m[f"{op}.gc_s"] = st.gc_s
    m[f"{op}.shuffle_write_mb"] = st.shuffle_write_mb
    m[f"{op}.spill_mb"] = st.spill_mb
    m[f"{op}.tasks"] = st.tasks
    m[f"{op}.failed_tasks"] = st.failed_tasks
    m[f"{op}.rows_out"] = rows_out


def _manifest_rows(out_dir: str) -> dict[str, int]:
    rows = {}
    with open(os.path.join(out_dir, "stages", "_manifest.jsonl")) as f:
        for line in f:
            if line.strip():
                e = json.loads(line)
                rows[e["stage"]] = e["rows"]
    return rows


def _parquet_rows(path: str) -> int:
    from roadgrinder_spark.session import parquet_row_count

    return parquet_row_count(path) or 0


def _median_dicts(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def warm_up(workload, counts: Counts, prefix: str) -> list[float]:
    """The workload's warm-up ops (the first one cold), checked; their
    wall times."""
    walls = []
    for i in range(workload.spec["warmup"]):
        op = workload.run_op(f"{prefix}{i}")
        counts.record(workload.check(op))
        workload.discard(op)
        walls.append(op["wall_s"])
    return walls


def measure(workload, counts: Counts, seconds: float, prefix: str) -> list[dict]:
    """Closed loop: start another op until `seconds` have passed, so the
    op count is ceil(seconds / op time) and the last op may run past the
    window. An op that raises counts as failed; outputs are checked
    after the window, untimed."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    for i in itertools.count():
        if time.perf_counter() - t0 >= seconds:
            break
        try:
            ops.append(workload.run_op(f"{prefix}{i}"))
        except Exception:
            traceback.print_exc()
            counts.record(False)
    if not ops:
        raise RuntimeError("every operation in the window failed")
    for op in ops:
        counts.record(workload.check(op))
    return ops


def run(name: str, seed: int, seconds: float, traced: bool) -> dict:
    spec = WORKLOADS[name]
    prepare_env()
    counts = Counts()
    t0 = time.perf_counter()
    spark = start_session(traced=False)
    session_build_s = time.perf_counter() - t0
    cls = GrindWorkload if spec["kind"] == "grind" else StreamWorkload
    wl = cls(spark, spec, seed)
    reps = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.prepare()
        reps.append(time.perf_counter() - t)
    orc = oracle.Oracle(wl.inputs, str(WORK / "tmp"), CPUS)
    wl.set_oracle(orc)
    warm = warm_up(wl, counts, "w")
    setup_s = session_build_s + statistics.median(reps) + sum(warm)

    ops = measure(wl, counts, seconds, "m")
    e2e, note = wl.e2e(ops)
    e2e["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    for op in ops:
        wl.discard(op)
    print(f"# {name} seed={seed}: {note}")

    layers = {}
    if traced:
        spark.stop()
        spark = start_session(traced=True)
        wl.use(spark)
        if spec["kind"] == "stream":
            wl.static = None
            wl.prepare()
        warm_up(wl, counts, "tw")
        with wl.traced():
            tops = measure(wl, counts, seconds, "t")
        spark.stop()
        wl.tracer.dump(str(WORK / "trace" / "spans.json"))
        log = tracing.parse_event_log(tracing.find_event_log(str(WORK / "events")))
        layers = {k: 0.0 for k in LAYER_UNITS}
        layers.update(wl.layer_metrics(log, tops))
        traced_e2e, _ = wl.e2e(tops)
        layers["trace.overhead_s"] = traced_e2e["op_s"] - e2e["op_s"]
        for op in tops:
            wl.discard(op)
    layers["session.build_s"] = session_build_s
    layers["setup.derive_pack_s"] = statistics.median(reps)
    layers["setup.warmup_s"] = sum(warm)

    orc.close()
    spark.stop()
    e2e["success_rate"] = 1.0 - counts.failed / counts.attempted
    e2e["setup_s"] = setup_s
    metrics = (
        {k: {"value": float(layers[k]), "unit": u} for k, u in LAYER_UNITS.items()}
        if traced
        else {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    )
    return {
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
