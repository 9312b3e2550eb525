#!/usr/bin/env python3
"""perfbench: closed-loop benchmark of the sparkstash engine on local[4].

    python3 perfbench/run.py --workload logs_standard --seed 1 --seconds 10 --trace 0

One client issues one top-level call at a time; each call starts after
the previous one finished. Inputs come from `gen.py`, run as its own
process before anything is timed. The last stdout line is one JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it
is the full record (seed, host context, samples).

See perfbench/README.md for the workloads and the metric-to-layer map.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

CPUS = 4  # local[CPUS]; records taken at another core count are not comparable
SETUPS = 2  # set-ups per run; setup_s is their median
MIN_CALLS = 3  # warm calls per untraced run, even when --seconds runs out first

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s"}

# per-layer metrics, printed with --trace 1; a workload prints the
# shared ones plus those of the layers it drives
SHARED_LAYERS = {
    "jvm.peak_rss_mb": "MB",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "functions.partitions.spread_call_s": "s",
    "trace.overhead_s": "s",
}
PIPELINE_LAYERS = {
    "operators.parse.self_s": "s",
    "operators.parse.busy_s": "s",
    "operators.parse.grok_hit_ratio": "ratio",
    "operators.enrich.self_s": "s",
    "operators.mutate.self_s": "s",
    "plans.route.self_s": "s",
    "plans.fanout_ratio": "ratio",
    "plans.compile_s": "s",
    "runner.self_s": "s",
    "runner.aggregate.self_s": "s",
    "runner.write_lineage_s": "s",
    "runner.files_written": "count",
    "runner.mean_file_mb": "MB",
    "runner.shuffle_write_bytes": "bytes",
    "runner.spill_bytes": "bytes",
    "runner.busy_share": "ratio",
    "runner.failed_tasks": "count",
    "runner.rows_unaccounted": "count",
}
MLOPS_LAYERS = {
    "mlops.dedup.shingle_s": "s",
    "mlops.dedup.signature_s": "s",
    "mlops.dedup.band_s": "s",
    "mlops.dedup.pairs_s": "s",
    "mlops.dedup.components_s": "s",
    "mlops.dedup.candidate_pairs": "count",
    "mlops.dedup.verified_pairs": "count",
    "mlops.dedup.verify_yield": "ratio",
    "mlops.dedup.shuffle_write_bytes": "bytes",
    "mlops.dedup.docs_lost": "count",
    "mlops.ann.semdedup_s": "s",
    "mlops.ann.kept": "count",
    "mlops.ann.busy_share": "ratio",
}


def noop(df) -> None:
    """Run a frame's whole plan without writing output."""
    df.write.format("noop").mode("overwrite").save()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------- tracing


class Tracer:
    """Spans around calls into the engine's public functions, kept in
    memory. Each span runs under its own Spark job group, so the status
    store attributes stages to it; `fill_counts` reads them back after
    the call, outside the span."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.opened = 0

    @contextlib.contextmanager
    def span(self, name: str, run_id: str, parent: dict | None = None):
        rec = {
            "id": "%s/%d" % (run_id, self.opened),
            "name": name,
            "run_id": run_id,
            "parent": parent["id"] if parent else None,
        }
        self.opened += 1
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def fill_counts(self) -> None:
        """Per-span stage totals from the status store (readable with
        the UI disabled)."""
        todo = {s["id"]: s for s in self.spans if "counts" not in s}
        if not todo:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        stage_span: dict[int, str] = {}
        for job in conv.asJava(store.jobsList(jvm.java.util.ArrayList())):
            grp = job.jobGroup()
            if grp.isDefined() and grp.get() in todo:
                for sid in conv.asJava(job.stageIds()):
                    stage_span[int(sid)] = grp.get()
        for rec in todo.values():
            rec["counts"] = {
                "run_s": 0.0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "fetch_wait_s": 0.0, "failed_tasks": 0,
            }
        no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False, no_quantiles, jvm.java.util.ArrayList()
        )
        for st in conv.asJava(stages):
            sid = int(st.stageId())
            if sid not in stage_span or str(st.status()) == "SKIPPED":
                continue
            c = todo[stage_span[sid]]["counts"]
            c["run_s"] += st.executorRunTime() / 1000.0
            c["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            c["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
            c["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1000.0
            c["failed_tasks"] += int(st.numFailedTasks())


def self_s(span: dict, parent: dict) -> float:
    """A prefix span's own time: its wall minus the wall of the prefix
    it extends (the work of the parent is re-run inside it)."""
    return span["wall_s"] - parent["wall_s"]


# ------------------------------------------------------------- workloads


class LogsWorkload:
    """run_pipeline(write_mode="partitioned") over generated transcripts."""

    compiles = True
    layers = {**SHARED_LAYERS, **PIPELINE_LAYERS}
    top = "runner"  # the traced span of the top-level call

    def __init__(self, name: str, data_dir: str, rows: int):
        import specs

        self.data_dir, self.rows = data_dir, rows
        self.spec = specs.SPECS[name](data_dir)
        self.expected = specs.ORACLES[name](data_dir)

    def prepare(self, spark):
        from gogstash_spark.operators import Context
        from gogstash_spark.plans.compile import compile_pipeline

        return compile_pipeline(self.spec, Context(spark=spark, base_dir=self.data_dir))

    def call(self, spark, out: str):
        from gogstash_spark.runner import run_pipeline

        return run_pipeline(spark, self.spec, out_dir=out, base_dir=self.data_dir, resume=False)

    def check(self, res, out: str) -> bool:
        return {k: v for k, v in res.sink_rows.items() if v} == self.expected

    def segments(self) -> list[tuple[str, int]]:
        """(layer, end) per run of consecutive filters from one
        operators module: parse, enrich, mutate, condflt."""
        from gogstash_spark.operators import FILTERS

        segs: list[tuple[str, int]] = []
        for i, cfg in enumerate(self.spec.filter):
            layer = FILTERS[cfg["type"]].__module__.rsplit(".", 1)[-1]
            if segs and segs[-1][0] == layer:
                segs[-1] = (layer, i + 1)
            else:
                segs.append((layer, i + 1))
        return segs

    def traced(self, spark, tr: Tracer, run_id: str, out: str):
        """One call split into growing prefixes: scan, each filter
        segment, routes, run_pipeline, the aggregates over its output,
        and one spread() call. Returns the run result."""
        from gogstash_spark.functions.partitions import spread
        from gogstash_spark.operators import Context, compile_chain
        from gogstash_spark.plans.compile import compile_pipeline
        from gogstash_spark.runner import compute_aggregate
        from gogstash_spark.sources.files import read_input

        ctx = Context(spark=spark, base_dir=self.data_dir)
        inp = self.spec.input
        with tr.span("sources.scan", run_id) as prev:
            noop(read_input(spark, inp))
        prev["input_bytes"] = file_bytes(read_input(spark, inp))
        for layer, end in self.segments():
            stage = compile_chain(self.spec.filter[:end], ctx)
            with tr.span("operators." + layer, run_id, prev) as prev:
                noop(stage(read_input(spark, inp)))
        plan = compile_pipeline(self.spec, ctx)
        with tr.span("plans.route", run_id, prev) as route:
            noop(plan.run(read_input(spark, inp)))
        with tr.span(self.top, run_id, route) as top:
            res = self.call(spark, out)
        top["result"] = {"sink_rows": res.sink_rows, "metrics": res.metrics}
        written = spark.read.parquet(os.path.join(out, "by_route"))
        with tr.span("runner.aggregate", run_id, top):
            for agg in self.spec.aggregate or []:
                noop(compute_aggregate(written.withColumnRenamed("route", "sink"), agg))
        df = read_input(spark, inp)
        with tr.span("functions.partitions.spread", run_id):
            spread(df)
        return res

    def layer_metrics(self, spans: list[dict], out: str) -> dict[str, float]:
        by_id = {s["id"]: s for s in spans}
        one = {s["name"]: s for s in spans}
        m = dict.fromkeys(self.layers, 0.0)
        for s in spans:
            if s["name"].startswith(("operators.", "plans.route")):
                p = by_id[s["parent"]]
                key = s["name"] + ".self_s"
                if key in m:
                    m[key] += self_s(s, p)
                if s["name"] == "operators.parse":
                    m["operators.parse.busy_s"] += s["counts"]["run_s"] - p["counts"]["run_s"]
        scan, runner = one["sources.scan"], one[self.top]
        res = runner["result"]
        m["sources.scan_s"] = scan["wall_s"]
        m["sources.input_bytes"] = scan["input_bytes"]
        grok = res["metrics"].get("acc_grok") or {}
        if grok.get("rows"):
            m["operators.parse.grok_hit_ratio"] = 1 - grok["misses"] / grok["rows"]
        pipe = res["metrics"].get("pipeline") or {}
        m["plans.fanout_ratio"] = pipe["rows_routed"] / pipe["rows_total"]
        m["runner.self_s"] = self_s(runner, one["plans.route"])
        m["runner.aggregate.self_s"] = one["runner.aggregate"]["wall_s"]
        m["runner.write_lineage_s"] = m["runner.self_s"] - m["runner.aggregate.self_s"]
        files = res["metrics"]["lineage"]["files"]
        m["runner.files_written"] = files
        m["runner.mean_file_mb"] = dir_bytes(os.path.join(out, "by_route")) / files / 2**20
        c = runner["counts"]
        for k in ("shuffle_write_bytes", "spill_bytes", "failed_tasks"):
            m["runner." + k] = c[k]
        m["runner.busy_share"] = c["run_s"] / (runner["wall_s"] * CPUS)
        m["runner.rows_unaccounted"] = pipe["rows_routed"] - sum(res["sink_rows"].values())
        m["functions.partitions.spread_call_s"] = one["functions.partitions.spread"]["wall_s"]
        return m


class DedupWorkload:
    """dedup_groups (collapse -> minhash LSH -> verify -> components),
    then semantic_dedup, both written to parquet."""

    N = 3  # the params q_dedup_groups and its oracle pin
    BANDS = 4
    ROWS = 1
    THRESHOLD = 0.35
    CAP = 1000
    CENTROIDS = 16
    SEM_THRESHOLD = 0.95
    compiles = False
    layers = {**SHARED_LAYERS, **MLOPS_LAYERS}
    top = "pass"

    def __init__(self, name: str, data_dir: str, rows: int):
        import specs

        self.rows = rows
        self.docs_path = os.path.join(data_dir, "documents.parquet")
        self.emb_path = os.path.join(data_dir, "embeddings.parquet")
        self.expected = specs.dedup_oracle(data_dir)

    def prepare(self, spark):
        return None

    def _docs(self, spark):
        from gogstash_spark.functions.partitions import spread

        return spread(spark.read.parquet(self.docs_path))

    def groups(self, spark):
        from gogstash_spark.mlops.dedup import dedup_groups

        return dedup_groups(
            self._docs(spark), "text", "doc_id", n=self.N, bands=self.BANDS,
            rows_per_band=self.ROWS, threshold=self.THRESHOLD, bucket_cap=self.CAP,
        )

    def semdedup(self, spark):
        from gogstash_spark.functions.partitions import spread
        from gogstash_spark.mlops.ann import semantic_dedup

        emb = spread(spark.read.parquet(self.emb_path))
        return semantic_dedup(emb, n_centroids=self.CENTROIDS, iters=2, threshold=self.SEM_THRESHOLD)

    def call(self, spark, out: str):
        self.groups(spark).write.parquet(os.path.join(out, "groups"))
        self.semdedup(spark).write.parquet(os.path.join(out, "semdedup"))
        return None

    def check(self, res, out: str) -> bool:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(out, "groups"))
        got = sorted(zip(t.column("doc_id").to_pylist(), t.column("group_id").to_pylist()))
        return got == self.expected

    def traced(self, spark, tr: Tracer, run_id: str, out: str):
        """Growing prefixes of the minhash pipeline through the public
        dedup functions (shingles -> signatures -> bands -> verified
        pairs -> components), a candidate count, semantic_dedup and one
        spread() call. The top-level span "pass" holds the two
        output-writing spans."""
        from gogstash_spark.functions.partitions import spread
        from gogstash_spark.mlops import dedup
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        def counted(df, obs):
            return df.observe(obs, F.count(F.lit(1)).alias("n"))

        with tr.span("sources.scan", run_id) as scan:
            noop(spark.read.parquet(self.docs_path))
        scan["input_bytes"] = file_bytes(spark.read.parquet(self.docs_path))
        df = spark.read.parquet(self.docs_path)
        with tr.span("functions.partitions.spread", run_id):
            spread(df)
        sets = spread(dedup.shingle_sets(
            dedup.collapse_exact_texts(self._docs(spark)), "text", "doc_id", self.N
        ))
        with tr.span("mlops.dedup.shingle", run_id, scan) as sh:
            noop(sets)
        sig = dedup.minhash_signatures_from_sets(sets, self.BANDS * self.ROWS)
        with tr.span("mlops.dedup.signature", run_id, sh) as sg:
            noop(sig)
        buckets = dedup.lsh_band_buckets(sig, self.BANDS, self.ROWS)
        with tr.span("mlops.dedup.band", run_id, sg) as bd:
            noop(buckets)
        hot = dedup.lsh_hot_buckets(buckets, self.CAP).select("band", "v")
        kept = buckets.join(hot, ["band", "v"], "left_anti")
        with tr.span("mlops.dedup.candidates", run_id, bd) as cand:
            cand["rows"] = (
                kept.alias("x").join(kept.alias("y"), ["band", "v"])
                .filter(F.col("x.id") < F.col("y.id")).count()
            )
        pairs_obs = Observation("pairs")
        pairs = counted(dedup.minhash_lsh_pairs(
            self._docs(spark), "text", "doc_id", self.N, self.BANDS, self.ROWS,
            self.THRESHOLD, self.CAP,
        ), pairs_obs)
        with tr.span("mlops.dedup.pairs", run_id, bd) as pr:
            noop(pairs)
        pr["rows"] = int(pairs_obs.get["n"])
        spark.catalog.clearCache()
        sem_obs = Observation("semdedup")
        with tr.span(self.top, run_id):
            with tr.span("mlops.dedup.groups", run_id, pr):
                self.groups(spark).write.parquet(os.path.join(out, "groups"))
            with tr.span("mlops.ann.semdedup", run_id) as sem:
                counted(self.semdedup(spark), sem_obs).write.parquet(os.path.join(out, "semdedup"))
        sem["rows"] = int(sem_obs.get["n"])

    def layer_metrics(self, spans: list[dict], out: str) -> dict[str, float]:
        import pyarrow.parquet as pq

        one = {s["name"]: s for s in spans}
        w = {k: s["wall_s"] for k, s in one.items()}
        m = dict.fromkeys(self.layers, 0.0)
        m["sources.scan_s"] = w["sources.scan"]
        m["sources.input_bytes"] = one["sources.scan"]["input_bytes"]
        m["functions.partitions.spread_call_s"] = w["functions.partitions.spread"]
        m["mlops.dedup.shingle_s"] = w["mlops.dedup.shingle"] - w["sources.scan"]
        m["mlops.dedup.signature_s"] = w["mlops.dedup.signature"] - w["mlops.dedup.shingle"]
        m["mlops.dedup.band_s"] = w["mlops.dedup.band"] - w["mlops.dedup.signature"]
        m["mlops.dedup.pairs_s"] = w["mlops.dedup.pairs"] - w["mlops.dedup.band"]
        m["mlops.dedup.components_s"] = w["mlops.dedup.groups"] - w["mlops.dedup.pairs"]
        cand, verified = one["mlops.dedup.candidates"]["rows"], one["mlops.dedup.pairs"]["rows"]
        m["mlops.dedup.candidate_pairs"] = cand
        m["mlops.dedup.verified_pairs"] = verified
        if cand:
            m["mlops.dedup.verify_yield"] = verified / cand
        m["mlops.dedup.shuffle_write_bytes"] = one["mlops.dedup.groups"]["counts"]["shuffle_write_bytes"]
        m["mlops.dedup.docs_lost"] = self.rows - pq.read_table(os.path.join(out, "groups")).num_rows
        sem = one["mlops.ann.semdedup"]
        m["mlops.ann.semdedup_s"] = sem["wall_s"]
        m["mlops.ann.kept"] = sem["rows"]
        m["mlops.ann.busy_share"] = sem["counts"]["run_s"] / (sem["wall_s"] * CPUS)
        return m


WORKLOADS = {
    "logs_standard": LogsWorkload,
    "logs_fanout": LogsWorkload,
    "dedup_pass": DedupWorkload,
}


def file_bytes(df) -> int:
    """On-disk size of the files a scan reads."""
    return sum(os.path.getsize(p.removeprefix("file:")) for p in df.inputFiles())


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


# ---------------------------------------------------------- Spark session


def start_session(tmp: str):
    from gogstash_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master="local[%d]" % CPUS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=%s" % tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def shutdown_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_control(spark, rows: int, parts: int) -> float:
    """The bench.py pure-JVM codegen control job (no I/O, Python or
    shuffle), at a size that fits a run."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, rows, 1, parts).agg(F.count(F.when(F.xxhash64("id") % 1000 == 0, 1))).collect()
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def vm_hwm_mb(pid: int) -> float:
    with open("/proc/%d/status" % pid) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for pid %d" % pid)


# ------------------------------------------------------------------ main


class Calls:
    """Attempted / failed bookkeeping: a call fails if it raises or its
    output check fails (checks run after the call's timer stopped)."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.steal: list[float] = []  # machine steal share during each call

    def settle(self, res, out: str, err: BaseException | None) -> None:
        self.attempted += 1
        if err is None and self.wl.check(res, out):
            return
        self.failed += 1
        self.errors.append(repr(err) if err else "output check failed")

    def run(self, fn, out: str) -> float | None:
        """Wall of fn(), a call writing under a fresh `out`; None when
        it failed. The output check runs after the timer stopped."""
        fresh_dir(out)
        s0, n0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # a failed call is counted, the loop goes on
            self.settle(None, out, e)
            return None
        wall = time.perf_counter() - t0
        s1, n1 = cpu_ticks()
        self.steal.append((s1 - s0) / max(n1 - n0, 1))
        self.settle(res, out, None)
        return wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gogstash_spark  # noqa: F401  (fails fast outside a full checkout)

    wdir = os.path.join(WORK, args.workload)
    tmp = fresh_dir(os.path.join(wdir, "tmp"))
    os.environ["TMPDIR"] = tmp
    data = os.path.join(wdir, "data")
    out = os.path.join(wdir, "out")
    load_start = os.getloadavg()
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), args.workload, str(args.seed), data],
        check=True,
    )
    with open(os.path.join(data, "MANIFEST.json")) as f:
        rows = json.load(f)["rows"]
    phase("generate_s")
    wl = WORKLOADS[args.workload](args.workload, data, rows)
    calls = Calls(wl)
    phase("reference_s")

    spark = None
    try:
        setups, compiles = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(tmp)
            tc = time.perf_counter()
            wl.prepare(spark)
            compiles.append(time.perf_counter() - tc)
            start_s = time.perf_counter() - t0
            wall = calls.run(lambda: wl.call(spark, out), out)
            spark.catalog.clearCache()
            if wall is not None:
                setups.append(start_s + wall)
        phase("setups_s")

        walls: list[float] = []
        layers: list[dict] = []
        traced_walls: list[float] = []
        tracer = Tracer(spark) if args.trace else None
        t_start = time.perf_counter()
        while True:
            done = len(layers) >= 1 if args.trace else len(walls) >= MIN_CALLS
            if time.perf_counter() - t_start >= args.seconds and (done or calls.failed):
                break
            if args.trace:
                # the traced call goes first: its top-level span and the
                # untraced call after it then run about equally warm
                run_id = "call%d" % len(layers)
                traced = calls.run(lambda: wl.traced(spark, tracer, run_id, out), out)
                spark.catalog.clearCache()
                if traced is not None:
                    tracer.fill_counts()
                    spans = [s for s in tracer.spans if s["run_id"] == run_id]
                    layers.append(wl.layer_metrics(spans, out))
                    traced_walls.append(next(s["wall_s"] for s in spans if s["name"] == wl.top))
            wall = calls.run(lambda: wl.call(spark, out), out)
            spark.catalog.clearCache()
            if wall is not None:
                walls.append(wall)
        phase("window_s")

        control_1 = jvm_control(spark, 50_000_000, 1)
        control_all = jvm_control(spark, 200_000_000, 4 * CPUS)
        peak_rss = vm_hwm_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    finally:
        if spark is not None:
            shutdown_jvm(spark)
    load_end = os.getloadavg()
    phase("control_and_shutdown_s")

    if not walls or (args.trace and not layers):
        print("no successful call: %s" % calls.errors[:3], file=sys.stderr)
        return 1

    wall_s = statistics.median(walls)
    if args.trace:
        metrics = {k: statistics.median(m[k] for m in layers) for k in wl.layers}
        if wl.compiles:
            metrics["plans.compile_s"] = statistics.median(compiles)
        metrics["jvm.peak_rss_mb"] = peak_rss
        metrics["trace.overhead_s"] = statistics.median(traced_walls) - wall_s
        units = wl.layers
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "wall_s": wall_s,
            "rows_per_s": rows / wall_s,
        }
        units = END_TO_END
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "rows": rows,
        "seconds": args.seconds,
        "host": {
            "cpus": CPUS,
            "nproc": os.cpu_count(),
            "jvm_control_1core_s": control_1,
            "jvm_control_allcore_s": control_all,
            "loadavg_start": load_start,
            "loadavg_end": load_end,
        },
        "samples": {"setup_s": setups, "compile_s": compiles, "wall_s": walls,
                    "traced_wall_s": traced_walls, "call_steal_share": calls.steal},
        "peak_rss_mb": peak_rss,
        "phases": phases,
        "errors": calls.errors,
    }
    if tracer is not None:
        record["spans"] = tracer.spans
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", "%s-seed%d-trace%d.json" % (
            args.workload, args.seed, args.trace)), "w") as f:
        json.dump(record, f, indent=1)
    record.pop("spans", None)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": calls.failed == 0,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
