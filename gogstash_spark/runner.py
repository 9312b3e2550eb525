"""End-to-end batch runner: read -> filter -> route -> fan-out sinks -> aggregates.

Scale design (the part gogstash never faced — one box, one stream):

- ONE scan feeds every sink: the default mode explodes the routed frame
  into one partitioned write; per_sink mode localCheckpoints it once so
  K sinks don't re-run the parse.
- Route predicates are native SQL expressions; the default write is ONE
  partitionBy("route") pass over an AQE REBALANCE keyed on route alone
  (write_mode="partitioned"). A route's rows land in one write task, so
  a small route is one file; AQE splits a hot route into pieces of the
  advisory partition size, so files follow the data, not the cores.
- The committed by_route output is read back ONCE per run, with the
  schema that was written (no partition-type inference: a route "007"
  stays the string "007"). Lineage, protocol sinks and aggregates share
  that one frame and its file listing.
- After the by_route commit and its read-back, the post-write jobs
  (the lineage sidecar write, the per-route rollup and every
  aggregate's write) are submitted together as concurrent Spark jobs,
  one thread each, and all of them settle before the run goes on. They
  move little data, so per-job driver latency, not work, sets the
  tail's length, and overlapping the jobs shortens it. Each thread
  inherits the caller's job group, description and tags. Only the
  calling thread commits to the ledger.
- write_mode="per_sink" opts into K separate filtered writes with
  per-sink resume granularity. Its hot conv_ids are salted: repartition
  on (conv_id, salt) where salt = xxhash64(conv_id, turn_idx) % n_salts,
  so a conversation with 30% of all turns spreads over n_salts
  partitions instead of one.
- Resume: a JSON snapshot ledger (the sincedb analog, reference
  input/file/sincedb.go:21-91) records committed sinks per run-id;
  a resumed run skips completed sinks. Writes go to a temp dir and are
  atomically renamed on commit, so a killed write never half-commits.
- Metrics: per-stage row counts via `DataFrame.observe` (native
  aggregates piggybacked on the write action — no extra pass) as the
  accumulator-style lineage required by the north rule.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from gogstash_spark.operators import Context
from gogstash_spark.plans.compile import DOC_ID, ROUTES, CompiledPipeline, compile_pipeline
from gogstash_spark.plans.spec import PipelineSpec

DEFAULT_SALTS = 16


@dataclass
class RunResult:
    sink_rows: dict[str, int] = field(default_factory=dict)
    agg_rows: dict[str, int] = field(default_factory=dict)
    metrics: dict[str, dict] = field(default_factory=dict)
    skipped_sinks: list[str] = field(default_factory=list)
    wall_sec: float = 0.0


class SnapshotLedger:
    """sincedb-analog commit ledger: {sink: {rows, committed_at}}.

    Single writer: `commit` rewrites `<path>.tmp` and renames it over
    the ledger, so two threads committing at once would race on the
    temp file. run_pipeline commits only from its calling thread."""

    def __init__(self, path: str):
        self.path = path
        self.state: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                self.state = json.load(f)

    def committed(self, sink: str) -> bool:
        return sink in self.state.get("sinks", {})

    def commit(self, sink: str, rows: int, extra: dict | None = None) -> None:
        self.state.setdefault("sinks", {})[sink] = {
            "rows": rows,
            "committed_at": time.time(),
            **(extra or {}),
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=2)
        os.replace(tmp, self.path)


def compute_aggregate(exploded: DataFrame, agg: dict) -> DataFrame:
    """One aggregate spec over the exploded (sink, event) frame.

    report shape: group_by cols + optional time_bucket -> count
    (reference output/report/outputreport.go:80-92); statsd shape:
    %{}-template metric key + count/sum/avg/max/min/pNN ops
    (reference output/statsd/outputstatsd.go:267-331). `condition`
    restricts the aggregate to matching events (a report/statsd nested
    under a cond output aggregates only its branch).
    """
    if agg.get("condition"):
        from gogstash_spark.functions.conds import cond_to_sql

        exploded = exploded.filter("coalesce(%s, false)" % cond_to_sql(agg["condition"]))
    if agg.get("metric_key"):
        from gogstash_spark.logevent import format_expr

        keyed = exploded.withColumn("metric", format_expr(exploded, str(agg["metric_key"])))
        aggs = []
        for op in agg.get("ops", ["count"]):
            if op == "count":
                aggs.append(F.count(F.lit(1)).alias("n"))
            else:
                fn_name, fld = op.split(":", 1)
                if fn_name.startswith("p") and fn_name[1:].isdigit():
                    # pNN percentiles (statsd timer naming): p50=0.5,
                    # p95=0.95, p999=0.999 — digits / 10^len
                    digits = fn_name[1:]
                    q = int(digits) / (10 ** len(digits))
                    aggs.append(
                        F.round(F.percentile(F.col(fld), F.lit(q)), 6)
                        .alias("%s_%s" % (fn_name, fld))
                    )
                else:
                    fn = {"sum": F.sum, "avg": F.avg, "max": F.max, "min": F.min}[fn_name]
                    aggs.append(fn(F.col(fld)).alias("%s_%s" % (fn_name, fld)))
        return keyed.groupBy("sink", "metric").agg(*aggs)
    keys = [F.col(k) for k in agg.get("group_by", [])]
    if agg.get("time_bucket"):
        keys.append(F.date_trunc(agg["time_bucket"], F.col("ts")).alias("time_bucket"))
    return exploded.groupBy(F.col("sink"), *keys).agg(F.count(F.lit(1)).alias("n"))


def _hashable_type(dt) -> bool:
    """xxhash64 rejects MapType anywhere in the type tree."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _hashable_type(dt.elementType)
    return True


def _salt_col(df: DataFrame, modulus: int):
    """Deterministic row salt from (conv_id, turn_idx) when present
    (the transcripts key), else from every hashable column; frames that
    are ALL maps hash their JSON rendering."""
    keys = [c for c in ("conv_id", "turn_idx") if c in df.columns]
    if not keys:
        keys = [f.name for f in df.schema.fields if _hashable_type(f.dataType)]
    if not keys:
        return F.pmod(F.xxhash64(F.to_json(F.struct(*df.columns))), F.lit(modulus))
    return F.pmod(F.xxhash64(*[F.col(c) for c in keys]), F.lit(modulus))


def _fanout_distribute(
    exploded: DataFrame, n_partitions: int, size_by_data: bool
) -> DataFrame:
    """Distribute the exploded (route, event) frame for the partitionBy
    write. size_by_data (the default path): AQE REBALANCE keyed on
    route alone. Each route hashes to one shuffle partition, so a write
    task opens one file per route it holds; AQE coalesces small routes
    into shared tasks and splits a route larger than
    advisoryPartitionSizeInBytes into advisory-sized pieces (rebalance
    skew splitting), so the file count and size follow the data volume,
    and a hot route still spreads over tasks. With an explicit
    n_partitions, the fixed salted repartition on (route, salt) is used:
    every task then holds every route, one file each."""
    if size_by_data:
        return exploded.hint("rebalance", "route")
    salt = _salt_col(exploded.drop("route"), n_partitions)
    return (
        exploded.withColumn("__salt", salt)
        .repartition(n_partitions, F.col("route"), F.col("__salt"))
        .drop("__salt")
    )


def salted_repartition(
    df: DataFrame, n_partitions: int, conv_col: str = "conv_id", n_salts: int = DEFAULT_SALTS
) -> DataFrame:
    """Spread hot conversations: partition on (conv_id, salt); schemas
    without the transcripts key fall back to an all-column hash."""
    salt = _salt_col(df, n_salts)
    first = F.col(conv_col) if conv_col in df.columns else salt
    return df.withColumn("__salt", salt).repartition(
        n_partitions, first, F.col("__salt")
    ).drop("__salt")


def _settle(spark: SparkSession, jobs: list[Callable]) -> list[Future]:
    """Run every job in its own thread, so their Spark jobs run
    concurrently, and wait until all of them have settled. Each target
    inherits the caller's job group, description and tags. The pool
    lives for this call only; one worker per job. Returns the futures
    in submission order: read each one's result or exception."""
    if not jobs:
        return []
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        return [pool.submit(inheritable_thread_target(spark)(job)) for job in jobs]


def _raise_first_failure(futures: list[Future]) -> None:
    for fut in futures:
        if fut.exception() is not None:
            raise fut.exception()


def _replace_dir(tmp_dir: str, final_dir: str) -> None:
    """Commit a finished temp-dir write with one rename."""
    if os.path.exists(final_dir):
        shutil.rmtree(final_dir)
    os.replace(tmp_dir, final_dir)


def _aggregate_job(exploded: DataFrame, agg: dict, out_dir: str) -> Callable[[], int]:
    """One aggregate's observe -> temp write -> rename over the
    exploded (sink, event) frame, as a thread target returning the
    aggregate's row count. The aggregate is planned inside the target,
    so a bad spec fails its own job and not its siblings."""

    def job() -> int:
        spec = agg
        if spec.get("__default__"):
            spec = {
                **spec,
                "group_by": [k for k in spec["group_by"] if k in exploded.columns],
            }
        name = "agg_%s" % spec["name"]
        obs = Observation(name)
        agg_df = compute_aggregate(exploded, spec).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        agg_dir = os.path.join(out_dir, name)
        tmp_dir = agg_dir + ".__tmp__"
        agg_df.write.mode("overwrite").parquet(tmp_dir)
        _replace_dir(tmp_dir, agg_dir)
        return int(obs.get.get("rows") or 0)

    return job


def _commit_aggregates(
    ledger: SnapshotLedger, result: RunResult, aggs: list[dict], futures: list[Future]
) -> None:
    """Commit each finished aggregate in spec order (calling thread
    only: the ledger has a single writer)."""
    for agg, fut in zip(aggs, futures):
        if fut.exception() is None:
            result.agg_rows[agg["name"]] = n = fut.result()
            ledger.commit("agg_%s" % agg["name"], n)


def resolve_table_format(spark: SparkSession, requested: str | None) -> tuple[str, str | None]:
    """('iceberg'|'delta'|'parquet', fallback_reason): a requested ACID
    format is used only when its runtime is actually on the classpath
    (capability probe, same pattern as the kafka jar probe); otherwise
    the atomic-rename parquet path with the reason recorded."""
    if requested in (None, "", "parquet"):
        return "parquet", None
    from gogstash_spark.sources.connectors import table_format_available

    ok, why = table_format_available(spark, requested)
    return (str(requested).lower(), None) if ok else ("parquet", why)


def _read_written(
    spark: SparkSession, fmt: str, ident: str | None, path: str, schema: dict | None
) -> DataFrame:
    """The committed by_route output as one DataFrame. A parquet commit
    is read with the schema that was written, so partition discovery
    keeps `route` a string (no int/date inference from directory names
    such as route=007) and no footer is opened to infer a schema.
    Ledgers without a recorded schema fall back to inference."""
    if fmt == "iceberg" and ident:
        return spark.read.table(ident)
    reader = spark.read.format(fmt)
    if fmt == "parquet" and schema:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.load(path)


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec | dict,
    input_df: DataFrame | None = None,
    out_dir: str = "/tmp/gogstash_spark_out",
    base_dir: str = ".",
    n_partitions: int | None = None,
    resume: bool = True,
    write_mode: str = "partitioned",  # "per_sink": K separate writes, per-sink resume
    table_format: str = "parquet",  # "iceberg"/"delta": ACID commit when jar present
    table_ident: str | None = None,  # iceberg only: catalog.db.table for writeTo()
    fail_after_sink: str | None = None,  # test hook for resume tests
) -> RunResult:
    """write_mode="partitioned" (default, the scale path): ONE
    partitionBy(route) write with a data-sized shuffle, no
    materialization, then ONE read-back of the committed by_route
    output with the written schema. The per-file lineage sidecar, the
    per-route row totals, the protocol sinks and the aggregates all
    derive from that one frame, so the output is listed once per run.

    After the read-back, the lineage sidecar write, the rollup collect
    and every aggregate's observe -> temp write -> rename run as
    concurrent Spark jobs, one thread each (a write-skipping resume
    runs only the aggregates; per_sink mode runs its aggregates this
    way after its sequential sink writes). The ledger is committed
    from the calling thread once all of them have settled, in this
    order:
    - `__partitioned__`, when lineage and rollup succeeded; otherwise
      their first error is raised here. The aggregates have run by
      then, so their agg_* directories hold the written by_route's
      totals but are not in the ledger, and a resumed run redoes them;
    - each finished aggregate, in spec order;
    - the protocol sinks, one at a time, each committed as it emits;
    - then the first failed aggregate's error is re-raised. A
      protocol sink's own error propagates at once and stops the run.

    "per_sink" is the opt-in for workloads needing per-sink resume
    granularity over K heterogeneous protocol sinks; its plan
    localCheckpoints the routed frame, which serializes on local mode's
    single block manager and materializes the routed dataset to
    executor storage on a cluster — measured round 1, see below.

    n_partitions=None (default) sizes the fan-out shuffle BY DATA,
    not by cores: an AQE REBALANCE keyed on route targets
    advisoryPartitionSizeInBytes per write task, so small routes write
    one file each and a hot route splits into advisory-sized files — a
    fixed cores-based count made each task's buffered partition grow
    with the input (measured at sf3 / 15M turns, local[32]: fixed 32 ->
    96s, 256 -> 60s; rebalance picks the count at runtime). Pass an
    explicit n_partitions to pin the fixed salted repartition."""
    if isinstance(spec, dict):
        spec = PipelineSpec.from_dict(spec)
    ctx = Context(spark=spark, base_dir=base_dir)
    plan: CompiledPipeline = compile_pipeline(spec, ctx)
    # duplicate sink / aggregate names silently merge routes and make the
    # resume ledger skip work — always a config bug, fail at plan time
    sink_names = [r.sink for r in plan.routes]
    if len(sink_names) != len(set(sink_names)):
        raise ValueError("duplicate sink names in output spec: %s" % sorted(sink_names))
    agg_names = [a["name"] for a in (spec.aggregate or [])]
    if len(agg_names) != len(set(agg_names)):
        raise ValueError("duplicate aggregate names: %s" % sorted(agg_names))

    t0 = time.time()
    if input_df is None:
        from gogstash_spark.sources.files import read_input

        input_df = read_input(spark, spec.input or {})

    size_by_data = n_partitions is None
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism

    os.makedirs(out_dir, exist_ok=True)
    ledger = SnapshotLedger(os.path.join(out_dir, "_ledger.json"))

    # fully-resumed short-circuit: nothing to compute
    # default aggregate (no spec.aggregate): hourly counts per sink,
    # keyed by tool when the events have one — the group_by is
    # intersected with the actual columns at compute time because a
    # generic (non-transcripts) config has no `tool` column.
    agg_specs = spec.aggregate or [
        {"name": "counts", "group_by": ["tool"], "time_bucket": "hour",
         "__default__": True}
    ]
    if resume:
        sinks_done = (
            ledger.committed("__partitioned__")
            and all(ledger.committed(r.sink) for r in plan.routes if r.out_cfg is not None)
            if write_mode == "partitioned"
            else all(
                ledger.committed(r.sink)
                and (r.out_cfg is not None or os.path.exists(os.path.join(out_dir, r.sink)))
                for r in plan.routes
            )
        )
        aggs_done = all(ledger.committed("agg_%s" % a["name"]) for a in agg_specs)
        if sinks_done and aggs_done and plan.routes:
            result = RunResult()
            if write_mode != "partitioned":
                result.skipped_sinks = [r.sink for r in plan.routes]
                result.sink_rows = {
                    r.sink: ledger.state["sinks"][r.sink]["rows"] for r in plan.routes
                }
            result.wall_sec = time.time() - t0
            return result

    obs = Observation("pipeline")
    routed = plan.run(input_df)
    routed = routed.observe(
        obs,
        F.count(F.lit(1)).alias("rows_total"),
        F.sum(F.size(ROUTES)).alias("rows_routed"),
    )
    if write_mode != "partitioned":
        routed = salted_repartition(routed, n_partitions)
        # Materialize ONCE and truncate lineage: K sink writes + aggregates
        # then analyze a tiny LogicalRDD plan instead of re-analyzing the
        # whole parse/enrich tree per action. NOTE: on local mode the
        # single block manager serializes this (measured: flat 27s at 8
        # and 32 cores); on a real cluster blocks are per-executor and it
        # scales. The "partitioned" mode below avoids materialization
        # entirely and is the default scale path.
        routed = routed.localCheckpoint(eager=True)

    result = RunResult()
    pending_aggs = [
        a for a in agg_specs if not (resume and ledger.committed("agg_%s" % a["name"]))
    ]
    # per_sink mode always materializes `routed` (localCheckpoint above);
    # partitioned mode only runs it when the write isn't resume-skipped
    routed_executed = write_mode != "partitioned"
    if write_mode == "partitioned":
        # ONE pass, no materialization: explode routes -> rebalance on
        # route -> dynamic-partitioned write (the reference's per-path
        # writer goroutines, output/file/outputfile.go:190-325, as a
        # partitionBy write). Per-sink resume granularity is traded for
        # one atomic commit.
        fmt, fb_reason = resolve_table_format(spark, table_format)
        # resume must read with the format (and schema) the data was
        # COMMITTED under, not this run's request: a run committed as
        # parquet then resumed with table_format=iceberg would otherwise
        # try to read the parquet by_route dir through the iceberg
        # source. (Ledgers written before the format was recorded can
        # only be parquet commits — the ACID branch was probe-gated off
        # without a runtime jar — so parquet is the right default for a
        # missing key.)
        committed_meta = ledger.state.get("sinks", {}).get("__partitioned__", {})
        write_skipped = resume and ledger.committed("__partitioned__")
        if write_skipped:
            read_fmt = committed_meta.get("table_format", "parquet")
            read_ident = committed_meta.get("table_ident")
            read_schema = committed_meta.get("schema")
        else:
            read_fmt, read_ident = fmt, table_ident
        if fmt == "iceberg" and not table_ident and not write_skipped:
            # only a run that will actually WRITE iceberg needs the
            # identifier — a resume serving from an earlier commit
            # reads with the ledger's format and must not be blocked
            raise ValueError(
                "table_format='iceberg' needs table_ident='catalog.db.table': "
                "Iceberg's v1 save(path) cannot CREATE a partitioned table — "
                "the V2 writeTo(ident).partitionedBy(...).createOrReplace() "
                "path is used instead"
            )
        # "used" reports what this run actually READS AND SERVES:
        # on a write-skipping resume that is the ledger's committed
        # format, not this invocation's request
        result.metrics["table_format"] = {
            "requested": table_format, "used": read_fmt,
            **({"fallback_reason": fb_reason} if fb_reason else {}),
            **({"resumed_from_commit": True} if write_skipped else {}),
        }
        part_dir = os.path.join(out_dir, "by_route")

        if not write_skipped:
            routed_executed = True
            tmp_dir = part_dir + ".__tmp__"
            exploded = routed.select(F.explode(ROUTES).alias("route"), "*").drop(ROUTES)
            doc_routes = [r for r in plan.routes if r.doc_id_template]
            if doc_routes:
                from gogstash_spark.logevent import format_expr
                from gogstash_spark.plans.compile import route_value_expr

                # elastic document_id semantics: one row per (index,
                # doc id). Dedup applies ONLY to exploded copies whose
                # route belongs to a doc-id sink, keyed by THAT sink's
                # rendered template — copies routed to plain sinks get
                # a unique surrogate and pass through untouched. The
                # _doc_id column is computed HERE per exploded copy so
                # each route partition carries ITS sink's doc ids
                # (plain sinks in per_sink mode never see it at all).
                pieces = []
                for r in doc_routes:
                    rv = route_value_expr(exploded, r)
                    rendered = format_expr(exploded, str(r.doc_id_template))
                    pieces.append(F.when(
                        (F.col("route") == rv) & rendered.isNotNull(), rendered
                    ))
                per_route_id = F.coalesce(*pieces) if len(pieces) > 1 else pieces[0]
                dd = F.coalesce(
                    F.concat(F.lit("d|"), per_route_id),
                    F.concat(
                        F.lit("r|"), F.monotonically_increasing_id().cast("string")
                    ),
                )
                exploded = (
                    exploded.withColumn(DOC_ID, per_route_id)
                    .withColumn("__dd", dd)
                    .dropDuplicates(["route", "__dd"])
                    .drop("__dd")
                )
            exploded = _fanout_distribute(exploded, n_partitions, size_by_data)
            read_schema = exploded.schema.jsonValue()
            if fmt == "parquet":
                # no table format on the classpath: atomic commit =
                # write to a temp dir + one rename
                exploded.write.mode("overwrite").partitionBy("route").parquet(tmp_dir)
                _replace_dir(tmp_dir, part_dir)
            elif fmt == "iceberg":
                # ACID snapshot commit via DataFrameWriterV2: the v1
                # writer's save(path) requires a pre-existing table
                # and rejects partitionBy for creation; writeTo()
                # creates-or-replaces the partitioned table in one
                # transaction. Not covered by the test suite (no
                # iceberg runtime jar on its classpath — the probe
                # above guarantees this branch only runs on a
                # provisioned cluster).
                exploded.writeTo(table_ident).partitionedBy(
                    F.col("route")
                ).createOrReplace()
            else:
                # delta: transaction-log commit; the v1 writer DOES
                # support partitioned table creation at a path.
                # Not covered by the test suite (no delta jar on its
                # classpath; probe-gated).
                exploded.write.format(fmt).mode("overwrite").partitionBy(
                    "route"
                ).save(part_dir)

        # ONE read-back per run: every consumer below shares this
        # frame's file index, so by_route is listed once
        written = _read_written(spark, read_fmt, read_ident, part_dir, read_schema)

        lineage_jobs: list[Callable] = []
        if not write_skipped:
            # per-partition (per output file) row-count lineage in one
            # pruned scan, written to a parquet SIDECAR — at 100 TB the
            # file list is 10^5-10^6 entries, which must never ride
            # through the driver or the JSON ledger. Only O(routes)
            # totals are collected, rolled up from the same lineage
            # frame (the sidecar is never read back).
            # input_file_name() returns '' under DSv2 scans — the
            # ACID formats use their metadata column instead
            # (iceberg: _file, delta: _metadata.file_path); the
            # parquet DSv1 scan keeps input_file_name()
            if fmt == "iceberg":
                file_col = F.col("_file")
            elif fmt == "delta":
                file_col = F.col("_metadata.file_path")
            else:
                file_col = F.input_file_name()
            lineage_df = written.groupBy("route", file_col.alias("file")).agg(
                F.count(F.lit(1)).alias("rows")
            )
            lin_dir = os.path.join(out_dir, "_lineage")

            def write_lineage() -> None:
                lin_tmp = lin_dir + ".__tmp__"
                lineage_df.write.mode("overwrite").parquet(lin_tmp)
                _replace_dir(lin_tmp, lin_dir)

            def rollup() -> list:
                return (
                    lineage_df.groupBy("route")
                    .agg(F.sum("rows").alias("rows"), F.count(F.lit(1)).alias("files"))
                    .collect()
                )

            lineage_jobs = [write_lineage, rollup]

        # lineage, rollup and every pending aggregate (from the written
        # columnar output: scans pruned to each one's columns, no parse
        # recompute) run as concurrent Spark jobs; the ledger is then
        # committed from this thread
        agg_frame = written.withColumnRenamed("route", "sink")
        settled = _settle(
            spark,
            lineage_jobs + [_aggregate_job(agg_frame, a, out_dir) for a in pending_aggs],
        )
        # by_route is committed only when lineage and rollup succeeded,
        # and an aggregate only over a committed by_route
        _raise_first_failure(settled[: len(lineage_jobs)])
        if lineage_jobs:
            rolled = settled[1].result()
            counts: dict[str, int] = {rr["route"]: int(rr["rows"]) for rr in rolled}
            result.sink_rows = {
                r.sink: int(counts.get(r.sink, 0))
                for r in plan.routes
                if not r.index_template
            }
            for k, v in counts.items():  # dynamic %{}-index route values
                result.sink_rows.setdefault(k, int(v))
            result.metrics["lineage"] = {
                "files": sum(int(r["files"]) for r in rolled),
                "path": lin_dir,
                "route_rows": counts,
            }
            ledger.commit(
                "__partitioned__",
                sum(result.sink_rows.values()),
                # the format and schema ACTUALLY written ride in the
                # ledger so a resumed run reads by_route the same way,
                # whatever format the resume invocation asks for
                extra={
                    "route_rows": counts, "lineage_path": lin_dir,
                    "table_format": fmt, "schema": read_schema,
                    **({"table_ident": table_ident} if table_ident else {}),
                },
            )
        _commit_aggregates(ledger, result, pending_aggs, settled[len(lineage_jobs):])

        # protocol sinks (http/socket/gelf/loki) emit from the written
        # columnar output — a pruned per-route scan, committed per sink
        # so a resumed run replays only the unsent ones. They emit
        # before a failed aggregate's error is re-raised, so one bad
        # aggregate spec does not hold back every protocol sink.
        for r in plan.routes:
            if r.out_cfg is None:
                continue
            if resume and ledger.committed(r.sink):
                result.skipped_sinks.append(r.sink)
                result.sink_rows[r.sink] = ledger.state["sinks"][r.sink]["rows"]
                continue
            from gogstash_spark.outputs import emit

            df_r = (
                written.filter(F.col("route") == r.sink)
                .drop("route", DOC_ID)  # internal cols never leave the engine
            )
            rows = emit(df_r, r.out_cfg)
            result.sink_rows[r.sink] = rows
            ledger.commit(r.sink, rows)
            result.metrics[r.sink] = {"rows": rows}
        _raise_first_failure(settled)
        routes_to_write = []
    else:
        routes_to_write = plan.routes
        dyn = [r.sink for r in plan.routes if r.index_template]
        if dyn:
            raise ValueError(
                "dynamic %%{}-index sinks %s need write_mode='partitioned' "
                "(one partitionBy(route) write handles any index cardinality)" % dyn
            )
    # the per-sink writes stay sequential: per-sink resume and
    # fail_after_sink depend on their order
    for route in routes_to_write:
        sink = route.sink
        sink_dir = os.path.join(out_dir, sink)
        if resume and ledger.committed(sink) and (
            route.out_cfg is not None or os.path.exists(sink_dir)
        ):
            result.skipped_sinks.append(sink)
            result.sink_rows[sink] = ledger.state["sinks"][sink]["rows"]
            continue
        sink_df = routed.filter(F.array_contains(F.col(ROUTES), sink)).drop(ROUTES)
        if route.doc_id_template:
            from gogstash_spark.logevent import format_expr

            # THIS sink's rendered doc id (the shared _doc_id column
            # may carry another doc-sink's rendering for co-routed rows)
            sink_df = sink_df.withColumn(
                DOC_ID, format_expr(sink_df, str(route.doc_id_template))
            )
            sink_df = (
                sink_df.withColumn(
                    "__dd",
                    F.coalesce(
                        F.col(DOC_ID),
                        F.monotonically_increasing_id().cast("string"),
                    ),
                )
                .dropDuplicates(["__dd"])
                .drop("__dd")
            )
        if route.out_cfg is not None:
            # protocol sink: stream out via foreachPartition, count
            # task-side, commit by count (no directory to rename)
            from gogstash_spark.outputs import emit

            rows = emit(sink_df.drop(DOC_ID), route.out_cfg)
            result.sink_rows[sink] = rows
            ledger.commit(sink, rows)
            result.metrics[sink] = {"rows": rows}
            continue
        sink_obs = Observation("sink_%s" % sink)
        sink_df = sink_df.observe(sink_obs, F.count(F.lit(1)).alias("rows"))
        tmp_dir = sink_dir + ".__tmp__"
        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)
        sink_df.write.mode("overwrite").parquet(tmp_dir)
        _replace_dir(tmp_dir, sink_dir)
        rows = int(sink_obs.get.get("rows") or 0)
        result.sink_rows[sink] = rows
        ledger.commit(sink, rows)
        result.metrics[sink] = dict(sink_obs.get)
        if fail_after_sink == sink:
            raise RuntimeError("injected failure after sink %s" % sink)

    if write_mode != "partitioned":
        # every pending aggregate over the checkpointed routed frame, as
        # concurrent Spark jobs; the ledger is then committed from this
        # thread
        agg_frame = routed.select(F.explode(ROUTES).alias("sink"), "*")
        settled = _settle(spark, [_aggregate_job(agg_frame, a, out_dir) for a in pending_aggs])
        _commit_aggregates(ledger, result, pending_aggs, settled)
        _raise_first_failure(settled)
    if routed_executed:
        # Observation.get BLOCKS until the observed node runs — it
        # must only be read when the routed plan actually executed
        # this run (a partitioned-mode resume that skips the write
        # serves sinks/aggregates from the written files and never
        # runs `routed`; reading obs.get there hangs forever)
        result.metrics["pipeline"] = dict(obs.get)
    # task-side accumulators registered by stages (e.g. grok rows/misses)
    for stage_name, accs in (ctx.options.get("accumulators") or {}).items():
        result.metrics["acc_%s" % stage_name] = {
            k: int(a.value) for k, a in accs.items()
        }
    result.wall_sec = time.time() - t0
    return result
