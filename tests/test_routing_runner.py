"""Routing fan-out + batch runner e2e + resume (no dup / no loss),
mirroring SURVEY.md §5's oracle layer: a pure-pandas reimplementation
of the route predicates over the same rows.
"""

import os
import re
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gogstash_spark.functions.grok import compile_grok
from gogstash_spark.operators import Context
from gogstash_spark.pipelines import EXTRA_PATTERNS, GROK_MATCHES, standard_spec
from gogstash_spark.plans.compile import compile_pipeline, flatten_outputs
from gogstash_spark.plans.spec import PipelineSpec
from gogstash_spark.runner import run_pipeline


class TestFlattenOutputs:
    def test_nested_cond_tree(self):
        routes = flatten_outputs(
            [
                {"type": "table", "name": "all"},
                {
                    "type": "cond",
                    "condition": "a > 1",
                    "output": [
                        {"type": "table", "name": "big", "condition": "b == 'x'"},
                    ],
                    "else_output": [{"type": "table", "name": "small"}],
                },
            ]
        )
        by_name = {r.sink: r.pred_sql for r in routes}
        assert by_name["all"] == "true"
        assert "(a > 1)" in by_name["big"] and "(b = 'x')" in by_name["big"]
        assert "NOT coalesce" in by_name["small"]


class TestElasticSinkSemantics:
    """%{}-formatted lowercased index + document_id dedup
    (reference output/elastic/outputelastic.go:199-202)."""

    @pytest.fixture()
    def events(self, spark):
        return spark.createDataFrame(
            [
                ("C1", 1, "User", "a"),
                ("C1", 1, "User", "a-dup"),   # same doc id -> dedup
                ("C2", 2, "Tool", "b"),
            ],
            "conv_id string, turn_idx int, role string, text string",
        )

    def spec(self):
        return PipelineSpec.from_dict({
            "input": {},
            "filter": [],
            "output": [{
                "type": "elastic", "name": "es",
                "index": "Logs-%{role}",
                "document_id": "%{conv_id}/%{turn_idx}",
            }],
            "aggregate": [{"name": "counts", "group_by": ["role"]}],
        })

    def test_index_lowercased_and_docid_dedup(self, spark, events, tmp_path):
        out = str(tmp_path / "es_out")
        res = run_pipeline(
            spark, self.spec(), input_df=events, out_dir=out,
            write_mode="partitioned", resume=False,
        )
        # %{role} value 'User' -> index 'logs-user'
        assert set(res.sink_rows) == {"logs-user", "logs-tool"}
        got = spark.read.parquet(os.path.join(out, "by_route"))
        assert got.filter("route = 'logs-user'").count() == 1  # doc-id dedup
        assert got.filter("route = 'logs-tool'").count() == 1
        ids = {r["_doc_id"] for r in got.collect()}
        assert ids == {"C1/1", "C2/2"}

    def test_docid_dedup_does_not_touch_corouted_sinks(self, spark, tmp_path):
        """A doc-id sink's dedup must not collapse distinct rows in a
        co-routed archive sink with no document_id."""
        events = spark.createDataFrame(
            [("C1", 1, "alice", "m1"), ("C1", 2, "alice", "m2"), ("C2", 3, "bob", "m3")],
            "conv_id string, turn_idx int, user string, text string",
        )
        res = run_pipeline(
            spark,
            {
                "input": {},
                "filter": [],
                "output": [
                    # doc id = user -> alice's two rows collapse to one here
                    {"type": "elastic", "name": "byuser", "index": "U-%{user}",
                     "document_id": "%{user}"},
                    # archive keeps every row
                    {"type": "table", "name": "archive"},
                ],
                "aggregate": [{"name": "counts", "group_by": ["user"]}],
            },
            input_df=events,
            out_dir=str(tmp_path / "out"),
            write_mode="partitioned", resume=False,
        )
        assert res.sink_rows["archive"] == 3  # NO loss in the plain sink
        assert res.sink_rows["u-alice"] == 1 and res.sink_rows["u-bob"] == 1

    def test_two_doc_sinks_keep_their_own_doc_ids(self, spark, tmp_path):
        """Co-routed rows written under each doc-sink's partition must
        carry THAT sink's rendered doc id, not the first sink's."""
        events = spark.createDataFrame(
            [("C1", 1, "alice")], "conv_id string, turn_idx int, user string"
        )
        res = run_pipeline(
            spark,
            {
                "input": {}, "filter": [],
                "output": [
                    {"type": "elastic", "name": "by_user", "index": "byuser",
                     "document_id": "%{user}"},
                    {"type": "elastic", "name": "by_turn", "index": "byturn",
                     "document_id": "%{conv_id}/%{turn_idx}"},
                ],
                "aggregate": [{"name": "counts", "group_by": ["user"]}],
            },
            input_df=events, out_dir=str(tmp_path / "out"),
            write_mode="partitioned", resume=False,
        )
        assert res.sink_rows == {"byuser": 1, "byturn": 1}
        got = spark.read.parquet(str(tmp_path / "out" / "by_route"))
        ids = {r["route"]: r["_doc_id"] for r in got.collect()}
        assert ids == {"byuser": "alice", "byturn": "C1/1"}

    def test_dynamic_index_requires_partitioned_mode(self, spark, events, tmp_path):
        with pytest.raises(ValueError, match="partitioned"):
            run_pipeline(
                spark, self.spec(), input_df=events,
                out_dir=str(tmp_path / "x"), write_mode="per_sink", resume=False,
            )


class TestSkewSalting:
    def test_hot_conversation_spreads_over_partitions(self, spark):
        """One conversation holding 50% of all turns must spread over
        ~n_salts partitions after salted repartition (a plain hash on
        conv_id would put it in ONE partition — the straggler that kills
        a 1000-executor job)."""
        from gogstash_spark.runner import salted_repartition

        hot = spark.range(10_000).selectExpr(
            "'hot-conv' AS conv_id", "CAST(id AS INT) AS turn_idx"
        )
        cold = spark.range(10_000).selectExpr(
            "concat('c', CAST(id % 500 AS STRING)) AS conv_id",
            "CAST(id AS INT) AS turn_idx",
        )
        df = salted_repartition(hot.unionByName(cold), n_partitions=32)
        per_part = (
            df.filter("conv_id = 'hot-conv'")
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        n_parts = len(per_part)
        biggest = max(r["count"] for r in per_part)
        assert n_parts >= 8        # hot key spread over many partitions
        assert biggest <= 10_000 * 0.25  # no partition holds the bulk


def _route_files(out_dir: str) -> dict[str, int]:
    """{route value: parquet data files} under out_dir/by_route."""
    part_dir = os.path.join(out_dir, "by_route")
    return {
        d.split("=", 1)[1]: sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(part_dir, d))
        )
        for d in os.listdir(part_dir)
        if d.startswith("route=")
    }


def _status_jobs(spark) -> dict[int, str | None]:
    """{job id: job group} for every job the status store holds, read
    the way perfbench's Tracer.fill_counts reads it."""
    jsc = spark.sparkContext._jsc.sc()
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    jsc.listenerBus().waitUntilEmpty(60_000)
    return {
        int(j.jobId()): j.jobGroup().get() if j.jobGroup().isDefined() else None
        for j in conv.asJava(jsc.statusStore().jobsList(jvm.java.util.ArrayList()))
    }


class TestFanoutWrite:
    """The default write is a REBALANCE keyed on route alone: files
    follow the data (one per small route, advisory-sized pieces of a hot
    one) and the committed output is read back once per run."""

    def test_small_input_writes_one_file_per_route(self, spark, tmp_path):
        """Routes well under the advisory partition size write one file
        each. The input is large enough (several MB shuffled) that AQE
        keeps one write task per core, so a key that spreads a route
        over every task would write one file per route per task."""
        events = spark.range(0, 120_000, numPartitions=8).selectExpr(
            "concat('c', CAST(id % 97 AS STRING)) AS conv_id",
            "CAST(id AS INT) AS turn_idx",
            "element_at(array('user', 'tool', 'assistant'), CAST(id % 3 AS INT) + 1) AS role",
            "sha2(CAST(id AS STRING), 256) AS text",
        )
        out = str(tmp_path / "out")
        res = run_pipeline(
            spark,
            {"input": {}, "filter": [],
             "output": [{"type": "table", "name": "by_role", "index": "%{role}"}],
             "aggregate": [{"name": "counts", "group_by": ["role"]}]},
            input_df=events, out_dir=out, resume=False,
        )
        assert res.sink_rows == {"user": 40_000, "tool": 40_000, "assistant": 40_000}
        assert _route_files(out) == {"user": 1, "tool": 1, "assistant": 1}
        assert res.metrics["lineage"]["files"] == 3

    def test_hot_route_still_spreads(self, spark, tmp_path):
        """A route holding 80% of the rows is split by AQE's rebalance
        skew handling into advisory-sized pieces, one file each — the
        route-only key must not funnel it through one write task."""
        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        old = spark.conf.get(key)
        spark.conf.set(key, str(256 * 1024))
        try:
            events = spark.range(0, 400_000, numPartitions=16).selectExpr(
                "CAST(id AS STRING) AS conv_id",
                "CAST(id AS INT) AS turn_idx",
                "IF(id % 5 = 0, concat('cold', CAST(id % 4 AS STRING)), 'hot') AS lane",
            )
            out = str(tmp_path / "out")
            res = run_pipeline(
                spark,
                {"input": {}, "filter": [],
                 "output": [{"type": "table", "name": "by_lane", "index": "%{lane}"}],
                 "aggregate": [{"name": "counts", "group_by": ["lane"]}]},
                input_df=events, out_dir=out, resume=False,
            )
        finally:
            spark.conf.set(key, old)
        assert res.sink_rows["hot"] == 320_000
        files = _route_files(out)
        assert files["hot"] >= 4, files
        assert res.metrics["lineage"]["files"] == sum(files.values())

    def test_written_output_listed_once_per_run(self, spark, tmp_path, monkeypatch):
        """Lineage, the rollup and every aggregate share ONE read of
        by_route: each fresh reader re-lists the route directories (a
        Spark job of its own past 32 directories) and re-infers the
        schema."""
        events = spark.createDataFrame(
            [("C1", 1, "user", "hi"), ("C2", 2, "tool", "x"), ("C3", 3, "user", "y")],
            "conv_id string, turn_idx int, role string, text string",
        )
        cls = type(spark.read)
        loads = []
        orig = cls.load

        def spy(self, path=None, *a, **k):
            if isinstance(path, str) and path.rstrip("/").endswith("by_route"):
                loads.append(path)
            return orig(self, path, *a, **k)

        monkeypatch.setattr(cls, "load", spy)
        res = run_pipeline(
            spark,
            {"input": {}, "filter": [],
             "output": [{"type": "table", "name": "by_role", "index": "%{role}"}],
             "aggregate": [{"name": "counts", "group_by": ["role"]},
                           {"name": "per_conv", "group_by": ["conv_id"]}]},
            input_df=events, out_dir=str(tmp_path / "out"), resume=False,
        )
        assert res.sink_rows == {"user": 2, "tool": 1}
        assert res.agg_rows == {"counts": 2, "per_conv": 3}
        assert len(loads) == 1, loads


class TestRouteValueTypes:
    def test_numeric_looking_route_values_stay_strings(self, spark, tmp_path):
        """Index values '007', '042', '500' must come back as those
        strings. Partition-type inference on the read-back turned them
        into ints (sink_rows {7: 1, 42: 1, 500: 2}); the written schema
        is used instead, and recorded in the ledger so a write-skipping
        resume reads the same way."""
        import json

        events = spark.createDataFrame(
            [("C1", 1, "007"), ("C2", 2, "042"), ("C3", 3, "500"), ("C4", 4, "500")],
            "conv_id string, turn_idx int, code string",
        )
        spec = {
            "input": {}, "filter": [],
            "output": [{"type": "table", "name": "by_code", "index": "%{code}"}],
            "aggregate": [{"name": "counts", "group_by": ["code"]}],
        }
        out = str(tmp_path / "out")
        res = run_pipeline(spark, spec, input_df=events, out_dir=out, resume=False)
        assert res.sink_rows == {"007": 1, "042": 1, "500": 2}
        agg_path = os.path.join(out, "agg_counts")
        assert dict(spark.read.parquet(agg_path).dtypes)["sink"] == "string"

        # resume with the write committed: the aggregate is re-derived
        # from by_route, read with the schema the ledger recorded
        ledger_path = os.path.join(out, "_ledger.json")
        with open(ledger_path) as f:
            state = json.load(f)
        assert state["sinks"]["__partitioned__"]["schema"]["type"] == "struct"
        del state["sinks"]["agg_counts"]
        with open(ledger_path, "w") as f:
            json.dump(state, f)
        res = run_pipeline(spark, spec, input_df=events, out_dir=out, resume=True)
        assert res.agg_rows == {"counts": 3}
        sinks = {r["sink"]: r["n"] for r in spark.read.parquet(agg_path).collect()}
        assert sinks == {"007": 1, "042": 1, "500": 2}


class TestGogstashConfigAdapter:
    """A reference gogstash YAML config runs end-to-end through
    PipelineSpec.from_gogstash with its own module/key names."""

    def test_reference_yaml_runs(self, spark, tmp_path):
        import yaml

        from gogstash_spark.plans.spec import PipelineSpec

        log = tmp_path / "access.log"
        log.write_text(
            '1.1.1.1 - - [18/Jul/2017:16:10:16 +0000] "GET /a HTTP/1.1" 200 10\n'
            '2.2.2.2 - - [18/Jul/2017:16:10:17 +0000] "POST /b HTTP/1.1" 500 20\n'
            '1.1.1.1 - - [18/Jul/2017:16:10:18 +0000] "GET /c HTTP/1.1" 503 30\n'
        )
        geo = tmp_path / "geo.parquet"
        spark.createDataFrame(
            [("1.1.1.1", "AU"), ("2.2.2.2", "DE")], "ip string, country string"
        ).write.mode("overwrite").parquet(str(geo))
        cfg = yaml.safe_load(f"""
input:
  - type: file
    path: {log}
filter:
  - type: grok
    match: ["%{{COMMONAPACHELOG}}"]
  - type: date
    source: timestamp
    format: ["02/Jan/2006:15:04:05 -0700"]
  - type: geoip2
    db_path: {geo}
    ip_field: clientip
    quiet: true
output:
  - type: cond
    condition: "response >= 500"
    output:
      - type: elastic
        index: "Errors-%{{verb}}"
        document_id: "%{{clientip}}"
    else_output:
      - type: file
        name: access_ok
  - type: stdout
  - type: report
  - type: statsd
    increment: ["resp.%{{response}}"]
""")
        spec = PipelineSpec.from_gogstash(cfg)
        res = run_pipeline(
            spark, spec, out_dir=str(tmp_path / "out"),
            write_mode="partitioned", resume=False,
        )
        # 500/503 route to the lowercased dynamic index; doc-id=clientip
        # is distinct per error row here
        assert res.sink_rows.get("errors-post") == 1
        assert res.sink_rows.get("errors-get") == 1
        assert res.sink_rows.get("access_ok") == 1
        assert res.sink_rows.get("stdout") == 3  # stdout sees every event
        # report counts per (sink, minute): 4 sinks x 1 bucket
        assert res.agg_rows.get("report") == 4
        assert res.agg_rows.get("statsd") == 6  # resp.200/500/503 x {own sink, stdout}

    def test_multi_file_inputs_union(self, spark, tmp_path):
        from gogstash_spark.plans.spec import PipelineSpec
        from gogstash_spark.sources.files import read_input

        (tmp_path / "a.log").write_text("a1\na2\n")
        (tmp_path / "b.log").write_text("b1\n")
        spec = PipelineSpec.from_gogstash({
            "input": [
                {"type": "file", "path": str(tmp_path / "a.log")},
                {"type": "file", "path": str(tmp_path / "b.log")},
            ],
            "output": [{"type": "file", "path": "/var/out.log"}],
        })
        df = read_input(spark, spec.input)
        assert sorted(r["text"] for r in df.collect()) == ["a1", "a2", "b1"]

    def test_exec_input_wired_through_spec(self, spark):
        from gogstash_spark.plans.spec import PipelineSpec
        from gogstash_spark.sources.files import read_input

        spec = PipelineSpec.from_gogstash({
            "input": [{"type": "exec", "command": "printf", "args": ["x\\ny\\n"]}],
            "output": [{"type": "stdout"}],
        })
        df = read_input(spark, spec.input)
        assert sorted(r["text"] for r in df.collect()) == ["x", "y"]

    def test_duplicate_outputs_get_unique_names(self):
        from gogstash_spark.plans.spec import PipelineSpec

        spec = PipelineSpec.from_gogstash({
            "input": [],
            "output": [
                {"type": "file", "path": "/log/a"},
                {"type": "file", "path": "/log/a"},  # same path twice
                {"type": "report"},
                {"type": "report"},
            ],
        })
        names = [o["name"] for o in spec.output]
        assert len(names) == len(set(names))
        agg_names = [a["name"] for a in spec.aggregate]
        assert len(agg_names) == len(set(agg_names)) == 2

    def test_statsd_metric_kinds_and_branch_condition(self):
        from gogstash_spark.plans.spec import PipelineSpec

        spec = PipelineSpec.from_gogstash({
            "input": [],
            "output": [{
                "type": "cond", "condition": "response >= 500",
                "output": [
                    {"type": "report"},
                    {"type": "statsd",
                     "timing": [{"name": "lat", "value": "%{latency_ms}"}],
                     "gauge": [{"name": "g", "value": "%{queue_len}"}]},
                ],
            }],
        })
        by_name = {a["name"]: a for a in spec.aggregate}
        assert by_name["report"]["condition"] == "response >= 500"
        t = by_name["statsd_timing"]
        assert t["condition"] == "response >= 500"
        assert "p95:latency_ms" in t["ops"] and "avg:latency_ms" in t["ops"]
        assert by_name["statsd_gauge"]["ops"] == ["count", "avg:queue_len"]

    def test_statsd_non_field_template_unsupported(self):
        from gogstash_spark.plans.spec import PipelineSpec

        with pytest.raises(ValueError, match="statsd"):
            PipelineSpec.from_gogstash({
                "input": [],
                "output": [{"type": "statsd",
                            "timing": [{"name": "x", "value": "fixed-%{a}-%{b}"}]}],
            })

    def test_duplicate_sink_names_rejected_by_runner(self, spark, tmp_path):
        df = spark.createDataFrame([(1,)], "id int")
        with pytest.raises(ValueError, match="duplicate sink"):
            run_pipeline(
                spark,
                {"input": {}, "filter": [],
                 "output": [{"type": "table", "name": "s"},
                            {"type": "table", "name": "s"}]},
                input_df=df, out_dir=str(tmp_path / "o"), resume=False,
            )

    def test_p999_percentile_op(self, spark):
        from gogstash_spark.runner import compute_aggregate
        from pyspark.sql import functions as SF

        df = spark.createDataFrame(
            [("s", "u", float(i)) for i in range(1, 1001)],
            "sink string, role string, v double",
        )
        out = compute_aggregate(
            df, {"metric_key": "%{role}", "ops": ["p999:v"]}
        ).collect()[0]
        assert abs(out["p999_v"] - 999.001) < 1e-6

    def test_unsupported_modules_raise(self):
        from gogstash_spark.plans.spec import PipelineSpec

        with pytest.raises(ValueError, match="kafka"):
            PipelineSpec.from_gogstash(
                {"input": [{"type": "kafka"}], "output": [{"type": "stdout"}]}
            )

    def test_module_name_aliases_registered(self):
        from gogstash_spark.operators import FILTERS

        assert FILTERS["rate_limit"] is FILTERS["ratelimit"]
        assert FILTERS["geoip2"] is FILTERS["geoip"]


class TestConcurrentTail:
    """After the by_route commit, lineage, the rollup and every
    aggregate run as concurrent Spark jobs; only the calling thread
    commits to the ledger."""

    SPEC_ROWS = [("C1", 1, "user"), ("C2", 2, "tool"), ("C3", 3, "user")]

    def _events(self, spark):
        return spark.createDataFrame(
            self.SPEC_ROWS, "conv_id string, turn_idx int, role string"
        )

    def test_failed_aggregate_lets_its_siblings_commit(self, spark, tmp_path):
        """`bad` groups by a missing column. Its error is re-raised only
        after every sibling has settled: both good aggregates are
        committed, `bad` is not, and no temp directory is left."""
        import json

        from pyspark.errors import AnalysisException

        out = str(tmp_path / "out")
        spec = {
            "input": {}, "filter": [],
            "output": [{"type": "table", "name": "by_role", "index": "%{role}"}],
            "aggregate": [
                {"name": "ok_a", "group_by": ["role"]},
                {"name": "bad", "group_by": ["no_such_col"]},
                {"name": "ok_b", "group_by": ["conv_id"]},
            ],
        }
        with pytest.raises(AnalysisException, match="no_such_col"):
            run_pipeline(spark, spec, input_df=self._events(spark), out_dir=out, resume=False)
        with open(os.path.join(out, "_ledger.json")) as f:
            committed = json.load(f)["sinks"]
        assert "__partitioned__" in committed
        assert committed["agg_ok_a"]["rows"] == 2
        assert committed["agg_ok_b"]["rows"] == 3
        assert "agg_bad" not in committed
        assert [d for d in os.listdir(out) if d.endswith(".__tmp__")] == []

    def test_protocol_sink_emits_before_an_aggregate_error(
        self, spark, tmp_path, monkeypatch
    ):
        """A protocol sink next to a failing aggregate still emits and
        is committed; the aggregate's error is re-raised after it."""
        import json

        from pyspark.errors import AnalysisException

        from gogstash_spark import outputs

        emitted = {}

        def fake_emit(df, cfg):
            emitted[cfg["name"]] = n = df.count()
            return n

        monkeypatch.setattr(outputs, "emit", fake_emit)
        out = str(tmp_path / "out")
        spec = {
            "input": {}, "filter": [],
            "output": [{"type": "table", "name": "by_role", "index": "%{role}"},
                       {"type": "socket", "name": "wire", "address": "127.0.0.1:9"}],
            "aggregate": [{"name": "bad", "group_by": ["no_such_col"]}],
        }
        with pytest.raises(AnalysisException, match="no_such_col"):
            run_pipeline(spark, spec, input_df=self._events(spark), out_dir=out, resume=False)
        assert emitted == {"wire": 3}
        with open(os.path.join(out, "_ledger.json")) as f:
            committed = json.load(f)["sinks"]
        assert committed["wire"]["rows"] == 3
        assert "agg_bad" not in committed

    def test_tail_jobs_keep_the_callers_job_group(self, spark, tmp_path):
        """Every Spark job of the call, the concurrent ones included,
        carries the job group the caller set, so status-store metrics
        of the call stay attributed to it."""
        sc = spark.sparkContext
        last = max(_status_jobs(spark), default=-1)
        sc.setJobGroup("g3", "concurrent tail")
        try:
            res = run_pipeline(
                spark,
                {"input": {}, "filter": [],
                 "output": [{"type": "table", "name": "by_role", "index": "%{role}"}],
                 "aggregate": [{"name": "counts", "group_by": ["role"]},
                               {"name": "per_conv", "group_by": ["conv_id"]}]},
                input_df=self._events(spark), out_dir=str(tmp_path / "out"), resume=False,
            )
        finally:
            sc._jsc.clearJobGroup()
        assert res.agg_rows == {"counts": 2, "per_conv": 3}
        groups = [g for i, g in _status_jobs(spark).items() if i > last]
        # the write, the lineage write, the rollup and two aggregates
        assert len(groups) >= 5, groups
        assert set(groups) == {"g3"}


def oracle_routes(pdf: pd.DataFrame) -> dict[str, set]:
    """Pure-pandas oracle of the standard-spec routing (FIXTURES.md §4)."""
    rx_a = re.compile(compile_grok(GROK_MATCHES[0], EXTRA_PATTERNS).positional())
    rx_k = re.compile(compile_grok(GROK_MATCHES[1], EXTRA_PATTERNS).positional())
    rx_j = re.compile(compile_grok(GROK_MATCHES[2], EXTRA_PATTERNS).positional())
    out = {s: set() for s in
           ["sink_errors", "sink_tool_calls", "sink_user_turns", "sink_deadletter", "sink_rest"]}
    import json as jsonlib

    for row in pdf.itertuples():
        key = (row.conv_id, row.turn_idx)
        text = row.text
        ma, mk = rx_a.search(text), rx_k.search(text)
        mj = rx_j.search(text)
        status = level = None
        if ma:
            status = int(ma.group(9))
        elif mk:
            status = int(mk.group(4))
            level = mk.group(1)
        elif mj:
            d = jsonlib.loads(text)
            status, level = d.get("code"), d.get("level")
        dead = not (ma or mk or mj)
        routed = False
        if (status is not None and status >= 500) or level == "error":
            out["sink_errors"].add(key)
            routed = True
        if row.role == "tool" and row.tool != "none":
            out["sink_tool_calls"].add(key)
            routed = True
        if row.role == "user":
            out["sink_user_turns"].add(key)
            routed = True
        if dead:
            out["sink_deadletter"].add(key)
            routed = True
        if not routed:
            out["sink_rest"].add(key)
    return out


@pytest.fixture(scope="module")
def run_out(spark, sf_data_dir, tmp_path_factory):
    """Default-mode run: write_mode now defaults to 'partitioned' (the
    scale path), so sinks land under by_route/route=<sink>/."""
    out_dir = str(tmp_path_factory.mktemp("runner_out"))
    spec = standard_spec(sf_data_dir)
    res = run_pipeline(spark, spec, out_dir=out_dir, base_dir=sf_data_dir)
    return out_dir, res


def _read_sink(spark, out_dir, sink):
    return spark.read.parquet(os.path.join(out_dir, "by_route")).filter(
        F.col("route") == sink
    )


class TestRunnerE2E:
    def test_default_mode_writes_partitioned_layout(self, run_out):
        out_dir, res = run_out
        assert os.path.isdir(os.path.join(out_dir, "by_route", "route=sink_errors"))
        assert not os.path.isdir(os.path.join(out_dir, "sink_errors"))

    def test_routed_row_sets_match_oracle(self, spark, sf_data_dir, run_out):
        out_dir, res = run_out
        pdf = pd.read_parquet(os.path.join(sf_data_dir, "transcripts"))
        expected = oracle_routes(pdf)
        for sink, keys in expected.items():
            got = {
                (r["conv_id"], r["turn_idx"])
                for r in _read_sink(spark, out_dir, sink)
                .select("conv_id", "turn_idx")
                .collect()
            }
            assert got == keys, "routed-row set mismatch for %s" % sink

    def test_per_turn_text_equality(self, spark, sf_data_dir, run_out):
        """per-turn text equality under (conv_id, turn_idx) ordering."""
        out_dir, _ = run_out
        src = pd.read_parquet(os.path.join(sf_data_dir, "transcripts"))
        src = src.set_index(["conv_id", "turn_idx"])["text"]
        got = (
            _read_sink(spark, out_dir, "sink_user_turns")
            .select("conv_id", "turn_idx", "text")
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
        )
        for r in got.itertuples():
            assert src.loc[(r.conv_id, r.turn_idx)] == r.text

    def test_aggregate_counts_match(self, spark, run_out):
        out_dir, res = run_out
        agg = spark.read.parquet(os.path.join(out_dir, "agg_counts"))
        per_sink = {
            r["sink"]: r["total"]
            for r in agg.groupBy("sink").agg(F.sum("n").alias("total")).collect()
        }
        assert per_sink == res.sink_rows

    def test_metrics_lineage(self, run_out):
        _, res = run_out
        assert res.metrics["pipeline"]["rows_total"] == 5000
        assert res.metrics["pipeline"]["rows_routed"] == sum(res.sink_rows.values())

    def test_default_path_never_localcheckpoints(self, spark, tmp_path, monkeypatch):
        """The default (partitioned) path must not materialize the routed
        frame: localCheckpoint serializes on local mode's single block
        manager (measured round 1: flat 27s at 8 AND 32 cores) and on a
        cluster stores the whole routed dataset to executor storage. It
        belongs only to the opt-in per_sink path."""
        events = spark.createDataFrame(
            [("C1", 1, "user", "hi"), ("C2", 2, "tool", "x")],
            "conv_id string, turn_idx int, role string, text string",
        )
        # patch the CONCRETE DataFrame class (pyspark 4's classic session
        # subclasses the public pyspark.sql.DataFrame)
        cls = type(events)
        calls = []
        orig = cls.localCheckpoint

        def spy(self, *a, **k):
            calls.append(1)
            return orig(self, *a, **k)

        monkeypatch.setattr(cls, "localCheckpoint", spy)
        spec = {
            "input": {}, "filter": [],
            "output": [{"type": "table", "name": "users",
                        "condition": "role == 'user'"}],
            "aggregate": [{"name": "counts", "group_by": ["role"]}],
        }
        run_pipeline(spark, spec, input_df=events,
                     out_dir=str(tmp_path / "dflt"), resume=False)
        assert calls == []
        run_pipeline(spark, spec, input_df=events,
                     out_dir=str(tmp_path / "ps"), resume=False,
                     write_mode="per_sink")
        assert calls == [1]


class TestResume:
    def test_kill_and_resume_no_dup_no_loss(self, spark, sf_data_dir, tmp_path):
        """per-sink resume granularity is the per_sink mode's feature —
        the partitioned default commits all table sinks in one atomic
        rename — so this test opts into write_mode='per_sink'."""
        out_a = str(tmp_path / "full")
        out_b = str(tmp_path / "interrupted")
        spec = standard_spec(sf_data_dir)
        full = run_pipeline(
            spark, spec, out_dir=out_a, base_dir=sf_data_dir, write_mode="per_sink"
        )
        with pytest.raises(RuntimeError):
            run_pipeline(
                spark, spec, out_dir=out_b, base_dir=sf_data_dir,
                write_mode="per_sink", fail_after_sink="sink_tool_calls",
            )
        resumed = run_pipeline(
            spark, spec, out_dir=out_b, base_dir=sf_data_dir,
            write_mode="per_sink", resume=True,
        )
        assert set(resumed.skipped_sinks) == {"sink_errors", "sink_tool_calls"}
        for sink, n in full.sink_rows.items():
            keys_a = {
                (r["conv_id"], r["turn_idx"])
                for r in spark.read.parquet(os.path.join(out_a, sink))
                .select("conv_id", "turn_idx").collect()
            }
            keys_b = {
                (r["conv_id"], r["turn_idx"])
                for r in spark.read.parquet(os.path.join(out_b, sink))
                .select("conv_id", "turn_idx").collect()
            }
            assert keys_a == keys_b, sink

    def test_fresh_rerun_overwrites_cleanly(self, spark, sf_data_dir, tmp_path):
        out = str(tmp_path / "twice")
        spec = PipelineSpec.from_dict(
            {
                "input": {"path": os.path.join(sf_data_dir, "transcripts")},
                "filter": [],
                "output": [{"type": "table", "name": "s1", "condition": "role == 'user'"}],
                "aggregate": [],
            }
        )
        r1 = run_pipeline(spark, spec, out_dir=out, base_dir=sf_data_dir)
        shutil.rmtree(os.path.join(out), ignore_errors=False)
        r2 = run_pipeline(spark, spec, out_dir=out, base_dir=sf_data_dir)
        assert r1.sink_rows == r2.sink_rows
