"""Pipeline specs and independent output references for the workloads.

The references run in DuckDB over the generated input files, never
through Spark, and before any timed window:

- logs_standard: per-sink row counts from the engine's oracle CTE
  (`entrypoints._oracle_routed_cte`), re-pointed at the generated
  input the way tools/parity.py does;
- logs_fanout: per-route row counts of the index template, in SQL;
- dedup_pass: the `o_dedup_groups` oracle's (doc_id, group_id) rows.
"""

from __future__ import annotations

import os

import duckdb

from gogstash_spark.pipelines import JSON_SCHEMA, standard_spec
from gogstash_spark.plans.spec import PipelineSpec

# one route per role/tool/day: tens of routes for a week of transcripts
FANOUT_INDEX = "%{role}-%{tool}-%{+@2006.01.02}"


def fanout_spec(data_dir: str) -> PipelineSpec:
    """Parse-light: no grok, one native json parse, one lookup, native
    mutates, a dynamic index route, a high-cardinality count and a
    statsd percentile."""
    return PipelineSpec.from_dict({
        "input": {"type": "parquet", "path": os.path.join(data_dir, "transcripts")},
        "filter": [
            {"type": "json", "source": "text", "schema": JSON_SCHEMA, "appendkey": "jsonf",
             "tag_on_failure": False},
            {
                "type": "lookuptable",
                "source": "role",
                "path": os.path.join(data_dir, "role_lookup.parquet"),
                "lookup_key": "role",
            },
            {"type": "add_field", "key": "src", "value": "%{role}/%{tool}"},
            {"type": "hash", "source": ["conv_id", "turn_idx"], "algo": "sha256",
             "target": "event_hash"},
        ],
        "output": [{"type": "table", "name": "by_day", "index": FANOUT_INDEX}],
        "aggregate": [
            {"name": "conv_counts", "group_by": ["conv_id"]},
            {"name": "turn_pct", "metric_key": "%{role}.%{tool}",
             "ops": ["count", "p95:turn_idx"]},
        ],
    })


def _query(sql: str, *setup: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        for stmt in setup:
            con.execute(stmt)
        return con.execute(sql).fetchall()
    finally:
        con.close()


def standard_oracle(data_dir: str) -> dict[str, int]:
    import gogstash_spark.entrypoints as ep

    ep.ORACLE_SF_DIR = data_dir
    sql = ep._oracle_routed_cte() + "\nSELECT sink, count(*) FROM routes GROUP BY sink"
    return {k: int(v) for k, v in _query(sql)}


def fanout_oracle(data_dir: str) -> dict[str, int]:
    sql = (
        "SELECT lower(role || '-' || tool || '-' || strftime(ts, '%%Y.%%m.%%d')), count(*) "
        "FROM read_parquet('%s/transcripts/*.parquet') GROUP BY 1" % data_dir
    )
    return {k: int(v) for k, v in _query(sql)}


def dedup_oracle(data_dir: str) -> list[tuple[int, int]]:
    """Sorted (doc_id, group_id) rows of o_dedup_groups over the
    generated documents. The two CTEs the recursive step re-reads are
    marked MATERIALIZED: the same rows, but DuckDB then computes the
    shingle sets and edges once instead of once per recursion step."""
    from gogstash_spark.mlops.entries import o_dedup_groups

    sql = o_dedup_groups()
    for cte in ("sets", "edges"):
        sql = sql.replace("\n%s AS (" % cte, "\n%s AS MATERIALIZED (" % cte)
    view = "CREATE VIEW documents AS SELECT * FROM read_parquet('%s')" % os.path.join(
        data_dir, "documents.parquet"
    )
    return sorted((int(a), int(b)) for a, b in _query(sql, view))


SPECS = {"logs_standard": standard_spec, "logs_fanout": fanout_spec}
ORACLES = {"logs_standard": standard_oracle, "logs_fanout": fanout_oracle}
