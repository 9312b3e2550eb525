"""Self-checks of the benchmark itself (no Spark unless --full):

    python3 perfbench/selfcheck.py [--full]

1. the same seed gives byte-identical inputs, another seed does not;
2. a planted wrong count fails each workload's output check;
3. the metric names and units the harness prints equal BENCHMARK.json.
   With --full, each listed workload is also run for one second in both
   modes and the names on its printed result line are compared.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

CHECK_DIR = os.path.join(run.WORK, "selfcheck")


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit("FAIL: " + what)
    print("ok:", what)


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_seeded_inputs(workload: str) -> str:
    a = gen.generate(workload, 7, os.path.join(CHECK_DIR, workload, "a"))
    b = gen.generate(workload, 7, os.path.join(CHECK_DIR, workload, "b"))
    c = gen.generate(workload, 8, os.path.join(CHECK_DIR, workload, "c"))
    expect(a["files"] == b["files"], "%s: seed 7 twice gives byte-identical inputs" % workload)
    expect(a["files"] != c["files"], "%s: seed 8 gives other inputs than seed 7" % workload)
    return os.path.join(CHECK_DIR, workload, "a")


def write_groups(workload: str, name: str, rows: list[tuple[int, int]]) -> str:
    out = os.path.join(CHECK_DIR, workload, name)
    path = run.fresh_dir(os.path.join(out, "groups"))
    ids, groups = zip(*rows)
    pq.write_table(pa.table({"doc_id": list(ids), "group_id": list(groups)}),
                   os.path.join(path, "part-0.parquet"))
    return out


def check_planted_count(workload: str, data: str) -> None:
    """The check accepts the reference output and rejects the same
    output with one planted wrong count (logs) or group id (dedup)."""
    wl = run.WORKLOADS[workload](workload, data, gen.SIZES[workload])
    if isinstance(wl, run.LogsWorkload):
        planted = dict(wl.expected)
        planted[min(planted)] += 1
        good = (SimpleNamespace(sink_rows=dict(wl.expected)), None)
        bad = (SimpleNamespace(sink_rows=planted), None)
    else:
        doc, grp = wl.expected[-1]
        good = (None, write_groups(workload, "good", wl.expected))
        bad = (None, write_groups(workload, "bad", wl.expected[:-1] + [(doc, grp + 1)]))
    expect(wl.check(*good), "%s: the reference output passes its check" % workload)
    expect(not wl.check(*bad), "%s: a planted wrong count fails the check" % workload)


def check_metric_names(bench: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect(e2e == run.END_TO_END, "end_to_end names and units equal the harness table")
    for w in bench["workloads"]:
        expect(w["name"] in run.WORKLOADS, "%s is implemented" % w["name"])
        expect(layer == run.WORKLOADS[w["name"]].layers,
               "%s: per_layer names and units equal the harness table" % w["name"])


def check_printed_names(bench: dict) -> None:
    want = {0: {m["name"] for m in bench["end_to_end"]}, 1: {m["name"] for m in bench["per_layer"]}}
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "1",
                                      "--seconds", "1", "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            last = json.loads(proc.stdout.strip().splitlines()[-1])
            expect(set(last) == {"correct", "attempted", "failed", "metrics"},
                   "%s trace=%d: result keys" % (w["name"], trace))
            expect(set(last["metrics"]) == want[trace],
                   "%s trace=%d: printed metric names equal BENCHMARK.json" % (w["name"], trace))
            expect(last["correct"], "%s trace=%d: outputs correct" % (w["name"], trace))


def main() -> None:
    bench = benchmark_json()
    check_metric_names(bench)
    for workload in sorted(gen.SIZES):
        data = check_seeded_inputs(workload)
        check_planted_count(workload, data)
    if "--full" in sys.argv[1:]:
        check_printed_names(bench)
    print("all self-checks passed")


if __name__ == "__main__":
    main()
