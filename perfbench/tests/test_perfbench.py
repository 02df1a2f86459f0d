"""The benchmark's own tests. Run: python3 -m pytest perfbench/tests -q

None of them starts Spark.
"""

from __future__ import annotations

import itertools
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

from pydatalake_gen2_spark.tables import TABLES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_metric_and_workload_names_are_well_formed():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert metrics.NAME_RE.fullmatch(n), n


def test_benchmark_json_matches_metric_definitions():
    assert [w["name"] for w in BENCH["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()
    }
    e2e = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert e2e["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_every_per_layer_metric_names_its_end_to_end_metric_and_workload():
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    wls = {w["name"] for w in BENCH["workloads"]}
    for m in BENCH["per_layer"]:
        _, _, moves, on = metrics.PER_LAYER[m["name"]]
        assert moves in e2e, m["name"]
        assert on and set(on) <= wls, m["name"]


def test_same_seed_gives_same_op_sequence():
    def take(passes, n=5):
        return list(itertools.islice(passes, n))

    names = workloads.OLAP_OPS
    assert take(workloads.query_passes(names, 7)) == take(workloads.query_passes(names, 7))
    assert take(workloads.lake_passes(7)) == take(workloads.lake_passes(7))
    assert take(workloads.lake_passes(7)) != take(workloads.lake_passes(8))
    for ops in take(workloads.query_passes(names, 3)):
        assert sorted(o["name"] for o in ops) == sorted(names)


def test_lake_pass_runs_optimize_after_every_kth_append():
    for ops in itertools.islice(workloads.lake_passes(11), 20):
        kinds = [o["kind"] for o in ops]
        assert kinds.count("append") == workloads.APPENDS_PER_PASS
        last_append = max(i for i, k in enumerate(kinds) if k == "append")
        assert kinds[last_append + 1] == "optimize"
        assert kinds.count("optimize") == 1


def test_same_seed_gives_same_batch_content(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    assert gen.write_tables(str(a), 1) == gen.write_tables(str(b), 1)
    li = gen.build_tables(1)["lineitem"]
    keys = li.column("l_orderkey").to_numpy()
    qty = li.column("l_quantity").to_numpy().astype("int64")
    first = next(workloads.lake_passes(5))
    again = next(workloads.lake_passes(5))
    for x, y in zip(first, again):
        if x["kind"] == "append":
            assert workloads.batch_totals(keys, qty, x["lo"], x["hi"]) == workloads.batch_totals(
                keys, qty, y["lo"], y["hi"]
            )


def _ddl(t) -> str:
    import pyarrow as pa

    if pa.types.is_list(t):
        return f"ARRAY<{_ddl(t.value_type)}>"
    if pa.types.is_timestamp(t):
        assert t.unit == "us" and t.tz is None
        return "TIMESTAMP"
    return {
        pa.int32(): "INT",
        pa.int64(): "BIGINT",
        pa.float32(): "FLOAT",
        pa.float64(): "DOUBLE",
        pa.string(): "STRING",
    }[t]


def test_fixture_schemas_match_engine_tables():
    for name, table in gen.build_tables(1).items():
        got = ", ".join(f"{f.name} {_ddl(f.type)}" for f in table.schema)
        assert got == " ".join(TABLES[name].split()), name


class _FakeWorkload:
    """Op "bad" returns a wrong result, op "boom" raises."""

    def run(self, op, op_id):
        if op["kind"] == "boom":
            raise RuntimeError("injected")
        return op["kind"] != "bad"

    @staticmethod
    def op_class(op):
        return "read"


def test_wrong_result_or_exception_counts_as_failed_op():
    passes = iter([[{"kind": "good"}, {"kind": "bad"}, {"kind": "boom"}]])
    recs, wall = run.timed_phase(_FakeWorkload(), passes, 1, Tracer(None, False), 0)
    assert len(recs) == 3 and wall >= 0
    assert [r["ok"] for r in recs] == [True, False, False]


def test_fingerprint_catches_same_length_wrong_values_and_moved_values():
    import duckdb

    fields = [("k", "long"), ("c_name", "string"), ("price", "double"), ("ts", "timestamp")]
    _, d_sql = workloads.fingerprint_sql(fields)
    con = duckdb.connect()

    def fp(rows: str):
        return con.execute(f"SELECT {d_sql} FROM (VALUES {rows}) t(k, c_name, price, ts)").fetchone()

    a = "(1, 'Customer#01', 2.5, TIMESTAMP '2024-01-01 00:00:01.5')"
    b = "(2, 'Customer#02', NULL, TIMESTAMP '1995-03-04 00:00:00')"
    base = fp(f"{a}, {b}")
    assert fp(f"{b}, {a}") == base  # row order does not matter
    assert fp(f"{a}, {b.replace('#02', '#03')}") != base  # same length, wrong content
    assert fp(f"{a.replace('#01', '#02')}, {b.replace('#02', '#01')}") != base  # swapped rows


def test_end_to_end_metrics_split_reads_and_writes():
    m = metrics.end_to_end([("read", 1.0), ("read", 4.0), ("write", 2.0)], 6.0, 9.0)
    assert set(m) == set(metrics.END_TO_END)
    assert m["throughput_ops_s"] == 0.5
    assert (m["latency_p50_s"], m["read_latency_p50_s"], m["commit_latency_p50_s"]) == (2.0, 2.5, 2.0)
    assert m["setup_s"] == 9.0
    # no write ops: the commit median falls back to all ops
    assert metrics.end_to_end([("read", 1.0), ("read", 3.0)], 1.0, 1.0)["commit_latency_p50_s"] == 2.0


def test_union_length_merges_overlaps_and_skips_empty_intervals():
    from tracing import union_length

    assert union_length([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (7.0, 7.0), (9.0, 8.0)]) == 4.0
    assert union_length([]) == 0.0
