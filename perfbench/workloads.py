"""The benchmark's three workloads.

Each workload yields its timed ops in passes: one pass runs every op type
of the workload, in an order drawn from the run's seed. A pass plan is a
pure function of the seed (``query_passes`` / ``lake_passes``), so the
same seed replays the same op sequence and the same lake batches.

* ``QueryWorkload`` runs registered query pairs: the ``spark_fn()`` call
  (construct), a noop-sink write (execute), then ``release_persisted()``.
  After the timed phase every op's result is checked against its DuckDB
  oracle: by ``harness.run_pair`` when the result is small, and by a
  fingerprint computed in both engines when it is not.
* ``LakeWorkload`` drives one ``VersionedTable``: appends of seeded
  lineitem slices, latest-version scans, time-travel reads, change reads,
  and optimize + expire after every K appends. Every read is checked
  against the totals the benchmark recorded for the versions it wrote.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

from pydatalake_gen2_spark.harness import run_pair
from pydatalake_gen2_spark.operators.util import release_persisted
from pydatalake_gen2_spark.registry import REGISTRY, load_all
from pydatalake_gen2_spark.sources.versioned import VersionedTable

# Op types per workload, sized so a run (setup with its warm-up passes,
# one or two timed passes, the checks) takes 30-55 s on a 4-core host; see
# README.md "Sizing" for what was left out and why.
OLAP_OPS = [
    "p03_filter_boolean",
    "j01_inner_equi",
    "w07_running_total",
]
LLM_OPS = [
    "l31_semdedup",
    "ud02_pandas_cosine",
]

# Results up to this many rows are compared row by row; larger ones by
# fingerprint, so a check never ships millions of rows to the client.
EXACT_MAX_ROWS = 50_000


def query_passes(names: list[str], seed: int):
    """Endless passes, each a seeded permutation of ``names``."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield [{"kind": "query", "name": n} for n in order]


class QueryWorkload:
    def __init__(self, spark, sf_dir: str, names: list[str], con, tracer):
        load_all()
        self.spark, self.sf_dir, self.names = spark, sf_dir, names
        self.con, self.tracer = con, tracer

    def op_types(self) -> list[dict]:
        return [{"kind": "query", "name": n} for n in self.names]

    @staticmethod
    def op_class(op: dict) -> str:
        return "read"

    def run(self, op: dict, op_id: int) -> bool:
        tr = self.tracer
        with tr.span("queries.construct", op_id, job_group=True):
            df = REGISTRY[op["name"]].spark_fn(self.spark, self.sf_dir)
        with tr.span("spark.execute", op_id, job_group=True):
            df.write.format("noop").mode("overwrite").save()
        tr.note(op_id, storage_bytes=tr.storage_bytes())
        with tr.span("operators.util.release_persisted", op_id):
            n = release_persisted()
        tr.note(op_id, released_frames=n)
        return True

    def check(self) -> list[tuple[str, bool, str]]:
        out = []
        for name in self.names:
            t0 = time.perf_counter()
            try:
                ok, detail = self.check_one(name)
                detail += f" in {time.perf_counter() - t0:.2f} s"
            except Exception as e:  # an exception is a failed check
                ok, detail = False, f"{type(e).__name__}: {e}"[:300]
            release_persisted()
            out.append((name, ok, detail))
        return out

    def check_one(self, name: str) -> tuple[bool, str]:
        qp = REGISTRY[name]
        if qp.duck_sql is None:
            return False, "no DuckDB oracle"
        n_duck = self.con.execute(f"SELECT count(*) FROM ({qp.duck_sql}) q").fetchone()[0]
        if n_duck <= EXACT_MAX_ROWS:
            r = run_pair(self.spark, self.con, self.sf_dir, name)
            detail = f"exact {r['spark_rows']}/{r['duck_rows']} rows: {r['status']}"
            return r["status"] == "match", " ".join([detail, r.get("detail", "")]).strip()
        df = qp.spark_fn(self.spark, self.sf_dir)
        fields = [(f.name, f.dataType.typeName()) for f in df.schema.fields]
        s_sql, d_sql = fingerprint_sql(fields)
        df.createOrReplaceTempView("_perfbench_check")
        s_fp = _norm(self.spark.sql(f"SELECT {s_sql} FROM _perfbench_check").collect()[0])
        d_fp = _norm(self.con.execute(f"SELECT {d_sql} FROM ({qp.duck_sql}) q").fetchone())
        return s_fp == d_fp, f"fingerprint {n_duck} rows" + (
            "" if s_fp == d_fp else f": spark={s_fp} duck={d_fp}"
        )


def _canon(name: str, t: str) -> tuple[str, str] | None:
    """(spark, duckdb) expressions that give the same BIGINT or string in
    both engines for one column of Spark type name ``t``, or None for
    types without one. Doubles are fixed to 4 decimals first
    (floor(x * 10^4 + 0.5), the same formula on both sides)."""
    s, d = f"`{name}`", f'"{name}"'
    if t in ("byte", "short", "integer", "long", "string"):
        return s, d
    if t in ("double", "float", "decimal"):
        return tuple(f"CAST(floor({c} * 10000 + 0.5) AS BIGINT)" for c in (s, d))
    if t == "timestamp":
        return f"unix_micros({s})", f"epoch_us({d})"
    if t == "boolean":
        return tuple(f"CASE WHEN {c} THEN 1 ELSE 0 END" for c in (s, d))
    return None


def _hash32(x: str, duck: bool) -> str:
    """The first 32 bits of md5(x) as a BIGINT; a sum of them over a few
    million rows stays far below the BIGINT limit."""
    if duck:
        return f"CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"
    return f"CAST(conv(substr(md5({x}), 1, 8), 16, 10) AS BIGINT)"


def fingerprint_sql(fields: list[tuple[str, str]]) -> tuple[str, str]:
    """SELECT lists (spark, duckdb) of a result fingerprint: the row
    count, per column its non-null count and the sum of its BIGINT form
    (timestamps split into seconds and micros), and the sum of a 32-bit
    md5 of each row's columns joined in a canonical string form. The row
    hash catches wrong values of the same length and values moved between
    rows; every sum is over BIGINT, which both engines add exactly."""
    s_aggs, d_aggs = ["count(*)"], ["count(*)"]
    s_row, d_row = [], []
    for name, t in fields:
        c = _canon(name, t)
        s_aggs.append(f"count(`{name}`)")
        d_aggs.append(f'count("{name}")')
        if c is None:
            continue
        if t == "timestamp":
            s_aggs += [f"sum(unix_seconds(`{name}`))", f"sum({c[0]} % 1000000)"]
            d_aggs += [f'sum(CAST(floor(epoch("{name}")) AS BIGINT))', f"sum({c[1]} % 1000000)"]
        elif t != "string":
            s_aggs.append(f"sum({c[0]})")
            d_aggs.append(f"sum({c[1]})")
        s_row.append(f"coalesce(CAST({c[0]} AS STRING), chr(30))")
        d_row.append(f"coalesce(CAST({c[1]} AS VARCHAR), chr(30))")
    if s_row:
        s_aggs.append(f"sum({_hash32('concat_ws(chr(31), ' + ', '.join(s_row) + ')', False)})")
        d_aggs.append(f"sum({_hash32('concat_ws(chr(31), ' + ', '.join(d_row) + ')', True)})")
    return ", ".join(s_aggs), ", ".join(d_aggs)


def _norm(row) -> tuple:
    return tuple(
        Decimal(str(v)).normalize()
        if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)
        else v
        for v in row
    )


# -- lake-commit ---------------------------------------------------------

APPENDS_PER_PASS = 4  # K: optimize + expire after every K appends
# Reads of each kind per pass. With 12 reads beside 5 writes the op
# median sits well inside the reads, not next to the slowest ones.
READS_PER_PASS = 4
KEEP_VERSIONS = 5
BASE_ORDERS = 30_000  # order keys in the initial commit
BATCH_ORDERS = 12_000  # order keys per appended batch (~4 lines each)
N_ORDERS = 150_000  # order-key range of the sf0.1 lineitem


def lake_passes(seed: int):
    """Endless passes: a seeded permutation of K appends and four each of
    scan, time-travel and change reads, with optimize after the K-th
    append. Appends carry their seeded order-key slice; reads carry the
    seeded draw that picks their version among those retained."""
    rng = random.Random(seed)
    while True:
        kinds = ["append"] * APPENDS_PER_PASS + ["scan", "time_travel", "changes"] * READS_PER_PASS
        rng.shuffle(kinds)
        ops: list[dict] = []
        for k in kinds:
            if k == "append":
                lo = rng.randrange(0, N_ORDERS - BATCH_ORDERS)
                ops.append({"kind": k, "lo": lo, "hi": lo + BATCH_ORDERS})
            else:
                ops.append({"kind": k, "pick": rng.random()})
        last = max(i for i, o in enumerate(ops) if o["kind"] == "append")
        ops.insert(last + 1, {"kind": "optimize"})
        yield ops


def batch_totals(keys: np.ndarray, qty: np.ndarray, lo: int, hi: int) -> tuple[int, int, int]:
    """(rows, sum of l_orderkey, sum of l_quantity) of one slice."""
    m = (keys >= lo) & (keys < hi)
    return int(m.sum()), int(keys[m].sum()), int(qty[m].sum())


class LakeWorkload:
    """One VersionedTable under ``root``; a model of its versions (dir set
    per version, totals per dir) gives the expected answer of every read."""

    def __init__(self, spark, sf_dir: str, root: str, tracer):
        self.spark, self.tracer, self.root = spark, tracer, root
        self.src = os.path.join(sf_dir, "lineitem.parquet")
        li = pq.read_table(self.src, columns=["l_orderkey", "l_quantity"])
        self.keys = li.column("l_orderkey").to_numpy()
        self.qty = li.column("l_quantity").to_numpy().astype(np.int64)
        self.row_bytes = pq.read_metadata(self.src).row_group(0).total_byte_size / len(self.keys)
        shutil.rmtree(root, ignore_errors=True)
        self.table = VersionedTable(spark, root)
        self.dirs: dict[int, list[int]] = {}
        self.dir_totals: dict[int, tuple[int, int, int]] = {}
        self.retained: list[int] = []
        self.user_bytes = 0.0
        self.written_bytes = 0
        v = self.table.commit(self._batch(0, BASE_ORDERS))
        self._record(v, [], (0, BASE_ORDERS))

    def op_types(self) -> list[dict]:
        return [
            {"kind": "append", "lo": 0, "hi": BATCH_ORDERS},
            {"kind": "scan"},
            {"kind": "time_travel", "pick": 0.0},
            {"kind": "changes", "pick": 0.0},
            {"kind": "optimize"},
        ]

    @staticmethod
    def op_class(op: dict) -> str:
        return "write" if op["kind"] in ("append", "optimize") else "read"

    def _batch(self, lo: int, hi: int):
        return self.spark.read.parquet(self.src).filter(
            f"l_orderkey >= {lo} AND l_orderkey < {hi}"
        )

    def _record(self, v: int, prior: list[int], bounds=None) -> None:
        self.dirs[v] = prior + [v]
        if bounds is not None:
            self.dir_totals[v] = batch_totals(self.keys, self.qty, *bounds)
        else:  # a rewrite of the previous version
            self.dir_totals[v] = self.totals(v - 1)
        self.retained.append(v)

    def totals(self, v: int, since: int | None = None) -> tuple[int, int, int]:
        old = set(self.dirs[since]) if since is not None else set()
        parts = [self.dir_totals[d] for d in self.dirs[v] if d not in old]
        return tuple(sum(p[i] for p in parts) for i in range(3))

    def _du(self, rel: list[str] | None = None) -> int:
        total = 0
        tops = [os.path.join(self.root, r) for r in rel] if rel else [self.root]
        for top in tops:
            for d, _, files in os.walk(top):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    @staticmethod
    def _scan_totals(df) -> tuple[int, int, int]:
        row = df.selectExpr(
            "count(*)", "sum(l_orderkey)", "CAST(sum(l_quantity) AS BIGINT)"
        ).collect()[0]
        return tuple(int(x or 0) for x in row)

    def _read(self, df, expect, op_id: int) -> bool:
        tr = self.tracer
        with tr.span("spark.execute", op_id, job_group=True):
            got = self._scan_totals(df)
        if tr.enabled:
            tr.note(op_id, files=len(df.inputFiles()))
        return got == tuple(expect)

    def run(self, op: dict, op_id: int) -> bool:
        tr, t = self.tracer, self.table
        latest = self.retained[-1]
        kind = op["kind"]
        if kind == "append":
            before = self._du() if tr.enabled else 0
            df = self._batch(op["lo"], op["hi"])
            with tr.span("versioned.append_commit", op_id, job_group=True):
                v = t.append_commit(df)
            self._record(v, self.dirs[latest], (op["lo"], op["hi"]))
            if tr.enabled:
                self.user_bytes += self.dir_totals[v][0] * self.row_bytes
                self.written_bytes += self._du() - before
            return True
        if kind == "optimize":
            before = self._du() if tr.enabled else 0
            with tr.span("versioned.optimize", op_id, job_group=True):
                v = t.optimize(target_files=4)
            self._record(v, [])
            if tr.enabled:
                self.written_bytes += self._du() - before
            with tr.span("versioned.expire", op_id, job_group=True):
                dropped = set(t.expire(keep_last=KEEP_VERSIONS))
            self.retained = [x for x in self.retained if x not in dropped]
            return True
        if kind == "scan":
            with tr.span("versioned.resolve", op_id):
                df = t.read()
            return self._read(df, self.totals(latest), op_id)
        older = self.retained[:-1] or [latest]
        pick = older[int(op["pick"] * len(older))]
        if kind == "time_travel":
            with tr.span("versioned.resolve", op_id):
                df = t.read(version=pick)
            return self._read(df, self.totals(pick), op_id)
        with tr.span("versioned.resolve", op_id):
            df = t.read_changes(since=pick)
        return self._read(df, self.totals(latest, since=pick), op_id)

    def check(self) -> list[tuple[str, bool, str]]:
        """Latest version holds every committed row; each retained
        version reads back the count recorded at its commit."""
        out = []
        for v in self.retained:
            try:
                got = self._scan_totals(self.table.read(version=v))
                ok = got == self.totals(v)
                out.append((f"version {v}", ok, f"got {got} expected {self.totals(v)}"))
            except Exception as e:
                out.append((f"version {v}", False, f"{type(e).__name__}: {e}"[:300]))
        return out

    def space_amplification(self) -> float:
        cur = self._du([f"_v{d:08d}" for d in self.dirs[self.retained[-1]]])
        return self._du() / cur

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
