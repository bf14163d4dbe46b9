"""The benchmark's workloads.

Each workload drives only the program's public entry points
(`SparkDB.open` / `Connection`, and the registered `fn(spark, sf_dir)`
plans), runs the same list of operations in every pass, and checks every
output afterwards against DuckDB evaluating the same work over the same
parquet files.

A workload provides:
  setup()          open a session, register data, warm up
  teardown()       close the handles opened by setup()
  ops(pass_no)     the pass's operations, [(kind, label, fn)]; fn()
                   returns the output that check() is given
  check(outputs)   outputs: [(pass_no, kind, label, output)]; returns
                   one message per output that differs from DuckDB
  kinds(records)   per-operation-kind figures over the measured passes,
                   for the run record
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import compare


def _duck():
    duck = duckdb.connect()
    duck.execute("SET enable_progress_bar = false")  # it would write to stdout
    return duck


def _median(xs):
    return statistics.median(xs) if xs else None


class SessionMix:
    """WebDB-shaped session over parquet views: prepared point lookups,
    CTAS then INSERT/UPDATE/DELETE on a session table, a streamed scan of
    all of lineitem, CSV/JSON/Arrow ingestion and one COPY to parquet."""

    name = "session_mix"
    sf = 0.01
    LOOKUP = (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM orders WHERE o_orderkey = ?"
    )
    INGEST_ROWS = 2000

    def __init__(self, data_dir: str, work: str, seed: int, nproc: int):
        self.data, self.work, self.seed, self.nproc = data_dir, work, seed, nproc
        self.n_orders = pq.ParquetFile(f"{data_dir}/orders.parquet").metadata.num_rows
        self.db = self.con = None
        self._scripts: dict[int, list] = {}

    def _views(self):
        return [
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{self.data}/{t}.parquet')"
            for t in ("orders", "lineitem")
        ]

    def setup(self):
        from duckdb_wasm_spark.session import SparkDB

        self.db = SparkDB.open({"maximumThreads": self.nproc})
        self.con = self.db.connect()
        for sql in self._views():
            self.con.query(sql)
        self.con.query("SELECT count(*) AS n FROM lineitem")
        self.stmt = self.con.prepare(self.LOOKUP)
        return self.db.spark

    def teardown(self):
        self.con.close()
        self.db.close()

    # ------------------------------------------------------------ script
    def _ingest_table(self, rng: random.Random) -> pa.Table:
        n = self.INGEST_ROWS
        return pa.table({
            "id": pa.array(range(n), pa.int32()),
            "name": [f"item{rng.randrange(10**6)}" for _ in range(n)],
            "score": [round(rng.uniform(-1000, 1000), 3) for _ in range(n)],
            "qty": pa.array([rng.randrange(1000) for _ in range(n)], pa.int32()),
        })

    def script(self, p: int) -> list:
        """The pass's statements as (kind, label, payload), derived
        from (seed, pass) only; the DuckDB replay reads the same list."""
        if p in self._scripts:
            return self._scripts[p]
        rng = random.Random(self.seed * 7919 + p)
        keys = [rng.randrange(self.n_orders) for _ in range(8)]
        r = rng.randrange(10)
        new_key = self.n_orders + 100 * p
        vals = ", ".join(
            f"({new_key + i}, {rng.randrange(1000)}, 'N', {rng.randrange(10**5)}.25, '3-MEDIUM')"
            for i in range(3)
        )
        lo = rng.randrange(self.n_orders - 500)
        ingest = self._ingest_table(rng)
        csv = os.path.join(self.work, f"in_{p}.csv")
        js = os.path.join(self.work, f"in_{p}.json")
        with open(csv, "w") as fh:
            fh.write("id,name,score,qty\n")
            for row in zip(*(c.to_pylist() for c in ingest.columns)):
                fh.write(",".join(str(v) for v in row) + "\n")
        with open(js, "w") as fh:
            json.dump(ingest.to_pylist(), fh)
        out = os.path.join(self.work, f"copy_{p}.parquet")
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"
        writes = [
            ("ctas", "ctas", [
                "DROP TABLE IF EXISTS hot",
                f"CREATE TABLE hot AS SELECT {cols} FROM orders WHERE o_custkey % 10 = {r}",
            ]),
            ("insert", "insert_values", [f"INSERT INTO hot VALUES {vals}"]),
            ("insert", "insert_select", [
                f"INSERT INTO hot SELECT {cols} FROM orders "
                f"WHERE o_orderkey BETWEEN {lo} AND {lo + 200}"
            ]),
            ("update", "update", [
                "UPDATE hot SET o_totalprice = o_totalprice + 0.5, o_orderpriority = '1-URGENT' "
                f"WHERE o_custkey % 3 = {r % 3}"
            ]),
            ("delete", "delete", [f"DELETE FROM hot WHERE o_orderkey % 7 = {r % 7}"]),
            ("table_read", "table_read", ["SELECT * FROM hot"]),
        ]
        steps = []
        for i, k in enumerate(keys):
            steps.append(("lookup", f"lookup{i}", k))
            if i < len(writes):
                steps.append(writes[i])
        steps += [
            ("stream", "stream_lineitem", "SELECT * FROM lineitem"),
            ("ingest", "ingest_csv", csv),
            ("ingest", "ingest_json", js),
            ("ingest", "ingest_arrow", ingest),
            ("copy", "copy_parquet", (
                "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate "
                f"FROM lineitem WHERE l_orderkey % 4 = {r % 4}", out)),
        ]
        self._scripts[p] = steps
        return steps

    def ops(self, p: int) -> list:
        con, db = self.con, self.db
        out = []
        for kind, label, payload in self.script(p):
            if kind == "lookup":
                fn = lambda k=payload: con.run_prepared(self.stmt, k)
            elif kind in ("ctas", "insert", "update", "delete", "table_read"):
                fn = lambda sqls=payload: [con.query(s) for s in sqls][-1]
            elif kind == "stream":
                def fn(sql=payload):
                    con.send(sql)
                    batches = []
                    while (b := con.fetch()) is not None:
                        batches.append(b)
                    return pa.Table.from_batches(batches)
            elif label == "ingest_csv":
                def fn(path=payload):
                    db.register_file_text("in.csv", open(path).read())
                    con.insert_csv_from_path("in.csv", table="csv_in")
                    return con.query("SELECT * FROM csv_in")
            elif label == "ingest_json":
                def fn(path=payload):
                    db.register_file_text("in.json", open(path).read())
                    con.insert_json_from_path("in.json", table="json_in")
                    return con.query("SELECT * FROM json_in")
            elif label == "ingest_arrow":
                def fn(table=payload):
                    con.insert_arrow_table(table, name="arrow_in")
                    return con.query("SELECT * FROM arrow_in")
            else:  # copy
                def fn(sel_out=payload):
                    con.query(f"COPY ({sel_out[0]}) TO '{sel_out[1]}' (FORMAT PARQUET)")
                    return sel_out[1]
            out.append((kind, label, fn))
        return out

    # ------------------------------------------------------------- check
    def check(self, outputs) -> list[str]:
        duck = _duck()
        for sql in self._views():
            duck.execute(sql)

        def rows(sql, params=None):
            return compare.patch_bigint(duck.execute(sql, params or []).arrow())

        bad = []
        by_pass: dict[int, dict] = {}
        for p, kind, label, got in outputs:
            by_pass.setdefault(p, {})[label] = got
        for p, got in sorted(by_pass.items()):
            for kind, label, payload in self.script(p):
                if kind == "lookup":
                    want = rows(self.LOOKUP, [payload])
                elif kind in ("ctas", "insert", "update", "delete", "table_read"):
                    for sql in payload:
                        duck.execute(sql)
                    if kind != "table_read":
                        continue
                    want = rows(payload[-1])
                elif kind == "stream":
                    want = rows(payload)
                elif label == "ingest_csv":
                    want = rows(f"SELECT * FROM read_csv_auto('{payload}')")
                elif label == "ingest_json":
                    want = rows(f"SELECT * FROM read_json_auto('{payload}')")
                    # JSON object members are unordered: the program lists
                    # them by name, DuckDB in document order; match by name
                    if label in got and sorted(want.schema.names) == sorted(
                        got[label].schema.names
                    ):
                        want = want.select(got[label].schema.names)
                elif label == "ingest_arrow":
                    want = payload
                else:  # copy: the program's file, read back, vs DuckDB's query
                    want = rows(payload[0])
                if label not in got:
                    continue  # the operation failed; counted as failed
                out = got[label]
                if kind == "copy":
                    out = pq.read_table(out)
                msg = compare.diff_tables(out, want)
                if msg:
                    bad.append(f"pass {p} {label}: {msg}")
        duck.close()
        return bad

    def kinds(self, records) -> dict:
        """Per-kind figures over the measured passes."""
        warm = [r for r in records if r["measured"] and r["ok"]]

        def walls(*ks):
            return [r["wall_s"] * 1000 for r in warm if r["kind"] in ks]

        per_kind = {k: _median(walls(k)) for k in ("insert", "update", "delete")}
        stream = [r for r in warm if r["kind"] == "stream"]
        ingest_by_pass: dict[int, list] = {}
        for r in warm:
            if r["kind"] == "ingest":
                ingest_by_pass.setdefault(r["pass_no"], []).append(r)
        return {
            "lookup_p50_ms": _median(walls("lookup")),
            "write_p50_ms": _median(walls("insert", "update", "delete")),
            **{f"{k}_p50_ms": v for k, v in per_kind.items()},
            "stream_rows_per_s": _median([r["rows"] / r["wall_s"] for r in stream]),
            "ingest_rows_per_s": _median([
                sum(r["rows"] for r in rs) / sum(r["wall_s"] for r in rs)
                for rs in ingest_by_pass.values()
            ]),
        }


class OperatorPlans:
    """Registered operator plans, each `fn(spark, sf_dir).collect()`."""

    name = "operator_plans"
    sf = 0.01
    # a traced run replaces this with Tracer.span
    span = staticmethod(lambda name: contextlib.nullcontext())
    PLANS = (
        "dedup_jaccard_prefix",
        "dedup_edit_verify",
        "events_stream_outer_join",
    )

    def __init__(self, data_dir: str, work: str, seed: int, nproc: int):
        self.data, self.work, self.seed, self.nproc = data_dir, work, seed, nproc
        self.db = self.con = None

    def setup(self):
        import __spark_entry__
        from duckdb_wasm_spark.session import SparkDB

        self.queries = __spark_entry__.queries()
        self.oracle = __spark_entry__.oracle_sql()
        self.db = SparkDB.open({"maximumThreads": self.nproc})
        self.con = self.db.connect()
        self.con.query(
            f"SELECT count(*) AS n FROM parquet_scan('{self.data}/documents.parquet')"
        )
        return self.db.spark

    def teardown(self):
        self.con.close()
        self.db.close()

    def ops(self, p: int) -> list:
        return [(name, name, lambda n=name: self._run(n)) for name in self.PLANS]

    def _run(self, name):
        spark = self.db.spark
        with self.span("operators.build"):
            df = self.queries[name](spark, self.data)
        with self.span("operators.exec"):
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    def check(self, outputs) -> list[str]:
        duck = _duck()
        for f in sorted(os.listdir(self.data)):
            duck.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS "
                f"SELECT * FROM read_parquet('{self.data}/{f}')"
            )
        want = {}
        bad = []
        for p, kind, label, (cols, rows) in outputs:
            if label not in want:
                cur = duck.execute(self.oracle[label])
                want[label] = ([d[0] for d in cur.description], cur.fetchall())
            msg = compare.diff(cols, rows, *want[label])
            if msg:
                bad.append(f"pass {p} {label}: {msg}")
        duck.close()
        return bad

    def kinds(self, records) -> dict:
        return {
            f"{name}_ms": _median([
                r["wall_s"] * 1000 for r in records
                if r["measured"] and r["ok"] and r["label"] == name
            ])
            for name in self.PLANS
        }


WORKLOADS = {w.name: w for w in (SessionMix, OperatorPlans)}
