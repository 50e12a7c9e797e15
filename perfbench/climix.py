"""The `cli` workload's call mix: bdt subcommands over the sf0.1 tables.

One pass is one call of every kind in KINDS, in a seeded order, with seeded
predicate constants in every `query`. The kinds are weighted equally: no
record of how bdt is used exists to weight them by. Each call records what it
needs for its output check, which runs after the timed window.
"""

from __future__ import annotations

import io
import os
import random
import shutil
from contextlib import redirect_stdout
from dataclasses import dataclass

# the call kinds, each with the bdt subcommand it runs
SUBCOMMAND = {
    "meta": "view-parquet-meta",
    "schema": "schema",
    "count": "count",
    "view": "view",
    "query": "query",
    "convert_csv": "convert",
    "convert_zstd": "convert",
    "query_output": "query",
    "compare_epsilon": "compare",
    "compare_hash": "compare",
}
KINDS = tuple(SUBCOMMAND)
EPSILON = 0.01
READ_TABLES = ("lineitem", "orders", "customer")
# `view` shows the first rows, whose keys are 0..9 in both tables
VIEW_TABLES = ("orders", "customer")
_QUERIES = {
    "orders": (
        "SELECT o_orderpriority, count(*) AS n, min(o_orderkey) AS k "
        "FROM orders WHERE o_totalprice > {price} "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "lineitem": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "CAST(sum(l_quantity) AS BIGINT) AS q FROM lineitem "
        "WHERE l_shipdate < TIMESTAMP '{day}' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
    "join": (
        "SELECT c_mktsegment, count(*) AS n, max(o_orderkey) AS k "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "WHERE c_acctbal > {balance} GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ),
    "output": (
        "SELECT o_orderstatus, count(*) AS n FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '{day}' GROUP BY o_orderstatus"
    ),
}


@dataclass
class Call:
    kind: str
    argv: list[str]
    table: str = ""
    sql: str = ""
    output: str = ""
    rc: int | None = None
    stdout: str = ""
    error: str = ""

    @property
    def subcommand(self) -> str:
        return SUBCOMMAND[self.kind]


def prepare_inputs(data_dir: str, work_dir: str, seed: int) -> None:
    """Write the compare inputs: an exact copy of customer, and a copy whose
    c_acctbal values move by less than EPSILON / 10, seeded. Untimed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "out"))
    src = os.path.join(data_dir, "customer.parquet")
    shutil.copyfile(src, os.path.join(work_dir, "customer_copy.parquet"))
    t = pq.read_table(src)
    rng = np.random.default_rng(seed)
    bal = t.column("c_acctbal").to_numpy()
    moved = bal + rng.uniform(-EPSILON / 10, EPSILON / 10, len(bal))
    i = t.schema.get_field_index("c_acctbal")
    t = t.set_column(i, "c_acctbal", pa.array(moved))
    pq.write_table(t, os.path.join(work_dir, "customer_perturbed.parquet"))


class Mix:
    """Seeded generator of CLI calls, one pass at a time."""

    def __init__(self, data_dir: str, work_dir: str, seed: int) -> None:
        self.data = data_dir
        self.work = work_dir
        self.rng = random.Random(seed)
        self.n = 0

    def _path(self, table: str) -> str:
        return os.path.join(self.data, f"{table}.parquet")

    def _out(self, name: str) -> str:
        self.n += 1
        return os.path.join(self.work, "out", f"{self.n}_{name}")

    def _day(self) -> str:
        return f"{self.rng.randint(1996, 2000)}-{self.rng.randint(1, 12):02d}-01"

    def make(self, kind: str) -> Call:
        rng = self.rng
        if kind in ("meta", "schema", "count"):
            table = rng.choice(READ_TABLES)
            head = {"meta": ["view-parquet-meta"], "schema": ["schema"],
                    "count": ["count", "--table"]}[kind]
            return Call(kind, head + [self._path(table)], table=table)
        if kind == "view":
            table = rng.choice(VIEW_TABLES)
            return Call(kind, ["view", self._path(table)], table=table)
        if kind == "query":
            shape = rng.choice(["orders", "lineitem", "join"])
            sql = _QUERIES[shape].format(
                price=round(rng.uniform(50_000, 450_000), 2),
                day=self._day(),
                balance=round(rng.uniform(-500, 9000), 2),
            )
            argv = ["query"]
            for t in ["orders", "customer"] if shape == "join" else [shape]:
                argv += ["--table", self._path(t)]
            return Call(kind, argv + ["--sql", sql], sql=sql)
        if kind == "query_output":
            sql = _QUERIES["output"].format(day=self._day())
            out = self._out("orders_status.csv")
            argv = ["query", "--table", self._path("orders"), "--sql", sql,
                    "--output", out]
            return Call(kind, argv, sql=sql, output=out)
        if kind == "convert_csv":
            out = self._out("customer.csv")
            return Call(kind, ["convert", self._path("customer"), out],
                        table="customer", output=out)
        if kind == "convert_zstd":
            out = self._out("customer.parquet")
            return Call(kind, ["convert", "-z", self._path("customer"), out],
                        table="customer", output=out)
        if kind == "compare_epsilon":
            other = os.path.join(self.work, "customer_perturbed.parquet")
            return Call(kind, ["compare", "-e", str(EPSILON),
                               "--method", "positional",
                               self._path("customer"), other])
        if kind == "compare_hash":
            other = os.path.join(self.work, "customer_copy.parquet")
            return Call(kind, ["compare", "--method", "hash",
                               self._path("customer"), other])
        raise ValueError(kind)

    def next_pass(self) -> list[Call]:
        kinds = list(KINDS)
        self.rng.shuffle(kinds)
        return [self.make(k) for k in kinds]


def invoke(main, call: Call) -> None:
    """Run `bdt_spark.cli.main(argv)` in-process, capturing its stdout."""
    buf = io.StringIO()
    try:
        with redirect_stdout(buf):
            call.rc = main(call.argv)
    except SystemExit as e:  # the CLI exits 1 on a failed compare
        call.rc = e.code if isinstance(e.code, int) else 1
    call.stdout = buf.getvalue()


# ---------------------------------------------------------------------------
# Output checks (untimed; run after the window)
# ---------------------------------------------------------------------------


def _show_rows(text: str) -> list[list[str]]:
    """Data rows of a DataFrame.show() table (header row dropped)."""
    rows = [
        [c.strip() for c in line.strip().strip("|").split("|")]
        for line in text.splitlines()
        if line.startswith("|")
    ]
    return rows[1:]


class Checker:
    def __init__(self, data_dir: str) -> None:
        import duckdb
        import pyarrow.parquet as pq

        self.data = data_dir
        self.pq = pq
        self.sorted = {}  # table -> (its rows sorted by every column, sort keys)
        self.con = duckdb.connect()
        self.con.execute("SET timezone='UTC'")
        for t in ("lineitem", "orders", "customer"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
            )

    def _path(self, table: str) -> str:
        return os.path.join(self.data, f"{table}.parquet")

    def _same_rows(self, table: str, out) -> bool:
        """The table's rows, in any order, equal `out`'s, whose column types
        are cast to the table's first (CSV reads integers back as int64)."""
        if table not in self.sorted:
            src = self.pq.read_table(self._path(table))
            keys = [(c, "ascending") for c in src.column_names]
            self.sorted[table] = src.sort_by(keys), keys
        src, keys = self.sorted[table]
        if out.column_names != src.column_names or out.num_rows != src.num_rows:
            return False
        return src.equals(out.cast(src.schema).sort_by(keys))

    def _oracle(self, sql: str) -> list[list[str]]:
        return [[str(v) for v in row] for row in self.con.execute(sql).fetchall()]

    def check(self, call: Call) -> str:
        """'' when the call's output is correct, else what was wrong."""
        if call.error:
            return call.error
        if call.rc != 0:
            return f"exit code {call.rc}"
        out = call.stdout
        kind = call.kind
        if kind == "meta":
            n = self.pq.read_metadata(self._path(call.table)).num_rows
            return "" if f"rows: {n}" in out.splitlines() else "row count not printed"
        if kind == "schema":
            names = [line.split()[0] for line in out.splitlines()[1:] if line.strip()]
            want = self.pq.read_schema(self._path(call.table)).names
            return "" if names == want else f"columns {names} != {want}"
        if kind == "count":
            n = self.pq.read_metadata(self._path(call.table)).num_rows
            return "" if out.strip().splitlines()[-1:] == [str(n)] else "wrong count"
        if kind == "view":
            keys = [r[0] for r in _show_rows(out)]
            return "" if keys == [str(i) for i in range(10)] else f"rows {keys}"
        if kind == "query":
            got = _show_rows(out)
            want = self._oracle(call.sql)
            return "" if got == want else f"rows {got} != {want}"
        if kind == "query_output":
            import pyarrow.csv as pcsv

            got = sorted(
                [str(v) for v in r.values()]
                for r in pcsv.read_csv(call.output).to_pylist()
            )
            want = sorted(self._oracle(call.sql))
            return "" if got == want else f"rows {got} != {want}"
        if kind in ("convert_csv", "convert_zstd"):
            import pyarrow.dataset as ds

            fmt = "csv" if kind == "convert_csv" else "parquet"
            dst = ds.dataset(call.output, format=fmt).to_table()
            return "" if self._same_rows(call.table, dst) else "rows differ"
        if kind in ("compare_epsilon", "compare_hash"):
            return ""  # rc 0 means the compare reported the files equal
        raise ValueError(kind)
