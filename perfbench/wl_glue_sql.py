"""glue_sql — the reference demo's own use: one Glue catalog over the
TPC-H tables, registered once at set-up, then a seeded stream of
``GlueCatalog.sql(...)`` calls on ``glue.default.*`` names whose
results are collected.  Spark execution does nearly all the work; the
catalog only rewrites names and plans.

Stream (fixed order, seeded literals), per deck of 10:
TPC-H Q1, Q3, Q5, Q6, Q10, Q18 shapes, two point lookups on
``orders``, one ``SELECT * ... LIMIT 10`` sample and one
``information_schema.columns`` filter.  Read-only: write share 0.
Checked against DuckDB over the same parquet with the same literals.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Iterator

import duckdb

import data
import layers
from checks import norm_rows, rows_match, spark_type_string
from common import Op, OpRecord, Tracer

SF = 0.1
TPCH = ("q1", "q3", "q5", "q6", "q10", "q18")
ROUND_S = 0.8  # every query is a round; nominal length on 4 cores
# fixed order, seeded literals: every seed does the same kinds of work
DECK = ("q1", "point", "q3", "sample", "q5", "q6", "point", "q10",
        "infoschema", "q18")
KEY_COLUMNS = {
    "region": ("r_regionkey",), "nation": ("n_nationkey",),
    "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
}


@dataclass
class State:
    seed: int
    sf: float
    paths: dict
    n_orders: int
    client: object
    catalog: object
    duck: object
    calls_before: dict
    tracer: Tracer = field(default_factory=lambda: Tracer(False))


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def query_text(kind: str, rng, n_orders: int) -> tuple[str, dict]:
    """Spark-side SQL (``glue.default.<t>`` names) with seeded literals;
    ``strip_catalog`` gives the DuckDB twin."""
    t = {n: f"glue.default.{n}" for n in KEY_COLUMNS}
    if kind == "q1":
        d = dt.date(1998, 12, 1) - dt.timedelta(days=int(rng.integers(60, 121)))
        return (
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
            "SUM(l_extendedprice) AS sum_base_price, "
            "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
            "SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
            "AVG(l_quantity) AS avg_qty, AVG(l_discount) AS avg_disc, "
            f"COUNT(*) AS count_order FROM {t['lineitem']} "
            f"WHERE l_shipdate <= {_ts(d)} GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus", {})
    if kind == "q3":
        seg = data.SEGMENTS[int(rng.integers(0, 5))]
        d = dt.date(1995, 3, 1) + dt.timedelta(days=int(rng.integers(0, 31)))
        return (
            "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
            f"FROM {t['customer']}, {t['orders']}, {t['lineitem']} "
            f"WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey "
            f"AND l_orderkey = o_orderkey AND o_orderdate < {_ts(d)} "
            f"AND l_shipdate > {_ts(d)} "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10", {})
    if kind == "q5":
        region = data.REGIONS[int(rng.integers(0, 5))]
        y = int(rng.integers(1993, 1998))
        return (
            "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
            f"FROM {t['customer']}, {t['orders']}, {t['lineitem']}, "
            f"{t['supplier']}, {t['nation']}, {t['region']} "
            "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
            "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
            f"AND r_name = '{region}' "
            f"AND o_orderdate >= {_ts(dt.date(y, 1, 1))} "
            f"AND o_orderdate < {_ts(dt.date(y + 1, 1, 1))} "
            "GROUP BY n_name ORDER BY revenue DESC, n_name", {})
    if kind == "q6":
        y = int(rng.integers(1993, 1998))
        disc = int(rng.integers(2, 10)) / 100
        q = int(rng.integers(24, 26))
        return (
            "SELECT SUM(l_extendedprice * l_discount) AS revenue "
            f"FROM {t['lineitem']} "
            f"WHERE l_shipdate >= {_ts(dt.date(y, 1, 1))} "
            f"AND l_shipdate < {_ts(dt.date(y + 1, 1, 1))} "
            f"AND l_discount > {disc - 0.015:.3f} AND l_discount < {disc + 0.015:.3f} "
            f"AND l_quantity < {q}", {})
    if kind == "q10":
        d = dt.date(1993, 2, 1) + dt.timedelta(days=int(rng.integers(0, 700)))
        return (
            "SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) "
            "AS revenue, c_acctbal, n_name "
            f"FROM {t['customer']}, {t['orders']}, {t['lineitem']}, {t['nation']} "
            "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
            f"AND o_orderdate >= {_ts(d)} "
            f"AND o_orderdate < {_ts(d + dt.timedelta(days=91))} "
            "AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
            "GROUP BY c_custkey, c_name, c_acctbal, n_name "
            "ORDER BY revenue DESC, c_custkey LIMIT 20", {})
    if kind == "q18":
        q = int(rng.integers(280, 301))
        return (
            "SELECT c_name, c_custkey, o_orderkey, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, "
            f"SUM(l_quantity) AS sum_qty FROM {t['customer']}, {t['orders']}, "
            f"{t['lineitem']} WHERE o_orderkey IN (SELECT l_orderkey FROM "
            f"{t['lineitem']} GROUP BY l_orderkey HAVING SUM(l_quantity) > {q}) "
            "AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
            "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
            "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100", {})
    if kind == "point":
        # one in eight probes a key that does not exist (keys are 4k)
        k = int(rng.integers(1, n_orders + 1)) * 4 + int(rng.integers(0, 8) == 0)
        return f"SELECT * FROM {t['orders']} WHERE o_orderkey = {k}", {}
    if kind == "sample":
        name = sorted(KEY_COLUMNS)[int(rng.integers(0, len(KEY_COLUMNS)))]
        return f"SELECT * FROM {t[name]} LIMIT 10", {"table": name}
    if kind == "infoschema":
        name = sorted(KEY_COLUMNS)[int(rng.integers(0, len(KEY_COLUMNS)))]
        return (
            "SELECT column_name, ordinal_position, data_type "
            "FROM glue.information_schema.columns "
            f"WHERE table_schema = 'default' AND table_name = '{name}' "
            "ORDER BY ordinal_position", {"table": name})
    raise ValueError(kind)


def strip_catalog(text: str) -> str:
    return text.replace("glue.default.", "")


def prepare(seed: int, scale: float, out_dir: str) -> dict:
    """Write the seeded inputs; returns {table: parquet path}."""
    return data.write_tables(data.tpch_tables(seed, SF * scale), out_dir)


def setup(spark, seed: int, scale: float, paths: dict) -> State:
    from datafusion_catalogprovider_glue_spark.catalog.catalog import GlueCatalog
    from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
        TESTDATA_GLUE_COLUMNS, FakeGlueClient, parquet_table,
    )

    client = FakeGlueClient({"default": {
        n: parquet_table("default", n, p, TESTDATA_GLUE_COLUMNS[n])
        for n, p in paths.items()
    }})
    catalog = GlueCatalog(spark, client)
    results = catalog.register_all()
    bad = [r for r in results if isinstance(r, Exception)]
    if bad:
        raise RuntimeError(f"glue_sql set-up: registration failed: {bad}")
    duck = duckdb.connect()
    for n, p in paths.items():
        duck.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{p}')")
    import pyarrow.parquet as pq

    n_orders = pq.ParquetFile(paths["orders"]).metadata.num_rows
    return State(seed, SF * scale, paths, n_orders, client, catalog, duck, {})


def _run(state: State, kind: str, text: str) -> list[tuple]:
    from datafusion_catalogprovider_glue_spark import infoschema

    if kind == "infoschema":
        # the views' content is the registry at query time: rebuild
        infoschema.information_schema_columns(state.catalog) \
            .createOrReplaceTempView("glue__information_schema__columns")
    df = state.catalog.sql(text)
    with state.tracer.span("spark.collect"):
        return [tuple(r) for r in df.collect()]


def warmup(spark, state: State) -> None:
    rng = data.rng_for(state.seed, 99)
    for kind in DECK:
        text, _ = query_text(kind, rng, state.n_orders)
        _run(state, kind, text)


def install_tracing(tracer: Tracer, state: State) -> None:
    state.tracer = tracer
    layers.install_catalog(tracer)


def before_loop(spark, state: State) -> None:
    state.calls_before = dict(state.client.calls)


def ops(spark, state: State) -> Iterator[Op]:
    rng = data.rng_for(state.seed, 2)
    while True:
        for kind in DECK:
            text, meta = query_text(kind, rng, state.n_orders)
            yield Op(kind, lambda k=kind, q=text: _run(state, k, q),
                     {"sql": text, **meta})


def after_loop(spark, state: State, records: list[OpRecord], tracer: Tracer) -> dict:
    return {"per_layer": layers.glue_call_counters(state.client, state.calls_before)}


def check(spark, state: State, records: list[OpRecord]) -> list[str]:
    problems = []
    for r in records:
        if r.error is not None:
            continue
        got = norm_rows(r.output)
        if r.kind == "infoschema":
            cols = state.duck.execute(
                f"DESCRIBE SELECT * FROM {r.meta['table']}").fetchall()
            from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
                TESTDATA_GLUE_COLUMNS,
            )

            glue = dict(TESTDATA_GLUE_COLUMNS[r.meta["table"]])
            want = [(c[0], i, spark_type_string(glue[c[0]]))
                    for i, c in enumerate(cols)]
            ok = rows_match(got, want)
        elif r.kind == "sample":
            name = r.meta["table"]
            n = state.duck.execute(f"SELECT COUNT(*) FROM {name}").fetchone()[0]
            keys = KEY_COLUMNS[name]
            idx = [i for i, c in enumerate(
                state.duck.execute(f"DESCRIBE SELECT * FROM {name}").fetchall())
                if c[0] in keys]
            ok = len(got) == min(10, n)
            if ok and got:
                cond = " OR ".join(
                    "(" + " AND ".join(f"{keys[j]} = {row[i]}"
                                        for j, i in enumerate(idx)) + ")"
                    for row in got)
                want = norm_rows(state.duck.execute(
                    f"SELECT * FROM {name} WHERE {cond}").fetchall())
                ok = rows_match(got, want, ordered=False)
        else:
            want = norm_rows(state.duck.execute(
                strip_catalog(r.meta["sql"])).fetchall())
            ok = rows_match(got, want)
        if not ok:
            problems.append(f"op {r.op_id} {r.kind}: result differs from DuckDB")
    return problems


def layer_metrics(tracer: Tracer, state: State, records) -> dict:
    out = layers.common_layer_metrics(tracer)
    out["catalog.partitions_registered"] = sum(
        len(e.partitions) for e in state.catalog.entries())
    return out


def corrupt(records: list[OpRecord]) -> None:
    """Self-test: perturb one numeric cell of the first TPC-H result."""
    for r in records:
        if r.error is None and r.kind in TPCH and r.output:
            row = list(r.output[0])
            j = next(i for i, v in enumerate(row) if isinstance(v, float))
            row[j] = row[j] * 1.001 + 1.0
            r.output[0] = tuple(row)
            return
    raise AssertionError("no TPC-H result to corrupt")
