"""glue_metadata — a seeded synthetic Glue catalog over small slices of
the TPC-H tables, where the catalog, types, formats and infoschema
modules do the work.

Catalog shape (GetDatabases/GetTables/GetPartitions paged at 100):

* ``sales``: Hive-directory tables in three SerDes — parquet
  ``orders_hive``, csv ``customer_csv``, json ``lineitem_json``;
* ``nested``: parquet ``profiles`` with struct, array, map and decimal
  columns, Hive-partitioned;
* ``events``: three explicit-partition tables (``ev_a`` .. ``ev_c``)
  whose partitions sit in scattered directories (GetPartitions is the
  only way to find them), and ``ev_days``, a partition-projection
  table over a date range with missing days.

Every operation starts from a cold ``GlueCatalog`` (its views dropped
after the previous operation) and does one of: ``register_all``;
``register_table`` on an explicit-partition table with or without a
``partition_expression``; ``register_table`` on one of the other
tables; a lazy ``sql()`` on an unregistered table; an
``information_schema.columns`` query after ``register_tables``.  It
then runs one pruned (``WHERE <partition key> = v``) and one unpruned
count.  Registration is paid on every operation.  Read-only: write
share 0.  Checked against the schemas and per-partition row counts the
generator recorded.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import data
import layers
from checks import spark_type_string
from common import Op, OpRecord, Tracer, now

# Partitions of the explicit-partition tables.  Each partition is one
# scan branch (~20 ms to register and ~20 ms to count on 4 cores), so
# these sizes keep an operation under a second and a round of the
# schedule near four seconds.
PARTITIONS = {"ev_a": 8, "ev_b": 12, "ev_c": 16}
PROJECTION_DAYS = 20
# The operation schedule is fixed: one round runs every entry once, each
# entry is a slot, and throughput takes each slot's median over the
# rounds, so a run has at least MIN_ROUNDS rounds.  The seed draws the
# data, the counted partition value and the expression's range, so every
# seed does the same amount of work.  infoschema registers a whole
# database first; register_all registers all nine tables.
SCHEDULE = (
    ("register_explicit", "events.ev_c"), ("lazy_sql", "sales.lineitem_json"),
    ("register_expr", "events.ev_b"), ("register_table", "nested.profiles"),
    ("infoschema", "sales.customer_csv"), ("register_all", "events.ev_days"),
)
ROUND_S = 4.0  # nominal length of a round on 4 cores
MIN_ROUNDS = 3
# The warm-up runs WARM_ROUNDS rounds of the schedule on a second,
# smaller catalog (same code paths, a quarter of the partitions and rows).
WARM_SCALE = 0.25
WARM_ROUNDS = 2
EVENT_COLUMNS = [("event_id", "bigint"), ("user_id", "bigint"),
                 ("value", "double"), ("kind", "string")]
NESTED_COLUMNS = [("id", "bigint"), ("attrs", "struct<a:int,b:string>"),
                  ("tags", "array<string>"), ("scores", "map<string,int>"),
                  ("balance", "decimal(12,2)")]
TEXT_IN = "org.apache.hadoop.mapred.TextInputFormat"
TEXT_OUT = "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat"


@dataclass
class State:
    seed: int
    spec: dict
    client: object
    spark: object
    catalogs: list = field(default_factory=list)  # of the operation in flight
    calls_before: dict = field(default_factory=dict)
    register_s: list = field(default_factory=list)
    tracer: Tracer = field(default_factory=lambda: Tracer(False))


# ---------------------------------------------------------------------------
# input generation (pure: files + a JSON spec with paths relative to it)
# ---------------------------------------------------------------------------


def _events(rng, n: int, first_id: int) -> pa.Table:
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "user_id": pa.array(rng.integers(1, 5000, n), pa.int64()),
        "value": np.round(rng.uniform(0, 1000, n), 3),
        "kind": pa.array(np.array(["view", "click", "buy"])[rng.integers(0, 3, n)]),
    })


def _hive(tbl: pa.Table, key: str, out: str, fmt: str) -> dict:
    """Write ``tbl`` as ``<out>/<key>=<v>/part-0.<fmt>`` without the key
    column; returns {value: rows}."""
    rows = {}
    keys = tbl.column(key).to_pylist()
    for v in sorted(set(keys)):
        mask = pa.array([k == v for k in keys])
        part = tbl.filter(mask).drop_columns([key])
        d = os.path.join(out, f"{key}={v}")
        os.makedirs(d, exist_ok=True)
        if fmt == "parquet":
            pq.write_table(part, os.path.join(d, "part-0.parquet"))
        elif fmt == "csv":
            pacsv.write_csv(part, os.path.join(d, "part-0.csv"),
                            pacsv.WriteOptions(delimiter="|", quoting_style="none"))
        else:
            with open(os.path.join(d, "part-0.json"), "w") as fh:
                for r in part.to_pylist():
                    fh.write(json.dumps(r, default=str) + "\n")
        rows[str(v)] = part.num_rows
    return rows


def _sd(loc: str, columns, fmt: str) -> dict:
    sd = {"Columns": [{"Name": n, "Type": t} for n, t in columns],
          "Location": loc}
    if fmt == "parquet":
        sd.update({
            "InputFormat": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
            "OutputFormat": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
            "SerdeInfo": {"SerializationLibrary":
                          "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"},
        })
    elif fmt == "csv":
        sd.update({
            "InputFormat": TEXT_IN, "OutputFormat": TEXT_OUT,
            "SerdeInfo": {
                "SerializationLibrary": "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
                "Parameters": {"field.delim": "|"}},
            "Parameters": {"skip.header.line.count": "1"},
        })
    else:
        sd.update({
            "InputFormat": TEXT_IN, "OutputFormat": TEXT_OUT,
            "SerdeInfo": {"SerializationLibrary": "org.apache.hive.hcatalog.data.JsonSerDe"},
        })
    return sd


def _table(db: str, name: str, loc: str, columns, fmt: str, pkey: tuple,
           params: dict | None = None) -> dict:
    return {"DatabaseName": db, "Name": name, "Parameters": dict(params or {}),
            "PartitionKeys": [{"Name": pkey[0], "Type": pkey[1]}],
            "StorageDescriptor": _sd(loc, columns, fmt)}


def prepare(seed: int, scale: float, out: str) -> dict:
    """The measured catalog under ``out`` and the warm-up catalog under
    ``out/warm``; the measured spec holds the warm-up one as ``warm``."""
    spec = _catalog(seed, scale, out)
    spec["warm"] = _catalog(seed, scale * WARM_SCALE, os.path.join(out, "warm"))
    return spec


def _catalog(seed: int, scale: float, out: str) -> dict:
    """Write one catalog's files under ``out`` and ``out/spec.json``:
    Glue table dicts, explicit partition lists and, per table, the
    expected schema and rows per partition value."""
    rng = data.rng_for(seed, 3)
    tp = data.tpch_tables(seed, 0.02 * scale)
    dbs: dict[str, dict] = {"sales": {}, "nested": {}, "events": {}}
    partitions: dict[str, list] = {}
    expect: dict[str, dict] = {}

    def add(db, name, tbl_dict, columns, pkey, rows):
        dbs[db][name] = tbl_dict
        expect[f"{db}.{name}"] = {
            "schema": [[n, spark_type_string(t)] for n, t in columns]
            + [[pkey[0], spark_type_string(pkey[1])]],
            "key": pkey[0], "key_type": pkey[1], "rows": rows,
        }

    from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
        TESTDATA_GLUE_COLUMNS as TC,
    )

    n_slice = max(int(3000 * scale), 60)
    for db, name, src, key, fmt in (
        ("sales", "orders_hive", "orders", "o_orderpriority", "parquet"),
        ("sales", "customer_csv", "customer", "c_mktsegment", "csv"),
        ("sales", "lineitem_json", "lineitem", "l_returnflag", "json"),
    ):
        tbl = tp[src].slice(0, n_slice)
        if fmt != "parquet":  # text SerDes: no timestamps in the slice
            tbl = tbl.drop_columns([c for c in tbl.column_names
                                    if c.endswith("date")])
        cols = [(c, t) for c, t in TC[src] if c in tbl.column_names and c != key]
        rows = _hive(tbl.select([c for c, _ in cols] + [key]), key,
                     os.path.join(out, db, name), fmt)
        add(db, name, _table(db, name, f"{db}/{name}", cols, fmt,
                             (key, "string")), cols, (key, "string"), rows)

    n = max(int(2000 * scale), 40)
    nested = pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "attrs": pa.array([{"a": int(a), "b": f"b{a % 7}"}
                           for a in rng.integers(0, 100, n)],
                          pa.struct([("a", pa.int32()), ("b", pa.string())])),
        "tags": pa.array([[f"t{j}" for j in range(int(k))]
                          for k in rng.integers(0, 4, n)], pa.list_(pa.string())),
        "scores": pa.array([[(f"s{j}", int(j * k)) for j in range(2)]
                            for k in rng.integers(0, 50, n)],
                           pa.map_(pa.string(), pa.int32())),
        "balance": pa.array([Decimal(int(x)).scaleb(-2)
                             for x in rng.integers(0, 10**7, n)],
                            pa.decimal128(12, 2)),
        "bucket": pa.array(rng.integers(0, 4, n), pa.int32()),
    })
    rows = _hive(nested, "bucket", os.path.join(out, "nested", "profiles"), "parquet")
    add("nested", "profiles",
        _table("nested", "profiles", "nested/profiles", NESTED_COLUMNS,
               "parquet", ("bucket", "int")),
        NESTED_COLUMNS, ("bucket", "int"), rows)

    first = 0
    for name, n_parts in PARTITIONS.items():
        n_parts = max(int(n_parts * scale), 3)
        plist, rows = [], {}
        for shard in range(n_parts):
            k = int(rng.integers(20, 121))
            loc = f"events/{name}/loc-{int(rng.integers(0, 1 << 30)):08x}-{shard}"
            os.makedirs(os.path.join(out, loc))
            pq.write_table(_events(rng, k, first),
                           os.path.join(out, loc, "part-0.parquet"))
            first += k
            plist.append({"Values": [str(shard)],
                          "StorageDescriptor": {"Location": loc}})
            rows[str(shard)] = k
        partitions[f"events.{name}"] = plist
        os.makedirs(os.path.join(out, "events", name, "root"), exist_ok=True)
        add("events", name,
            _table("events", name, f"events/{name}/root", EVENT_COLUMNS,
                   "parquet", ("shard", "int")),
            EVENT_COLUMNS, ("shard", "int"), rows)

    day0 = dt.date(2024, 1, 1)
    days = max(int(PROJECTION_DAYS * scale), 4)
    rows = {}
    for i in range(days):
        if rng.random() < 0.2:
            continue  # projected but absent: reads as empty
        d = (day0 + dt.timedelta(days=i)).isoformat()
        k = int(rng.integers(20, 121))
        loc = os.path.join(out, "events", "ev_days", f"day-{d}")
        os.makedirs(loc)
        pq.write_table(_events(rng, k, first), os.path.join(loc, "part-0.parquet"))
        first += k
        rows[d] = k
    last = (day0 + dt.timedelta(days=days - 1)).isoformat()
    add("events", "ev_days",
        _table("events", "ev_days", "events/ev_days/root", EVENT_COLUMNS,
               "parquet", ("dt", "date"), {
                   "projection.enabled": "true",
                   "projection.dt.type": "date",
                   "projection.dt.range": f"{day0.isoformat()},{last}",
                   "storage.location.template": "events/ev_days/day-${dt}",
               }),
        EVENT_COLUMNS, ("dt", "date"), rows)
    os.makedirs(os.path.join(out, "events", "ev_days", "root"), exist_ok=True)

    spec = {"databases": dbs, "partitions": partitions, "expect": expect}
    with open(os.path.join(out, "spec.json"), "w") as fh:
        json.dump(spec, fh, indent=1, sort_keys=True)
    return _absolute(spec, out)


def _absolute(spec: dict, root: str) -> dict:
    """Spec paths are relative to the input dir; Glue wants absolute."""
    def fix(loc: str) -> str:
        return os.path.join(root, loc)

    for tables in spec["databases"].values():
        for t in tables.values():
            sd = t["StorageDescriptor"]
            sd["Location"] = fix(sd["Location"])
            p = t["Parameters"]
            if "storage.location.template" in p:
                p["storage.location.template"] = fix(p["storage.location.template"])
    for plist in spec["partitions"].values():
        for p in plist:
            p["StorageDescriptor"]["Location"] = fix(p["StorageDescriptor"]["Location"])
    return spec


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------


def setup(spark, seed: int, scale: float, spec: dict) -> State:
    from datafusion_catalogprovider_glue_spark.catalog.fake_glue import FakeGlueClient

    parts = {tuple(k.split(".")): v for k, v in spec["partitions"].items()}
    client = FakeGlueClient(spec["databases"], page_size=100, partitions=parts)
    return State(seed, spec, client, spark)


def _literal(key_type: str, value: str) -> str:
    if key_type == "int":
        return value
    if key_type == "date":
        return f"DATE '{value}'"
    return f"'{value}'"


def _count(state: State, catalog, table: str, where: str = "") -> int:
    db, name = table.split(".")
    df = catalog.sql(f"SELECT COUNT(*) AS n FROM glue.{db}.{name} {where}")
    with state.tracer.span("spark.count"):
        return df.collect()[0][0]


def _timed_register(state: State, fn, *args, **kwargs):
    t0 = now()
    out = fn(*args, **kwargs)
    state.register_s.append(now() - t0)
    return out


def _op(state: State, kind: str, table: str, value: str, expr: str | None) -> dict:
    from datafusion_catalogprovider_glue_spark import infoschema
    from datafusion_catalogprovider_glue_spark.catalog.catalog import GlueCatalog

    catalog = GlueCatalog(state.spark, state.client)
    state.catalogs.append(catalog)
    db, name = table.split(".")
    out: dict = {"table": table}
    if kind == "register_all":
        res = _timed_register(state, catalog.register_all)
        out["failures"] = sum(isinstance(r, Exception) for r in res)
    elif kind in ("register_explicit", "register_table"):
        _timed_register(state, catalog.register_table, db, name)
    elif kind == "register_expr":
        _timed_register(state, catalog.register_table, db, name,
                        partition_expression=expr)
    elif kind == "infoschema":
        res = _timed_register(state, catalog.register_tables, db)
        out["failures"] = sum(isinstance(r, Exception) for r in res)
        infoschema.information_schema_columns(catalog).createOrReplaceTempView(
            "glue__information_schema__columns")
        df = catalog.sql(
            "SELECT column_name, data_type FROM glue.information_schema.columns "
            f"WHERE table_schema = '{db}' AND table_name = '{name}' "
            "ORDER BY ordinal_position")
        with state.tracer.span("spark.collect"):
            out["info"] = [list(r) for r in df.collect()]
    exp = state.spec["expect"][table]
    where = f"WHERE {exp['key']} = {_literal(exp['key_type'], value)}"
    # lazy_sql: the pruned count is the first reference to the table
    out["pruned"] = _count(state, catalog, table, where)
    out["unpruned"] = _count(state, catalog, table)
    entry = catalog.table(db, name)
    out["schema"] = [[f.name, f.dataType.simpleString()] for f in entry.schema.fields]
    out["partitions"] = sorted(p["values"][0] for p in entry.partitions)
    return out


def _pick(state: State, rng, table: str, with_expr: bool) -> tuple[str, str | None]:
    """Seeded partition value to count (and expression range)."""
    values = sorted(state.spec["expect"][table]["rows"], key=lambda v: (len(v), v))
    expr = None
    if with_expr:
        n = len(values)
        lo = int(rng.integers(0, n))
        hi = min(n - 1, lo + max(1, n // 5))
        expr = f"shard BETWEEN {lo} AND {hi}"
        values = [v for v in values if lo <= int(v) <= hi]
    return values[int(rng.integers(0, len(values)))], expr


def warmup(spark, state: State) -> None:
    """Rounds of the schedule on the warm-up catalog: the first round
    after the session starts runs two to three times slower than later
    ones, and the second still ~20% slower, while the JVM loads and
    compiles the code paths."""
    warm = setup(spark, state.seed, WARM_SCALE, state.spec["warm"])
    rng = data.rng_for(state.seed, 98)
    for kind, table in SCHEDULE * WARM_ROUNDS:
        value, expr = _pick(warm, rng, table, kind == "register_expr")
        _op(warm, kind, table, value, expr)
        between(warm)


def install_tracing(tracer: Tracer, state: State) -> None:
    state.tracer = tracer
    layers.install_catalog(tracer)


def before_loop(spark, state: State) -> None:
    state.calls_before = dict(state.client.calls)


def ops(spark, state: State) -> Iterator[Op]:
    rng = data.rng_for(state.seed, 4)
    while True:
        for i, (kind, table) in enumerate(SCHEDULE):
            value, expr = _pick(state, rng, table, kind == "register_expr")
            yield Op(kind, lambda k=kind, t=table, v=value, e=expr:
                     _op(state, k, t, v, e),
                     {"table": table, "value": value, "expr": expr},
                     ends_round=i == len(SCHEDULE) - 1,
                     slot=f"{kind}:{table}")


def between(state: State) -> None:
    """Drop the finished operation's views: the next one starts cold."""
    for catalog in state.catalogs:
        for e in catalog.entries():
            state.spark.catalog.dropTempView(e.view)
    state.catalogs.clear()


def after_loop(spark, state: State, records: list[OpRecord], tracer: Tracer) -> dict:
    per_layer = layers.glue_call_counters(state.client, state.calls_before)
    per_layer["catalog.partitions_registered"] = sum(
        len(r.output["partitions"]) for r in records if r.error is None)
    return {"per_layer": per_layer, "register_s": list(state.register_s)}


def check(spark, state: State, records: list[OpRecord]) -> list[str]:
    problems = []
    for r in records:
        if r.error is not None:
            continue
        o, m = r.output, r.meta
        exp = state.spec["expect"][m["table"]]
        rows = exp["rows"]
        if m["expr"]:
            lo, hi = (int(x) for x in m["expr"].split("BETWEEN")[1].split("AND"))
            rows = {v: n for v, n in rows.items() if lo <= int(v) <= hi}
        want = {
            "pruned": rows.get(m["value"], 0),
            "unpruned": sum(rows.values()),
            "schema": exp["schema"],
        }
        if m["table"].startswith("events.ev_") and m["table"] != "events.ev_days":
            want["partitions"] = sorted(rows)
        if r.kind == "infoschema":
            want["info"] = exp["schema"]
        if o.get("failures"):
            problems.append(f"op {r.op_id} {r.kind}: {o['failures']} registration failures")
        for k, v in want.items():
            if k == "partitions":
                ok = sorted(o[k], key=int) == sorted(v, key=int)
            else:
                ok = o[k] == v
            if not ok:
                problems.append(f"op {r.op_id} {r.kind} {m['table']}: {k} "
                                f"{str(o[k])[:200]} != {str(v)[:200]}")
    return problems


def layer_metrics(tracer: Tracer, state: State, records) -> dict:
    return layers.common_layer_metrics(tracer)


def corrupt(records: list[OpRecord]) -> None:
    for r in records:
        if r.error is None:
            r.output["pruned"] += 1
            return
    raise AssertionError("no result to corrupt")
