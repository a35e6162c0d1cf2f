"""lakehouse_rw — writes beside reads on the self-written table trio.

Set-up creates a Delta, an Iceberg and a Hudi (copy-on-write) table
from the same seeded TPC-H ``orders`` and registers all three in a
Glue catalog by ``table_type``.  The seeded stream then runs decks of
three rounds; each round is 2 writes and 6 reads, formats rotating.
Per format and deck:

* 1 append of 0.5% new keys (``append_delta`` / ``append_iceberg`` /
  ``append_hudi``);
* 1 merge of 1%, 3% or 5% (cycling) of the live keys — 80% updates,
  20% deletes, plus 10% new keys — through ``merge_delta_dv``,
  ``merge_iceberg_pos_delete`` and ``upsert_hudi`` (Hudi's upsert has no
  delete clause: updates and inserts only);
* after every K=2 commits to a table, its maintenance:
  ``checkpoint_delta``, ``compact_iceberg``, ``clean_hudi_file_slices``
  (the copy-on-write table's cleaner; ``compact_hudi`` applies to
  merge-on-read tables only);
* 2 latest-snapshot reads, 3 reads of the version before the latest
  (version-as-of; after maintenance, the oldest version still readable)
  and 1 read through a cold ``GlueCatalog`` (``table_type`` dispatch),
  each an aggregate that is collected.

The order and merge sizes are fixed; the seed draws keys and values.
Write share: 9 of 27 operations per deck (33%); the first two rounds,
which an 8 s run covers, hold 4 commits, 1 maintenance and 12 reads.
Every read is checked against a reference model of the applied batches
kept in DuckDB.
"""

from __future__ import annotations

import io
import os
from dataclasses import dataclass, field
from typing import Iterator

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data
import layers
from checks import close
from common import Op, OpRecord, Tracer

# orders at sf0.05 (75k rows): merges scan the whole table, and at this
# size two rounds take about 11 s on 4 cores
SF = 0.05
FORMATS = layers.FORMATS
# One deck: three rounds of 8 with the same shape — an append, a merge
# and six reads (as-of, latest, as-of, Glue, as-of, latest), formats
# rotating — so that per format and deck there is 1 append, 1 merge,
# 2 latest, 3 as-of and 1 Glue read.  Most operations are short reads:
# the median falls inside that group, not at its edge.  The order and
# the merge sizes are fixed; the seed draws the keys and values, so
# every seed does the same work.


def _deck() -> tuple:
    ops = []
    for r in range(3):
        a, b, c = FORMATS[r], FORMATS[(r + 1) % 3], FORMATS[(r + 2) % 3]
        ops += [("append", a), ("read_asof", b), ("merge", c),
                ("read_latest", b), ("read_asof", a), ("read_glue", a),
                ("read_asof", c), ("read_latest", c)]
    return tuple(ops)


DECK = _deck()
ROUND = 8
ROUND_S = 4.0  # nominal length of a round on 4 cores
MERGE_FRACTIONS = (0.01, 0.03, 0.05)  # of the live keys, cycling
MAINTAIN_EVERY = 2
COMMITS = ("append", "merge", "maintain")
READS = ("read_latest", "read_asof", "read_glue")
AGG_SQL = ("SELECT COUNT(*) AS n, SUM(o_orderkey) AS keys, "
           "SUM(o_totalprice) AS price, "
           "SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS open "
           "FROM {t}")


@dataclass
class State:
    seed: int
    base: pa.Table
    paths: dict
    client: object
    spark: object
    # per format: commit tokens (version / snapshot id / instant) in
    # commit order, and the first index still readable by time travel
    tokens: dict = field(default_factory=dict)
    readable_from: dict = field(default_factory=dict)
    specs: Iterator[dict] = None
    sizes_before: dict = field(default_factory=dict)
    # warm-up operations: not measured, but replayed into the model
    warm_records: list = field(default_factory=list)
    tracer: Tracer = field(default_factory=lambda: Tracer(False))


# ---------------------------------------------------------------------------
# inputs: the base table and the op stream, both from the seed
# ---------------------------------------------------------------------------


def base_orders(seed: int, scale: float) -> pa.Table:
    return data.tpch_tables(seed, SF * scale)["orders"]


def _batch(rng, keys: np.ndarray, statuses: np.ndarray, like: pa.Table) -> pa.Table:
    n = len(keys)
    days = rng.integers(0, data.ORDER_DAYS - 151, n)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15_000, n), pa.int64()),
        "o_orderstatus": pa.array(statuses),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
        "o_orderdate": data.timestamps(days),
        "o_orderpriority": pa.array(np.array(data.PRIORITIES)[
            rng.integers(0, 5, n)]),
    }, schema=like.schema)


def stream(seed: int, base: pa.Table) -> Iterator[dict]:
    """The infinite op stream.  Key choices track the live key set each
    table would have if every earlier operation succeeded."""
    rng = data.rng_for(seed, 5)
    live = {f: set(base.column("o_orderkey").to_pylist()) for f in FORMATS}
    next_key = int(max(live["delta"])) + 1
    since_maint = {f: 0 for f in FORMATS}
    n_append = max(base.num_rows // 200, 5)
    merges = 0
    while True:
        for pos, (kind, fmt) in enumerate(DECK):
            spec = {"kind": kind, "fmt": fmt,
                    "ends_round": (pos + 1) % ROUND == 0}
            if kind == "append":
                keys = np.arange(next_key, next_key + n_append)
                next_key += n_append
                spec["batch"] = _batch(rng, keys, np.array(["O"] * len(keys)), base)
                live[fmt].update(keys.tolist())
            elif kind == "merge":
                pool = np.array(sorted(live[fmt]))
                n = int(len(pool) * MERGE_FRACTIONS[merges % len(MERGE_FRACTIONS)])
                merges += 1
                keys = rng.choice(pool, n, replace=False)
                n_ins = max(n // 10, 1)
                ins = np.arange(next_key, next_key + n_ins)
                next_key += n_ins
                status = np.array(["F", "O", "P"])[rng.integers(0, 3, n)]
                if fmt != "hudi":
                    dele = rng.random(n) < 0.2
                    status[dele] = "X"
                    live[fmt].difference_update(keys[dele].tolist())
                live[fmt].update(ins.tolist())
                spec["batch"] = _batch(
                    rng, np.concatenate([keys, ins]),
                    np.concatenate([status, np.array(["O"] * n_ins)]), base)
            yield spec
            if kind in ("append", "merge"):
                since_maint[fmt] += 1
                if since_maint[fmt] >= MAINTAIN_EVERY:
                    since_maint[fmt] = 0
                    yield {"kind": "maintain", "fmt": fmt, "ends_round": False}


def prepare(seed: int, scale: float, out: str) -> dict:
    """The seeded base table, written once as plain parquet."""
    base = base_orders(seed, scale)
    data.write_parquet(base, os.path.join(out, "orders.parquet"))
    return {"base": base, "dir": out}


def write_stream(seed: int, scale: float, out: str, n_ops: int = 60) -> None:
    """Write the first ``n_ops`` batches of the stream as parquet (the
    self-test compares these files across seeds)."""
    for i, spec in zip(range(n_ops), stream(seed, base_orders(seed, scale))):
        if "batch" in spec:
            data.write_parquet(spec["batch"], os.path.join(
                out, f"batch-{i:04d}-{spec['kind']}-{spec['fmt']}.parquet"))


# ---------------------------------------------------------------------------
# engine calls
# ---------------------------------------------------------------------------


def _writers():
    from datafusion_catalogprovider_glue_spark.sources import (
        delta_writer, hudi_writer, iceberg_writer,
    )
    return delta_writer, iceberg_writer, hudi_writer


def _read(state: State, fmt: str, token=None):
    from datafusion_catalogprovider_glue_spark.sources import delta, hudi, iceberg

    path = state.paths[fmt]
    if fmt == "delta":
        return delta.read_delta(state.spark, path, version=token)
    if fmt == "iceberg":
        return iceberg.read_iceberg(state.spark, path, snapshot_id=token)
    return hudi.read_hudi(state.spark, path, as_of=token)


def _agg(state: State, df) -> tuple:
    df.createOrReplaceTempView("lakehouse_read")
    q = state.spark.sql(AGG_SQL.format(t="lakehouse_read"))
    with state.tracer.span("spark.collect"):
        return tuple(q.collect()[0])


def _commit(state: State, spec: dict):
    from pyspark.sql import functions as F

    dw, iw, hw = _writers()
    fmt, kind, path = spec["fmt"], spec["kind"], state.paths[spec["fmt"]]
    if kind == "maintain":
        if fmt == "delta":
            dw.checkpoint_delta(state.spark, path)
            return None
        if fmt == "iceberg":
            return iw.compact_iceberg(state.spark, path)
        hw.clean_hudi_file_slices(path, keep_last_n=1)
        return None
    src = state.spark.createDataFrame(spec["batch"].to_pandas())
    if kind == "append":
        if fmt == "delta":
            return dw.append_delta(src, path)
        if fmt == "iceberg":
            return iw.append_iceberg(src, path)
        return hw.append_hudi(src, path)
    delete = F.col("s.o_orderstatus") == "X"
    if fmt == "delta":
        return dw.merge_delta_dv(state.spark, path, src, on=["o_orderkey"],
                                 matched_delete=delete)
    if fmt == "iceberg":
        return iw.merge_iceberg_pos_delete(state.spark, path, src,
                                           on=["o_orderkey"],
                                           matched_delete=delete)
    return hw.upsert_hudi(state.spark, src, path, "o_orderkey")


def _op(state: State, spec: dict) -> dict:
    fmt, kind = spec["fmt"], spec["kind"]
    tokens = state.tokens[fmt]
    if kind in COMMITS:
        token = _commit(state, spec)
        if kind == "maintain":
            if fmt == "iceberg":
                tokens.append(token)
            state.readable_from[fmt] = len(tokens) - 1
        else:
            tokens.append(token)
        return {"commit": len(tokens) - 1}
    if kind == "read_glue":
        from datafusion_catalogprovider_glue_spark.catalog.catalog import GlueCatalog

        catalog = GlueCatalog(state.spark, state.client)
        catalog.register_table("lake", f"orders_{fmt}")
        df = catalog.sql(AGG_SQL.format(t=f"glue.lake.orders_{fmt}"))
        with state.tracer.span("spark.collect"):
            agg = tuple(df.collect()[0])
        state.spark.catalog.dropTempView(catalog.view_name("lake", f"orders_{fmt}"))
        return {"at": len(tokens) - 1, "agg": agg}
    if kind == "read_asof":
        # the version before the latest: the seed must not pick how deep
        # in the log (and so how costly) the read is
        idx = max(state.readable_from[fmt], len(tokens) - 2)
        return {"at": idx, "agg": _agg(state, _read(state, fmt, tokens[idx]))}
    return {"at": len(tokens) - 1, "agg": _agg(state, _read(state, fmt))}


def setup(spark, seed: int, scale: float, inputs: dict) -> State:
    from datafusion_catalogprovider_glue_spark.catalog.fake_glue import FakeGlueClient

    dw, iw, hw = _writers()
    base, work = inputs["base"], inputs["dir"]
    paths = {f: os.path.join(work, f"orders_{f}") for f in FORMATS}
    src = spark.createDataFrame(base.to_pandas())
    tokens = {
        "delta": [dw.append_delta(src, paths["delta"])],
        "iceberg": [iw.append_iceberg(src, paths["iceberg"])],
        "hudi": [hw.append_hudi(src, paths["hudi"])],
    }
    client = FakeGlueClient({"lake": {
        f"orders_{f}": {
            "DatabaseName": "lake", "Name": f"orders_{f}",
            "Parameters": {"table_type": f.upper()},
            "StorageDescriptor": {"Location": paths[f], "Columns": []},
        } for f in FORMATS
    }})
    return State(seed, base, paths, client, spark, tokens,
                 {f: 0 for f in FORMATS}, stream(seed, base))


def warmup(spark, state: State) -> None:
    """Every writer and reader path once, untimed (set-up already ran
    the appends): per format a merge updating 20 set-up keys, a
    latest-snapshot read and a Glue read (the version-as-of read shares
    the latest read's path).  The merges stay in the tables' history
    and are replayed into the model; they update rows only, so the
    stream's live key sets still hold."""
    rng = data.rng_for(state.seed, 97)
    keys = np.asarray(state.base.column("o_orderkey").to_pylist()[:20])
    for fmt in FORMATS:
        for spec in (
            {"kind": "merge", "fmt": fmt,
             "batch": _batch(rng, keys, np.array(["O"] * len(keys)), state.base)},
            {"kind": "read_latest", "fmt": fmt},
            {"kind": "read_glue", "fmt": fmt},
        ):
            state.warm_records.append(OpRecord(
                -1 - len(state.warm_records), spec["kind"], 0.0,
                _op(state, spec), spec))


def install_tracing(tracer: Tracer, state: State) -> None:
    state.tracer = tracer
    layers.install_catalog(tracer)
    layers.install_sources(tracer)


def _inventory(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def before_loop(spark, state: State) -> None:
    state.sizes_before = {f: _inventory(p) for f, p in state.paths.items()}


def ops(spark, state: State) -> Iterator[Op]:
    for spec in state.specs:
        yield Op(spec["kind"], lambda s=spec: _op(state, s), spec,
                 ends_round=spec["ends_round"],
                 slot=f"{spec['kind']}:{spec['fmt']}")


def _parquet_bytes(t: pa.Table) -> int:
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy")
    return buf.tell()


def _live_data_files(state: State, fmt: str) -> int:
    from datafusion_catalogprovider_glue_spark.sources import delta, hudi, iceberg

    path = state.paths[fmt]
    if fmt == "delta":
        return len(delta.DeltaSnapshot(path).files)
    if fmt == "iceberg":
        return len(iceberg.IcebergSnapshot(path).files)
    return len(hudi.hudi_live_slices(path))


def after_loop(spark, state: State, records: list[OpRecord], tracer: Tracer) -> dict:
    per_layer = layers.glue_call_counters(state.client, {})
    grown = 0
    for fmt, path in state.paths.items():
        before, after = state.sizes_before[fmt], _inventory(path)
        new = {p: s for p, s in after.items() if p not in before}
        grown += sum(after.values()) - sum(before.values())
        meta = sum(1 for p in after if any(
            d in p for d in ("_delta_log", "/metadata/", ".hoodie")))
        per_layer[f"sources.{fmt}.files_written"] = len(new)
        per_layer[f"sources.{fmt}.bytes_written"] = sum(new.values())
        per_layer[f"sources.{fmt}.metadata_files"] = meta
        per_layer[f"sources.{fmt}.data_files_live"] = _live_data_files(state, fmt)
    user = sum(_parquet_bytes(r.meta["batch"]) for r in records
               if r.error is None and "batch" in r.meta)
    return {
        "per_layer": per_layer,
        "commit_s": [r.latency_s for r in records if r.kind in COMMITS],
        "read_s": [r.latency_s for r in records if r.kind in READS],
        "bytes_written_per_user_byte": grown / user if user else None,
        "bytes_written_n": sum(1 for r in records
                               if r.error is None and "batch" in r.meta),
    }


def model_history(state: State, records: list[OpRecord]) -> dict[str, list]:
    """Replay the successful commits into DuckDB; per format, the
    aggregate after each commit (index 0 = the set-up snapshot)."""
    con = duckdb.connect()
    base = state.base
    hist: dict[str, list] = {}
    for fmt in FORMATS:
        con.execute(f"CREATE TABLE m_{fmt} AS SELECT * FROM base")
        hist[fmt] = [con.execute(AGG_SQL.format(t=f"m_{fmt}")).fetchone()]
    for r in state.warm_records + records:
        if r.error is not None or r.kind not in COMMITS:
            continue
        fmt, t = r.meta["fmt"], f"m_{r.meta['fmt']}"
        if r.kind == "append":
            src = r.meta["batch"]  # noqa: F841 — read by DuckDB by name
            con.execute(f"INSERT INTO {t} SELECT * FROM src")
        elif r.kind == "merge":
            src = r.meta["batch"]  # noqa: F841
            con.execute(
                "CREATE OR REPLACE TEMP TABLE matched AS SELECT o_orderkey "
                f"FROM src WHERE o_orderkey IN (SELECT o_orderkey FROM {t})")
            con.execute(f"DELETE FROM {t} WHERE o_orderkey IN "
                        "(SELECT o_orderkey FROM matched)")
            con.execute(
                f"INSERT INTO {t} SELECT * FROM src WHERE NOT "
                "(o_orderstatus = 'X' AND o_orderkey IN "
                "(SELECT o_orderkey FROM matched))")
        elif fmt != "iceberg":
            continue  # checkpoint / cleaner: no new version
        hist[fmt].append(con.execute(AGG_SQL.format(t=t)).fetchone())
    return hist


def check(spark, state: State, records: list[OpRecord]) -> list[str]:
    hist = model_history(state, records)
    problems = []
    for r in records:
        if r.error is not None or "agg" not in r.output:
            continue
        fmt, at = r.meta["fmt"], r.output["at"]
        want = hist[fmt][at] if at < len(hist[fmt]) else None
        if want is None or not close(tuple(r.output["agg"]), tuple(want)):
            problems.append(f"op {r.op_id} {r.kind} {fmt}@{at}: "
                            f"{r.output['agg']} != model {want}")
    return problems


def layer_metrics(tracer: Tracer, state: State, records) -> dict:
    return layers.common_layer_metrics(tracer)


def corrupt(records: list[OpRecord]) -> None:
    for r in records:
        if r.error is None and "agg" in r.output:
            n, *rest = r.output["agg"]
            r.output["agg"] = (n + 1, *rest)
            return
    raise AssertionError("no read to corrupt")
